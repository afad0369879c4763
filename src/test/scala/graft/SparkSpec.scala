package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{col, max}
import org.scalatest.funsuite.AnyFunSuite

/** Shared local session for all suites (one JVM; sbt forks once). */
object TestSpark {
  lazy val spark: SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .appName("graft-test")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.warehouse.dir",
        java.nio.file.Files.createTempDirectory("graft-wh").toString)
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }
}

abstract class SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = TestSpark.spark
  def tmpDir(prefix: String): String =
    java.nio.file.Files.createTempDirectory(prefix).toString

  /** Plan pin: `df` resolves the supersession of the index at `dir`
    * without a latest-per-key `max(_sig_epoch)` groupBy over the index.
    * The control runs exactly that groupBy over the index's rows, so
    * the pin cannot pass vacuously.
    */
  def assertNoLatestPerKeyGroupBy(df: DataFrame, dir: String,
                                  keyCol: String = "doc_id"): Unit = {
    def grouped(d: DataFrame) =
      d.queryExecution.optimizedPlan.toString.contains("max(_sig_epoch")
    val control = graft.operators.DedupIndex.readSigs(spark, dir,
        graft.operators.DedupIndex.committedEpochs(dir))
      .groupBy(col(keyCol)).agg(max(col("_sig_epoch")))
    assert(grouped(control), "control: a latest-per-key groupBy must show")
    assert(!grouped(df), "supersession must not groupBy the index:\n" +
      df.queryExecution.optimizedPlan)
  }
}
