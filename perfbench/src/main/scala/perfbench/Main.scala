package perfbench

import java.nio.file.{Files, Paths}
import org.apache.spark.sql.SparkSession

/** What a run needs: its arguments, the session and a scratch directory
  * inside the checkout that the launcher deletes afterwards.
  */
final case class Ctx(spark: SparkSession, seed: Long, seconds: Int,
                     trace: Boolean, work: String, dataDir: String,
                     expected: String, record: Option[String], ops: Ops) {
  def cores: Int = spark.sparkContext.defaultParallelism
  /** A fresh, empty directory under the scratch directory. */
  def dir(name: String): String = {
    val p = Paths.get(work, name)
    graft.FsUtil.deleteTree(p)
    p.toString
  }
}

/** What a workload measured. The op latency is summarized by its
  * geometric mean: on a mix of cheap and expensive ops (queries of every
  * family, merge-on-read and copy-on-write epochs) it is far steadier
  * between runs than the median of a few samples, which lands on one of
  * the cheapest ops. Medians and percentiles go to the detail record.
  * `setupRounds` are the repeated input
  * preparations (the median is reported); `warmupS` is the one-off
  * JIT/codegen warm-up. With tracing on, `layers` holds the per-layer
  * metrics of the traced window, `trace.overhead_frac` among them.
  */
final case class Result(
    setupRounds: Seq[Double], warmupS: Double,
    throughput: Double, opGeomean: Double, cycleP50: Double,
    detail: Map[String, Any],
    layers: Map[String, Double] = Map.empty,
    spansJson: String = "[]")

object Main {
  val Workloads: Map[String, Ctx => Result] = Map(
    "backfill" -> Backfill.run,
    "tail" -> Tail.run,
    "analytics" -> Analytics.run)

  def main(argv: Array[String]): Unit = {
    val a = argv.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = a("workload")
    val run = Workloads.getOrElse(workload,
      sys.error(s"unknown workload '$workload'; known: ${Workloads.keys.mkString(", ")}"))
    val work = a("work")
    Files.createDirectories(Paths.get(work))

    val (spark, sessionS) = Stats.timed(session(work))
    try {
      val ctx = Ctx(spark, a("seed").toLong, a("seconds").toInt,
        a("trace") == "1", work, a("data"), a("expected"), a.get("record"), new Ops)
      // host speed during this run, reported beside the metrics and never
      // gated: it separates host drift from an engine regression
      val control = graft.bench.PlatformControl.run(spark)
      val r = run(ctx)
      val setupS = sessionS + Stats.median(r.setupRounds) + r.warmupS
      val ops = ctx.ops
      val detail = Map(
        "workload" -> workload, "seed" -> ctx.seed, "seconds" -> ctx.seconds,
        "cores" -> ctx.cores, "control_s" -> control, "session_s" -> sessionS,
        "setup_rounds_s" -> r.setupRounds, "warmup_s" -> r.warmupS,
        "problems" -> ops.problems) ++ r.detail
      println(Json(Map("detail" -> detail)))
      if (ctx.trace) println("{\"spans\":" + r.spansJson + "}")
      val metrics: Map[String, (Double, String)] =
        if (ctx.trace) Layers.complete(r.layers).map { case (k, v) => k -> (v, Layers.unit(k)) }
        else Map(
          "setup_s" -> (setupS, "s"),
          "peak_rss_mb" -> (Stats.peakRssMb(), "MB"),
          "throughput_per_s" -> (r.throughput, "1/s"),
          "op_geomean_s" -> (r.opGeomean, "s"),
          "cycle_p50_s" -> (r.cycleP50, "s"))
      println(Json(Map(
        "correct" -> (ops.checksPassed && ops.failed == 0),
        "attempted" -> ops.attempted,
        "failed" -> ops.failed,
        "metrics" -> metrics.map { case (k, (v, u)) => k -> Map("value" -> v, "unit" -> u) })))
    } finally {
      spark.stop()
      graft.FsUtil.deleteTree(Paths.get(work))
    }
  }

  /** The session settings of graft.Bench, with every directory Spark
    * writes kept inside the run's scratch directory.
    */
  def session(work: String): SparkSession = {
    val cores = Runtime.getRuntime.availableProcessors
    val s = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cores)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.parallelismFirst", "true")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
}
