package perfbench

import java.nio.file.{Files, Paths}
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.analytics.SessionCaches

/** `analytics`: a fixed subset of `SparkEntry.queries` on the read-only
  * sf0.001 tier shipped with the benchmark, in graft.Bench order (by
  * name), one action per query and `SessionCaches` released as graft.Bench
  * releases them. The analytics library, the Catalyst plans and the index
  * family of operators do nearly all the work; ingest does none.
  *
  * The subset keeps at least one query of every family (core SQL, text,
  * multimodal, similarity, dedup) and one incremental-index query. The
  * seed is recorded but cannot vary the data: the repository has no
  * generator for this tier.
  *
  * op = one query; cycle = one pass over the subset; throughput = queries
  * per second of query wall.
  */
object Analytics {
  val Queries: Seq[String] = Seq(
    "dd03_ngram_jaccard", "dd07_dup_clusters", "dd08_incremental_neardup",
    "mm02_frame_extract", "q01_pricing_summary", "q07_burst_hours",
    "q26_lww_latest", "s01_knn_bruteforce", "t03_topk_words", "t13_corpus_curation")
  val Tables: Seq[String] = Seq("documents", "embeddings", "events", "lineitem")
  /** The incremental index family (dd08, dd09, dd11, dd12, dd13); the
    * subset runs dd08 of it.
    */
  val DdIncremental: Set[String] = Set("dd08_incremental_neardup", "dd09_incremental_verified",
    "dd11_incremental_embedding", "dd12_incremental_simhash", "dd13_incremental_clusters")
  val SetupRounds = 3

  final case class Run(name: String, wall: Double, rows: Long, digest: String)

  def run(ctx: Ctx): Result = {
    val spark = ctx.spark
    val data = ctx.dataDir
    val fns = graft.SparkEntry.queries

    // set-up round: open every table of the tier
    val rounds = (1 to SetupRounds).map(_ => Stats.timed(
      Tables.foreach(t => spark.read.parquet(s"$data/$t.parquet").count()))._2)
    val expected = if (ctx.record.nonEmpty) Map.empty[String, (Long, Option[String])]
                   else readExpected(ctx.expected)
    var persisted = 0

    def query(tr: Tracer, name: String): Option[Run] = ctx.ops.attempt(name) {
      val ((rows, dg), wall) = Stats.timed(tr.op(s"q:$name") {
        try {
          val df = tr.span("plan")(Ingest.planned(digest(fns(name)(spark, data))))
          val r = tr.span("exec")(df.collect().head)
          (r.getLong(0), s"${r.getLong(1)}:${Option(r.get(2)).getOrElse(0L)}")
        } finally tr.span("release")(SessionCaches.releaseAnonymous(spark))
      })
      persisted = math.max(persisted, spark.sparkContext.getPersistentRDDs.size)
      Run(name, wall, rows, dg)
    }.filter { r =>
      val ok = ctx.record.nonEmpty ||
        expected.get(name).exists { case (n, d) => n == r.rows && d.forall(_ == r.digest) }
      if (!ok) ctx.ops.fail(s"$name: ${r.rows} rows, digest ${r.digest}; expected ${expected.get(name)}")
      ok
    }

    def pass(tr: Tracer): (Seq[Run], Double) = Stats.timed {
      try Queries.flatMap(query(tr, _))
      finally SessionCaches.release(spark)
    }

    /** Passes until `seconds` have passed (at least one), or exactly `count`. */
    def window(tr: Tracer, count: Option[Int]): Seq[(Seq[Run], Double)] = {
      val t0 = System.nanoTime()
      val out = Seq.newBuilder[(Seq[Run], Double)]
      var i = 0
      while (count.fold(i == 0 || Stats.secs(t0) < ctx.seconds)(i < _)) {
        out += pass(tr)
        i += 1
      }
      out.result()
    }

    val (warm, warmupS) = pass(NoTrace)
    val plain = window(NoTrace, None)
    ctx.record.foreach(path => record(path, warm, plain.head._1))
    val traced = if (!ctx.trace) None else {
      persisted = 0
      val tr = new SparkTracer(spark).install()
      val j0 = JvmReading.now()
      val w = window(tr, Some(plain.size))
      val j1 = JvmReading.now()
      tr.uninstall()
      Some((tr, w, JvmReading.delta(j0, j1)))
    }

    val runs = plain.flatMap(_._1)
    require(runs.nonEmpty, s"every query failed: ${ctx.ops.problems.mkString("; ")}")
    val walls = runs.map(_.wall)
    val layers = traced.map { case (tr, w, jvm) =>
      val passes = w.size.toDouble
      val all = tr.counters(_.startsWith("q:"))
      val dd = tr.counters(k => DdIncremental.contains(k.stripPrefix("q:")))
      val plans = tr.spans.filter(s => s.name == "plan" && s.parent.startsWith("q:")).toList
      def planMs(p: String => Boolean) =
        plans.filter(s => p(s.parent.stripPrefix("q:"))).map(s => s.endMs - s.startMs).sum / passes
      (Map(
        "analytics.plan_ms" -> planMs(_ => true),
        "analytics.jobs" -> all.jobs / passes,
        "analytics.stages" -> all.stages / passes,
        "analytics.tasks" -> all.tasks / passes,
        "analytics.exec_ms" -> tr.spans.filter(s => s.name == "exec" && s.parent.startsWith("q:"))
          .map(s => s.endMs - s.startMs).sum / passes,
        "analytics.task_cpu_ms" -> all.cpuMs / passes,
        "analytics.shuffle_bytes" -> all.shuffleWrite / passes,
        "analytics.spill_bytes" -> all.spill / passes,
        "analytics.scan_bytes" -> all.bytesRead / passes,
        "analytics.dd_incremental.jobs" -> dd.jobs / passes,
        "analytics.dd_incremental.stages" -> dd.stages / passes,
        "analytics.dd_incremental.plan_ms" -> planMs(DdIncremental.contains),
        "analytics.dd_incremental.task_cpu_ms" -> dd.cpuMs / passes,
        "analytics.dd_incremental.shuffle_bytes" -> dd.shuffleWrite / passes,
        "analytics.persisted_rdds" -> persisted.toDouble,
        "trace.overhead_frac" -> (w.map(_._2).sum / plain.take(w.size).map(_._2).sum - 1.0))
        ++ jvm)
    }
    val perQuery = runs.groupBy(_.name).map { case (k, rs) => k -> Stats.median(rs.map(_.wall)) }
    Result(
      setupRounds = rounds, warmupS = warmupS,
      throughput = runs.size / walls.sum,
      opGeomean = Stats.geomean(walls),
      cycleP50 = Stats.median(plain.map(_._2)),
      detail = Map(
        "tier" -> Paths.get(data).getFileName.toString, "queries" -> Queries.size,
        "passes" -> plain.size,
        "analytics_suite_s" -> Stats.median(plain.map(_._2)),
        "analytics_query_s" -> Stats.summary(walls),
        "analytics_dd_incremental_s" -> perQuery.filter(kv => DdIncremental.contains(kv._1)).values.sum,
        "query_s" -> perQuery),
      layers = layers.getOrElse(Map.empty),
      spansJson = traced.map(_._1.spansJson).getOrElse("[]"))
  }

  /** One aggregate row per query result: its row count and an
    * order-insensitive digest of every column (xor and sum of row hashes).
    * Floating-point values are hashed at 9 significant digits so that a
    * different summation order cannot change the digest. Running it is
    * the query's one action, so every output column is materialized.
    */
  def digest(df: DataFrame): DataFrame = {
    val h =
      if (df.schema.isEmpty) lit(0L)
      else xxhash64(df.schema.fields.toIndexedSeq.map(f =>
        stable(col("`" + f.name.replace("`", "``") + "`"), f.dataType)): _*)
    df.select(h.as("h")).agg(count(lit(1)), bit_xor(col("h")),
      sum(pmod(col("h"), lit(2147483647L))))
  }

  private def stable(c: Column, t: DataType): Column = t match {
    case DoubleType | FloatType => format_string("%.9g", c)
    case ArrayType(et, _)       => transform(c, stable(_, et))
    case MapType(_, vt, _)      => transform_values(c, (_, v) => stable(v, vt))
    case StructType(fs)         =>
      when(c.isNull, lit(null)).otherwise(
        struct(fs.toIndexedSeq.map(f => stable(c.getField(f.name), f.dataType).as(f.name)): _*))
    case _                      => c
  }

  private def readExpected(path: String): Map[String, (Long, Option[String])] = {
    import org.json4s._
    import org.json4s.jackson.JsonMethods.parse
    implicit val formats: Formats = DefaultFormats
    val j = parse(Files.readString(Paths.get(path))) \ "queries"
    j.extract[Map[String, Map[String, String]]].map { case (k, v) =>
      k -> (v("rows").toLong, v.get("digest"))
    }
  }

  /** Write the expected results. A query whose digest differed between
    * the two passes is recorded with its row count only.
    */
  private def record(path: String, a: Seq[Run], b: Seq[Run]): Unit = {
    val bs = b.map(r => r.name -> r).toMap
    val qs = a.map { r =>
      val stable = bs.get(r.name).exists(_.digest == r.digest)
      r.name -> (Map("rows" -> r.rows.toString) ++
        (if (stable) Map("digest" -> r.digest) else Map.empty))
    }.toMap
    Files.writeString(Paths.get(path), Json(Map("tier" -> "sf0.001", "queries" -> qs)) + "\n")
  }
}
