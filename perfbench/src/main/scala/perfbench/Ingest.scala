package perfbench

import java.nio.file.{Files, Paths}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.feedgen.FeedGen
import graft.operators.LwwCollapse
import graft.streaming.DomainStatsRollup
import graft.table.{LakeTable, Snapshot}

/** Pieces the two ingest workloads share: the feed shape, the consumer's
  * dashboard read, the checks against a batch recomputation of the feed,
  * and the table and streaming layer readings.
  */
object Ingest {

  /** The seeded feed. Only `seed` varies between runs; the shape is that
    * of graft.Bench's ingest (2000 Zipf-skewed domains x 100 paths, the
    * additive column appearing half-way through).
    */
  def feedConfig(seed: Long, n: Long, evolveAt: Long, segments: Int): FeedGen.Config =
    FeedGen.Config(seed = seed, n = n, nDomains = 2000, pathsPerDomain = 100,
      evolveAt = evolveAt, segments = segments)

  /** The consumer's dashboard over the live table: pages, freshest
    * capture and text volume per language.
    */
  def dashboard(spark: SparkSession, table: String): DataFrame =
    LakeTable.readLive(spark, table)
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("pages"), max(col("warc_ts")).as("latest"),
        sum(length(col("text"))).as("chars"))

  /** Run the dashboard as one op, planned and executed apart. Returns
    * the wall seconds and the number of pages it counted.
    */
  def readOp(ctx: Ctx, tr: Tracer, table: String): Option[(Double, Long)] =
    ctx.ops.attempt("dashboard read") {
      val (rows, wall) = Stats.timed(tr.op("read") {
        val df = tr.span("plan")(planned(dashboard(ctx.spark, table)))
        tr.span("exec")(df.collect())
      })
      (wall, rows.map(_.getLong(1)).sum)
    }

  /** Force the physical plan so that planning and execution are timed
    * apart.
    */
  def planned(df: DataFrame): DataFrame = { df.queryExecution.executedPlan; df }

  private val compareCols = Seq(col("url"), col("seq"), col("warc_ts"),
    col("text"), col("lang"), col("extra_score"), xxhash64(col("html")).as("html_h"))

  /** The live table equals a batch LWW collapse of the whole feed. */
  def checkLive(ctx: Ctx, feedDir: String, table: String): Unit = {
    val spark = ctx.spark
    val want = LwwCollapse.collapse(FeedGen.readFeed(spark, feedDir))
      .filter(col("op") =!= "D").select(compareCols: _*)
    val got = LakeTable.readLive(spark, table).select(compareCols: _*)
    val extra = got.exceptAll(want).count()
    val missing = want.exceptAll(got).count()
    ctx.ops.check(extra == 0 && missing == 0,
      s"live table differs from the batch LWW collapse of the feed: " +
        s"$extra unexpected and $missing missing rows")
  }

  /** The maintained per-domain stats equal one aggregate over the feed. */
  def checkRollup(ctx: Ctx, feedDir: String, statsDir: String): Unit = {
    val spark = ctx.spark
    val want = DomainStatsRollup.delta(FeedGen.readFeed(spark, feedDir))
    val got = DomainStatsRollup.read(spark, statsDir).select(want.columns.map(col).toIndexedSeq: _*)
    val extra = got.exceptAll(want).count()
    val missing = want.exceptAll(got).count()
    ctx.ops.check(extra == 0 && missing == 0,
      s"DomainStatsRollup differs from DomainStatsRollup.delta over the feed: " +
        s"$extra unexpected and $missing missing rows")
  }

  /** Live rows of the batch LWW collapse (the expected manifest count). */
  def expectedLiveRows(spark: SparkSession, feedDir: String): Long =
    LwwCollapse.collapse(FeedGen.readFeed(spark, feedDir))
      .filter(col("op") =!= "D").count()

  /** Bytes of the files a snapshot lists, restricted to `paths`. */
  def fileBytes(table: String, snap: Snapshot, paths: Set[String]): Long =
    snap.files.filter(f => paths.contains(f.path))
      .map(f => Files.size(Paths.get(table, f.path))).sum

  def manifestBytes(table: String, snap: Snapshot): Long =
    Files.size(Paths.get(table, "meta", s"v${snap.snapshotId}.json"))

  def dirBytes(dir: String): Long = graft.FsUtil.walkDir(Paths.get(dir))(
    _.filter(p => Files.isRegularFile(p) && !p.getFileName.toString.startsWith("."))
      .map(p => Files.size(p)).sum)

  /** Streaming layer readings per micro-batch, medians over `batches`.
    * `landMs(i)` is the wall-clock time the i-th batch's input became
    * visible; `mergeMs(i)` the merge duration the table's ledger records.
    */
  def streamingLayers(batches: Seq[Progress], landMs: Seq[Long],
                      mergeMs: Seq[Double]): Map[String, Double] = {
    def d(p: Progress, k: String) = p.durationMs.getOrElse(k, 0L).toDouble
    def med(xs: Seq[Double]) = Stats.medianOr0(xs)
    val n = math.min(batches.size, landMs.size)
    Map(
      "streaming.detect_ms" -> med((0 until n).map(i =>
        (batches(i).triggerStartMs - landMs(i)).toDouble)),
      "streaming.latest_offset_ms" -> med(batches.map(d(_, "latestOffset"))),
      "streaming.query_planning_ms" -> med(batches.map(d(_, "queryPlanning"))),
      "streaming.offset_log_ms" -> med(batches.map(p => d(p, "walCommit") + d(p, "commitOffsets"))),
      "streaming.add_batch_ms" -> med(batches.map(d(_, "addBatch"))),
      "streaming.stats_upsert_ms" -> med(batches.zip(mergeMs).map { case (p, m) =>
        d(p, "addBatch") - m }))
  }

  /** Per-epoch operator readings from the tracer's "epoch" counters. */
  def mergeCounters(c: Counters, epochs: Int, events: Long): Map[String, Double] = {
    val e = math.max(epochs, 1).toDouble
    Map(
      "operators.merge_jobs" -> c.jobs / e,
      "operators.merge_stages" -> c.stages / e,
      "operators.merge_tasks" -> c.tasks / e,
      "operators.merge_actions" -> c.execIds.size / e,
      "operators.merge_action_ms" -> c.actionMs / e,
      "operators.merge_task_cpu_ms_per_mevent" -> c.cpuMs / math.max(events / 1e6, 1e-9),
      "operators.merge_shuffle_bytes_per_event" -> c.shuffleWrite.toDouble / math.max(events, 1L),
      "operators.merge_spill_bytes" -> c.spill.toDouble,
      "operators.merge_gc_ms" -> c.taskGcMs.toDouble)
  }

  def readCounters(c: Counters, liveRows: Long): Map[String, Double] = Map(
    "table.read_rows_scanned_per_live_row" -> c.recordsRead.toDouble / math.max(liveRows, 1L))
}
