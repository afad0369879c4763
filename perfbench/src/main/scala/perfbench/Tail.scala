package perfbench

import java.nio.file.{Files, Paths, StandardCopyOption}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import graft.feedgen.FeedGen
import graft.streaming.CdcIngest
import graft.table.{Changelog, LakeTable, Snapshot}

/** `tail`: a closed loop with zero think time against a long-running
  * `CdcIngest.start(ProcessingTime(0), statsDir = ...)` over a freshly
  * backfilled table. Each op lands one pre-generated segment atomically
  * and waits for a committed snapshot that covers it (freshness), then
  * reads `Changelog.changesSince(previous snapshot)` in full and runs the
  * dashboard over `LakeTable.readLive`. It stresses per-epoch fixed cost
  * and Auto's choice between merge-on-read and copy-on-write, and it puts
  * reads beside writes: a change that makes epochs cheaper by leaving
  * more overlays shows up in the reads of the same cycle.
  *
  * op = land-to-commit; cycle = land to the end of the micro-batch, plus
  * both reads;
  * throughput = events committed per second of land-to-commit.
  */
object Tail {
  val BaseEvents = 20000L
  val SegmentEvents = 2000L
  val Buckets = 4
  /** On a fresh table Auto runs MergeInto.MaxDeltasPerBucket (8)
    * merge-on-read epochs and then one copy-on-write epoch. The window
    * ends on a copy-on-write epoch, so after the one warm-up epoch every
    * run measures the same 7 MoR + 1 CoW mix (8 + 1 more per extra cycle
    * when `seconds` asks for longer).
    */
  val Cycle = 9
  val WarmupEpochs = 1
  val MaxWindow = 2 * Cycle - WarmupEpochs
  val SetupRounds = 3
  val CommitTimeoutS = 120

  final case class Segment(file: String, bytes: Long, maxSeq: Long)
  final case class Epoch(k: Int, landMs: Long, fresh: Double, settled: Double, changes: Double,
                         read: Double, changeRows: Long, pages: Long, mor: Boolean,
                         loadMs: Double, snap: Snapshot, writtenBytes: Long,
                         segmentBytes: Long, candidateFiles: Int)

  def run(ctx: Ctx): Result = {
    val spark = ctx.spark
    val nStaged = WarmupEpochs + MaxWindow + (if (ctx.trace) Cycle else 0)
    val cfg = Ingest.feedConfig(ctx.seed, BaseEvents + SegmentEvents * nStaged,
      BaseEvents / 2, 4)

    // set-up round: the base feed and the staged tail segments, generated
    // from the seed into fresh directories; the last round's are used
    var root = ""
    val rounds = (1 to SetupRounds).map { i =>
      if (root.nonEmpty) graft.FsUtil.deleteTree(root)
      root = ctx.dir(s"round$i")
      Stats.timed {
        FeedGen.writeSegments(spark, cfg.copy(n = BaseEvents), s"$root/feed")
        stage(ctx, cfg, s"$root/stage", nStaged)
      }._2
    }
    val (feed, table, stats) = (s"$root/feed", s"$root/table", s"$root/stats")
    val segments = graft.FsUtil.listDir(Paths.get(s"$root/stage"))(
      _.map(_.toString).filter(_.endsWith(".parquet")).toList).sorted
      .zipWithIndex.map { case (f, k) =>
        Segment(f, Files.size(Paths.get(f)),
          FeedGen.event(cfg, BaseEvents + SegmentEvents * (k + 1) - 1).seq)
      }
    require(segments.size == nStaged, s"staged ${segments.size} segments, wanted $nStaged")
    // the base backfill, once: part of set-up, reported on its own
    val baseS = Stats.timed(CdcIngest.runAvailableNow(spark, feed, table,
      s"$root/ckpt", Buckets, statsDir = Some(stats)))._2

    val q = CdcIngest.start(spark, feed, table, s"$root/ckpt", Buckets,
      trigger = Trigger.ProcessingTime(0L), statsDir = Some(stats))
    try {
      var next = 0
      var prev = LakeTable.load(table)
      var broken = false

      def epoch(tr: Tracer): Option[Epoch] = {
        val k = next
        val seg = segments(k)
        next += 1
        val landed = ctx.ops.attempt(s"epoch $k") {
          val landMs = System.currentTimeMillis()
          val t0 = System.nanoTime()
          val snap = tr.op("commit") {
            tr.span("land")(Files.move(Paths.get(seg.file),
              Paths.get(feed, "wal", f"seg_tail_$k%05d.parquet"), StandardCopyOption.ATOMIC_MOVE))
            tr.span("wait")(awaitCovering(q, table, seg.maxSeq))
          }
          val fresh = Stats.secs(t0)
          // the reads start once the micro-batch has finished (its other
          // sink and offset commit too), so they never share the cores
          // with the epoch they follow
          tr.span("settle")(awaitBatch(q, snap))
          val settled = Stats.secs(t0)
          val (s, load) = Stats.timed(LakeTable.load(table))
          require(s.snapshotId == snap.snapshotId, "table committed twice for one segment")
          (landMs, fresh, settled, s, load * 1000)
        }
        if (landed.isEmpty) broken = true
        val from = prev
        landed.foreach(l => prev = l._4)
        for {
          (landMs, fresh, settled, snap, loadMs) <- landed
          (changeRows, changes) <- ctx.ops.attempt(s"changes $k") {
            Stats.timed(tr.op("changes") {
              val df = tr.span("plan")(Ingest.planned(
                Changelog.changesSince(spark, table, from.snapshotId)))
              tr.span("exec")(df.collect()).length.toLong
            })
          }
          (read, pages) <- Ingest.readOp(ctx, tr, table)
        } yield {
          val before = from.files.map(_.path).toSet
          val added = snap.files.filterNot(f => before.contains(f.path))
          Epoch(k, landMs, fresh, settled, changes, read, changeRows, pages,
            mor = added.exists(_.kind == "delta"), loadMs, snap,
            Ingest.fileBytes(table, snap, added.map(_.path).toSet), seg.bytes,
            Changelog.candidateFiles(from, snap).size)
        }
      }

      /** Epochs until `seconds` have passed and the last one was a
        * copy-on-write epoch (at most [[MaxWindow]]), or exactly `count`.
        */
      def window(tr: Tracer, count: Option[Int]): Seq[Epoch] = {
        val t0 = System.nanoTime()
        val out = Seq.newBuilder[Epoch]
        var i = 0
        def more = count.fold(i < MaxWindow &&
          (next % Cycle != 0 || Stats.secs(t0) < ctx.seconds))(i < _)
        while (!broken && more) {
          epoch(tr).foreach(out += _)
          i += 1
        }
        out.result()
      }

      val warmupS = Stats.timed((1 to WarmupEpochs).foreach(_ => epoch(NoTrace)))._2
      val plain = window(NoTrace, None)
      val traced = if (!ctx.trace || broken) None else {
        val tr = new SparkTracer(spark).install()
        val j0 = JvmReading.now()
        val w = window(tr, Some(Cycle))
        val j1 = JvmReading.now()
        tr.uninstall()
        Some((tr, w, JvmReading.delta(j0, j1)))
      }
      q.processAllAvailable()
      q.stop()

      Ingest.checkLive(ctx, feed, table)
      Ingest.checkRollup(ctx, feed, stats)
      val want = expected(ctx, feed, next)
      def holds(e: Epoch) = want.get(e.k).contains((e.changeRows, e.pages))
      (plain ++ traced.toSeq.flatMap(_._2)).filterNot(holds).foreach { e =>
        ctx.ops.fail(s"epoch ${e.k}: changesSince returned ${e.changeRows} rows and the " +
          s"dashboard ${e.pages} pages; the feed gives (changes, live urls) = ${want.get(e.k)}")
      }
      val ok = plain.filter(holds)
      require(ok.nonEmpty, s"no tail epoch succeeded: ${ctx.ops.problems.mkString("; ")}")

      val fresh = ok.map(_.fresh)
      def cycle(e: Epoch) = e.settled + e.changes + e.read
      // the traced window is the next whole cycle, so the two windows are
      // compared by their median cycle, which the MoR/CoW mix barely moves
      val layers = traced.map { case (tr, w, jvm) => tailLayers(tr, w, table, jvm,
        Stats.medianOr0(rounds), Stats.medianOr0(w.map(cycle)) / Stats.median(ok.map(cycle)) - 1.0) }
      Result(
        setupRounds = rounds, warmupS = baseS + warmupS,
        throughput = SegmentEvents * ok.size / fresh.sum,
        opGeomean = Stats.geomean(fresh),
        cycleP50 = Stats.median(ok.map(cycle)),
        detail = Map(
          "base_events" -> BaseEvents, "segment_events" -> SegmentEvents,
          "base_backfill_s" -> baseS, "base_backfill_events_per_s" -> BaseEvents / baseS,
          "buckets" -> Buckets, "epochs" -> ok.size,
          "mor_epochs" -> ok.count(_.mor), "cow_epochs" -> ok.count(!_.mor),
          "tail_events_per_s" -> SegmentEvents * ok.size / fresh.sum,
          "tail_freshness_s" -> Stats.summary(fresh),
          "tail_changes_s" -> Stats.summary(ok.map(_.changes)),
          "tail_read_s" -> Stats.summary(ok.map(_.read)),
          "change_rows_per_epoch" -> Stats.summary(ok.map(_.changeRows.toDouble)),
          "epoch_walls_s" -> ok.map(e => Seq(e.fresh, e.settled, e.changes, e.read))),
        layers = layers.getOrElse(Map.empty),
        spansJson = traced.map(_._1.spansJson).getOrElse("[]"))
    } finally {
      if (q.isActive) q.stop()
    }
  }

  /** Write `n` tail segments, one parquet file each, continuing the feed's
    * sequence after the base.
    */
  private def stage(ctx: Ctx, cfg: FeedGen.Config, dir: String, n: Int): Unit = {
    import ctx.spark.implicits._
    val c = cfg
    ctx.spark.range(BaseEvents, BaseEvents + SegmentEvents * n, 1, n)
      .map(i => FeedGen.event(c, i)).toDF()
      .write.parquet(dir)
  }

  /** Poll the table's commit pointer until a snapshot covers `maxSeq`. */
  private def awaitCovering(q: StreamingQuery, table: String, maxSeq: Long): Snapshot = {
    val pointer = Paths.get(table, "meta", "CURRENT")
    val deadline = System.nanoTime() + CommitTimeoutS * 1000000000L
    var seen = ""
    while (true) {
      val cur = Files.readString(pointer)
      if (cur != seen) {
        seen = cur
        val snap = LakeTable.load(table)
        if (snap.lineage.values.maxOption.exists(_ >= maxSeq)) return snap
      }
      q.exception.foreach(e => throw e)
      require(q.isActive, "the ingest stream stopped")
      require(System.nanoTime() < deadline, s"no commit covered seq $maxSeq within ${CommitTimeoutS}s")
      Thread.sleep(1)
    }
    throw new IllegalStateException("unreachable")
  }

  /** Wait until the stream reports the micro-batch that committed `snap`
    * as finished.
    */
  private def awaitBatch(q: StreamingQuery, snap: Snapshot): Unit = {
    val epoch = (snap.epochFloor +: snap.committedEpochs).max
    val deadline = System.nanoTime() + CommitTimeoutS * 1000000000L
    while (!q.recentProgress.exists(p => p.batchId >= epoch && p.numInputRows > 0)) {
      q.exception.foreach(e => throw e)
      require(System.nanoTime() < deadline, s"micro-batch $epoch did not finish within ${CommitTimeoutS}s")
      Thread.sleep(1)
    }
  }

  /** For each of the first `n` segments k: the number of urls whose LWW
    * winner changes when k is applied after the base and segments 0..k-1
    * (the rows `changesSince` must return for that epoch), and the number
    * of live urls after it (the pages the dashboard must count).
    */
  private def expected(ctx: Ctx, feed: String, n: Int): Map[Int, (Long, Long)] = {
    val spark = ctx.spark
    val seg = regexp_extract(input_file_name(), "seg_tail_(\\d+)", 1)
    val tagged = FeedGen.readFeed(spark, feed)
      .withColumn("k", when(seg === "", lit(-1)).otherwise(seg.cast("int")))
    // the op rides last in the struct: (warc_ts, seq) orders the winners
    val latest = tagged.groupBy(col("url"), col("k"))
      .agg(max(struct(col("warc_ts"), col("seq"), col("op"))).as("m"))
    val before = max(col("m")).over(Window.partitionBy(col("url")).orderBy(col("k"))
      .rowsBetween(Window.unboundedPreceding, -1))
    def live(c: org.apache.spark.sql.Column) = when(c.isNotNull && c("op") =!= "D", 1L).otherwise(0L)
    val changed = latest.withColumn("before", before)
      .filter(col("before").isNull || col("m") > col("before"))
      .groupBy(col("k"))
      .agg(count(lit(1)).as("changes"), sum(live(col("m")) - live(col("before"))).as("dlive"))
      .collect().map(r => r.getInt(0) -> (r.getLong(1), r.getLong(2))).toMap
    val baseLive = changed.get(-1).map(_._2).getOrElse(0L)
    (0 until n).scanLeft((-1, (0L, baseLive))) { case ((_, (_, liveBefore)), k) =>
      val (c, d) = changed.getOrElse(k, (0L, 0L))
      (k, (c, liveBefore + d))
    }.tail.toMap
  }

  private def tailLayers(tr: SparkTracer, w: Seq[Epoch], table: String,
                         jvm: Map[String, Double], feedgenS: Double,
                         overhead: Double): Map[String, Double] = {
    val ledger = LakeTable.load(table).epochStats.map(s => s.epochId -> s.durationMs.toDouble).toMap
    val batches = tr.progress.sortBy(_.batchId)
    val mergeMs = batches.map(b => ledger.getOrElse(b.batchId, 0.0))
    val mor = w.map(_.mor)
    val morMs = mergeMs.zip(mor).collect { case (m, true) => m }
    val cowMs = mergeMs.zip(mor).collect { case (m, false) => m }
    val events = SegmentEvents * w.size
    val liveRows = w.map(_.snap.liveRows).sum
    val changeRows = w.map(_.changeRows).sum
    (Map(
      "feedgen.write_s" -> feedgenS,
      "operators.merge_ms" -> Stats.medianOr0(mergeMs),
      "operators.merge_mor_ms" -> Stats.medianOr0(morMs),
      "operators.merge_cow_ms" -> Stats.medianOr0(cowMs),
      "operators.merge_mor_frac" -> mor.count(identity).toDouble / math.max(mor.size, 1),
      "table.load_ms" -> Stats.medianOr0(w.map(_.loadMs)),
      "table.manifest_bytes" -> Stats.medianOr0(w.map(e => Ingest.manifestBytes(table, e.snap).toDouble)),
      "table.data_files" -> Stats.medianOr0(w.map(_.snap.files.count(_.kind == "base").toDouble)),
      "table.delta_files" -> Stats.medianOr0(w.map(_.snap.files.count(_.kind == "delta").toDouble)),
      "table.write_amp" -> w.map(_.writtenBytes).sum.toDouble / math.max(w.map(_.segmentBytes).sum, 1L),
      "table.read_plan_ms" -> Stats.medianOr0(tr.spanMs("plan", "read")),
      "table.read_exec_ms" -> Stats.medianOr0(tr.spanMs("exec", "read")),
      "table.changelog_candidate_files" -> Stats.medianOr0(w.map(_.candidateFiles.toDouble)),
      "table.changelog_rows_scanned_per_change" ->
        tr.counters(_ == "changes").recordsRead.toDouble / math.max(changeRows, 1L),
      "table.changelog_plan_ms" -> Stats.medianOr0(tr.spanMs("plan", "changes")),
      "table.changelog_exec_ms" -> Stats.medianOr0(tr.spanMs("exec", "changes")),
      "trace.overhead_frac" -> overhead)
      ++ Ingest.streamingLayers(batches, w.map(_.landMs), mergeMs)
      ++ Ingest.mergeCounters(tr.counters(_ == "epoch"), w.size, events)
      ++ Ingest.readCounters(tr.counters(_ == "read"), liveRows)
      ++ jvm)
  }
}
