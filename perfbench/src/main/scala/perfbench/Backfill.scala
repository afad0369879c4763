package perfbench

import java.nio.file.{Files, Paths}
import graft.feedgen.FeedGen
import graft.streaming.CdcIngest
import graft.table.{LakeTable, Snapshot}

/** `backfill`: one seeded feed drained by `CdcIngest.runAvailableNow`
  * into a fresh table and checkpoint, again and again. Big batches make
  * the merge and the table write do nearly all the work (throughput-bound
  * copy-on-write); per-epoch fixed costs and analytics do almost none.
  *
  * op = one drain; cycle = the drain plus the consumer's dashboard read
  * of the new table; throughput = events drained per second of drain.
  */
object Backfill {
  val Events = 400000L
  val Segments = 8
  val SetupRounds = 3

  final case class Drain(wall: Double, read: Double, startMs: Long,
                         loadMs: Double, snap: Snapshot, table: String, stats: String)

  def run(ctx: Ctx): Result = {
    val spark = ctx.spark
    val cfg = Ingest.feedConfig(ctx.seed, Events, Events / 2, Segments)

    // set-up: the feed, generated from the seed in each round into a fresh
    // directory; the last round's copy is the one drained
    var feed = ""
    val rounds = (1 to SetupRounds).map { i =>
      if (feed.nonEmpty) graft.FsUtil.deleteTree(feed)
      feed = ctx.dir(s"feed$i")
      Stats.timed(FeedGen.writeSegments(spark, cfg, feed))._2
    }
    val feedBytes = Ingest.dirBytes(s"$feed/wal")
    val wantLive = Ingest.expectedLiveRows(spark, feed)

    var n = 0
    var last: Option[Drain] = None
    def drain(tr: Tracer): Option[Drain] = {
      // only the newest table is kept: it is the one checked at the end
      last.foreach(d => Seq(d.table, d.stats, s"${ctx.work}/c$n").foreach(graft.FsUtil.deleteTree))
      n += 1
      val (table, ckpt, stats) = (ctx.dir(s"t$n"), ctx.dir(s"c$n"), ctx.dir(s"s$n"))
      val startMs = System.currentTimeMillis()
      val written = ctx.ops.attempt("drain") {
        val wall = Stats.timed(tr.op("drain") {
          CdcIngest.runAvailableNow(spark, feed, table, ckpt, statsDir = Some(stats))
        })._2
        val (snap, load) = Stats.timed(LakeTable.load(table))
        (wall, snap, load * 1000)
      }.filter { case (_, snap, _) =>
        val ok = snap.liveRows == wantLive
        if (!ok) ctx.ops.fail(s"drain $n committed ${snap.liveRows} live rows; the feed's LWW collapse has $wantLive")
        ok
      }
      val d = for {
        (wall, snap, load) <- written
        (read, pages) <- Ingest.readOp(ctx, tr, table)
        if pages == wantLive || { ctx.ops.fail(s"drain $n: the dashboard counted $pages pages, the feed has $wantLive live urls"); false }
      } yield Drain(wall, read, startMs, load, snap, table, stats)
      if (d.nonEmpty) last = d
      d
    }

    /** Drain until `seconds` have passed (at least once), or exactly
      * `count` times.
      */
    def window(tr: Tracer, count: Option[Int]): Seq[Drain] = {
      val t0 = System.nanoTime()
      val out = Seq.newBuilder[Drain]
      var i = 0
      while (count.fold(i == 0 || Stats.secs(t0) < ctx.seconds)(i < _)) {
        drain(tr).foreach(out += _)
        i += 1
      }
      out.result()
    }

    // warm-up: drain one segment of the feed, which compiles the same
    // plans as a full drain at an eighth of the cost
    val warmFeed = ctx.dir("warmfeed")
    val warmupS = Stats.timed {
      val seg = graft.FsUtil.listDir(Paths.get(feed, "wal"))(_.map(_.toString)
        .filter(_.endsWith(".parquet")).toList).min
      Files.createDirectories(Paths.get(warmFeed, "wal"))
      Files.copy(Paths.get(seg), Paths.get(warmFeed, "wal", Paths.get(seg).getFileName.toString))
      CdcIngest.runAvailableNow(spark, warmFeed, ctx.dir("warmtable"), ctx.dir("warmckpt"),
        statsDir = Some(ctx.dir("warmstats")))
      Ingest.dashboard(spark, s"${ctx.work}/warmtable").collect()
    }._2
    val plain = window(NoTrace, None)
    val traced = if (!ctx.trace) None else {
      val tr = new SparkTracer(spark).install()
      val j0 = JvmReading.now()
      val w = window(tr, Some(plain.size))
      val j1 = JvmReading.now()
      tr.uninstall()
      Some((tr, w, JvmReading.delta(j0, j1)))
    }
    last.foreach { d =>
      Ingest.checkLive(ctx, feed, d.table)
      Ingest.checkRollup(ctx, feed, d.stats)
    }
    require(plain.nonEmpty, s"every drain failed: ${ctx.ops.problems.mkString("; ")}")

    val walls = plain.map(_.wall)
    val layers = traced.map { case (tr, w, jvm) =>
      val mergeMs = w.map(_.snap.epochStats.map(_.durationMs.toDouble).sum)
      val events = Events * w.size
      val liveRows = w.map(_.snap.liveRows).sum
      (
        Map(
          "feedgen.write_s" -> Stats.medianOr0(rounds),
          "operators.merge_ms" -> Stats.medianOr0(mergeMs),
          "operators.merge_cow_ms" -> Stats.medianOr0(mergeMs),
          "operators.merge_mor_frac" -> 0.0,
          "table.load_ms" -> Stats.medianOr0(w.map(_.loadMs)),
          "table.manifest_bytes" -> Stats.medianOr0(w.map(d => Ingest.manifestBytes(d.table, d.snap).toDouble)),
          "table.data_files" -> Stats.medianOr0(w.map(_.snap.files.count(_.kind == "base").toDouble)),
          "table.delta_files" -> Stats.medianOr0(w.map(_.snap.files.count(_.kind == "delta").toDouble)),
          "table.write_amp" -> Ingest.dirBytes(s"${w.last.table}/data").toDouble / feedBytes,
          "table.read_plan_ms" -> Stats.medianOr0(tr.spanMs("plan", "read")),
          "table.read_exec_ms" -> Stats.medianOr0(tr.spanMs("exec", "read")),
          "trace.overhead_frac" -> (w.map(_.wall).sum / walls.take(w.size).sum - 1.0))
          ++ Ingest.streamingLayers(tr.progress, w.map(_.startMs), mergeMs)
          ++ Ingest.mergeCounters(tr.counters(_ == "epoch"), w.size, events)
          ++ Ingest.readCounters(tr.counters(_ == "read"), liveRows)
          ++ jvm)
    }
    Result(
      setupRounds = rounds, warmupS = warmupS,
      throughput = Events * plain.size / walls.sum,
      opGeomean = Stats.geomean(walls),
      cycleP50 = Stats.median(plain.map(d => d.wall + d.read)),
      detail = Map(
        "events_per_drain" -> Events, "segments" -> Segments,
        "feed_bytes" -> feedBytes, "drains" -> plain.size,
        "backfill_events_per_s" -> Events * plain.size / walls.sum,
        "drain_s" -> Stats.summary(walls),
        "read_s" -> Stats.summary(plain.map(_.read))),
      layers = layers.getOrElse(Map.empty),
      spansJson = traced.map(_._1.spansJson).getOrElse("[]"))
  }
}
