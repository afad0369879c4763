package graft

import org.apache.spark.sql.functions._
import graft.feedgen.FeedGen
import graft.model.CdcSchema
import graft.operators.MetricsIndex
import graft.streaming.CdcIngest

/** Ingest-maintained per-doc curation metrics (MetricsIndex): the
  * quality / token / repetition columns maintained by the sink per
  * epoch must equal a from-scratch batch recompute over the live
  * corpus — including updated urls (latest text wins) and deleted urls
  * (tombstoned out) — and the in-row run-length repetition fold must
  * equal the batch t16 explode→aggregate formulation.
  */
class IngestMetricsSpec extends SparkSpec {
  import spark.implicits._

  // the t16 batch formulation (explode → two hash aggregates),
  // reproduced independently of DocMetrics' in-row fold
  private def t16Style(docs: org.apache.spark.sql.DataFrame) = {
    val w = split(col("text"), " ")
    val idx = when(size(w) >= 2, sequence(lit(1), size(w) - 1))
      .otherwise(array().cast("array<int>"))
    docs.select(col("doc_id"),
        explode(transform(idx,
          i => concat_ws(" ", slice(w, i, lit(2))))).as("gram"))
      .groupBy(col("doc_id"), col("gram"))
      .agg(count(lit(1)).as("cnt"))
      .groupBy(col("doc_id"))
      .agg(max(col("cnt")).as("top_cnt"),
        sum(col("cnt")).as("n_grams"),
        sum(when(col("cnt") > 1, col("cnt")).otherwise(0L)).as("dup_grams"))
      .select(col("doc_id"),
        round(col("top_cnt") / col("n_grams"), 4).as("top2gram_frac"),
        round(col("dup_grams") / col("n_grams"), 4).as("dup2gram_frac"),
        (col("top_cnt") / col("n_grams") <= 0.2).as("rep_keep"))
  }

  test("in-row repetition fold == batch explode formulation on crafted texts") {
    val docs = Seq(
      (1L, "a b a b a b"),              // alternating: "a b" x3, "b a" x2
      (2L, "x x x x"),                  // one gram repeated
      (3L, "p q r s t u v w"),          // all distinct
      (4L, "m"),                        // <2 words: no t16 row
      (5L, "z z y y z z y y z z"),      // runs with ties
      (6L, "one two one two three one two")
    ).toDF("doc_id", "text")
    val fold = MetricsIndex.metricRows(docs)
      .select(col("doc_id"), col("top2gram_frac"), col("dup2gram_frac"),
        col("rep_keep"))
      .filter(col("top2gram_frac").isNotNull)
    val batch = t16Style(docs)
    assert(fold.collect().map(_.toSeq).toSet ===
      batch.collect().map(_.toSeq).toSet)
    // the <2-word doc still carries tokens/quality, with null rep stats
    val short = MetricsIndex.metricRows(docs)
      .filter(col("doc_id") === 4L).collect().head
    assert(short.getLong(short.fieldIndex("ws_tokens")) === 1L)
    assert(short.isNullAt(short.fieldIndex("top2gram_frac")))
  }

  test("sink-maintained metrics == batch recompute over the live corpus") {
    val base = tmpDir("mtrx")
    def ev(seq: Long, op: String, url: String, text: String) =
      (seq, op, url, new java.sql.Timestamp(1700000000000L + seq * 1000L),
        null: Array[Byte], text, "en", null.asInstanceOf[java.lang.Double])
    val mk = (rows: Seq[(Long, String, String, java.sql.Timestamp,
      Array[Byte], String, String, java.lang.Double)]) =>
      rows.toDF(CdcSchema.latest.fieldNames: _*)
    // epoch 0: 20 docs with word-repetition structure
    val s0 = mk((0L until 20L).map(i => ev(i, "U", s"https://ex.org/d$i",
      s"doc $i the word word word and some more filler tokens " +
        s"tail$i " * (1 + (i % 3).toInt))))
    // epoch 1: update 4 urls (new text → metrics must follow), delete 2,
    // add 5 new
    val s1 = mk(
      (0L until 4L).map(i => ev(100 + i, "U", s"https://ex.org/d$i",
        s"updated text for $i is a short and not very repetitive line")) ++
      Seq(ev(110L, "D", "https://ex.org/d4", null),
          ev(111L, "D", "https://ex.org/d5", null)) ++
      (0L until 5L).map(i => ev(120 + i, "U", s"https://ex.org/n$i",
        s"fresh page $i with its own words entirely distinct here")))
    FeedGen.appendSegment(spark, s"$base/feed", s0, "s0")
    FeedGen.appendSegment(spark, s"$base/feed", s1, "s1")
    CdcIngest.runAvailableNow(spark, s"$base/feed", s"$base/table",
      s"$base/ckpt", numBuckets = 4, maxFilesPerTrigger = Some(1),
      metricsDir = Some(s"$base/mx"))

    val live = graft.table.LakeTable.readLive(spark, s"$base/table")
      .select(xxhash64(col("url")).as("doc_id"), col("text"))
    assert(live.count() === 23) // 20 - 2 deleted + 5 new

    val maintained = MetricsIndex.readLive(spark, s"$base/mx")
    val batch = MetricsIndex.metricRows(live)
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.select(MetricsIndex.metricSchema.map(_._1).map(col).toIndexedSeq :+
        col("doc_id"): _*).collect().map(_.toSeq).toSet
    assert(rows(maintained) === rows(batch))
    // and the repetition columns agree with the t16-style recompute
    val t16 = t16Style(live)
    val m2 = maintained.filter(col("top2gram_frac").isNotNull)
      .select(col("doc_id"), col("top2gram_frac"), col("dup2gram_frac"),
        col("rep_keep"))
    assert(m2.collect().map(_.toSeq).toSet ===
      t16.collect().map(_.toSeq).toSet)

    // checkpoint replay with nothing new: no new metric epochs
    val epochs = graft.operators.DedupIndex.committedEpochs(s"$base/mx")
    CdcIngest.runAvailableNow(spark, s"$base/feed", s"$base/table",
      s"$base/ckpt", numBuckets = 4, maxFilesPerTrigger = Some(1),
      metricsDir = Some(s"$base/mx"))
    assert(graft.operators.DedupIndex.committedEpochs(s"$base/mx") === epochs)
    assert(rows(MetricsIndex.readLive(spark, s"$base/mx")) === rows(batch))
  }

  test("compaction preserves live metrics and drops tombstoned docs physically") {
    val base = tmpDir("mtrx-compact")
    val dir = s"$base/mx"
    MetricsIndex.appendEpoch(spark, dir, 0L,
      Seq((1L, "alpha beta alpha beta gamma"),
          (2L, "delta epsilon zeta")).toDF("doc_id", "text"))
    MetricsIndex.appendEpoch(spark, dir, 1L,
      Seq((1L, "alpha rewritten text here now")).toDF("doc_id", "text"),
      deletes = Some(Seq(Tuple1(2L)).toDF("doc_id")))
    MetricsIndex.appendEpoch(spark, dir, 2L,
      Seq((3L, "theta iota kappa")).toDF("doc_id", "text"))
    assertNoLatestPerKeyGroupBy(MetricsIndex.readLive(spark, dir), dir)
    val before = MetricsIndex.readLive(spark, dir)
      .collect().map(_.toSeq).toSet
    assert(before.map(_.head) === Set(1L, 3L))
    assert(graft.operators.DedupIndex.compact(spark, dir))
    val after = MetricsIndex.readLive(spark, dir)
      .collect().map(_.toSeq).toSet
    assert(after === before)
    // folded storage carries no tombstone row for doc 2
    val folded = graft.operators.DedupIndex.readSigs(spark, dir,
      Seq(0L, 1L)).filter(col("doc_id") === 2L)
    assert(folded.count() === 0L)
  }
}
