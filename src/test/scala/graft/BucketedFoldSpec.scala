package graft

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
import org.apache.spark.sql.functions._
import graft.analytics.DedupQueries
import graft.operators.DedupIndex

/** The directory-bucketed fold layout (round-4 verdict missing #3):
  * an epoch fold's index candidate side must read ONLY the buckets/ sb
  * dirs the epoch's own band-buckets hash into, must cross zero
  * shuffles, and must stay pair-for-pair equal to the batch MinHash+LSH
  * op over the live corpus under re-signs, deletes and compaction.
  */
class BucketedFoldSpec extends SparkSpec {

  private val sf = "/root/testdata/sf0.001"
  private def docs = graft.analytics.Tables.documents(spark, sf)

  private def pairSet(df: DataFrame): Set[(Long, Long, String)] =
    df.collect().map(r => (r.getLong(0), r.getLong(1), r.get(2).toString)).toSet

  private def sbDirs(dir: String, entry: String): Set[String] =
    graft.FsUtil.listDir(java.nio.file.Paths.get(dir, "buckets", entry))(_
      .map(_.getFileName.toString).filter(_.startsWith("sb=")).toSet)

  test("fold reads only the epoch's matching sb dirs from the index side") {
    val dir = tmpDir("bf-prune")
    // epoch 0: the whole corpus — populates (nearly) the full sb fan
    DedupIndex.appendEpoch(spark, dir, 0L, docs)
    // epoch 1: ONE document — at most 8 band rows, so at most 8 of the
    // 16 sb dirs; the fold must prune the index side to those
    val one = docs.orderBy(col("doc_id")).limit(1)
    DedupIndex.appendEpoch(spark, dir, 1L, one)
    val sb0 = sbDirs(dir, "epoch=0")
    val sb1 = sbDirs(dir, "epoch=1")
    assert(sb1.nonEmpty && sb1.size <= 8)
    assert(sb0.size > sb1.size,
      s"corpus epoch must fan wider than a 1-doc epoch (${sb0.size} vs ${sb1.size})" +
        " - otherwise this test cannot observe pruning")
    val fold = DedupIndex.epochPairs(spark, dir, 1L)
    // every buckets/ file the fold reads (all from the PRIOR entry: the
    // epoch side recomputes its bands from its own sigs) sits in an sb
    // dir the new epoch's bands hash into — the pruning is real
    val bucketFiles = fold.inputFiles.filter(_.contains("/buckets/")).toSeq
    assert(bucketFiles.nonEmpty, "the fold must read the buckets side table")
    bucketFiles.foreach { f =>
      assert(f.contains("/buckets/epoch=0/"))
      val sb = f.split("/").find(_.startsWith("sb=")).get
      assert(sb1.contains(sb), s"read unmatched index bucket dir $sb")
    }
  }

  test("index-side scans stream into broadcast joins with no shuffle below") {
    val dir = tmpDir("bf-noshuffle")
    DedupIndex.appendEpoch(spark, dir, 0L, docs.filter(col("doc_id") % 2 === 0))
    DedupIndex.appendEpoch(spark, dir, 1L, docs.filter(col("doc_id") % 2 === 1))
    val fold = DedupIndex.epochPairs(spark, dir, 1L)
    assertNoLatestPerKeyGroupBy(fold, dir)
    val plan = fold.queryExecution.sparkPlan
    def isIndexScan(p: SparkPlan): Boolean = p match {
      case f: FileSourceScanExec => f.relation.location.rootPaths.exists(rp =>
        rp.toString.contains("/buckets/") || rp.toString.contains("/sigs/epoch=0"))
      case _ => false
    }
    // root→scan paths for every index-side scan
    def paths(p: SparkPlan, acc: List[SparkPlan]): Seq[List[SparkPlan]] = {
      val here = if (isIndexScan(p)) Seq(p :: acc) else Nil
      here ++ p.children.flatMap(c => paths(c, p :: acc))
    }
    val scanPaths = paths(plan, Nil)
    assert(scanPaths.nonEmpty, s"no index-side scan found:\n$plan")
    // walking UP from each index-side scan, any shuffle must come only
    // AFTER a broadcast join has already reduced the flow to
    // pairs-bounded rows (the candidate distinct, est-side aggregates):
    // index-sized rows themselves are never exchanged
    scanPaths.foreach { path =>
      val up = path // scan-first order
      val firstShuffle = up.indexWhere(_.isInstanceOf[ShuffleExchangeExec])
      val firstBcastJoin = up.indexWhere(
        _.isInstanceOf[org.apache.spark.sql.execution.joins.BroadcastHashJoinExec])
      assert(firstBcastJoin >= 0,
        s"index-side scan never meets a broadcast join:\n$plan")
      assert(firstShuffle < 0 || firstShuffle > firstBcastJoin,
        s"index-side rows shuffled before their first broadcast join:\n$plan")
    }
  }

  test("bucketed fold == batch LSH under re-signs and compaction") {
    val dir = tmpDir("bf-equiv")
    // each epoch's fold == batch MinHash+LSH over the corpus live as of
    // that epoch, restricted to pairs with a side signed in that epoch
    def check(e: Long, live: Column, signed: Column): Set[(Long, Long, String)] = {
      val ids = docs.filter(signed).select(col("doc_id")).collect()
        .map(_.getLong(0)).toSet
      val batch = pairSet(DedupQueries.minhashLshPairs(docs.filter(live)))
        .filter { case (a, b, _) => ids(a) || ids(b) }
      val fold = pairSet(DedupIndex.epochPairs(spark, dir, e))
      assert(fold === batch, s"epoch $e fold diverges from batch")
      fold
    }
    val id = col("doc_id")
    DedupIndex.appendEpoch(spark, dir, 0L, docs.filter(id % 3 === 0))
    // epoch 1: new docs + re-sign half of epoch 0's + delete a third
    DedupIndex.appendEpoch(spark, dir, 1L,
      docs.filter(id % 3 === 1 || id % 6 === 0),
      Some(docs.filter(id % 6 === 3).select(id)))
    DedupIndex.appendEpoch(spark, dir, 2L, docs.filter(id % 3 === 2))
    check(1L, id % 6 =!= 3 && id % 3 =!= 2, id % 3 === 1 || id % 6 === 0)
    assert(check(2L, id % 6 =!= 3, id % 3 === 2).nonEmpty)
    // compaction folds the buckets side table too: the fold of a fresh
    // epoch against compacted history still prunes and still matches
    assert(DedupIndex.compact(spark, dir))
    assert(java.nio.file.Files.exists(
      java.nio.file.Paths.get(dir, "buckets", "compact-0-1")))
    DedupIndex.appendEpoch(spark, dir, 3L, docs.filter(id % 7 === 0))
    assert(check(3L, id % 6 =!= 3 || id % 7 === 0, id % 7 === 0).nonEmpty,
      "re-signed docs must still pair after compaction")
    graft.analytics.SessionCaches.release(spark)
  }
}
