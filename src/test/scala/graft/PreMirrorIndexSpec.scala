package graft

import java.nio.file.{Files, Paths}
import graft.operators._

/** Every maintained index resolves supersession through its resigned/
  * mirrors, which mean "no re-signs" only when every entry wrote one. A
  * committed manifest without the mirror feature (an index written
  * before the mirrors existed) must therefore be refused, naming the
  * dir, by every fold and read — never read as if it had no re-signs.
  */
class PreMirrorIndexSpec extends SparkSpec {
  import spark.implicits._

  /** Strip `features` from the CURRENT manifest of the index at `dir`. */
  private def stripFeatures(dir: String): Unit = {
    val meta = Paths.get(dir, "meta")
    val cur = meta.resolve(Files.readString(meta.resolve("CURRENT")).trim + ".json")
    val json = Files.readString(cur)
    val stripped = json.replaceAll("\"features\":\\[[^\\]]*\\]", "\"features\":[]")
    assert(stripped != json, s"no features to strip in $json")
    Files.writeString(cur, stripped)
  }

  private def refused(dir: String)(op: => Any): Unit = {
    val e = intercept[IllegalArgumentException](op)
    assert(e.getMessage.contains(dir), e.getMessage)
    assert(e.getMessage.contains("rebuild"), e.getMessage)
  }

  test("every modality refuses a manifest without resigned/ mirrors") {
    val root = tmpDir("pre-mirror")
    val text = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    def docs(ids: Long*) = ids.map(i => (i, s"$text $i")).toDF("doc_id", "text")
    def vecs(ids: Long*) = ids.map(i =>
      (i, Array.tabulate(64)(j => ((i * 31 + j) % 7).toFloat))).toDF("vec_id", "embedding")
    def edges(a: Long, b: Long) = Seq((a, b)).toDF("a", "b")

    val mh = s"$root/minhash"
    DedupIndex.appendEpoch(spark, mh, 0L, docs(1, 2))
    DedupIndex.appendEpoch(spark, mh, 1L, docs(2, 3))
    stripFeatures(mh)
    refused(mh)(DedupIndex.epochPairs(spark, mh, 1L))
    refused(mh)(DedupIndex.foldEpoch(spark, mh, 2L, docs(4)))

    val sh = s"$root/shingle"
    ShingleIndex.appendEpoch(spark, sh, 0L, docs(1, 2))
    ShingleIndex.appendEpoch(spark, sh, 1L, docs(2, 3))
    stripFeatures(sh)
    refused(sh)(ShingleIndex.epochPairs(spark, sh, 1L, 0.5))
    refused(sh)(ShingleIndex.contamination(spark, sh, 1L, Seq(Tuple1(1L)).toDF("doc_id")))
    refused(sh)(ShingleIndex.foldEpoch(spark, sh, 2L, docs(4), 0.5))

    val si = s"$root/simhash"
    SimHashIndex.appendEpoch(spark, si, 0L, docs(1, 2))
    SimHashIndex.appendEpoch(spark, si, 1L, docs(2, 3))
    stripFeatures(si)
    refused(si)(SimHashIndex.epochPairs(spark, si, 1L, 3))
    refused(si)(SimHashIndex.foldEpoch(spark, si, 2L, docs(4), 3))

    val em = s"$root/embedding"
    EmbeddingIndex.appendEpoch(spark, em, 0L, vecs(1, 2))
    EmbeddingIndex.appendEpoch(spark, em, 1L, vecs(2, 3))
    stripFeatures(em)
    refused(em)(EmbeddingIndex.epochPairs(spark, em, 1L, 0.5))
    refused(em)(EmbeddingIndex.foldEpoch(spark, em, 2L, vecs(4), 0.5))

    val cl = s"$root/cluster"
    ClusterIndex.foldEpoch(spark, cl, 0L, edges(1, 2))
    ClusterIndex.foldEpoch(spark, cl, 1L, edges(2, 3))
    stripFeatures(cl)
    refused(cl)(ClusterIndex.readLabels(spark, cl))
    refused(cl)(ClusterIndex.foldEpoch(spark, cl, 2L, edges(3, 4)))

    val mx = s"$root/metrics"
    MetricsIndex.appendEpoch(spark, mx, 0L, docs(1, 2))
    MetricsIndex.appendEpoch(spark, mx, 1L, docs(2, 3))
    stripFeatures(mx)
    refused(mx)(MetricsIndex.readLive(spark, mx))
    refused(mx)(MetricsIndex.appendEpoch(spark, mx, 2L, docs(4)))
    graft.analytics.SessionCaches.release(spark)
  }
}
