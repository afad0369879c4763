package graft.plans

import java.nio.ByteBuffer

import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, Literal}
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.types._

/** Bounded top-k buffer: the k best (score, id) pairs under the total
  * order (score DESC, id ASC), kept as a binary min-heap whose root is
  * the WORST retained pair — insertion beyond k is a root compare +
  * sift-down, O(log k), zero allocation.
  */
final class TopKBuf(val k: Int) {
  val scores = new Array[Double](k)
  val ids = new Array[Long](k)
  var size = 0

  /** a strictly worse than b in rank order (rank = score desc, id asc).
    * Score comparison uses java.lang.Double.compare so NaN orders as the
    * LARGEST score — matching Spark's sort order (and therefore the
    * row_number-window formulation) instead of the IEEE `<` operator,
    * under which NaN compares false both ways and would poison the heap.
    * -0.0 is normalized to 0.0 at insert, as Spark's sort keys do.
    */
  @inline private def worse(sa: Double, ia: Long, sb: Double, ib: Long): Boolean = {
    val c = java.lang.Double.compare(sa, sb)
    c < 0 || (c == 0 && ia > ib)
  }

  private def siftDown(i0: Int): Unit = {
    var i = i0
    while (true) {
      val l = 2 * i + 1; val r = l + 1
      var w = i // index of the worst among i and its children
      if (l < size && worse(scores(l), ids(l), scores(w), ids(w))) w = l
      if (r < size && worse(scores(r), ids(r), scores(w), ids(w))) w = r
      if (w == i) return
      val s = scores(i); val id = ids(i)
      scores(i) = scores(w); ids(i) = ids(w)
      scores(w) = s; ids(w) = id
      i = w
    }
  }

  private def siftUp(i0: Int): Unit = {
    var i = i0
    while (i > 0) {
      val p = (i - 1) / 2
      if (!worse(scores(i), ids(i), scores(p), ids(p))) return
      val s = scores(i); val id = ids(i)
      scores(i) = scores(p); ids(i) = ids(p)
      scores(p) = s; ids(p) = id
      i = p
    }
  }

  def insert(score0: Double, id: Long): Unit = {
    val score = if (score0 == 0.0) 0.0 else score0 // fold -0.0 into 0.0
    if (size < k) {
      scores(size) = score; ids(size) = id; size += 1
      siftUp(size - 1)
    } else if (worse(scores(0), ids(0), score, id)) {
      scores(0) = score; ids(0) = id
      siftDown(0)
    }
  }

  /** Retained pairs in final rank order (best first). */
  def sortedPairs: Array[(Double, Long)] = {
    val out = Array.tabulate(size)(i => (scores(i), ids(i)))
    out.sortWith { case ((sa, ia), (sb, ib)) => worse(sb, ib, sa, ia) }
  }
}

/** `topk_by_score(score, id, k)` — exact distributed top-k as a native
  * aggregate with a BOUNDED buffer (k (double, long) pairs).
  *
  * Why this exists: the obvious exact top-k-per-group —
  * `row_number() OVER (PARTITION BY group ORDER BY score DESC)` then
  * `rank <= k` — funnels EVERY scored row of a group through one task to
  * be sorted there. For the ANN queries' "rank each query's scores over
  * the whole corpus" role that is the textbook scale-killer: 100 queries
  * × 10^9 vectors = 10^10 rows shuffled into 100 single-task sorts.
  * As a TypedImperativeAggregate the plan is ObjectHashAggregate with
  * map-side partial aggregation: each input partition reduces to ≤ k
  * pairs per group locally, the shuffle carries nPartitions·k pairs per
  * group (~16 bytes each), and the final merge is a k-way heap fold —
  * the two-stage (partition-local keep-k, then global) top-k, done by
  * the engine's own partial/final aggregation machinery rather than a
  * second window pass.
  *
  * Semantics: the k best (score, id) pairs under (score DESC, id ASC) —
  * the same deterministic total order the window formulation used — as
  * ARRAY<STRUCT<id, score>> in rank order; null scores/ids are ignored.
  * Exactness: a group's global best-k each survive every local keep-k
  * that sees them, so partial aggregation loses nothing.
  */
case class TopKByScore(
    score: Expression, id: Expression, k: Int,
    mutableAggBufferOffset: Int = 0, inputAggBufferOffset: Int = 0)
  extends TypedImperativeAggregate[TopKBuf] {

  require(k > 0, "topk_by_score requires k > 0")
  // the buffer is eagerly k-sized per group per partition — an absurd k
  // (typo, hostile SQL) must fail at analysis, not OOM an executor
  require(k <= (1 << 20), s"topk_by_score k=$k exceeds the 2^20 buffer ceiling")

  override def children: Seq[Expression] = Seq(score, id)
  override def nullable: Boolean = false
  override def prettyName: String = "topk_by_score"
  override def dataType: DataType = ArrayType(StructType(Seq(
    StructField("id", LongType, nullable = false),
    StructField("score", DoubleType, nullable = false))), containsNull = false)

  override def checkInputDataTypes(): TypeCheckResult =
    if (score.dataType == DoubleType && id.dataType == LongType)
      TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires (DOUBLE score, BIGINT id), got " +
        s"${score.dataType.sql}, ${id.dataType.sql}")

  override def createAggregationBuffer(): TopKBuf = new TopKBuf(k)

  override def update(buf: TopKBuf, input: InternalRow): TopKBuf = {
    val s = score.eval(input)
    val i = id.eval(input)
    if (s != null && i != null)
      buf.insert(s.asInstanceOf[Double], i.asInstanceOf[Long])
    buf
  }

  override def merge(buf: TopKBuf, other: TopKBuf): TopKBuf = {
    var i = 0
    while (i < other.size) { buf.insert(other.scores(i), other.ids(i)); i += 1 }
    buf
  }

  override def eval(buf: TopKBuf): Any =
    new GenericArrayData(buf.sortedPairs.map { case (s, i) =>
      InternalRow(i, s)
    }.asInstanceOf[Array[Any]])

  override def serialize(buf: TopKBuf): Array[Byte] = {
    val bb = ByteBuffer.allocate(4 + 16 * buf.size)
    bb.putInt(buf.size)
    var i = 0
    while (i < buf.size) { bb.putDouble(buf.scores(i)); bb.putLong(buf.ids(i)); i += 1 }
    bb.array()
  }

  override def deserialize(bytes: Array[Byte]): TopKBuf = {
    val bb = ByteBuffer.wrap(bytes)
    val n = bb.getInt
    val buf = new TopKBuf(k)
    var i = 0
    while (i < n) { buf.insert(bb.getDouble, bb.getLong); i += 1 }
    buf
  }

  override def withNewMutableAggBufferOffset(o: Int): TopKByScore =
    copy(mutableAggBufferOffset = o)
  override def withNewInputAggBufferOffset(o: Int): TopKByScore =
    copy(inputAggBufferOffset = o)
  override protected def withNewChildrenInternal(c: IndexedSeq[Expression]): TopKByScore =
    copy(score = c(0), id = c(1))
}

/** Column-API + SQL registration surface (same pattern as
  * [[LwwFunctions]]/[[VectorFunctions]]).
  */
object TopKFunctions {
  /** Shared SQL builder — one definition for both registration paths
    * (session registry here, GraftExtensions for spark-submit users) so
    * literal handling can never diverge between them.
    */
  def build(exprs: Seq[Expression]): TopKByScore =
    TopKByScore(exprs(0), exprs(1), exprs(2) match {
      case Literal(v: Int, IntegerType) => v
      case other => throw new IllegalArgumentException(
        s"topk_by_score k must be an integer literal, got $other")
    })

  def register(spark: SparkSession): Unit =
    GraftExtensions.installOnce(spark, "topk_by_score")(build)

  def topk_by_score(spark: SparkSession, score: Column, id: Column, k: Int): Column = {
    register(spark)
    org.apache.spark.sql.functions.call_function(
      "topk_by_score", score, id, org.apache.spark.sql.functions.lit(k))
  }
}
