package graft.plans

import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.catalyst.expressions.{And, AttributeReference, EqualTo, Expression, GreaterThan, If, IsNotNull, IsNull, Literal, Or}
import org.apache.spark.sql.catalyst.expressions.aggregate.DeclarativeAggregate
import org.apache.spark.sql.types.{DataType, LongType}

/** `lww_seq(warc_ts, seq)` — the last-writer-wins argmax as a native
  * declarative aggregate with a PRIMITIVE mutable buffer.
  *
  * Why this exists: the obvious formulations of per-key LWW —
  * `max(struct(warc_ts, seq))` or `max_by(x, struct(warc_ts, seq))` —
  * carry a STRUCT aggregation buffer, which is not an UnsafeRow-mutable
  * type, so Spark 4 planizes them as **SortAggregate**: every input
  * partition is sorted by the grouping key before aggregating. On the
  * merge path that sort is over the whole change batch (measured 22–28 s
  * of a 64M-event epoch at 32 cores — the dominant cost and the scaling
  * bottleneck, since sorting is memory-bandwidth-bound). This aggregate
  * keeps the buffer as two primitive fields `(warc_ts, seq)`, which
  * qualifies for whole-stage-codegen'd **HashAggregate** with map-side
  * partial aggregation (measured 2.6 s on the same input/cores — ~10×).
  *
  * Semantics: over the group's rows, returns the `seq` of the row with
  * the lexicographically greatest `(warc_ts, seq)`; null-`warc_ts` rows
  * are ignored; null on an empty group. Ties on `warc_ts` break on the
  * larger `seq`, matching the engine's deterministic LWW order
  * (SURVEY §7.4). Callers that also need a winner attribute pack it
  * into spare low bits of `seq` (see MergeInto: `(seq << 1) | tombstone`
  * — order-preserving because `seq` is unique per event).
  *
  * Reference analog: INSERT OR REPLACE last-write-wins
  * (/root/reference/convoetl/loaders/sqlite.py:320–346) — the per-key
  * winner the reference gets implicitly from PK conflict order.
  */
case class LwwSeq(ts: Expression, seqE: Expression) extends DeclarativeAggregate {
  override def children: Seq[Expression] = Seq(ts, seqE)
  override def nullable: Boolean = true
  override def dataType: DataType = LongType
  override def prettyName: String = "lww_seq"

  // buffer inherits the ts child's exact type (TIMESTAMP vs
  // TIMESTAMP_NTZ vs any orderable primitive) — both are long-backed
  // primitives, so the HashAggregate qualification is unaffected
  private lazy val bTs = AttributeReference("lww_b_ts", ts.dataType)()
  private lazy val bSeq = AttributeReference("lww_b_seq", LongType)()
  override lazy val aggBufferAttributes: Seq[AttributeReference] = Seq(bTs, bSeq)
  override lazy val initialValues: Seq[Expression] =
    Seq(Literal(null, ts.dataType), Literal(null, LongType))

  /** (nTs, nSeq) beats (oTs, oSeq): empty buffer, or strictly greater
    * ts, or equal ts with greater seq.
    */
  private def beats(nTs: Expression, nSeq: Expression,
                    oTs: Expression, oSeq: Expression): Expression =
    Or(IsNull(oTs),
      Or(GreaterThan(nTs, oTs), And(EqualTo(nTs, oTs), GreaterThan(nSeq, oSeq))))

  override lazy val updateExpressions: Seq[Expression] = {
    val cond = And(IsNotNull(ts), beats(ts, seqE, bTs, bSeq))
    Seq(If(cond, ts, bTs), If(cond, seqE, bSeq))
  }

  override lazy val mergeExpressions: Seq[Expression] = {
    val cond = And(IsNotNull(bTs.left), beats(bTs.left, bSeq.left, bTs.right, bSeq.right))
    Seq(If(cond, bTs.left, bTs.right), If(cond, bSeq.left, bSeq.right))
  }

  override lazy val evaluateExpression: Expression = bSeq

  override protected def withNewChildrenInternal(c: IndexedSeq[Expression]): LwwSeq =
    copy(ts = c(0), seqE = c(1))
}

/** Column-API + SQL registration surface (same pattern as
  * [[VectorFunctions]]: session registry + `call_function`).
  */
object LwwFunctions {
  def register(spark: SparkSession): Unit =
    GraftExtensions.installOnce(spark, "lww_seq")(
      exprs => LwwSeq(exprs(0), exprs(1)))

  def lww_seq(spark: SparkSession, ts: Column, seq: Column): Column = {
    register(spark)
    org.apache.spark.sql.functions.call_function("lww_seq", ts, seq)
  }
}
