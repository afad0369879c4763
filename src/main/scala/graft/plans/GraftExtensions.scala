package graft.plans

import org.apache.spark.sql.{SparkSession, SparkSessionExtensions}
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}

/** SparkSessionExtensions entry point: makes the engine's native
  * expressions available in any session via
  *   spark.sql.extensions=graft.plans.GraftExtensions
  * (or `.withExtensions(new GraftExtensions)`), the standard plug-in
  * path — no session mutation needed by user code.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  private def info(name: String, usage: String) =
    new ExpressionInfo(classOf[VecDot].getName, null, name, usage, "", "", "",
      "math_funcs", "4.0.0", "", "built-in")

  override def apply(ext: SparkSessionExtensions): Unit = {
    ext.injectFunction((FunctionIdentifier("vec_dot"),
      info("vec_dot", "vec_dot(a, b) - dot product of two float/double arrays"),
      (exprs: Seq[Expression]) => VecDot(exprs(0), exprs(1))))
    ext.injectFunction((FunctionIdentifier("vec_cosine"),
      info("vec_cosine", "vec_cosine(a, b) - cosine similarity of two float/double arrays"),
      (exprs: Seq[Expression]) => VecCosine(exprs(0), exprs(1))))
    ext.injectFunction((FunctionIdentifier("lww_seq"),
      info("lww_seq",
        "lww_seq(ts, seq) - seq of the last-writer-wins row: max (ts, seq) lexicographically"),
      (exprs: Seq[Expression]) => LwwSeq(exprs(0), exprs(1))))
    ext.injectFunction((FunctionIdentifier("topk_by_score"),
      info("topk_by_score",
        "topk_by_score(score, id, k) - k best (score, id) pairs per group " +
          "under (score DESC, id ASC), as ARRAY<STRUCT<id, score>> in rank order"),
      (exprs: Seq[Expression]) => TopKFunctions.build(exprs)))
  }
}

object GraftExtensions {
  /** Register `name` on the session unless it is already there — by an
    * earlier call, or by this extension. The Column constructors
    * ([[VectorFunctions]], [[LwwFunctions]], [[TopKFunctions]]) call
    * this on every use, and replacing a registered function logs a
    * WARN each time.
    */
  private[plans] def installOnce(spark: SparkSession, name: String)(
      builder: Seq[Expression] => Expression): Unit = {
    val registry = spark.sessionState.functionRegistry
    registry.synchronized {
      if (!registry.functionExists(FunctionIdentifier(name)))
        registry.createOrReplaceTempFunction(name, builder, "built-in")
    }
  }
}
