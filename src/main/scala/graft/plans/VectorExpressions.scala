package graft.plans

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types._

/** Native Catalyst expressions for dense-vector math over
  * ARRAY<FLOAT>/ARRAY<DOUBLE> columns, with whole-stage codegen.
  *
  * Spark's built-in path for a dot product is `aggregate(zip_with(...))`
  * — higher-order functions that allocate a lambda frame PER ELEMENT and
  * run interpreted (no codegen), plus `zip_with` materializes an
  * intermediate array per row. For 64-dim embeddings at 10^5–10^9 rows
  * that is the hot loop of every similarity/dedup operator, so this is
  * the SURVEY §7.3 case where a custom `Expression` is justified: a tight
  * primitive loop, no allocation, accumulation always in double (so
  * results are bit-identical to the DuckDB DOUBLE[] oracle even when the
  * stored vectors are float).
  *
  * Null semantics: null array → null result; null ELEMENTS are rejected
  * at bind time via input-type checks (embeddings are dense).
  */
abstract class VecBinaryExpression extends BinaryExpression {
  override def dataType: DataType = DoubleType

  override def checkInputDataTypes(): TypeCheckResult = {
    def ok(dt: DataType): Boolean = dt match {
      case ArrayType(FloatType | DoubleType, _) => true
      case _ => false
    }
    if (ok(left.dataType) && ok(right.dataType)) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires ARRAY<FLOAT|DOUBLE> inputs, " +
        s"got ${left.dataType.sql}, ${right.dataType.sql}")
  }

  protected def isFloat(e: Expression): Boolean =
    e.dataType.asInstanceOf[ArrayType].elementType == FloatType

  /** Scala-side element getter (interpreted path). */
  protected def get(e: Expression, a: ArrayData, i: Int): Double =
    if (isFloat(e)) a.getFloat(i).toDouble else a.getDouble(i)

  /** Java code fragment reading element i of `arr` as double. */
  protected def getJava(e: Expression, arr: String, i: String): String =
    if (isFloat(e)) s"(double) $arr.getFloat($i)" else s"$arr.getDouble($i)"
}

/** dot(a, b) = Σ a_i · b_i over the common prefix length. */
case class VecDot(left: Expression, right: Expression) extends VecBinaryExpression {
  override def prettyName: String = "vec_dot"

  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val n = math.min(x.numElements(), y.numElements())
    var s = 0.0
    var i = 0
    while (i < n) { s += get(left, x, i) * get(right, y, i); i += 1 }
    s
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (x, y) => {
      val n = ctx.freshName("n")
      val i = ctx.freshName("i")
      val s = ctx.freshName("s")
      s"""
         |int $n = java.lang.Math.min($x.numElements(), $y.numElements());
         |double $s = 0.0;
         |for (int $i = 0; $i < $n; $i++) {
         |  $s += ${getJava(left, x, i)} * ${getJava(right, y, i)};
         |}
         |${ev.value} = $s;
       """.stripMargin
    })

  override protected def withNewChildrenInternal(l: Expression, r: Expression) =
    copy(left = l, right = r)
}

/** cosine(a, b) = dot / (‖a‖·‖b‖), one fused pass; 0.0 if either norm is 0. */
case class VecCosine(left: Expression, right: Expression) extends VecBinaryExpression {
  override def prettyName: String = "vec_cosine"

  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val n = math.min(x.numElements(), y.numElements())
    var dot = 0.0; var nx = 0.0; var ny = 0.0
    var i = 0
    while (i < n) {
      val xi = get(left, x, i); val yi = get(right, y, i)
      dot += xi * yi; nx += xi * xi; ny += yi * yi
      i += 1
    }
    val d = math.sqrt(nx) * math.sqrt(ny)
    if (d == 0.0) 0.0 else dot / d
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (x, y) => {
      val n = ctx.freshName("n")
      val i = ctx.freshName("i")
      val dot = ctx.freshName("dot")
      val nx = ctx.freshName("nx")
      val ny = ctx.freshName("ny")
      val xi = ctx.freshName("xi")
      val yi = ctx.freshName("yi")
      val d = ctx.freshName("d")
      s"""
         |int $n = java.lang.Math.min($x.numElements(), $y.numElements());
         |double $dot = 0.0, $nx = 0.0, $ny = 0.0;
         |for (int $i = 0; $i < $n; $i++) {
         |  double $xi = ${getJava(left, x, i)};
         |  double $yi = ${getJava(right, y, i)};
         |  $dot += $xi * $yi; $nx += $xi * $xi; $ny += $yi * $yi;
         |}
         |double $d = java.lang.Math.sqrt($nx) * java.lang.Math.sqrt($ny);
         |${ev.value} = ($d == 0.0) ? 0.0 : ($dot / $d);
       """.stripMargin
    })

  override protected def withNewChildrenInternal(l: Expression, r: Expression) =
    copy(left = l, right = r)
}

/** Column-API + SQL registration surface. The expressions are reached
  * through the session function registry + `call_function` (the stable
  * public path in Spark 4 — Column no longer wraps Expressions directly).
  */
object VectorFunctions {
  /** Register `vec_dot` / `vec_cosine` on the session (idempotent). */
  def register(spark: org.apache.spark.sql.SparkSession): Unit = {
    GraftExtensions.installOnce(spark, "vec_dot")(
      exprs => VecDot(exprs(0), exprs(1)))
    GraftExtensions.installOnce(spark, "vec_cosine")(
      exprs => VecCosine(exprs(0), exprs(1)))
  }

  def vec_dot(spark: org.apache.spark.sql.SparkSession, a: Column, b: Column): Column = {
    register(spark)
    org.apache.spark.sql.functions.call_function("vec_dot", a, b)
  }

  def vec_cosine(spark: org.apache.spark.sql.SparkSession, a: Column, b: Column): Column = {
    register(spark)
    org.apache.spark.sql.functions.call_function("vec_cosine", a, b)
  }
}
