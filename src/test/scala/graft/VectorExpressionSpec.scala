package graft

import org.apache.spark.sql.functions._
import graft.plans.VectorFunctions

/** Native VecDot/VecCosine expressions: eval + codegen paths, float and
  * double element types, null arrays, SQL registration, and agreement
  * with the higher-order-function formulation they replaced.
  */
class VectorExpressionSpec extends SparkSpec {
  import spark.implicits._

  def fvec(xs: Double*): Array[Float] = xs.map(_.toFloat).toArray

  test("vec_dot / vec_cosine basic values (float arrays)") {
    val df = Seq(
      (1L, fvec(1, 0, 0), fvec(1, 0, 0)),
      (2L, fvec(1, 0, 0), fvec(0, 1, 0)),
      (3L, fvec(1, 2, 3), fvec(3, 2, 1))).toDF("id", "a", "b")
    val got = df.select($"id",
        VectorFunctions.vec_dot(spark, $"a", $"b").as("dot"),
        round(VectorFunctions.vec_cosine(spark, $"a", $"b"), 6).as("cos"))
      .collect().map(r => r.getLong(0) -> ((r.getDouble(1), r.getDouble(2)))).toMap
    assert(got(1L) === ((1.0, 1.0)))
    assert(got(2L) === ((0.0, 0.0)))
    assert(got(3L)._1 === 10.0)
    assert(math.abs(got(3L)._2 - 10.0 / 14.0) < 1e-6) // cos rounded to 6dp above
  }

  test("double arrays and mixed float/double sides") {
    val df = Seq((Array(1.0, 2.0), fvec(2, 3))).toDF("d", "f")
    val r = df.select(
      VectorFunctions.vec_dot(spark, $"d", $"d").as("dd"),
      VectorFunctions.vec_dot(spark, $"d", $"f").as("df")).collect()(0)
    assert(r.getDouble(0) === 5.0)
    assert(r.getDouble(1) === 8.0)
  }

  test("null array → null; zero norm → 0.0; length mismatch → common prefix") {
    val df = Seq(
      (1L, fvec(1, 2), null.asInstanceOf[Array[Float]]),
      (2L, fvec(0, 0), fvec(1, 1)),
      (3L, fvec(1, 1, 5), fvec(1, 1))).toDF("id", "a", "b")
    val rows = df.select($"id",
        VectorFunctions.vec_dot(spark, $"a", $"b").as("dot"),
        VectorFunctions.vec_cosine(spark, $"a", $"b").as("cos"))
      .collect().map(r => r.getLong(0) ->
        (if (r.isNullAt(1)) null else r.getDouble(1),
         if (r.isNullAt(2)) null else r.getDouble(2))).toMap
    assert(rows(1L) === ((null, null)))
    assert(rows(2L) === ((0.0, 0.0)))
    assert(rows(3L)._1 === 2.0)
  }

  test("SQL registration works") {
    VectorFunctions.register(spark)
    Seq((fvec(1, 2, 3), fvec(1, 2, 3))).toDF("a", "b")
      .createOrReplaceTempView("vecs")
    val r = spark.sql("SELECT vec_dot(a, b) AS d, vec_cosine(a, b) AS c FROM vecs")
      .collect()(0)
    assert(r.getDouble(0) === 14.0)
    assert(math.abs(r.getDouble(1) - 1.0) < 1e-12)
  }

  test("graft SQL functions install once per session") {
    import org.apache.spark.sql.catalyst.FunctionIdentifier
    // the (info, builder) registration: a replacement always installs a
    // fresh ExpressionInfo, even when the builder lambda is a cached
    // non-capturing instance
    def builder(name: String) = {
      val reg = spark.sessionState.functionRegistry
      val id = FunctionIdentifier(name)
      (reg.lookupFunction(id), reg.lookupFunctionBuilder(id)) match {
        case (Some(info), Some(b)) => (info, b)
        case _ => fail(s"$name is not registered")
      }
    }
    def construct(): Unit = {
      VectorFunctions.vec_cosine(spark, $"a", $"b")
      graft.plans.LwwFunctions.lww_seq(spark, $"ts", $"seq")
      graft.plans.TopKFunctions.topk_by_score(spark, $"s", $"id", 3)
    }
    val names = Seq("vec_cosine", "lww_seq", "topk_by_score")
    construct()
    val first = names.map(builder)
    // a second construction must keep the registered builder, not
    // replace it (each replacement logs a WARN)
    construct()
    names.zip(first).foreach { case (n, (info, b)) =>
      val (info2, b2) = builder(n)
      assert((info2 eq info) && (b2 eq b), s"$n was re-registered")
    }
  }

  test("agrees with the higher-order-function formulation on real embeddings") {
    val e = graft.analytics.Tables.embeddings(spark, "/root/testdata/sf0.001")
      .select($"vec_id", $"embedding".cast("array<double>").as("v"))
      .limit(50)
    val hof = e.select($"vec_id",
      aggregate(zip_with($"v", $"v", (x, y) => x * y), lit(0.0), (a, x) => a + x).as("dot"))
    val native = e.select($"vec_id", VectorFunctions.vec_dot(spark, $"v", $"v").as("dot"))
    val j = hof.as("h").join(native.as("n"), "vec_id")
      .select(abs($"h.dot" - $"n.dot").as("delta")).agg(max($"delta")).collect()(0)
    assert(j.getDouble(0) < 1e-12)
  }
}
