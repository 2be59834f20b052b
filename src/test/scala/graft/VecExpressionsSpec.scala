package graft

import graft.functions.{VecExpressions, VectorFunctions}
import org.apache.spark.sql.functions._

class VecExpressionsSpec extends SparkSpec {
  import spark.implicits._

  private val df = Seq(
    (Seq(1.0f, 2.0f, 3.0f), Seq(4.0f, 5.0f, 6.0f)),
    (Seq(0.5f, -0.5f, 2.5f), Seq(-1.0f, 3.5f, 0.25f)),
    (Seq(0.0f, 0.0f, 0.0f), Seq(1.0f, 1.0f, 1.0f))
  ).toDF("a", "b")

  test("VecDot matches the higher-order-function dot") {
    val rows = df.select(
      VecExpressions.dotFast(spark, col("a"), col("b")).as("fast"),
      VectorFunctions.dot(col("a"), col("b")).as("slow")).collect()
    rows.foreach(r => assert(math.abs(r.getDouble(0) - r.getDouble(1)) < 1e-12))
  }

  test("VecCosine matches the HOF cosine, including null on zero norm") {
    val rows = df.select(
      VecExpressions.cosineFast(spark, col("a"), col("b")).as("fast"),
      VectorFunctions.cosine(col("a"), col("b")).as("slow")).collect()
    rows.foreach { r =>
      assert(r.isNullAt(0) == r.isNullAt(1))
      if (!r.isNullAt(0)) assert(math.abs(r.getDouble(0) - r.getDouble(1)) < 1e-12)
    }
    assert(rows(2).isNullAt(0)) // zero-norm row
  }

  test("registerOnce registers each function once per session") {
    import org.apache.spark.sql.catalyst.FunctionIdentifier
    val reg = spark.sessionState.functionRegistry
    def infos() = VecExpressions.sqlBuilders.map { case (name, _, _) =>
      reg.lookupFunction(FunctionIdentifier(name)) }
    VecExpressions.registerOnce(spark)
    val first = infos()
    assert(first.forall(_.isDefined))
    VecExpressions.registerOnce(spark)
    // a re-registration would store a new ExpressionInfo (and log a WARN)
    assert(infos().zip(first).forall { case (a, b) => a.get eq b.get })
  }

  test("length-mismatched vectors yield NULL, not a truncated dot/cosine") {
    val mm = Seq((Seq(1.0f, 2.0f, 3.0f), Seq(1.0f, 2.0f))).toDF("a", "b")
    val r = mm.select(
      VecExpressions.dotFast(spark, col("a"), col("b")).as("d"),
      VecExpressions.cosineFast(spark, col("a"), col("b")).as("c")).collect().head
    assert(r.isNullAt(0) && r.isNullAt(1))
  }

  test("interpreted eval agrees with codegen result") {
    import graft.functions.VecCosine
    import org.apache.spark.sql.catalyst.expressions.Literal
    import org.apache.spark.sql.catalyst.util.ArrayData
    import org.apache.spark.sql.types._
    val lit = (xs: Seq[Float]) =>
      Literal(ArrayData.toArrayData(xs.toArray), ArrayType(FloatType))
    val interp = VecCosine(lit(Seq(1f, 2f, 3f)), lit(Seq(4f, 5f, 6f))).eval(null)
      .asInstanceOf[Double]
    val codegen = df.limit(1).select(
      VecExpressions.cosineFast(spark, col("a"), col("b"))).collect().head.getDouble(0)
    assert(math.abs(interp - codegen) < 1e-12)
  }

  test("double arrays are accepted too") {
    val d = Seq((Seq(1.0, 2.0), Seq(3.0, 4.0))).toDF("a", "b")
    val v = d.select(VecExpressions.dotFast(spark, col("a"), col("b"))).collect().head.getDouble(0)
    assert(v == 11.0)
  }

  test("VecIntDotNorms matches the HOF integer formulation exactly") {
    val idf = Seq(
      (Seq(3L, -4L, 5L), Seq(10L, 20L, -30L)),
      (Seq(0L, 0L), Seq(0L, 7L)),
      (Seq(30000L, -29999L, 12345L), Seq(29999L, 30000L, -12345L))
    ).toDF("a", "b")
    def hof(x: String, y: String) =
      expr(s"aggregate(zip_with($x, $y, (p, q) -> p * q), 0L, (acc, e) -> acc + e)")
    val rows = idf.select(
      VecExpressions.intDotNorms(spark, col("a"), col("b")).as("st"),
      hof("a", "b").as("dot"), hof("a", "a").as("n2a"), hof("b", "b").as("n2b"))
      .collect()
    rows.foreach { r =>
      val st = r.getStruct(0)
      assert(st.getLong(0) == r.getLong(1))
      assert(st.getLong(1) == r.getLong(2))
      assert(st.getLong(2) == r.getLong(3))
    }
  }

  test("VecIntDotNorms: a null ELEMENT nulls the result (zip_with convention)") {
    val idf = Seq(1).toDF("x").select(
      VecExpressions.intDotNorms(spark,
        expr("array(1L, CAST(NULL AS BIGINT))"), expr("array(1L, 2L)")).as("st"),
      expr("aggregate(zip_with(array(1L, CAST(NULL AS BIGINT)), array(1L, 2L)," +
        " (p, q) -> p * q), 0L, (acc, e) -> acc + e)").as("hof"))
    val r = idf.collect()(0)
    assert(r.isNullAt(0) && r.isNullAt(1))
  }

  test("VecIntDotNorms: length mismatch and null input yield NULL") {
    val idf = Seq(
      (Some(Seq(1L, 2L)), Some(Seq(1L, 2L, 3L))),
      (None, Some(Seq(1L)))
    ).toDF("a", "b")
    val rows = idf.select(
      VecExpressions.intDotNorms(spark, col("a"), col("b"))).collect()
    assert(rows.forall(_.isNullAt(0)))
  }
}
