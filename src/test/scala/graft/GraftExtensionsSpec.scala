package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

class GraftExtensionsSpec extends AnyFunSuite {

  test("vec_dot / vec_cosine resolve in pure SQL via spark.sql.extensions") {
    // `spark.sql.extensions` is a STATIC conf read when the SparkContext is
    // created, so inside the shared test JVM (context built by TestSpark
    // without it) the config path can't be exercised; `withExtensions`
    // runs the identical GraftExtensions registration code. The config
    // path itself is what GraftSession sets and Verify/Bench run under.
    TestSpark.spark // the shared context is TestSpark's, whatever the suite order
    val prevDefault = SparkSession.getDefaultSession
    val prevActive = SparkSession.getActiveSession
    SparkSession.clearDefaultSession()
    SparkSession.clearActiveSession()
    val s = SparkSession.builder()
      .master("local[2]")
      .withExtensions(new GraftExtensions()(_))
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    try {
    val row = s.sql(
      """SELECT vec_dot(array(1.0F, 2.0F), array(3.0F, 4.0F)) AS d,
        |       vec_cosine(array(1.0D, 0.0D), array(1.0D, 0.0D)) AS c,
        |       vec_cosine(array(0.0D, 0.0D), array(1.0D, 0.0D)) AS z""".stripMargin)
      .collect().head
    assert(row.getDouble(0) == 11.0)
    assert(math.abs(row.getDouble(1) - 1.0) < 1e-12)
    assert(row.isNullAt(2))
    val mh = s.sql(
      """SELECT portable_minhash_sig('to be or not to be', 3, 4) AS sig,
        |       portable_simhash('to be or not to be', 3, 24) AS sh""".stripMargin)
      .collect().head
    assert(mh.getSeq[Long](0).length == 4)
    assert(mh.getStruct(1).getInt(0) == 4) // 4 distinct 3-grams
    // ExpressionInfo carries the implementing CLASS (not a package):
    // DESCRIBE FUNCTION must point users at real code
    val desc = s.sql("DESCRIBE FUNCTION vec_cosine")
      .collect().map(_.getString(0)).mkString("\n")
    assert(desc.contains("graft.functions.VecCosine"), s"bad ExpressionInfo:\n$desc")
    } finally {
      prevDefault.foreach(SparkSession.setDefaultSession)
      prevActive.foreach(SparkSession.setActiveSession)
    }
  }
}
