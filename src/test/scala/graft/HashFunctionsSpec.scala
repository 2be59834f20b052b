package graft

import graft.functions.HashFunctions._
import graft.functions.TextFunctions._
import org.apache.spark.sql.functions._

class HashFunctionsSpec extends SparkSpec {
  import spark.implicits._

  // the portable kernel every MinHash caller shares: word 3-grams, k slots
  private val k = graft.operators.DedupQueries.PortK
  private val P = graft.functions.PortableHashKernels.P
  private def sig(text: String): List[Long] =
    Seq(text).toDF("text")
      .select(portableMinhashSigNative(col("text"), 3, k).as("v"))
      .collect().head.getSeq[Long](0).toList
  /** Estimated Jaccard: fraction of agreeing slots (q52's n_match / k). */
  private def est(a: String, b: String): Double = {
    val (sa, sb) = (sig(a), sig(b))
    sa.zip(sb).count { case (x, y) => x == y }.toDouble / k
  }

  test("minhash: identical docs get identical signatures of length k") {
    val a = sig("to be or not to be that is the question")
    val b = sig("to be or not to be that is the question")
    assert(a == b && a.length == k)
    assert(a.forall(v => v >= 0L && v < P))
  }

  test("minhash: empty doc gets the all-sentinel signature") {
    assert(sig("") == List.fill(k)(P))
  }

  test("minhashJaccard: 1 for identical, 0 for disjoint, bounded between") {
    assert(est("a b c d e f g h", "a b c d e f g h") == 1.0)
    assert(est("a b c d e f g h", "q r s t u v w x") == 0.0)
    val mid = est("a b c d e f g h", "a b c d e f q r")
    assert(mid > 0.0 && mid < 1.0)
  }

  test("exact jaccard: set semantics with empty-union guard") {
    val df = Seq((Seq("a", "b"), Seq("b", "c"), Seq.empty[String])).toDF("a", "b", "e")
    val row = df.select(
      jaccardDistinct(col("a"), col("b")).as("ab"),
      jaccardDistinct(col("e"), col("e")).as("ee")).collect().head
    assert(math.abs(row.getAs[Double]("ab") - 1.0 / 3) < 1e-9)
    assert(row.getAs[Double]("ee") == 0.0)
  }

  test("minhashText: fused path is whitespace-normalizing, deterministic, sentinel under n tokens") {
    val a = sig("to be or not to be")
    assert(a == sig("to be or not to be") && a.length == k)
    // runs of spaces/tabs/newlines produce the same token stream
    assert(a == sig("to\tbe  or\nnot to   be"))
    assert(a != sig("to be or not to him"))
    // fewer than n tokens -> sentinel
    assert(sig("only two") == List.fill(k)(P))
    assert(sig("") == List.fill(k)(P))
  }

  test("native wordNgrams is byte-identical to the HOF formulation") {
    val messy = Seq("a b c d", "  leading and\ttabs\nnewlines  ", "", "one",
      "exactly three toks", "unicode héllo wörld …emoji 🙂 end", "a  double  spaces  here")
    val df = messy.toDF("text")
    val rows = df.select(
      wordNgrams(col("text"), 3).as("native"),
      graft.functions.TextFunctions.wordNgramsHof(col("text"), 3).as("hof"))
      .collect()
    rows.foreach(r => assert(r.getSeq[String](0) == r.getSeq[String](1)))
  }

  test("ngram_explode generator matches posexplode(word_ngrams)") {
    graft.functions.HashFunctions.registerAll(spark)
    Seq("a b c d e", "", "x y", "one two three four")
      .toDF("text").createOrReplaceTempView("ngx_t")
    val viaGen = spark.sql(
      "SELECT pos, gram FROM ngx_t LATERAL VIEW ngram_explode(text, 3) g AS pos, gram")
      .collect().map(_.toSeq).toSeq
    val viaExplode = spark.sql(
      "SELECT posexplode(word_ngrams(text, 3)) AS (pos, gram) FROM ngx_t")
      .collect().map(_.toSeq).toSeq
    assert(viaGen.sorted(Ordering.by((s: Seq[Any]) => s.mkString("|"))) ==
      viaExplode.sorted(Ordering.by((s: Seq[Any]) => s.mkString("|"))))
    assert(viaGen.nonEmpty)
  }

  test("minhashText: estimated jaccard tracks overlap direction") {
    val t1 = "w1 w2 w3 w4 w5 w6 w7 w8 w9 w10"
    assert(est(t1, "w1 w2 w3 w4 w5 w6 w7 w8 w9 zz") > 0.5)
    assert(est(t1, "a1 a2 a3 a4 a5 a6 a7 a8 a9 a10") == 0.0)
  }

  // texts chosen to hit every kernel edge: multi-whitespace runs, tabs,
  // repeated grams (distinctness), non-ASCII + astral plane (codepoint
  // fold), < n tokens (sentinel/empty), trailing whitespace, empty string
  private val portableEdgeTexts = Seq(
    "the quick brown fox jumps over the lazy dog",
    "a  b\tc   d \n e",
    "x y z x y z x y z", // repeated grams collapse via distinct
    "héllo wörld 𝄞clef naïve café €42 tokens here",
    "two tokens",
    "one",
    "",
    "   \t  ",
    "trailing space run   ")

  test("portable minhash: native fused kernel == HOF formulation on edge-case texts") {
    import graft.operators.DedupQueries
    val df = portableEdgeTexts.zipWithIndex.map(_.swap).toDF("id", "text")
    val nat = df.select(col("id") +: DedupQueries.portableMinhashCols(col("text")): _*)
      .collect().map(r => r.getInt(0) -> r.toSeq.tail).toMap
    val hof = df.select(col("id") +: DedupQueries.portableMinhashColsHof(col("text")): _*)
      .collect().map(r => r.getInt(0) -> r.toSeq.tail).toMap
    assert(nat == hof)
    // short docs are all-NULL, real docs are fully defined
    assert(nat(5).forall(_ == null) && nat(6).forall(_ == null))
    assert(nat(0).forall(_ != null))
  }

  test("portable simhash: native fused kernel == HOF formulation on edge-case texts") {
    import graft.operators.DedupQueries
    val df = portableEdgeTexts.zipWithIndex.map(_.swap).toDF("id", "text")
    val hs = transform(array_distinct(wordNgrams(col("text"), 3)),
      g => graft.functions.TextFunctions.portableStringHash(g))
    val nat = df.select(col("id"),
      portableSimhashNative(col("text"), 3, 24).as("sh"))
      .select(col("id"), col("sh.n_grams"), col("sh.fp"))
      .collect().map(r => r.getInt(0) -> ((r.getInt(1), r.getLong(2)))).toMap
    val hof = df.select(col("id"), size(hs).as("n"),
      DedupQueries.portableSimhashHof(hs).as("fp"))
      .collect().map(r => r.getInt(0) -> ((r.getInt(1), r.getLong(2)))).toMap
    assert(nat == hof)
    assert(nat(6) == ((0, 0L))) // empty text: no grams, fp 0
  }

  test("classifier score: native fused kernel == HOF formulation on edge-case texts") {
    import graft.functions.PortableHashKernels.{ClsA, ClsB}
    val df = portableEdgeTexts.zipWithIndex.map(_.swap).toDF("id", "text")
    val nat = df.select(col("id"), classifierScoreNative(col("text")).as("cs"))
      .select(col("id"), col("cs.n_tok"), col("cs.score"))
      .collect().map(r => r.getInt(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    val toks = tokens(col("text"))
    val hof = df.select(col("id"), size(toks).cast("long"),
      aggregate(toks, lit(0L), (acc, t) =>
        acc + (((portableStringHash(t) * ClsA + ClsB) % 1000000007L) % 2001L - 1000L)))
      .collect().map(r => r.getInt(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    assert(nat == hof)
    assert(nat(6) == ((0L, 0L)) && nat(7) == ((0L, 0L))) // empty / ws-only
  }

  test("classifier score: BAG semantics — a repeated token votes once per occurrence") {
    val m = Seq((1, "zq"), (2, "zq zq zq")).toDF("id", "text")
      .select(col("id"), classifierScoreNative(col("text")).as("cs"))
      .select(col("id"), col("cs.n_tok"), col("cs.score"))
      .collect().map(r => r.getInt(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    assert(m(1)._1 == 1L && m(2)._1 == 3L)
    assert(m(2)._2 == 3L * m(1)._2) // distinct-gram semantics would give 1×
    assert(m(1)._2 != 0L) // non-vacuous: 'zq' carries a real weight
  }
}
