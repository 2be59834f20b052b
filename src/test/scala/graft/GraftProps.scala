package graft

import graft.functions.{TextFunctions, VecExpressions, VectorFunctions}
import graft.pipeline.Clean
import org.apache.spark.sql.functions._
import org.scalacheck.{Gen, Properties, Test}
import org.scalacheck.Prop.{forAll, propBoolean}

/** Property-based invariants (SURVEY.md §5.4). Each property drives
  * real Spark jobs on generated rows, so case counts are kept small.
  */
object GraftProps extends Properties("graft") {

  override def overrideParameters(p: Test.Parameters): Test.Parameters =
    p.withMinSuccessfulTests(15)

  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private val word = Gen.nonEmptyListOf(Gen.alphaNumChar).map(_.mkString)
  private val text = Gen.listOf(Gen.oneOf(word, Gen.const(" "), Gen.const("\t"),
    Gen.const("…"), Gen.const("42"))).map(_.mkString(" "))

  property("tokenCount(regexp_count) == size(tokens) for arbitrary text") =
    forAll(Gen.listOfN(5, text)) { texts =>
      val df = texts.toDF("text")
      df.select(TextFunctions.tokenCount(col("text")).as("fast"),
          size(TextFunctions.tokens(col("text"))).as("slow"))
        .collect().forall(r => r.getInt(0) == r.getInt(1))
    }

  property("text_stats fused pass == the three regex formulations it replaces") =
    forAll(Gen.listOfN(5, text)) { texts =>
      // the differential contract of TextStats: byte-DFA counts must
      // equal the regex formulations for ANY input (incl. the multi-byte
      // '…' and tab cases the generator produces)
      val df = texts.toDF("text")
      val st = graft.functions.HashFunctions.textStatsNative(col("text"))
      df.select(
          st.getField("alpha").as("fa"),
          length(regexp_replace(col("text"), "[^A-Za-z ]", "")).as("sa"),
          st.getField("n_tokens").as("ft"),
          regexp_count(col("text"), lit("\\S+")).as("st"),
          st.getField("n_bpeish").as("fb"),
          regexp_count(col("text"), lit("[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s]+")).as("sb"))
        .collect().forall(r =>
          r.getInt(0) == r.getInt(1) && r.getInt(2) == r.getInt(3) &&
            r.getInt(4) == r.getInt(5))
    }

  property("qualityScore stays in [0,1]") =
    forAll(Gen.listOfN(5, text)) { texts =>
      texts.toDF("text")
        .select(TextFunctions.qualityScore(col("text")).as("q"))
        .collect().forall { r => val q = r.getDouble(0); q >= 0.0 && q <= 1.0 }
    }

  property("lowercase normalization is idempotent") =
    forAll(Gen.listOfN(5, text)) { texts =>
      val df = texts.toDF("text")
      val once = Clean.lowercaseStrings(df)
      Clean.lowercaseStrings(once).collect().toSeq == once.collect().toSeq
    }

  property("keepNewest output has unique keys and is a subset of input") =
    forAll(Gen.listOfN(12, Gen.zip(Gen.choose(0, 3), Gen.choose(0L, 5L), word))) { rows =>
      val df = rows.map { case (k, ts, v) => (k, new java.sql.Timestamp(ts), v) }
        .toDF("key", "ts", "v")
      val out = Clean.keepNewest(df, Seq("key"), "ts", "v").collect()
      val input = df.collect().map(_.toSeq).toSet
      out.map(_.getAs[Int]("key")).distinct.length == out.length &&
        out.forall(r => input.contains(r.toSeq)) &&
        out.length == rows.map(_._1).distinct.length
    }

  property("unionByName count is the sum of parts") =
    forAll(Gen.listOf(Gen.choose(0, 9)), Gen.listOf(Gen.choose(0, 9))) { (a, b) =>
      (a.nonEmpty && b.nonEmpty) ==> {
        a.toDF("v").unionByName(b.toDF("v")).count() == a.length + b.length
      }
    }

  property("minhash jaccard estimate is 1 on identical docs, in [0,1] always") =
    forAll(Gen.listOfN(2, Gen.listOfN(8, word).map(_.mkString(" ")))) { docs =>
      import graft.functions.HashFunctions._
      val df = Seq((docs.head, docs.head, docs(1))).toDF("a", "same", "b")
      def sig(c: String) = portableMinhashSigNative(col(c), 2, 16)
      // q52's estimate: agreeing slots / k
      def est(x: String, y: String) =
        operators.DedupQueries.nMatch(sig(x), sig(y)).cast("double") / 16
      val r = df.select(est("a", "same").as("id"), est("a", "b").as("ab"))
        .collect().head
      r.getDouble(0) == 1.0 && r.getDouble(1) >= 0.0 && r.getDouble(1) <= 1.0
    }

  property("minhashText: whitespace-run invariant and agrees with itself across row shapes") =
    forAll(Gen.listOfN(6, word)) { words =>
      import graft.functions.HashFunctions._
      val t = words.mkString(" ")
      val messy = words.mkString("\t") + " "
      val df = Seq((t, messy)).toDF("a", "b")
      val r = df.select(
        portableMinhashSigNative(col("a"), 2, 16).as("sa"),
        portableMinhashSigNative(col("b"), 2, 16).as("sb")).collect().head
      r.getSeq[Long](0) == r.getSeq[Long](1)
    }

  property("connected components: labels are a fixpoint and respect every edge") =
    forAll(Gen.listOfN(8, Gen.zip(Gen.choose(1L, 10L), Gen.choose(1L, 10L)))) { es =>
      val vs = (1L to 10L).toDF("id")
      val edges = es.toDF("src", "dst")
      val comp = operators.Components.connectedComponents(vs, edges)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      // every vertex labeled, every edge's endpoints share a component,
      // and each component is named after its smallest member
      comp.size == 10 &&
        es.forall { case (a, b) => comp(a) == comp(b) } &&
        comp.groupBy(_._2).forall { case (label, members) =>
          members.keys.min == label }
    }

  property("VecCosine is symmetric, within [-1,1], and 1 on self") =
    forAll(Gen.listOfN(6, Gen.choose(-100, 100).map(_.toFloat))) { xs =>
      xs.exists(_ != 0f) ==> {
        val ys = xs.map(v => v * 0.5f - 1f)
        val df = Seq((xs, ys)).toDF("a", "b")
        val r = df.select(
          VecExpressions.cosineFast(spark, col("a"), col("b")).as("ab"),
          VecExpressions.cosineFast(spark, col("b"), col("a")).as("ba"),
          VecExpressions.cosineFast(spark, col("a"), col("a")).as("aa")).collect().head
        val symmetric = r.isNullAt(0) == r.isNullAt(1) &&
          (r.isNullAt(0) || math.abs(r.getDouble(0) - r.getDouble(1)) < 1e-12)
        val bounded = r.isNullAt(0) || math.abs(r.getDouble(0)) <= 1.0 + 1e-9
        symmetric && bounded && math.abs(r.getDouble(2) - 1.0) < 1e-9
      }
    }

  property("keyedOrderedId == orderedId whenever partCols prefix the sort (nulls, ties, dups)") =
    forAll(Gen.listOfN(10, Gen.zip(
      Gen.option(Gen.choose(0, 2)), Gen.option(Gen.choose(0L, 3L)), Gen.choose(0L, 9L)))) { rows =>
      rows.nonEmpty ==> {
        val df = rows.toDF("k", "d", "idx").repartition(3)
        val global = Clean.orderedId(df, "id", Seq(col("k"), col("d"), col("idx")))
          .collect().map(_.toSeq).toSet
        val keyed = Clean.keyedOrderedId(df, "id", Seq(col("k")), Seq(col("d"), col("idx")))
          .collect().map(_.toSeq).toSet
        keyed == global
      }
    }

  property("classifier_score fused kernel == HOF formulation for arbitrary text") =
    forAll(Gen.listOfN(5, text)) { texts =>
      import graft.functions.PortableHashKernels.{ClsA, ClsB}
      val df = texts.toDF("text")
      val cs = graft.functions.HashFunctions.classifierScoreNative(col("text"))
      val toks = TextFunctions.tokens(col("text"))
      df.select(cs.getField("n_tok").as("fn"), cs.getField("score").as("fs"),
          size(toks).cast("long").as("sn"),
          aggregate(toks, lit(0L), (acc, t) =>
            acc + (((TextFunctions.portableStringHash(t) * ClsA + ClsB)
              % 1000000007L) % 2001L - 1000L)).as("ss"))
        .collect().forall(r =>
          r.getLong(0) == r.getLong(2) && r.getLong(1) == r.getLong(3))
    }

  property("as-of join preserves the left row count (left-join semantics)") =
    forAll(
      Gen.listOfN(8, Gen.zip(Gen.choose(0, 2), Gen.choose(0L, 1000L))),
      Gen.listOfN(8, Gen.zip(Gen.choose(0, 2), Gen.choose(0L, 1000L)))) { (ls, rs) =>
      (ls.nonEmpty && rs.nonEmpty) ==> {
        val left = ls.map { case (k, ts) => (k, new java.sql.Timestamp(ts)) }.toDF("k", "ts")
        val right = rs.distinct.map { case (k, ts) => (k, new java.sql.Timestamp(ts), k * 10) }
          .toDF("k", "rts", "payload")
        operators.AsOfJoin.backward(left, right, "k", "ts", "rts", Seq("payload"))
          .count() == ls.length
      }
    }
}
