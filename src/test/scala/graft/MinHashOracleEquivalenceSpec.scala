package graft

import graft.streaming.DocStreams
import org.apache.spark.sql.functions._

/** Independent-replay coverage for the portable MinHash family that
  * every batch and streaming MinHash caller shares. Two roles:
  *
  *  (a) stream ≡ batch: the bucket claims behind
  *      `DocStreams.nearDupCandidates` carry exactly q51's band digests
  *      and signature (q51 is DuckDB-hash-matched), and the batch run of
  *      the stream operator equals an admit-first replay over q51's
  *      bands — so streamed and batch dedup propose from one index;
  *  (b) a second, JVM-hosted replay of q55's portable group fold —
  *      defense in depth over the oracle, catching a kernel edit even
  *      when both SQL strings drift together.
  */
class MinHashOracleEquivalenceSpec extends SparkSpec {

  private val d = "/root/testdata/sf0.001"

  private def grams3(text: String): Seq[String] = {
    val toks = text.split("\\s+").filter(_.nonEmpty)
    if (toks.length < 3) Seq.empty
    else toks.sliding(3).map(_.mkString(" ")).toSeq
  }

  test("nearDupCandidates claims carry q51's band digests and signature on every sf0.001 doc") {
    val K = graft.operators.DedupQueries.PortK
    val Bands = graft.operators.DedupQueries.PortBands
    // q51: doc_id, mh0..mh11, b0..b3; gram-less docs are all-NULL and
    // band nowhere, so they drop out on both sides
    val q51 = SparkEntry.queries("q51_minhash_signatures")(spark, d)
      .collect().filterNot(_.isNullAt(1))
      .map(r => (r.getLong(0), (1 to K).map(r.getLong),
        (0 until Bands).map(j => r.getLong(1 + K + j))))
    assert(q51.length >= 500)
    val expected = q51.flatMap { case (id, sig, bs) =>
      bs.zipWithIndex.map { case (bh, band) => (id, band, bh, sig) }
    }.toSet
    // ts rises with doc_id, so admit-first owners are the smallest ids
    val docs = Tables.documents(spark, d)
      .select(col("doc_id"), timestamp_seconds(col("doc_id")).as("ts"), col("text"))
    val claims = DocStreams.claims(docs).collect()
      .map(c => (c.doc_id, c.band, c.bh, c.sig.toIndexedSeq))
    val (missing, extra) = (expected -- claims, claims.toSet -- expected)
    // booleans bound first: assert's macro would print whole collections
    val claimsMatch = claims.length == expected.size && missing.isEmpty && extra.isEmpty
    assert(claimsMatch,
      s"${claims.length} claims vs ${expected.size} from q51: ${missing.size} " +
        s"missing (e.g. ${missing.headOption}), ${extra.size} extra (e.g. ${extra.headOption})")

    // the operator over those claims, in batch: each bucket's smallest
    // doc owns it and every other member is flagged against it
    val sigOf = q51.map { case (id, sig, _) => id -> sig }.toMap
    val replay = expected.toSeq.groupBy { case (_, band, bh, _) => (band, bh) }
      .values.flatMap { members =>
        val ids = members.map(_._1).sorted
        ids.tail.map { id =>
          val agree = sigOf(id).zip(sigOf(ids.head)).count { case (x, y) => x == y }
          (id, ids.head, agree.toDouble / K)
        }
      }.toSeq.sorted
    val streamed = DocStreams.nearDupCandidates(docs).collect()
      .map(n => (n.doc_id, n.dup_of, n.est_jaccard)).toSeq.sorted
    val same = replay.nonEmpty && streamed == replay
    assert(same,
      s"${streamed.length} candidates vs ${replay.length} replayed: " +
        s"${streamed.diff(replay).take(3)} / ${replay.diff(streamed).take(3)}")
  }

  test("q55: portable group est-Jaccard matrix equals the independent JVM replay at sf0.001") {
    import graft.functions.PortableHashKernels.{P, a, b}
    val PK = graft.operators.DedupQueries.PortK
    // independent portable fold: codepoint-polynomial gram hash, then
    // per-stream affine min — written WITHOUT gramHashArray so a kernel
    // edit fails here (only the a/b stream constants are shared)
    def cpFold(s: String): Long = {
      var h = 0L; var i = 0
      while (i < s.length) {
        val cp = s.codePointAt(i)
        h = (h * 131L + cp) % P
        i += Character.charCount(cp)
      }
      h
    }
    val docs = Tables.documents(spark, d)
      .select(col("lang"), col("text")).collect()
      .map(r => (r.getString(0), r.getString(1)))
    val sigs = scala.collection.mutable.Map.empty[String, Array[Long]]
    val counts = scala.collection.mutable.Map.empty[String, Long]
    docs.foreach { case (lang, text) =>
      val sig = sigs.getOrElseUpdate(lang, Array.fill(PK)(Long.MaxValue))
      grams3(text).distinct.foreach { g =>
        val h = cpFold(g)
        var i = 0
        while (i < PK) {
          val v = (h * a(i) + b(i)) % P
          if (v < sig(i)) sig(i) = v
          i += 1
        }
      }
      counts(lang) = counts.getOrElse(lang, 0L) + 1
    }
    val expected = (for {
      (la, sa) <- sigs.toSeq; (lb, sb) <- sigs.toSeq if la < lb
    } yield {
      // Long.MaxValue = "no grams in the whole group" = NULL in the
      // engine; NULL never matches, and the replay corpus always has
      // grams per lang, so plain equality is the right comparison
      val eq = (0 until PK).count(i =>
        sa(i) != Long.MaxValue && sa(i) == sb(i))
      (la, lb, counts(la), eq.toLong, eq.toDouble / PK)
    }).toSet

    val engine = SparkEntry.queries("q55_group_minhash")(spark, d)
      .collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2), r.getLong(3),
        r.getDouble(4)))
      .toSet
    assert(engine.nonEmpty)
    assert(engine == expected)
  }
}
