package graft.streaming

import java.sql.Timestamp

import graft.functions.HashFunctions._
import graft.functions.PortableHll
import graft.operators.DedupQueries
import org.apache.spark.sql.{Column, DataFrame, Dataset}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

/** Streaming MinHash-LSH near-duplicate detection over a document feed —
  * the streaming form of the batch LSH dedup (q51/q52/q56; ref for the
  * batch semantics: DedupQueries). This is the ingest-time shape a
  * training-data pipeline needs: flag each arriving document against what
  * already streamed in, without ever holding the corpus.
  *
  * Design:
  *   signature + band keys are computed scan-side by the batch path's own
  *   kernel and bands: the portable k=12 MinHash over word 3-grams and
  *   DedupQueries' 4-band digests, sentinel slots nulled first — so a
  *   claim's (band, bh) and sig are exactly q51's (b0..b3, mh0..mh11)
  *   for that document (MinHashOracleEquivalenceSpec pins this over the
  *   sf0.001 corpus), and stream and batch propose from one index.
  *   Gram-less documents (fewer than 3 tokens) have no digest and claim
  *   no bucket, as in the batch banding. Then ONE stateful operator keyed
  *   by (band, bh) holds each bucket's admit-first owner: the earliest
  *   (ts, doc_id) document to claim the bucket within the horizon. A
  *   later document hitting an owned bucket emits a (doc, dup_of=owner,
  *   est_jaccard) candidate instead of claiming.
  *
  * Semantics notes:
  *   - Admit-first (FIFO): duplicates never become owners of buckets they
  *     collide on, so chains collapse toward the earliest document in the
  *     horizon — the streaming analog of q56's min-label convergence.
  *   - A pair colliding in several bands emits several candidate rows;
  *     consumers take the max-est_jaccard row per (doc_id, dup_of) (a
  *     per-microbatch distinct in foreachBatch, or just a downstream
  *     filter — the rows agree on est_jaccard since it comes from the
  *     full signatures, not the band).
  *   - Unverified candidates: like the batch path, LSH proposes and
  *     est_jaccard (signature agreement, q52's n_match / k) disposes;
  *     callers filter on their threshold.
  *
  * Scale shape: the only shuffle is the groupByKey on the 12-byte bucket
  * key, 4 claims per document; state is one owner per occupied bucket
  * (doc_id + 12-slot signature, ~0.1 KB) and is evicted by event-time
  * timeout once the watermark passes owner.ts + horizon — so state is
  * O(buckets occupied within the horizon), not O(stream history), and a
  * re-arriving text after the horizon simply re-claims its buckets.
  */
object DocStreams {

  final case class Doc(doc_id: Long, ts: Timestamp, text: String)
  final case class Claim(doc_id: Long, ts: Timestamp, band: Int, bh: Long, sig: Seq[Long])
  final case class BucketOwner(doc_id: Long, ts: Timestamp, sig: Seq[Long])
  final case class NearDup(doc_id: Long, dup_of: Long, est_jaccard: Double, ts: Timestamp)

  /** The batch path's MinHash signature (q51's mh0..mh11, sentinel P in
    * every slot of a gram-less doc). */
  private def portableSig(text: Column): Column =
    portableMinhashSigNative(text, 3, DedupQueries.PortK)

  /** The batch path's band digests (q51's b0..b3) of a [[portableSig]]
    * column, sentinel slots nulled exactly as the batch banding does: a
    * gram-less doc gets all-NULL digests and so no candidates. */
  private def bandDigests(sig: Column): Seq[Column] = {
    val P = graft.functions.PortableHashKernels.P
    DedupQueries.portableBandDigests { i =>
      val v = element_at(sig, i + 1)
      when(v === P, lit(null).cast("long")).otherwise(v)
    }
  }

  /** Fraction of agreeing signature slots — the MinHash Jaccard estimate
    * (q52's n_match / k). */
  private def estJaccard(a: Seq[Long], b: Seq[Long]): Double =
    if (a.isEmpty || a.length != b.length) 0.0
    else a.iterator.zip(b.iterator).count { case (x, y) => x == y }.toDouble / a.length

  /** One (band, bh) bucket claim per band of each document, carrying its
    * signature. Claims with a NULL digest are dropped: left in, every
    * gram-less doc would group under one null key (and a null cannot
    * decode into Claim's primitive bh). */
  private[graft] def claims(docs: DataFrame): Dataset[Claim] = {
    import docs.sparkSession.implicits._
    docs
      .select(col("doc_id"), col("ts"), portableSig(col("text")).as("sig"))
      .select(col("doc_id"), col("ts"), col("sig"),
        posexplode(array(bandDigests(col("sig")): _*)).as(Seq("band", "bh")))
      .filter(col("bh").isNotNull)
      .as[Claim]
  }

  /** docs: (doc_id LONG, ts TIMESTAMP, text STRING), batch or streaming.
    * In streaming, `withWatermark` is applied here (callers pass the
    * horizon); in batch execution timeouts are ignored and the operator
    * degenerates to admit-first over each bucket's full history — same
    * emission rule, tested both ways.
    */
  def nearDupCandidates(
      docs: DataFrame,
      watermark: String = "1 hour",
      horizonSeconds: Long = 3600L): Dataset[NearDup] = {
    import docs.sparkSession.implicits._
    claims(docs.withWatermark("ts", watermark)).groupByKey(c => (c.band, c.bh))
      .flatMapGroupsWithState[BucketOwner, NearDup](
        OutputMode.Append, GroupStateTimeout.EventTimeTimeout) {
        (_: (Int, Long), rows: Iterator[Claim], state: GroupState[BucketOwner]) =>
          if (rows.isEmpty && state.hasTimedOut) {
            // watermark passed owner.ts + horizon: bucket forgets its owner
            state.remove()
            Iterator.empty
          } else {
            // batch execution has no watermark (getCurrentWatermarkMs and
            // setTimeoutTimestamp both reject) — Long.MinValue disables
            // the expiry paths there; admit-first over full history applies
            val wm = try state.getCurrentWatermarkMs()
              catch { case _: UnsupportedOperationException => Long.MinValue }
            // data is processed BEFORE timeouts fire within a trigger, so
            // a claim can arrive while an already-expired owner is still
            // in state; honoring it would flag against a forgotten doc,
            // and re-registering its timeout (<= watermark) would throw
            // and kill the query. Expire it here instead.
            var owner = state.getOption.filter(o =>
              wm == Long.MinValue || o.ts.getTime + horizonSeconds * 1000 > wm)
            if (owner.isEmpty && state.exists) state.remove()
            // deterministic within a trigger: earliest (ts, doc_id) first
            val sorted = rows.toSeq.sortBy(c => (c.ts.getTime, c.doc_id))
            val out = Seq.newBuilder[NearDup]
            sorted.foreach { c =>
              owner match {
                case None =>
                  owner = Some(BucketOwner(c.doc_id, c.ts, c.sig))
                case Some(o) if o.doc_id != c.doc_id =>
                  out += NearDup(c.doc_id, o.doc_id, estJaccard(o.sig, c.sig), c.ts)
                case Some(_) => () // same doc re-delivered in the trigger
              }
            }
            owner.foreach { o =>
              state.update(o)
              // clamp above the watermark: a surviving owner's nominal
              // deadline can still be <= wm only in edge interleavings,
              // and setTimeoutTimestamp rejects timestamps <= watermark
              val deadline = o.ts.getTime + horizonSeconds * 1000
              try state.setTimeoutTimestamp(
                if (wm == Long.MinValue) deadline else math.max(deadline, wm + 1))
              catch { case _: UnsupportedOperationException => () }
            }
            out.result().iterator
          }
      }
  }

  // --- Streaming incremental-index admission (q148's contract) ---------

  final case class AdmissionDoc(doc_id: Long, ts: Timestamp, text: String)
  final case class AdmissionCand(doc_id: Long, ts: Timestamp,
      mh_new: Seq[Long], idx_id: Option[Long], n_match: Option[Long])
  final case class Admission(doc_id: Long, n_index_partners: Long,
      best_index_partner: Option[Long], best_match: Option[Long],
      admitted: Boolean, ts: Timestamp)

  final case class SpanOverlap(doc_id: Long, n_tokens: Long,
      overlap_tokens: Long, flagged: Boolean, ts: Timestamp)

  // not private: the Dataset encoder's generated projection code cannot
  // access private classes (observed as a Janino CompileException)
  final case class SpanRow(doc_id: Long, ts: Timestamp,
      n_tokens: Int, pos: Option[Int], m: Option[Int])

  /** Streaming form of q180's incremental span overlap — the substring
    * leg of the ingest gate, per arriving document: how many of the
    * doc's tokens are covered by a k-gram that already exists in the
    * index corpus's stored gram inventory, and does that cover ≥ half
    * the doc (q180's exact integer test). Same machinery as
    * [[incrementalAdmission]]: gram hashes computed scan-side with the
    * SAME tokenize/gram/md5 chain as the stored `gpos` artifact
    * (`wordNgrams` + md5 — the batch path hashes identical gram
    * strings), a STATELESS stream-static left-outer join against the
    * index gram set, and a zero-state per-doc verdict fold (a doc's
    * gram rows all land in its arrival trigger). `posexplode_outer`
    * keeps gram-less docs flowing — they emit overlap 0, unflagged.
    * Token coverage is an exact merged-interval sum over the matched
    * gram starts, identical to the batch HOF's per-token test.
    * Stream ≡ q180 pinned by SpanOverlapStreamSpec.
    */
  def spanOverlap(
      docs: DataFrame,
      idxGrams: DataFrame, // (gh) — DISTINCT index gram hashes
      k: Int = graft.operators.DedupQueries.SpanK,
      watermark: String = "1 hour"): Dataset[SpanOverlap] = {
    import docs.sparkSession.implicits._
    val joined = docs
      .withWatermark("ts", watermark)
      .select(col("doc_id"), col("ts"),
        // NULL text ⇒ empty token stream (q178's parity contract)
        size(graft.functions.TextFunctions.tokens(
          coalesce(col("text"), lit("")))).as("n_tokens"),
        posexplode_outer(
          graft.functions.HashFunctions.wordNgramsNative(
            coalesce(col("text"), lit("")), k)).as(Seq("pos", "gram")))
      .select(col("doc_id"), col("ts"), col("n_tokens"), col("pos"),
        md5(col("gram")).as("gh"))
      .join(idxGrams.select(col("gh"), lit(1).as("m")), Seq("gh"), "left_outer")
      .select(col("doc_id"), col("ts"), col("n_tokens"), col("pos"), col("m"))
      .as[SpanRow]
    joined.groupByKey(_.doc_id)
      .flatMapGroupsWithState[Boolean, SpanOverlap](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (id: Long, rows: Iterator[SpanRow], _: GroupState[Boolean]) =>
          val rs = rows.toSeq
          val n = rs.head.n_tokens
          val starts = rs.collect {
            case SpanRow(_, _, _, Some(p), Some(_)) => p
          }.distinct.sorted
          // exact merged-interval token count: [p, min(p+k, n))
          var covered = 0L
          var curEnd = -1
          starts.foreach { p =>
            val e = math.min(p + k, n)
            val s0 = math.max(p, curEnd)
            if (e > s0) { covered += e - s0; curEnd = e }
            else curEnd = math.max(curEnd, e)
          }
          val ts = rs.map(_.ts).maxBy(_.getTime)
          Iterator.single(SpanOverlap(id, n.toLong, covered,
            flagged = n > 0 && covered * 2 >= n, ts))
      }
  }

  /** One removable run: token interval [start, end) inside the arriving
    * doc. */
  final case class SpanSeg(start: Long, end: Long)
  final case class ExactSubVerdict(doc_id: Long, n_tokens: Long,
    n_windows: Long, n_dup_windows: Long, covered_tokens: Long,
    longest_run_tokens: Long, flagged: Boolean,
    cut_tokens: Long, cut_spans: Seq[SpanSeg], ts: Timestamp)
  final case class ExactSubRow(doc_id: Long, ts: Timestamp,
    n_tokens: Int, pos: Option[Int], m: Option[Int])

  /** Streaming form of q340's exact-substring admission — the intake
    * gate at EXACT-match grain (the r13 verdict's missing family
    * member): each arriving document's L-token windows are digested
    * scan-side with the SAME tokenize/gram/md5 chain as the stored
    * gpos$L inventory, checked via a STATELESS stream-static left-outer
    * join against that inventory's distinct window digests, and folded
    * into a per-doc verdict carrying the exact duplicated GEOMETRY:
    * matched windows merged into maximal runs (q339's island rule —
    * overlap-or-touch, gap ≤ L), total covered tokens, the longest
    * contiguous duplicated run, AND the concrete CUT list (r14 verdict
    * #8): every run of ≥ 2L tokens — a full q339-grain duplicated copy,
    * the Lee-et-al removable unit — as [start, end) `cut_spans`, so
    * intake can CUT the arrival instead of just flagging it. Flag =
    * longest run ≥ 2L (a full q339-grain copy arrived — q118's decontam
    * risk at ingest) OR ≥ half the doc covered (q180's mass rule);
    * flagged-by-run ⟺ cut_spans nonempty by construction. Zero stored state
    * (NoTimeout, state never set): a doc's window rows all land in its
    * arrival trigger, so the group's rows are the complete evidence.
    * Window-less (short/NULL-text) docs flow through with zeros via
    * posexplode_outer. Stream ≡ q340 pinned by
    * ExactSubstringGateStreamSpec.
    */
  def exactSubstringGate(
      docs: DataFrame,
      invWindows: DataFrame, // (gh) — DISTINCT index window digests
      l: Int = 16,
      watermark: String = "1 hour"): Dataset[ExactSubVerdict] = {
    import docs.sparkSession.implicits._
    val joined = docs
      .withWatermark("ts", watermark)
      .select(col("doc_id"), col("ts"),
        size(graft.functions.TextFunctions.tokens(
          coalesce(col("text"), lit("")))).as("n_tokens"),
        posexplode_outer(
          graft.functions.HashFunctions.wordNgramsNative(
            coalesce(col("text"), lit("")), l)).as(Seq("pos", "gram")))
      .select(col("doc_id"), col("ts"), col("n_tokens"), col("pos"),
        md5(col("gram")).as("gh"))
      .join(invWindows.select(col("gh"), lit(1).as("m")), Seq("gh"), "left_outer")
      .select(col("doc_id"), col("ts"), col("n_tokens"), col("pos"), col("m"))
      .as[ExactSubRow]
    joined.groupByKey(_.doc_id)
      .flatMapGroupsWithState[Boolean, ExactSubVerdict](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (id: Long, rows: Iterator[ExactSubRow], _: GroupState[Boolean]) =>
          val rs = rows.toSeq
          val n = rs.head.n_tokens
          val starts = rs.collect {
            case ExactSubRow(_, _, _, Some(p), Some(_)) => p
          }.distinct.sorted
          // q339's island rule: merge matched windows at gap <= l
          val runs = scala.collection.mutable.ArrayBuffer.empty[(Int, Int)]
          starts.foreach { p =>
            runs.lastOption match {
              case Some((s0, e0)) if p <= e0 =>
                runs(runs.length - 1) = (s0, math.max(e0, p + l))
              case _ => runs += ((p, p + l))
            }
          }
          val covered = runs.iterator.map { case (s0, e0) => (e0 - s0).toLong }.sum
          val longest =
            if (runs.isEmpty) 0L
            else runs.iterator.map { case (s0, e0) => (e0 - s0).toLong }.max
          // the CUT list (r14 verdict #8): runs of ≥ 2L tokens are full
          // q339-grain (32-token at L=16) duplicated copies — the
          // Lee-et-al removable unit — emitted as concrete [start, end)
          // geometry so intake can CUT the arrival, not just flag it;
          // sub-2L runs stay report-only (a lone L-window match is not
          // a span-grain duplicate)
          val cut = runs.iterator
            .filter { case (s0, e0) => e0 - s0 >= 2 * l }
            .map { case (s0, e0) => SpanSeg(s0.toLong, e0.toLong) }.toSeq
          val cutTokens = cut.iterator.map(c => c.end - c.start).sum
          val ts = rs.map(_.ts).maxBy(_.getTime)
          Iterator.single(ExactSubVerdict(id, n.toLong,
            math.max(n - l + 1, 0).toLong, starts.length.toLong, covered,
            longest,
            flagged = longest >= 2L * l || (n > 0 && covered * 2 >= n),
            cutTokens, cut, ts))
      }
  }

  /** Streaming form of q148's incremental cross-corpus admission: each
    * ARRIVING document is checked against the STORED band index — the
    * day-to-day ingest gate, now per-document instead of per-batch.
    * Built on the SAME portable kernels and constants as the batch path
    * (DedupQueries' sig/digest/agreement builders — shared code, so the
    * two cannot drift; IncrementalAdmissionStreamSpec pins stream ≡
    * q148 on the admitted set).
    *
    * Shape: signature + band digests are computed scan-side on the
    * stream; candidates come from a STREAM-STATIC left-outer join
    * against the index's (band, digest, idx_id) table — stateless, no
    * watermark-delayed state, because the index side is a static
    * artifact — then a second stream-static join fetches the candidate
    * index signatures and the per-pair agreement count is computed
    * inline. The per-doc verdict folds in a flatMapGroupsWithState with
    * NO stored state (NoTimeout, state never set): every row of an
    * arriving doc lands in the same trigger (they all derive from that
    * doc's one input row), so the group's rows ARE the complete
    * evidence and the verdict is emitted immediately — a stateful
    * streaming aggregation would buffer results until the watermark
    * passed instead. Left-outer keeps no-candidate (and gram-less,
    * null-digest) docs flowing: they emit admitted=true.
    *
    * Like q148, stream×stream pairs are never generated — admission is
    * vs the index only; a doc re-arriving in a later trigger re-decides
    * against the same index (id-level dedup is the upstream feed's
    * contract, as in the batch path where the batch is a set).
    *
    * Scale: the arriving micro-batch is the only moving data — the
    * index table stays put (bucketed on (band, digest), the join is
    * keyed), signatures ride the stream rows (~100 B at k=12), and the
    * group fold touches only each doc's own candidates.
    */
  def incrementalAdmission(
      docs: DataFrame,
      bandIndex: DataFrame,
      idxSigs: DataFrame,
      matchMin: Int = graft.operators.DedupQueries.PortMatchMin,
      watermark: String = "1 hour"): Dataset[Admission] = {
    import docs.sparkSession.implicits._
    // gram-less docs get all-null digests and therefore no candidates —
    // but still flow, via the left outer
    val banded = docs
      .withWatermark("ts", watermark)
      .select(col("doc_id"), col("ts"), portableSig(col("text")).as("mh_new"))
      .select(col("doc_id"), col("ts"), col("mh_new"),
        posexplode(array(bandDigests(col("mh_new")): _*)).as(Seq("band", "digest")))
    val cands = banded
      .join(bandIndex, Seq("band", "digest"), "left_outer")
      .join(idxSigs, Seq("idx_id"), "left_outer")
      .select(col("doc_id"), col("ts"), col("mh_new"), col("idx_id"),
        when(col("mh").isNotNull,
          DedupQueries.nMatch(col("mh_new"), col("mh"))).as("n_match"))
      .as[AdmissionCand]
    cands.groupByKey(_.doc_id)
      .flatMapGroupsWithState[Boolean, Admission](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (id: Long, rows: Iterator[AdmissionCand], _: GroupState[Boolean]) =>
          val rs = rows.toSeq
          // several bands can propose the same (doc, idx) pair — one
          // vote per partner, like the batch path's DISTINCT
          val partners = rs.collect {
            case AdmissionCand(_, _, _, Some(idx), Some(nm)) if nm >= matchMin =>
              (idx, nm)
          }.distinct
          val ts = rs.map(_.ts).maxBy(_.getTime)
          Iterator.single(
            if (partners.isEmpty) Admission(id, 0L, None, None, admitted = true, ts)
            else Admission(id, partners.size.toLong,
              Some(partners.map(_._1).min), Some(partners.map(_._2).max),
              admitted = false, ts))
      }
  }

  final case class KeyRow(k: Long, ts: Timestamp, nm: String)
  final case class KeyCollision(k: Long, nm: String, n_collisions: Long,
      nearest_key: Option[Long], admitted: Boolean, ts: Timestamp)
  final case class KeyCandRow(k: Long, nm: String, ts: Timestamp,
      idx_k: Option[Long], collides: Boolean)

  /** Streaming ENTITY-KEY COLLISION gate — q310's deletion-neighborhood
    * join at ingest time: each ARRIVING key (a new customer id, product
    * code, …) is checked for edit-distance-1 collisions against the
    * EXISTING key inventory, so a fat-fingered near-duplicate identifier
    * is flagged at admission instead of in a batch master-data sweep.
    * Variants are built scan-side by the SHARED
    * `DedupQueries.keyVariants` (one definition — the gate cannot drift
    * from the batch join), the inventory lookup is ONE STATELESS
    * stream-static left-outer join on the variant string (the variant
    * index is |keys|·(L+1) rows of short strings — the static small
    * side), and distance-1 is decided by the same positional witness
    * predicate, no per-pair DP. The per-key fold holds ZERO state
    * (NoTimeout, state never set): a key's variant rows all land in its
    * arrival trigger. Emits one row per arriving key: collision count
    * (distinct existing partners), the smallest colliding key, and the
    * admit verdict. Stream ≡ batch pinned by KeyCollisionStreamSpec.
    *
    * Scale: the arriving micro-batch is the only moving data; join keys
    * are ≤(L+1) short strings per arriving key; state is zero. */
  def keyCollisionGate(
      keys: DataFrame,  // (k LONG, ts TIMESTAMP, nm STRING)
      index: DataFrame, // (k LONG, nm STRING) — the existing inventory
      watermark: String = "1 hour"): Dataset[KeyCollision] = {
    import keys.sparkSession.implicits._
    import graft.operators.DedupQueries
    val idx = DedupQueries.keyVariants(index)
      .select(col("v"), col("pos").as("idx_pos"),
        col("k").as("idx_k"), col("nm").as("idx_nm"))
    val cands = DedupQueries.keyVariants(keys.withWatermark("ts", watermark))
      .join(idx, Seq("v"), "left_outer")
      .select(col("k"), col("nm"), col("ts"), col("idx_k"),
        (col("idx_k").isNotNull && col("nm") =!= col("idx_nm") &&
          DedupQueries.witnessPred(col("pos"), col("idx_pos")))
          .as("collides"))
      .as[KeyCandRow]
    cands.groupByKey(_.k)
      .flatMapGroupsWithState[Boolean, KeyCollision](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (k: Long, rows: Iterator[KeyCandRow], _: GroupState[Boolean]) =>
          val rs = rows.toSeq
          // several variants can witness the same partner — one vote
          // per partner, like the batch path's DISTINCT
          val partners = rs.collect {
            case KeyCandRow(_, _, _, Some(ik), true) => ik
          }.distinct
          val ts = rs.map(_.ts).maxBy(_.getTime)
          Iterator.single(KeyCollision(k, rs.head.nm, partners.size.toLong,
            if (partners.isEmpty) None else Some(partners.min),
            admitted = partners.isEmpty, ts))
      }
  }

  final case class LmRow(doc_id: Long, ts: Timestamp, micro: Option[Long])
  final case class LmScore(doc_id: Long, n_bigrams: Long, micro_sum: Long,
      bits_per_bigram: Option[Double], kept: Option[Boolean], ts: Timestamp)

  /** Streaming bigram-LM scoring: each ARRIVING document is scored
    * against the STORED bigram LM (`lm2_bits` / `lm2_prefix` /
    * `lm2_stats` — ModelPrepQueries.storedBigramLm), the ingest-time
    * form of q187. Bigrams are built scan-side with the SAME
    * tokenize/zip_with chain as the batch path; the model lookups are
    * STATELESS stream-static left-outer joins (the LM never moves —
    * it's the small side of two keyed joins), and the per-doc fold
    * holds ZERO state: a doc's bigram rows all land in its arrival
    * trigger. Unseen bigrams — which batch q187 never meets, since it
    * scores the training corpus — degrade through exactly the add-1
    * ladder the model defines: seen pair → micro_bits; seen prefix,
    * new continuation → (c1+V)/1; fully-OOV prefix → log2(V). Docs
    * with < 2 tokens (or NULL text) flow through with n_bigrams 0 and
    * a NULL score, matching q187's row for them. Rounding mirrors the
    * batch `round(·, 4)` (HALF_UP). Stream ≡ q187 pinned by
    * LmStreamSpec on the training corpus.
    */
  def lmScore(
      docs: DataFrame,
      bits: DataFrame,    // (w1, w2, micro_bits)
      prefix: DataFrame,  // (w1, miss_micro)
      oovMicro: Long,
      threshold: Double = 4.9,
      watermark: String = "1 hour"): Dataset[LmScore] = {
    import docs.sparkSession.implicits._
    val toks = graft.functions.TextFunctions.tokens(
      coalesce(col("text"), lit("")))
    val len1 = greatest(size(col("l")) - 1, lit(0))
    val rows = docs
      .withWatermark("ts", watermark)
      .select(col("doc_id"), col("ts"), toks.as("l"))
      .select(col("doc_id"), col("ts"),
        posexplode_outer(zip_with(
          slice(col("l"), lit(1), len1), slice(col("l"), lit(2), len1),
          (a, b) => struct(a.as("w1"), b.as("w2")))).as(Seq("i", "p")))
      .select(col("doc_id"), col("ts"),
        col("p.w1").as("w1"), col("p.w2").as("w2"))
      .join(bits, Seq("w1", "w2"), "left_outer")
      .join(prefix, Seq("w1"), "left_outer")
      .select(col("doc_id"), col("ts"),
        when(col("w1").isNull, lit(null).cast("long")) // bigram-less doc
          .otherwise(coalesce(col("micro_bits"), col("miss_micro"),
            lit(oovMicro))).as("micro"))
      .as[LmRow]
    rows.groupByKey(_.doc_id)
      .flatMapGroupsWithState[Boolean, LmScore](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (id: Long, it: Iterator[LmRow], _: GroupState[Boolean]) =>
          val rs = it.toSeq
          val micros = rs.flatMap(_.micro)
          val n = micros.length.toLong
          val sum = micros.sum
          val ts = rs.map(_.ts).maxBy(_.getTime)
          val bpb =
            if (n > 0) Some(BigDecimal(sum / 1000000.0 / n)
              .setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble)
            else None
          Iterator.single(LmScore(id, n, sum, bpb, bpb.map(_ <= threshold), ts))
      }
  }

  final case class DecontamRow(doc_id: Long, ts: Timestamp, hit: Option[Int])
  final case class Decontam(doc_id: Long, n_hits: Long, contaminated: Boolean,
      ts: Timestamp)

  final case class ChunkRow(doc_id: Long, ts: Timestamp,
      n_tok: Option[Long], known: Option[Int])
  final case class ChunkOverlap(doc_id: Long, n_chunks: Long, n_tokens: Long,
      known_chunks: Long, known_tokens: Long, flagged: Boolean, ts: Timestamp)

  /** Streaming CHUNK-OVERLAP gate — the ingest-time form of q209 (the
    * rsync question per arriving document: how much of this is already
    * stored, chunk for chunk?). The arriving doc is chunked SCAN-SIDE
    * by the same content-defined boundaries as the batch path (token
    * char-fold → rolling 3-token hash → 0 mod 8 cuts → per-chunk
    * 1000003-fold, all in one aggregate expression per row — no state,
    * no window); the stored inventory's distinct fingerprints are the
    * small side of ONE stateless stream-static left-outer join (in
    * production: the bucketed `cdcocc` artifact's fp column); the
    * per-doc verdict folds with ZERO state (NoTimeout — a doc's chunk
    * rows all land in its arrival trigger). Chunk-less docs (NULL/empty
    * text) flow through unflagged with zero counts — the DocStreams
    * degenerate-doc convention (batch q209 simply omits them; the spec
    * pins both behaviors). Boundary realignment (CdcChunkSpec) is what
    * makes this gate useful: an edited re-upload still reports high
    * overlap. Stream ≡ q209 pinned by ChunkOverlapStreamSpec.
    */
  def chunkOverlap(
      docs: DataFrame,
      idxFps: DataFrame, // (chunk_fp) — DISTINCT stored chunk fingerprints
      watermark: String = "1 hour"): Dataset[ChunkOverlap] = {
    import docs.sparkSession.implicits._
    val M = 1000000007L
    val rows = docs
      .withWatermark("ts", watermark)
      .select(col("doc_id"), col("ts"),
        graft.functions.TextFunctions.tokens(coalesce(col("text"), lit("")))
          .as("l"))
      .withColumn("h",
        transform(col("l"),
          t => graft.functions.TextFunctions.portableStringHash(t)))
      .withColumn("wh", expr(
        s"""transform(sequence(1, greatest(size(h), 1)), i ->
           |  IF(i >= 3, ((element_at(h, i-2) * 1000003 + element_at(h, i-1))
           |    % $M * 1000003 + element_at(h, i)) % $M,
           |    CAST(NULL AS BIGINT)))""".stripMargin))
      .withColumn("chunks", expr(
        s"""IF(size(h) = 0,
           |  CAST(array() AS array<struct<fp: bigint, n: bigint>>),
           |  aggregate(sequence(1, greatest(size(h), 1)),
           |    named_struct('fp', CAST(0 AS BIGINT), 'n', CAST(0 AS BIGINT),
           |      'acc', CAST(array() AS array<struct<fp: bigint, n: bigint>>)),
           |    (a, i) -> IF(i >= 4 AND element_at(wh, i - 1) % 8 = 0,
           |      named_struct('fp', element_at(h, i) % $M,
           |        'n', CAST(1 AS BIGINT),
           |        'acc', array_append(a.acc,
           |          named_struct('fp', a.fp, 'n', a.n))),
           |      named_struct('fp', (a.fp * 1000003 + element_at(h, i)) % $M,
           |        'n', a.n + 1, 'acc', a.acc)),
           |    a -> array_append(a.acc, named_struct('fp', a.fp, 'n', a.n))))"""
          .stripMargin))
      .select(col("doc_id"), col("ts"),
        posexplode_outer(col("chunks")).as(Seq("ci", "c")))
      .select(col("doc_id"), col("ts"), col("c.fp").as("chunk_fp"),
        col("c.n").as("n_tok"))
      .join(idxFps.select(col("chunk_fp"), lit(1).as("known")),
        Seq("chunk_fp"), "left_outer")
      .select(col("doc_id"), col("ts"), col("n_tok"), col("known"))
      .as[ChunkRow]
    rows.groupByKey(_.doc_id)
      .flatMapGroupsWithState[Boolean, ChunkOverlap](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (id: Long, it: Iterator[ChunkRow], _: GroupState[Boolean]) =>
          val rs = it.toSeq
          val real = rs.filter(_.n_tok.isDefined)
          val nTokens = real.flatMap(_.n_tok).sum
          val knownToks = real.filter(_.known.isDefined).flatMap(_.n_tok).sum
          val ts = rs.map(_.ts).maxBy(_.getTime)
          Iterator.single(ChunkOverlap(id, real.size.toLong, nTokens,
            real.count(_.known.isDefined).toLong, knownToks,
            flagged = nTokens > 0 && knownToks * 2 >= nTokens, ts))
      }
  }

  /** Streaming eval-set decontamination gate — the ingest-time form of
    * q118: each ARRIVING document is checked for word-4-gram overlap
    * with the held-out eval set, so contaminated documents are flagged
    * the moment they enter the pipeline instead of in a batch sweep.
    * Grams are built scan-side with the SAME distinct-4-gram chain as
    * the batch path (CurationQueries.decontamHits — shared gram
    * identity via md5 keys); the eval-gram lookup is ONE STATELESS
    * stream-static left-outer join (the eval set is KBs against a TB
    * stream — it never moves, exactly the batch broadcast shape); the
    * per-doc fold holds ZERO state (NoTimeout, state never set): a
    * doc's gram rows all land in its arrival trigger, so the group is
    * complete evidence and the verdict emits immediately. NULL-text and
    * gram-less docs flow through unflagged with n_hits 0 (the
    * posexplode_outer null row misses the join — q118's LEFT JOIN
    * contract). n_hits counts the doc's DISTINCT grams found in the
    * eval set, matching the batch column exactly; stream ≡ q118 pinned
    * by DecontamStreamSpec.
    *
    * Scale: the arriving micro-batch is the only moving data; the join
    * key is a 16-byte digest per distinct gram, and state is zero.
    */
  def decontamGate(
      docs: DataFrame,
      evalGrams: DataFrame, // (gh) — DISTINCT md5 of the eval 4-grams
      watermark: String = "1 hour"): Dataset[Decontam] = {
    import docs.sparkSession.implicits._
    val rows = docs
      .withWatermark("ts", watermark)
      .select(col("doc_id"), col("ts"),
        posexplode_outer(array_distinct(
          wordNgramsNative(coalesce(col("text"), lit("")), 4)))
          .as(Seq("i", "gram")))
      .select(col("doc_id"), col("ts"), md5(col("gram")).as("gh"))
      .join(evalGrams.select(col("gh"), lit(1).as("hit")), Seq("gh"), "left_outer")
      .select(col("doc_id"), col("ts"), col("hit"))
      .as[DecontamRow]
    rows.groupByKey(_.doc_id)
      .flatMapGroupsWithState[Boolean, Decontam](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (id: Long, it: Iterator[DecontamRow], _: GroupState[Boolean]) =>
          val rs = it.toSeq
          val n = rs.count(_.hit.isDefined).toLong
          val ts = rs.map(_.ts).maxBy(_.getTime)
          Iterator.single(Decontam(id, n, contaminated = n > 0, ts))
      }
  }

  /** Streaming GOPHER RULE gate — q218's hard-rule battery applied at
    * ingest time: each arriving document gets its seven rule verdicts,
    * n_failed, and the kept decision the moment it enters the pipeline.
    * The rule chain is the SHARED `CurationQueries.gopherRuleFrame`
    * (one definition — the gate cannot drift from the batch query;
    * GopherRuleSpec pins agreement on rule-edge fixtures), and it is
    * entirely STATELESS scan-side row work: no watermark, no state
    * store, no shuffle — the cheapest possible admission gate, which
    * is exactly why production pipelines run the rule battery FIRST
    * and spend model-based scoring only on survivors. Text is dropped
    * on the way out (verdicts travel, content doesn't); the event
    * time and any other feed columns pass through. */
  def gopherGate(docs: DataFrame): DataFrame =
    graft.operators.CurationQueries.gopherRuleFrame(docs)

  /** Streaming CHUNK-COST gate — q254's sliding-window accounting at
    * ingest time: each arriving document gets its chunk count,
    * duplicated-slot cost and fragment-tail flag the moment it enters
    * the pipeline, so the embedding budget is priced BEFORE the chunks
    * are emitted. The per-doc arithmetic is the SHARED
    * `TextQueries.chunkCostFrame` closed form (one definition — the
    * gate cannot drift from the batch rollup; `ChunkGateStreamSpec`
    * pins per-doc agreement over the corpus), and like the Gopher gate
    * it is entirely STATELESS scan-side row work: no watermark, no
    * state store, no shuffle. Text is dropped on the way out. */
  def chunkGate(docs: DataFrame): DataFrame =
    graft.operators.TextQueries.chunkCostFrame(docs)

  final case class DriftDoc(doc_id: Long, ts: Timestamp, source: String,
      text: String)
  final case class DriftState(docs: Long, tokens: Long)
  final case class LengthDrift(source: String, docs_seen: Long,
      tokens_seen: Long, ref_docs: Long, ref_tokens: Long,
      drift_ppm: Option[Long], ts: Timestamp)

  /** Streaming SOURCE LENGTH-DRIFT gate — feed-change detection at
    * ingest: per source, running (docs, tokens) against the REFERENCE
    * corpus's exact tokens-per-doc ratio (q259's card numbers, passed
    * as a (source, ref_docs, ref_tokens) frame and closure-broadcast —
    * bounded by |sources|, the codebook pattern). Each trigger emits
    * the source's running drift in exact ppm of the reference ratio:
    * drift = tokens·ref_docs·10⁶ / (docs·ref_tokens), computed through
    * BigInt so the cross-multiplication cannot wrap at any scale; a
    * feed whose documents suddenly shorten (truncation bug) or lengthen
    * (markup leak) walks away from 1e6 within a trigger. State is two
    * longs per source, forever — counts only ratchet, so no watermark
    * eviction is needed and the emission is ORDER-INDEPENDENT across
    * any trigger split (`LengthDriftStreamSpec` pins the final row
    * against batch counts and the exact-1e6 self-reference case).
    * Unknown sources (not in the reference) emit drift NULL — visible,
    * not dropped. */
  def lengthDriftGate(
      docs: DataFrame,
      ref: DataFrame,
      watermark: String = "1 hour"): Dataset[LengthDrift] = {
    import docs.sparkSession.implicits._
    val refMap: Map[String, (Long, Long)] = ref
      .select(col("source"), col("ref_docs").cast("long"),
        col("ref_tokens").cast("long"))
      .collect().map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
    val rows = docs
      .withWatermark("ts", watermark)
      .select(col("doc_id"), col("ts"), col("source"), col("text"))
      .as[DriftDoc]
    rows.groupByKey(_.source)
      .flatMapGroupsWithState[DriftState, LengthDrift](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (source: String, rs: Iterator[DriftDoc], state: GroupState[DriftState]) =>
          var st = state.getOption.getOrElse(DriftState(0L, 0L))
          var maxTs: Timestamp = null
          rs.foreach { doc =>
            val nTok =
              if (doc.text == null) 0L
              else doc.text.split("\\s+").count(_.nonEmpty).toLong
            st = DriftState(st.docs + 1, st.tokens + nTok)
            if (maxTs == null || doc.ts.after(maxTs)) maxTs = doc.ts
          }
          state.update(st)
          val drift = refMap.get(source).flatMap { case (rd, rt) =>
            if (st.docs == 0 || rt == 0) None
            else Some((BigInt(st.tokens) * rd * 1000000 /
              (BigInt(st.docs) * rt)).toLong)
          }
          val (rd, rt) = refMap.getOrElse(source, (0L, 0L))
          Iterator.single(LengthDrift(source, st.docs, st.tokens, rd, rt,
            drift, maxTs))
      }
  }

  final case class HllDoc(doc_id: Long, ts: Timestamp, source: String,
      text: String)
  final case class HllState(regs: Seq[Long], n_docs: Long)
  final case class HllEstimate(source: String, n_docs_seen: Long,
      n_empty: Long, est_hll: Long, ts: Timestamp)

  /** Streaming PORTABLE-HLL cardinality gate — the ingest-time twin of
    * q224: per source, a 128-register HyperLogLog over the arriving
    * token stream, emitting the running distinct-token estimate every
    * trigger. This is the canonical BOUNDED-STATE streaming sketch:
    * state is exactly 128 longs + a doc counter per source, forever —
    * no watermark eviction needed because registers only ratchet up —
    * and because register max is idempotent and commutative, the
    * estimate is ORDER- and DUPLICATION-INDEPENDENT: any arrival order,
    * any trigger boundaries, any replay converges to the batch answer.
    * `HllStreamSpec` pins exactly that: the corpus fed in REVERSE
    * doc_id order across two triggers lands on q224's est_hll
    * bit-for-bit (q224's base hash — the portable codepoint fold — and
    * its streams 11/12 through [[graft.functions.PortableHll]]'s Scala
    * register fold, which the q224 oracle's SQL twin replays).
    *
    * Scale shape: tokenization + hashing ride the stateful operator's
    * input iterator (per-doc work, no extra shuffle beyond the one
    * source-keyed exchange); the emitted stream is one row per source
    * per trigger. */
  def hllGate(docs: DataFrame, watermark: String = "1 hour"): Dataset[HllEstimate] = {
    import docs.sparkSession.implicits._
    import graft.functions.PortableHashKernels.P
    val streams = PortableHll.Streams(11, 12)
    val rows = docs
      .withWatermark("ts", watermark)
      .select(col("doc_id"), col("ts"), col("source"), col("text"))
      .as[HllDoc]
    rows.groupByKey(_.source)
      .flatMapGroupsWithState[HllState, HllEstimate](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (source: String, rs: Iterator[HllDoc], state: GroupState[HllState]) =>
          val st = state.getOption.getOrElse(HllState(Seq.fill(PortableHll.M)(0L), 0L))
          val regs = st.regs.toArray
          var nDocs = st.n_docs
          var maxTs: Timestamp = null
          rs.foreach { doc =>
            nDocs += 1
            if (maxTs == null || doc.ts.after(maxTs)) maxTs = doc.ts
            if (doc.text != null) doc.text.split("\\s+").foreach { tok =>
              if (tok.nonEmpty) {
                // the portable codepoint fold — q224's base hash, verbatim
                var th = 0L
                var ci = 0
                while (ci < tok.length) {
                  val cp = tok.codePointAt(ci)
                  th = (th * 131L + cp) % P
                  ci += Character.charCount(cp)
                }
                PortableHll.update(regs, th, streams)
              }
            }
          }
          val (nEmpty, est) = PortableHll.estimate(regs)
          state.update(HllState(regs.toSeq, nDocs))
          Iterator.single(HllEstimate(source, nDocs, nEmpty, est, maxTs))
      }
  }

  final case class NovState(regs: Seq[Long], n_docs: Long, prev_est: Long)
  final case class NovEstimate(source: String, n_docs_seen: Long,
      est_before: Long, est_after: Long, novel_est: Long, ts: Timestamp)

  /** Streaming GRAM-NOVELTY gate — q291's scaling-value curve at
    * ingest: per source, per trigger, the estimated count of NEW
    * distinct 3-grams this micro-batch contributed (est_after −
    * est_before over a portable-HLL register set). A batch whose
    * novelty collapses is re-crawled/templated content — the signal
    * to stop paying for a source BEFORE the corpus grows by a day.
    *
    * Exact novelty would need the set of every gram ever seen
    * (unbounded state); the HLL form keeps 128 longs + two counters
    * per source FOREVER (the hllGate bound) and prices novelty within
    * the estimator's ±9.2%σ. Register updates are monotone max — so
    * the FINAL state is feed-order-invariant (any trigger split lands
    * identical registers, spec-pinned) and per-trigger novel_est
    * telescopes exactly to the final estimate. The sketch is
    * [[graft.functions.PortableHll]] on streams 11/12 over the gram
    * hashes of [[graft.functions.PortableHashKernels.gramHashArray]];
    * q291's exact cum_distinct gates its accuracy in
    * `GramNoveltyStreamSpec`.
    *
    * Scale shape: gram hashing rides the stateful operator's input
    * iterator; one source-keyed stateful shuffle; one row per source
    * per trigger out. */
  def gramNoveltyGate(docs: DataFrame,
      watermark: String = "1 hour"): Dataset[NovEstimate] = {
    import docs.sparkSession.implicits._
    val streams = PortableHll.Streams(11, 12)
    val rows = docs
      .withWatermark("ts", watermark)
      .select(col("doc_id"), col("ts"), col("source"), col("text"))
      .as[HllDoc]
    rows.groupByKey(_.source)
      .flatMapGroupsWithState[NovState, NovEstimate](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (source: String, rs: Iterator[HllDoc], state: GroupState[NovState]) =>
          val st = state.getOption.getOrElse(NovState(Seq.fill(PortableHll.M)(0L), 0L, 0L))
          val regs = st.regs.toArray
          var nDocs = st.n_docs
          var maxTs: Timestamp = null
          rs.foreach { doc =>
            nDocs += 1
            if (maxTs == null || doc.ts.after(maxTs)) maxTs = doc.ts
            if (doc.text != null) graft.functions.PortableHashKernels
              .gramHashArray(doc.text, 3).foreach(PortableHll.update(regs, _, streams))
          }
          val est = PortableHll.estimate(regs)._2
          val out = NovEstimate(source, nDocs, st.prev_est, est,
            est - st.prev_est, maxTs)
          state.update(NovState(regs.toSeq, nDocs, est))
          Iterator.single(out)
      }
  }

  final case class PackIn(doc_id: Long, ts: Timestamp, source: String,
      n_tok: Option[Long])
  final case class PackAssign(doc_id: Long, source: String,
      n_tokens: Option[Long], cum_before: Long, start_chunk: Long,
      end_chunk: Option[Long], n_chunks: Option[Long], ts: Timestamp)

  /** Streaming PACK ASSEMBLER — the ingest-time form of q77's
    * concat-and-chunk sequence packing, and (unlike the stateless
    * gates) a genuinely STATEFUL intake operator: chunk assignment
    * depends on every token that streamed in before you. State per
    * source is ONE long — the cumulative token count — so the store is
    * O(|sources|) forever, no eviction needed (packing is a monotone
    * fold, not a window). Each arriving doc is assigned its
    * start/end/n_chunks exactly as q77 computes them (integer division
    * against [[graft.operators.TextQueries]]'s 512-token chunk size by
    * default), and the state advances by the doc's token count.
    *
    * Ordering contract (the determinism seam every packing system has):
    * q77 packs in (source, doc_id) order. Within a trigger the group's
    * rows are sorted by doc_id before folding; ACROSS triggers the
    * caller must deliver each source's docs in nondecreasing doc_id
    * order (the natural shape for an append-only intake feed) — then
    * the stream replays q77's assignment bit-for-bit, which
    * `PackAssemblerStreamSpec` pins across a multi-trigger feed. NULL-
    * text docs mirror the batch column semantics exactly: n_tokens /
    * end_chunk / n_chunks NULL, cum_before and start_chunk real, and
    * the cumulative count does not advance (SUM skips NULLs).
    *
    * Scale shape: one shuffle keyed on source (the same key the batch
    * window uses); the exchange carries (doc_id, ts, source, one long).
    * Token counting rides the scan stage. */
  def packAssembler(
      docs: DataFrame,
      chunkTokens: Long = 512L,
      watermark: String = "1 hour"): Dataset[PackAssign] = {
    import docs.sparkSession.implicits._
    val rows = docs
      .withWatermark("ts", watermark)
      .select(col("doc_id"), col("ts"), col("source"),
        graft.functions.TextFunctions.tokenCount(col("text")).cast("long")
          .as("n_tok"))
      .as[PackIn]
    rows.groupByKey(_.source)
      .flatMapGroupsWithState[Long, PackAssign](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (source: String, rs: Iterator[PackIn], state: GroupState[Long]) =>
          var cum = state.getOption.getOrElse(0L)
          val out = rs.toSeq.sortBy(_.doc_id).map { r =>
            val before = cum
            cum += r.n_tok.getOrElse(0L)
            val start = before / chunkTokens
            val end = r.n_tok.flatMap(n =>
              if (n == 0) None else Some((before + n - 1) / chunkTokens))
            val nChunks = r.n_tok.map(n =>
              if (n == 0) 0L else (before + n - 1) / chunkTokens - start + 1)
            PackAssign(r.doc_id, source, r.n_tok, before, start, end,
              nChunks, r.ts)
          }
          state.update(cum)
          out.iterator
      }
  }

  final case class MwDoc(doc_id: Long, ts: Timestamp, source: String,
      lang: String, n_chars: Long)
  final case class MwBucket(v: Long, na: Long, nb: Long)
  final case class MwState(buckets: Seq[MwBucket])
  final case class MwVerdict(source: String, n_a: Long, n_b: Long,
      u_a_ppm: Long, z_micro: Option[Long], ts: Timestamp)

  /** Streaming MANN–WHITNEY drift gate — the ingest-time twin of q358:
    * per source, is the arriving English slice's length DISTRIBUTION
    * still the non-English slice's, or has intake drift begun cutting
    * the two languages at different rates? State per source is the
    * (length → en-count, other-count) value-count map — the SAME
    * rollup the batch query reduces to, so state is length-DOMAIN-
    * bounded (never per-doc) and pure counts, hence order- and
    * trigger-boundary-independent: any arrival order converges to the
    * batch answer (`MannWhitneyStreamSpec` pins reverse-order
    * two-trigger ≡ q358 bit-for-bit). Each trigger re-derives the
    * closed-form rank-sum from the sorted map (avg tie rank =
    * preceding count + (t+1)/2, doubled — q358's exact integral form,
    * BigInt internally) and emits the bounded verdicts: U_A's share of
    * its 2·n_a·n_b range in exact ppm, and the z-score micro-rounded
    * through the IDENTICAL double expression tree as the batch arm
    * (None when a group is empty or the variance degenerates). No
    * watermark eviction: counts only ratchet up, exactly like
    * [[hllGate]]'s registers. */
  def mannWhitneyGate(
      docs: DataFrame,
      watermark: String = "1 hour"): Dataset[MwVerdict] = {
    import docs.sparkSession.implicits._
    val rows = docs
      .withWatermark("ts", watermark)
      .select(col("doc_id"), col("ts"), col("source"), col("lang"),
        col("n_chars").cast("long").as("n_chars"))
      .as[MwDoc]
    rows.groupByKey(_.source)
      .flatMapGroupsWithState[MwState, MwVerdict](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (source: String, rs: Iterator[MwDoc], state: GroupState[MwState]) =>
          val m = scala.collection.mutable.Map.empty[Long, (Long, Long)]
          state.getOption.foreach(_.buckets.foreach(b =>
            m(b.v) = (b.na, b.nb)))
          var maxTs: Timestamp = null
          rs.foreach { doc =>
            // group membership mirrors q358: en vs non-en, NULL lang in
            // neither (the batch arm's count(when(lang <> 'en')) skips
            // null); the shipped corpora have no NULL langs
            if (doc.lang != null) {
              val (na, nb) = m.getOrElse(doc.n_chars, (0L, 0L))
              if (doc.lang == "en") m(doc.n_chars) = (na + 1, nb)
              else m(doc.n_chars) = (na, nb + 1)
            }
            if (maxTs == null || doc.ts.after(maxTs)) maxTs = doc.ts
          }
          state.update(MwState(m.toSeq.sortBy(_._1)
            .map { case (v, (na, nb)) => MwBucket(v, na, nb) }))
          // closed-form rank-sum over the sorted value-count map —
          // q358's exact arithmetic, BigInt so O(n^2)/O(n^3) terms
          // never wrap
          var nA = 0L; var nB = 0L
          var before = BigInt(0); var twoRa = BigInt(0); var tie = BigInt(0)
          m.toSeq.sortBy(_._1).foreach { case (_, (na, nb)) =>
            val t = BigInt(na + nb)
            twoRa += BigInt(na) * (2 * before + t + 1)
            tie += t * t * t - t
            before += t
            nA += na; nB += nb
          }
          val twoUa = twoRa - BigInt(nA) * (nA + 1)
          val uppm =
            if (nA == 0 || nB == 0) 0L
            else (twoUa * 1000000 / (BigInt(2) * nA * nB)).toLong
          val z: Option[Long] = {
            val dn = (nA + nB).toDouble
            val core = (dn + 1) * dn * (dn - 1) - tie.toDouble
            if (nA == 0 || nB == 0 || core <= 0) None
            else {
              val zd = (twoUa.toDouble - nA.toDouble * nB.toDouble) /
                math.sqrt(nA.toDouble * nB.toDouble * core
                  / (3.0 * dn * (dn - 1))) * 1000000
              // HALF_UP like Spark SQL round(double), not math.round's
              // floor(x+0.5) — they differ on negative halves
              Some(java.math.BigDecimal.valueOf(zd)
                .setScale(0, java.math.RoundingMode.HALF_UP).longValueExact)
            }
          }
          Iterator.single(MwVerdict(source, nA, nB, uppm, z, maxTs))
      }
  }
}
