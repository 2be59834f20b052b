package graft.operators

import graft.{QueryDef, Tables}
import graft.functions.TextFunctions._
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Model-prep suite: the operators that sit between a curated corpus and
  * a training/serving system — statistical quality scoring (unigram LM,
  * lexical diversity), retrieval (BM25), join prefiltering (portable
  * Bloom filter — hand-rolled runtime filtering), sequence modeling
  * (Markov transitions), RAG chunking, near-dup cluster canonicalization,
  * and time-series gap-fill.
  *
  * Floating-point policy: wherever a result SUMS doubles across rows
  * (LM log-probs, BM25 term scores, entropy terms), the per-item double
  * is rounded to integer MICRO-units first and the sum runs on exact
  * BIGINTs — so the result is independent of partitioning / addition
  * order and bit-identical across engines. Single divisions/logs are
  * computed with identical association in both engines and rounded.
  */
object ModelPrepQueries {

  // --- q123: corpus unigram-LM scoring (CCNet-style quality filter) ----
  // Two-pass: global token counts build the LM (add-1 smoothing over the
  // observed vocabulary), then each document is scored by its average
  // negative log2-likelihood (bits/token). High-perplexity docs are cut.
  // Scale shape: the (doc,tok) and (tok) aggregations combine map-side;
  // the LM join is keyed on token (vocabulary-sized right side — AQE
  // broadcasts it when small, shuffles when it is not; never the corpus
  // text). Per-token micro-bits are exact ints, so doc sums are exact.
  /** The unigram-LM CTE chain up to `doc(doc_id, micro_sum, n_toks)` —
    * the per-doc exact micro-bit scores shared by q123 (the filter) and
    * q172 (the CCNet buckets), which must agree on what the LM says. */
  private[graft] val lmCtes: String =
    """WITH toks AS (SELECT doc_id, unnest(list_filter(
      |                regexp_split_to_array(text, '\s+'), x -> x <> '')) AS tok
      |              FROM documents),
      |tf AS (SELECT doc_id, tok, count(*) AS c FROM toks GROUP BY 1, 2),
      |g AS (SELECT tok, count(*) AS cg FROM toks GROUP BY 1),
      |st AS (SELECT CAST(SUM(cg) AS BIGINT) AS n_total,
      |              CAST(count(*) AS BIGINT) AS vocab FROM g),
      |bits AS (SELECT tok, CAST(round(log2(
      |           CAST(n_total + vocab AS DOUBLE) / (cg + 1)) * 1000000) AS BIGINT)
      |           AS micro_bits
      |         FROM g, st),
      |doc AS (SELECT tf.doc_id, CAST(SUM(tf.c * b.micro_bits) AS BIGINT) AS micro_sum,
      |               CAST(SUM(tf.c) AS BIGINT) AS n_toks
      |        FROM tf JOIN bits b USING (tok) GROUP BY 1)""".stripMargin

  val q123 = QueryDef.oracle("q123_unigram_lm_score",
    s"""$lmCtes
      |SELECT d.doc_id, coalesce(doc.n_toks, CAST(0 AS BIGINT)) AS n_toks,
      |       round(doc.micro_sum / 1000000.0 / doc.n_toks, 4) AS bits_per_tok,
      |       round(doc.micro_sum / 1000000.0 / doc.n_toks, 4) <= 4.91 AS kept
      |FROM documents d LEFT JOIN doc USING (doc_id)""".stripMargin)(
    (s, d) => {
      val doc = lmDocScores(s, d)
      val bpt = round(col("micro_sum") / lit(1000000.0) / col("n_toks"), 4)
      Tables.documents(s, d).select("doc_id").join(doc, Seq("doc_id"), "left")
        .select(col("doc_id"), coalesce(col("n_toks"), lit(0L)).as("n_toks"),
          bpt.as("bits_per_tok"), (bpt <= 4.91).as("kept"))
    })

  /** Spark twin of [[lmCtes]]'s `doc`: (doc_id, micro_sum, n_toks). */
  private def lmDocScores(s: SparkSession, d: String): DataFrame = {
    val toks = Tables.documents(s, d)
      .select(col("doc_id"), explode(tokens(col("text"))).as("tok"))
    val tf = toks.groupBy("doc_id", "tok").agg(count(lit(1)).as("c"))
    val g = toks.groupBy("tok").agg(count(lit(1)).as("cg"))
    val st = g.agg(sum("cg").as("n_total"), count(lit(1)).as("vocab"))
    val bits = g.crossJoin(broadcast(st)).select(col("tok"),
      round(log2((col("n_total") + col("vocab")).cast("double") / (col("cg") + lit(1)))
        * lit(1000000)).cast("long").as("micro_bits"))
    tf.join(bits, Seq("tok"))
      .groupBy("doc_id")
      .agg(sum(col("c") * col("micro_bits")).as("micro_sum"), sum("c").as("n_toks"))
  }

  // --- q124: BM25 retrieval (k1=1.2, b=0.75) ---------------------------
  // Classic sparse retrieval over the corpus for a fixed query term set.
  // df and the corpus stats are tiny (|terms| and 1 row) and broadcast;
  // per-(doc,term) scores integerize before the per-doc sum, and the
  // global top-20 is taken with an integer ORDER BY (score_micro DESC,
  // doc_id) — orderBy+limit compiles to TakeOrderedAndProject, so no
  // global sort materializes at scale; the rank window runs on 20 rows.
  /** The ONE SQL chain producing per-doc BM25 micro-scores for the
    * fixed keyword query {vector, stream, window} — embedded verbatim
    * by q124 and the hybrid fusion (q270) so the scoring function
    * cannot fork. Ends in CTE `agg` (doc_id, score_micro). */
  private[graft] val bm25Ctes: String =
    """toks AS (SELECT doc_id, unnest(list_filter(
      |                regexp_split_to_array(text, '\s+'), x -> x <> '')) AS tok
      |              FROM documents),
      |dl AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS dl FROM toks GROUP BY 1),
      |st AS (SELECT CAST(count(*) AS BIGINT) AS n_docs,
      |              CAST(SUM(dl) AS BIGINT) AS sum_dl FROM dl),
      |qt AS (SELECT doc_id, tok, CAST(count(*) AS BIGINT) AS tf FROM toks
      |       WHERE tok IN ('vector', 'stream', 'window') GROUP BY 1, 2),
      |df AS (SELECT tok, CAST(count(*) AS BIGINT) AS df FROM qt GROUP BY 1),
      |sc AS (SELECT qt.doc_id,
      |         CAST(round(ln(1.0 + (n_docs - df + 0.5) / (df + 0.5))
      |           * (tf * 2.2)
      |           / (tf + 1.2 * (0.25 + 0.75 * dl.dl * n_docs / CAST(sum_dl AS DOUBLE)))
      |           * 1000000) AS BIGINT) AS micro
      |       FROM qt JOIN df USING (tok) JOIN dl USING (doc_id), st),
      |agg AS (SELECT doc_id, CAST(SUM(micro) AS BIGINT) AS score_micro
      |        FROM sc GROUP BY 1)""".stripMargin

  /** Spark twin of [[bm25Ctes]] — the shared per-doc BM25 score frame
    * (doc_id, score_micro) q124 ranks and q270 fuses. */
  private[graft] def bm25ScoreFrame(s: SparkSession, d: String): DataFrame = {
    import graft.functions.TextFunctions.tokens
    val toks = Tables.documents(s, d)
      .select(col("doc_id"), explode(tokens(col("text"))).as("tok"))
    val dl = toks.groupBy("doc_id").agg(count(lit(1)).as("dl"))
    val st = dl.agg(count(lit(1)).as("n_docs"), sum("dl").as("sum_dl"))
    val qt = toks.filter(col("tok").isin("vector", "stream", "window"))
      .groupBy("doc_id", "tok").agg(count(lit(1)).as("tf"))
    val df = qt.groupBy("tok").agg(count(lit(1)).as("df"))
    val sc = qt.join(broadcast(df), Seq("tok")).join(dl, Seq("doc_id"))
      .crossJoin(broadcast(st))
      .select(col("doc_id"),
        round(log(lit(1.0) + (col("n_docs") - col("df") + lit(0.5)) / (col("df") + lit(0.5)))
          * (col("tf") * lit(2.2))
          / (col("tf") + lit(1.2) * (lit(0.25)
            + lit(0.75) * col("dl") * col("n_docs") / col("sum_dl").cast("double")))
          * lit(1000000)).cast("long").as("micro"))
    sc.groupBy("doc_id").agg(sum("micro").as("score_micro"))
  }

  val q124 = QueryDef.oracle("q124_bm25_retrieval",
    s"""WITH $bm25Ctes
      |SELECT doc_id, score_micro, round(score_micro / 1000000.0, 4) AS score, rnk
      |FROM (SELECT *, CAST(ROW_NUMBER() OVER (ORDER BY score_micro DESC, doc_id)
      |                     AS BIGINT) AS rnk FROM agg)
      |WHERE rnk <= 20""".stripMargin)(
    (s, d) => {
      val agg = bm25ScoreFrame(s, d)
      val top = agg.orderBy(col("score_micro").desc, col("doc_id")).limit(20)
      val w = Window.orderBy(col("score_micro").desc, col("doc_id"))
      top.withColumn("rnk", row_number().over(w).cast("long"))
        .select(col("doc_id"), col("score_micro"),
          round(col("score_micro") / lit(1000000.0), 4).as("score"), col("rnk"))
    })

  // --- q125: portable Bloom-filter join prefilter ----------------------
  // Runtime filtering by hand: the selective dimension (BUILDING-segment
  // customers) folds into a BloomM-bit Bloom filter (4096 bits = 66 longs
  // at 63 bits each — bit 63 stays clear so the shift never overflows
  // DuckDB's checked BIGINT shift, k=3
  // universal hashes) via bit_or aggregation; the dense word array
  // broadcasts as ONE row and every fact row tests its 3 bits IN THE SCAN
  // STAGE — no explode, no shuffle of the fact table. Only Bloom
  // survivors (true matches + false positives) reach the exact semi-join.
  // The oracle recomputes the same bits, so the false-positive count
  // itself is verified, not just the exact result. At 100 TB this is
  // what Spark's InjectRuntimeFilter does for you when stats allow —
  // built here explicitly so the plan does not depend on stats.
  // m is pinned SMALL deliberately so the false-positive path is real and
  // verified (28 FPs at sf0.01) rather than vacuously zero; production
  // sizing is m ≈ 1.44·k·|keys| / ln2 bits, chosen from the dim count at
  // build time (the bit tests are m-independent code).
  private val BloomM = 4096L
  private val BloomHashes: Seq[(Long, Long)] =
    Seq((998244353L, 12345L), (805306457L, 67890L), (469762049L, 13579L))
  private val BloomP = 1000000007L

  private def bloomPosSql(key: String): Seq[String] =
    BloomHashes.map { case (a, b) => s"(($a * $key + $b) % $BloomP) % $BloomM" }
  private def bloomPos(key: Column): Seq[Column] =
    BloomHashes.map { case (a, b) => ((lit(a) * key + lit(b)) % lit(BloomP)) % lit(BloomM) }

  val q125 = QueryDef.oracle("q125_bloom_prefilter_join", {
    val kp = bloomPosSql("c_custkey").mkString(",\n          ")
    val op = bloomPosSql("o_custkey").mkString(",\n          ")
    s"""WITH keys AS (SELECT c_custkey FROM customer WHERE c_mktsegment = 'BUILDING'),
       |kpos AS (SELECT c_custkey, unnest([
       |          $kp]) AS pos FROM keys),
       |bloom AS (SELECT pos // 63 AS word_idx,
       |                 bit_or(CAST(1 AS BIGINT) << CAST(pos % 63 AS INTEGER)) AS w
       |          FROM kpos GROUP BY 1),
       |opos AS (SELECT o_orderkey, o_custkey, unnest([
       |          $op]) AS pos FROM orders),
       |probe AS (SELECT o.o_orderkey, o.o_custkey,
       |            CASE WHEN ((b.w >> CAST(o.pos % 63 AS INTEGER)) & 1) = 1
       |                 THEN 1 ELSE 0 END AS hit
       |          FROM opos o JOIN bloom b ON b.word_idx = o.pos // 63),
       |cand AS (SELECT o_orderkey, o_custkey FROM probe
       |         GROUP BY 1, 2 HAVING SUM(hit) = 3),
       |mtch AS (SELECT cand.o_orderkey FROM cand
       |         JOIN keys ON cand.o_custkey = keys.c_custkey)
       |SELECT (SELECT CAST(count(*) AS BIGINT) FROM orders) AS n_orders,
       |       (SELECT CAST(count(*) AS BIGINT) FROM cand) AS n_candidates,
       |       (SELECT CAST(count(*) AS BIGINT) FROM mtch) AS n_matches,
       |       (SELECT CAST(count(*) AS BIGINT) FROM cand)
       |         - (SELECT CAST(count(*) AS BIGINT) FROM mtch) AS n_false_pos""".stripMargin
  })(
    (s, d) => {
      val keys = Tables.customer(s, d)
        .filter(col("c_mktsegment") === "BUILDING").select("c_custkey")
      // dimension side: 3 positions per key, bit_or into the 66-word
      // array, then a
      // dense 66-long array in ONE row (missing words -> 0)
      val kpos = keys.select(explode(array(bloomPos(col("c_custkey")): _*)).as("pos"))
      val words = kpos
        .select(expr("pos DIV 63").as("word_idx"),
          expr("shiftleft(CAST(1 AS BIGINT), CAST(pos % 63 AS INT))").as("bits"))
        .groupBy("word_idx").agg(expr("bit_or(bits)").as("w"))
      val bloomRow = words
        .agg(map_from_entries(collect_list(struct(col("word_idx"), col("w")))).as("m"))
        .select(transform(sequence(lit(0L), lit((BloomM + 62) / 63 - 1)),
          i => coalesce(element_at(col("m"), i), lit(0L))).as("warr"))
      // fact side: the 3 bit tests run scan-local against the broadcast row
      val ps = bloomPos(col("o_custkey"))
      val withP = Tables.orders(s, d).select("o_orderkey", "o_custkey")
        .crossJoin(broadcast(bloomRow))
        .withColumn("p0", ps(0)).withColumn("p1", ps(1)).withColumn("p2", ps(2))
      val hit = (p: String) =>
        expr(s"(shiftright(element_at(warr, CAST($p DIV 63 AS INT) + 1), CAST($p % 63 AS INT)) & 1) = 1")
      val cand = withP.filter(hit("p0") && hit("p1") && hit("p2"))
        .select("o_orderkey", "o_custkey")
      // ONE pass over the candidates: the exact check is a broadcast left
      // join + flag, so candidates/matches/false-positives all come from
      // a single evaluation of the bloom pipeline (orders scans: 2 total)
      val counted = cand
        .join(broadcast(keys.withColumn("k_hit", lit(1))),
          cand("o_custkey") === keys("c_custkey"), "left")
        .agg(count(lit(1)).as("n_candidates"), count(col("k_hit")).as("n_matches"))
      Tables.orders(s, d).agg(count(lit(1)).as("n_orders"))
        .crossJoin(counted)
        .withColumn("n_false_pos", col("n_candidates") - col("n_matches"))
    })

  // --- q126: calendar gap-fill + forward-fill --------------------------
  // Daily revenue per order priority with missing days materialized from
  // a generated calendar and carried forward via the gaps-and-islands
  // carry trick (count-non-null running window defines the carry group,
  // max within group fills) — portable to engines without IGNORE NULLS.
  // Output is calendar-bounded, not data-bounded: at 100 TB the daily
  // aggregate is the only data-sized shuffle; the calendar explode and
  // both windows run on |priorities| × |days| rows.
  val q126 = QueryDef.oracle("q126_gapfill_forward",
    """WITH daily AS (SELECT o_orderpriority AS prio, CAST(o_orderdate AS DATE) AS d,
      |        CAST(count(*) AS BIGINT) AS n,
      |        CAST(SUM(CAST(FLOOR(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS cents
      |      FROM orders GROUP BY 1, 2),
      |span AS (SELECT prio, min(d) AS d0, max(d) AS d1 FROM daily GROUP BY 1),
      |cal AS (SELECT prio, CAST(unnest(generate_series(d0, d1, INTERVAL 1 DAY)) AS DATE) AS d
      |        FROM span),
      |j AS (SELECT cal.prio, cal.d, daily.n, daily.cents
      |      FROM cal LEFT JOIN daily USING (prio, d)),
      |g AS (SELECT prio, d, n, cents,
      |        count(cents) OVER (PARTITION BY prio ORDER BY d
      |          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS grp
      |      FROM j)
      |SELECT prio, d, coalesce(n, CAST(0 AS BIGINT)) AS n,
      |       max(cents) OVER (PARTITION BY prio, grp) AS cents_filled,
      |       (cents IS NULL) AS is_gap
      |FROM g""".stripMargin)(
    (s, d) => {
      val daily = Tables.orders(s, d)
        .select(col("o_orderpriority").as("prio"), to_date(col("o_orderdate")).as("d"),
          col("o_totalprice"))
        .groupBy("prio", "d")
        .agg(count(lit(1)).as("n"),
          sum(floor(col("o_totalprice") * 100).cast("long")).as("cents"))
      val span = daily.groupBy("prio").agg(min("d").as("d0"), max("d").as("d1"))
      val cal = span.select(col("prio"),
        explode(sequence(col("d0"), col("d1"), expr("interval 1 day"))).as("d"))
      val j = cal.join(daily, Seq("prio", "d"), "left")
      val wRun = Window.partitionBy("prio").orderBy("d")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val withG = j.withColumn("grp", count(col("cents")).over(wRun))
      val wGrp = Window.partitionBy("prio", "grp")
      withG.select(col("prio"), col("d"), coalesce(col("n"), lit(0L)).as("n"),
        max(col("cents")).over(wGrp).as("cents_filled"),
        col("cents").isNull.as("is_gap"))
    })

  // --- q127: Markov transition estimation over event streams -----------
  // First-order transition matrix of the per-user event-type sequence —
  // the estimation step of a sequence model. One keyed window shuffle on
  // user_id builds successor pairs; the (src,dst) aggregate is
  // state-space-sized. prob is one exact-integer division, rounded.
  val q127 = QueryDef.oracle("q127_markov_transitions",
    """WITH seqd AS (SELECT user_id, event_type AS src,
      |        lead(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS dst
      |      FROM events),
      |c AS (SELECT src, dst, CAST(count(*) AS BIGINT) AS n
      |      FROM seqd WHERE dst IS NOT NULL GROUP BY 1, 2)
      |SELECT src, dst, n,
      |       round(n / CAST(SUM(n) OVER (PARTITION BY src) AS DOUBLE), 6) AS prob
      |FROM c""".stripMargin)(
    (s, d) => {
      val w = Window.partitionBy("user_id").orderBy("ts", "event_id")
      val seqd = Tables.events(s, d)
        .select(col("user_id"), col("event_type").as("src"),
          lead(col("event_type"), 1).over(w).as("dst"))
      val c = seqd.filter(col("dst").isNotNull)
        .groupBy("src", "dst").agg(count(lit(1)).as("n"))
      val wSrc = Window.partitionBy("src")
      c.select(col("src"), col("dst"), col("n"),
        round(col("n") / sum("n").over(wSrc).cast("double"), 6).as("prob"))
    })

  // --- q128: RAG-style overlapping chunking ----------------------------
  // Fixed-size token chunks (32 tokens, stride 24) with deterministic
  // ids and offsets — context-window packing for retrieval indexing.
  // Pure scan-stage row expansion (sequence + posexplode): no shuffle at
  // any scale; chunk text is rebuilt from the SAME token array both
  // engines split identically.
  val q128 = QueryDef.oracle("q128_doc_chunks",
    """WITH toks AS (SELECT doc_id, list_filter(
      |                regexp_split_to_array(text, '\s+'), x -> x <> '') AS l
      |              FROM documents)
      |SELECT doc_id, CAST((start_tok - 1) // 24 AS BIGINT) AS chunk_idx,
      |       CAST(start_tok AS BIGINT) AS start_tok,
      |       CAST(len(l[start_tok:start_tok + 31]) AS BIGINT) AS n_chunk_toks,
      |       list_aggregate(l[start_tok:start_tok + 31], 'string_agg', ' ') AS chunk_text
      |FROM (SELECT doc_id, l, unnest(range(1, len(l) + 1, 24)) AS start_tok
      |      FROM toks WHERE len(l) > 0)""".stripMargin)(
    (s, d) => {
      Tables.documents(s, d)
        .select(col("doc_id"), tokens(col("text")).as("l"))
        .filter(size(col("l")) > 0)
        .select(col("doc_id"), col("l"),
          posexplode(sequence(lit(1), size(col("l")), lit(24)))
            .as(Seq("chunk_idx", "start_tok")))
        .select(col("doc_id"), col("chunk_idx").cast("long").as("chunk_idx"),
          col("start_tok").cast("long").as("start_tok"),
          size(slice(col("l"), col("start_tok"), lit(32))).cast("long").as("n_chunk_toks"),
          concat_ws(" ", slice(col("l"), col("start_tok"), lit(32))).as("chunk_text"))
    })

  // --- q129: near-dup cluster canonicalization -------------------------
  // Completes the dedup story: portable MinHash-LSH candidate pairs
  // (exactly q99's — shared code on both sides) become clusters via SIX
  // synchronous rounds of min-label propagation, then every document maps
  // to its cluster's canonical (minimum) doc_id. Fixed rounds keep the
  // oracle expressible (six unrolled self-joins in SQL) and the result
  // partition-independent; the spec asserts a 7th round is a fixpoint at
  // test scale, and q56 is the convergence-checked production loop for
  // adversarial diameters. Edges are skinny (id,id) rows; the rounds run
  // on `Components.minLabelRounds`, one keyed join + agg each, stacked
  // into one linear plan.
  private[graft] val CanonRounds = 6

  /** The CTE chain ending in `l{CanonRounds}(v, lbl)` — the unrolled
    * synchronous min-label rounds over the portable pair graph. Shared by
    * q129 (cluster output) and q150 (leakage-safe split), which must
    * agree on the clustering by construction. Every round is
    * MATERIALIZED: `l<t>` reads `l<t-1>` twice, and an inlined chain
    * re-expands every earlier round inside each later one (DuckDB ran
    * out of memory under a 4 GB cap at sf0.001). */
  private[graft] def canonLabelCtes: String = {
    val rounds = (1 to CanonRounds).map { t =>
      val p = s"l${t - 1}"
      s"""l$t AS MATERIALIZED (SELECT $p.v, least($p.lbl, coalesce(min(n.lbl), $p.lbl)) AS lbl
         |  FROM $p LEFT JOIN edges e ON e.v = $p.v LEFT JOIN $p n ON n.v = e.u
         |  GROUP BY $p.v, $p.lbl)""".stripMargin
    }.mkString(",\n")
    s"""${DedupQueries.portablePairsCtes},
       |edges AS (SELECT ia AS v, ib AS u FROM pairs
       |          UNION ALL SELECT ib AS v, ia AS u FROM pairs),
       |l0 AS (SELECT doc_id AS v, doc_id AS lbl FROM documents),
       |$rounds""".stripMargin
  }

  private def canonOracleSql: String =
    s"""$canonLabelCtes,
       |cs AS (SELECT lbl AS cluster_id, CAST(count(*) AS BIGINT) AS cluster_size
       |       FROM l$CanonRounds GROUP BY 1)
       |SELECT v AS doc_id, lbl AS cluster_id, (v = lbl) AS is_canonical, cluster_size
       |FROM l$CanonRounds JOIN cs ON l$CanonRounds.lbl = cs.cluster_id""".stripMargin

  /** Labels after `rounds` synchronous rounds over the portable-LSH pair
    * graph. */
  def canonLabels(s: SparkSession, d: String, rounds: Int): DataFrame =
    Components.minLabelRounds(Tables.documents(s, d).select(col("doc_id").as("id")),
      DedupQueries.portablePairs(s, d).select(col("ia").as("src"), col("ib").as("dst")),
      rounds).select(col("id").as("v"), col("component").as("lbl"))

  /** The canonical labels as a stored artifact (r15 optimization round,
    * the dedup_clusters/suffranks pattern): SIX queries ran the full
    * 6-round min-label chain per invocation — q129 (the declared
    * clustering output) plus five downstream consumers that only need
    * the (v, lbl) table. The chain is a pure corpus function, so the
    * downstream five now read the build-once bucketed table (bucketed
    * on v — their joins are doc-keyed) while q129 deliberately stays on
    * the LIVE chain as the declared computation this artifact is
    * verified against (the q56/q213-vs-dedup_clusters rule). At 100 TB
    * the label table is corpus-sized and ingest-owned; re-deriving it
    * per consumer query was 6 edge-keyed join+agg rounds of pure waste
    * per run (guide §2.4: remove shuffles outright). */
  private[graft] def storedCanonLabels(s: SparkSession, d: String): DataFrame =
    graft.sources.ArtifactStore.bucketed(s, d, "canonlabels", Seq("v"), 8) {
      canonLabels(s, d, CanonRounds)
    }

  val q129 = QueryDef.oracle("q129_cluster_canonical", canonOracleSql)(
    (s, d) => {
      val lab = canonLabels(s, d, CanonRounds)
      val cs = lab.groupBy(col("lbl").as("cluster_id"))
        .agg(count(lit(1)).as("cluster_size"))
      lab.join(cs, lab("lbl") === cs("cluster_id"))
        .select(col("v").as("doc_id"), col("cluster_id"),
          (col("v") === col("lbl")).as("is_canonical"), col("cluster_size"))
    })

  // --- q150: leakage-safe train/val/test split --------------------------
  // Split assignment that can never leak near-duplicates across the
  // train/test boundary: the split is a pure function of the document's
  // near-dup CLUSTER id (q129's canonical labels — shared code and CTEs
  // on both sides), not of the document itself, so every member of a
  // cluster lands in the same split by construction. The md5-nibble
  // bucketing is the q45 convention (engine-portable, partition- and
  // run-stable): nibble 'e' → val, 'f' → test, else train (14/1/1).
  // `naive_split` is what per-document hashing WOULD have assigned;
  // `rescued = split <> naive_split` marks exactly the docs a naive
  // splitter would have let straddle a cluster boundary — the leak count
  // is an output, not a hope. Scale: one broadcast-ish join of the
  // (id, label) table against the corpus; the split math is scan-stage.
  val q150 = QueryDef.oracle("q150_leakage_safe_split", {
    def splitCase(nib: String): String =
      s"CASE WHEN $nib = 'e' THEN 'val' WHEN $nib = 'f' THEN 'test' ELSE 'train' END"
    s"""$canonLabelCtes,
       |sp AS (
       |  SELECT d.doc_id, l.lbl AS cluster_id,
       |         substr(md5(CAST(l.lbl AS VARCHAR)), 32, 1) AS ch,
       |         substr(md5(d.text), 32, 1) AS cn
       |  FROM documents d JOIN l$CanonRounds l ON l.v = d.doc_id)
       |SELECT doc_id, cluster_id,
       |       ${splitCase("ch")} AS split,
       |       ${splitCase("cn")} AS naive_split,
       |       ${splitCase("ch")} <> ${splitCase("cn")} AS rescued
       |FROM sp""".stripMargin})(
    (s, d) => {
      def splitOf(nib: Column): Column =
        when(nib === "e", "val").when(nib === "f", "test").otherwise("train")
      val lab = storedCanonLabels(s, d)
      Tables.documents(s, d)
        .select(col("doc_id"), md5(col("text")).as("hdoc"))
        .join(lab, col("doc_id") === col("v"))
        .select(col("doc_id"), col("lbl").as("cluster_id"),
          splitOf(substring(md5(col("lbl").cast("string")), 32, 1)).as("split"),
          splitOf(substring(col("hdoc"), 32, 1)).as("naive_split"))
        .withColumn("rescued", col("split") =!= col("naive_split"))
    })

  // --- q130: lexical diversity (type-token ratio + token entropy) ------
  // Per-document Shannon entropy of the token distribution and TTR — the
  // other half of the Gopher-style quality gate (q117 catches repetition;
  // this catches low-diversity templating). Entirely scan-local HOF
  // arithmetic over the per-row token array: zero shuffles at any scale.
  // Entropy terms integerize (micro-bits) before the per-row sum.
  val q130 = QueryDef.oracle("q130_lexical_diversity",
    """WITH t AS (SELECT doc_id, list_filter(
      |             regexp_split_to_array(text, '\s+'), x -> x <> '') AS l
      |           FROM documents),
      |c AS (SELECT doc_id, CAST(len(l) AS BIGINT) AS n_toks,
      |        CAST(len(list_distinct(l)) AS BIGINT) AS n_types,
      |        CASE WHEN len(l) = 0 THEN NULL
      |             ELSE CAST(list_aggregate(list_transform(
      |                    [len(list_filter(l, x -> x = t)) FOR t IN list_distinct(l)],
      |                    k -> CAST(round(k * log2(k) * 1000000) AS BIGINT)),
      |                  'sum') AS BIGINT) END AS micro
      |      FROM t)
      |SELECT doc_id, n_toks, n_types,
      |       CASE WHEN n_toks = 0 THEN NULL
      |            ELSE round(n_types / CAST(n_toks AS DOUBLE), 6) END AS ttr,
      |       CASE WHEN n_toks = 0 THEN NULL
      |            ELSE round(log2(CAST(n_toks AS DOUBLE)) - micro / 1000000.0 / n_toks, 4)
      |       END AS entropy_bits,
      |       CASE WHEN n_toks = 0 THEN NULL
      |            ELSE round(log2(CAST(n_toks AS DOUBLE)) - micro / 1000000.0 / n_toks, 4)
      |                 >= 4.0 END AS kept
      |FROM c""".stripMargin)(
    (s, d) => {
      val base = Tables.documents(s, d)
        .select(col("doc_id"), tokens(col("text")).as("l"))
        .select(col("doc_id"), size(col("l")).cast("long").as("n_toks"),
          size(array_distinct(col("l"))).cast("long").as("n_types"),
          when(size(col("l")) === 0, lit(null).cast("long")).otherwise(
            aggregate(
              transform(array_distinct(col("l")),
                t => size(filter(col("l"), x => x === t)).cast("long")),
              lit(0L),
              (acc, k) => acc + round(k * log2(k) * lit(1000000)).cast("long")))
            .as("micro"))
      val ent = round(log2(col("n_toks").cast("double"))
        - col("micro") / lit(1000000.0) / col("n_toks"), 4)
      base.select(col("doc_id"), col("n_toks"), col("n_types"),
        when(col("n_toks") === 0, lit(null).cast("double"))
          .otherwise(round(col("n_types") / col("n_toks").cast("double"), 6)).as("ttr"),
        when(col("n_toks") === 0, lit(null).cast("double")).otherwise(ent).as("entropy_bits"),
        when(col("n_toks") === 0, lit(null).cast("boolean")).otherwise(ent >= 4.0).as("kept"))
    })

  // --- q139: contrastive training triples ------------------------------
  // (anchor, positive, negative) mining for embedding/contrastive
  // training: positives are the portable-LSH near-dup partners (q99's
  // pair set, shared code on both sides — one positive per anchor, the
  // smallest partner id, so output is deterministic and 1:1); negatives
  // are hash-mined — a uniform deterministic probe h(anchor) into the
  // contiguous doc_id space, stepping past collisions with the anchor or
  // its positive (first of h, h+1, h+2 mod n not in {a, p} — 3 probes
  // always suffice for distinct a, p). Everything is exact arithmetic,
  // so the oracle replays the whole mining run bit-for-bit. Scale: rides
  // q99's band shuffle; the negative probe is scan-local against a
  // broadcast 1-row count.
  val q139 = QueryDef.oracle("q139_contrastive_triples", {
    val h = s"(2654435761 * anchor_id + 40503) % 1000000007"
    s"""${DedupQueries.portablePairsCtes},
       |apos AS (SELECT ia AS anchor_id, CAST(min(ib) AS BIGINT) AS positive_id
       |         FROM pairs GROUP BY ia),
       |n AS (SELECT CAST(count(*) AS BIGINT) AS n_docs FROM documents),
       |probe AS (SELECT anchor_id, positive_id,
       |            ($h) % n_docs AS c0,
       |            (($h) + 1) % n_docs AS c1,
       |            (($h) + 2) % n_docs AS c2
       |          FROM apos, n)
       |SELECT anchor_id, positive_id,
       |       CASE WHEN c0 <> anchor_id AND c0 <> positive_id THEN c0
       |            WHEN c1 <> anchor_id AND c1 <> positive_id THEN c1
       |            ELSE c2 END AS negative_id
       |FROM probe""".stripMargin
  })(
    (s, d) => {
      val pairs = DedupQueries.portablePairs(s, d)
      val apos = pairs.groupBy(col("ia").as("anchor_id"))
        .agg(min("ib").as("positive_id"))
      val n = Tables.documents(s, d).agg(count(lit(1)).as("n_docs"))
      val h = (lit(2654435761L) * col("anchor_id") + lit(40503L)) % lit(1000000007L)
      val probe = apos.crossJoin(broadcast(n))
        .withColumn("c0", h % col("n_docs"))
        .withColumn("c1", (h + 1) % col("n_docs"))
        .withColumn("c2", (h + 2) % col("n_docs"))
      probe.select(col("anchor_id"), col("positive_id"),
        when(col("c0") =!= col("anchor_id") && col("c0") =!= col("positive_id"), col("c0"))
          .when(col("c1") =!= col("anchor_id") && col("c1") =!= col("positive_id"), col("c1"))
          .otherwise(col("c2")).as("negative_id"))
    })

  // --- q140: token-budget data selection (greedy by quality) -----------
  // DataComp-style selection: rank the corpus by quality (desc, doc_id
  // tiebreak), keep the prefix whose cumulative token count fits a
  // budget of 30% of total corpus tokens. The global cumulative sum —
  // normally a single-partition window, the classic 100-TB trap — runs
  // as a TWO-LEVEL distributed prefix sum: quality is rounded to 4
  // decimals, so bucket = quality·10⁴ is EXACT and the global order
  // (quality desc, doc_id) is (bucket desc, doc_id); per-bucket token
  // totals (≤10⁴+1 rows) take a tiny windowed prefix, broadcast back as
  // offsets, and each doc adds its bucket-local cumsum (window KEYED on
  // bucket) to its bucket's offset. No data-sized single-partition
  // anything. The oracle is the plain global-window formulation — same
  // answer, shape-free.
  val q140 = QueryDef.oracle("q140_budget_selection",
    """WITH q AS (SELECT doc_id,
      |             round(CASE WHEN length(text) >= 200 AND length(text) <= 20000 THEN 1.0
      |                        WHEN length(text) >= 50 THEN 0.5 ELSE 0.0 END * 0.4
      |               + CASE WHEN length(text) > 0
      |                      THEN length(regexp_replace(text, '[^A-Za-z ]', '', 'g'))
      |                           / CAST(length(text) AS DOUBLE) ELSE 0.0 END * 0.4
      |               + CASE WHEN len(regexp_extract_all(text, '\S+')) > 0
      |                       AND length(text) / CAST(len(regexp_extract_all(text, '\S+'))
      |                           AS DOUBLE) BETWEEN 3 AND 12
      |                      THEN 1.0 ELSE 0.3 END * 0.2, 4) AS quality,
      |             CAST(len(regexp_extract_all(text, '\S+')) AS BIGINT) AS n_toks
      |           FROM documents),
      |tot AS (SELECT CAST(FLOOR(0.3 * SUM(n_toks)) AS BIGINT) AS budget FROM q),
      |c AS (SELECT doc_id, quality, n_toks,
      |        CAST(SUM(n_toks) OVER (ORDER BY quality DESC, doc_id
      |          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum_toks
      |      FROM q)
      |SELECT doc_id, quality, n_toks, cum_toks, cum_toks <= budget AS kept
      |FROM c, tot""".stripMargin)(
    (s, d) => {
      val q = Tables.documents(s, d).select(col("doc_id"),
        qualityScore(col("text")).as("quality"),
        tokenCount(col("text")).cast("long").as("n_toks"))
        // bucket is EXACT: quality is rounded to 4 decimals by contract
        .withColumn("bucket", round(col("quality") * 10000).cast("long"))
      val budget = q.agg(floor(lit(0.3) * sum("n_toks")).cast("long").as("budget"))
      // level 1: per-bucket totals, prefix over the ≤10001-row bucket
      // table (bounded side data — its single-partition window is fine)
      val wBuckets = Window.orderBy(col("bucket").desc)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val offsets = q.groupBy("bucket").agg(sum("n_toks").as("bucket_toks"))
        .withColumn("offset", sum("bucket_toks").over(wBuckets) - col("bucket_toks"))
        .select("bucket", "offset")
      // level 2: bucket-local cumsum, KEYED window — the data-sized side
      // never sees a single partition
      val wLocal = Window.partitionBy("bucket").orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      q.withColumn("local_cum", sum("n_toks").over(wLocal))
        .join(broadcast(offsets), Seq("bucket"))
        .crossJoin(broadcast(budget))
        .select(col("doc_id"), col("quality"), col("n_toks"),
          (col("offset") + col("local_cum")).as("cum_toks"),
          (col("offset") + col("local_cum") <= col("budget")).as("kept"))
    })

  // --- q145: triangle census of the near-dup graph ---------------------
  // Triangles in the portable-LSH pair graph measure cluster density —
  // near-dup SETS (a≈b≈c) versus mere chains — the diagnostic for
  // whether q129's transitive canonicalization is collapsing tight
  // groups or daisy-chaining unrelated docs. Classic distributed shape:
  // edges kept in (ia < ib) orientation, one self-join on the shared
  // low endpoint builds wedges, one membership join closes them — every
  // triangle counted exactly once, no enumeration of non-edges. Per-doc
  // output: triangle count + degree, with the global census appended.
  val q145 = QueryDef.oracle("q145_triangle_census", {
    s"""${DedupQueries.portablePairsCtes},
       |tri AS (
       |  SELECT e1.ia AS a, e1.ib AS b, e2.ib AS c
       |  FROM pairs e1 JOIN pairs e2 ON e1.ia = e2.ia AND e1.ib < e2.ib
       |  JOIN pairs e3 ON e3.ia = e1.ib AND e3.ib = e2.ib),
       |pertri AS (SELECT v, CAST(count(*) AS BIGINT) AS n_triangles FROM (
       |             SELECT a AS v FROM tri UNION ALL SELECT b FROM tri
       |             UNION ALL SELECT c FROM tri) GROUP BY v),
       |deg AS (SELECT v, CAST(count(*) AS BIGINT) AS degree FROM (
       |          SELECT ia AS v FROM pairs UNION ALL SELECT ib FROM pairs)
       |        GROUP BY v)
       |SELECT deg.v AS doc_id, deg.degree,
       |       coalesce(pertri.n_triangles, CAST(0 AS BIGINT)) AS n_triangles
       |FROM deg LEFT JOIN pertri ON deg.v = pertri.v""".stripMargin
  })(
    (s, d) => {
      val pairs = DedupQueries.portablePairs(s, d).localCheckpoint(false)
      val e1 = pairs.select(col("ia"), col("ib"))
      val e2 = pairs.select(col("ia"), col("ib").as("ic"))
      val wedges = e1.join(e2, Seq("ia")).filter(col("ib") < col("ic"))
      val closing = pairs.select(col("ia").as("ib"), col("ib").as("ic"))
      val tri = wedges.join(closing, Seq("ib", "ic"))
        .select(col("ia").as("a"), col("ib").as("b"), col("ic").as("c"))
      val perTri = tri.select(col("a").as("v"))
        .unionByName(tri.select(col("b").as("v")))
        .unionByName(tri.select(col("c").as("v")))
        .groupBy("v").agg(count(lit(1)).as("n_triangles"))
      val deg = pairs.select(col("ia").as("v"))
        .unionByName(pairs.select(col("ib").as("v")))
        .groupBy("v").agg(count(lit(1)).as("degree"))
      deg.join(perTri, Seq("v"), "left")
        .select(col("v").as("doc_id"), col("degree"),
          coalesce(col("n_triangles"), lit(0L)).as("n_triangles"))
    })

  /** Dedup-aware sampling weights — the mixture step that stops a
    * training run from oversampling boilerplate: every near-dup CLUSTER
    * (q129's canonical labels, shared code and CTEs so sampling and
    * dedup cannot disagree) contributes ~ONE expected document.
    * Per doc: its cluster, the cluster size, `weight` = 1/size (the
    * loss/mixture weight — one exact division rounded, q152's
    * convention), and a deterministic KEEP decision: u16 = the first 4
    * md5 nibbles of the doc_id string as an integer in [0, 65536), kept
    * iff u16 · size < 65536 — i.e. P(keep) = 1/size, singletons always
    * kept, all in EXACT integer compares (no float RNG, no engine
    * drift; rerun- and partition-stable, the q45 convention at 16-bit
    * resolution). `E[Σ kept per cluster] = 1` by construction.
    * Scale: rides q129's rounds + one keyed join of the (id, label)
    * table against the cluster-size table — a PLAIN join (q129's
    * template): on a mostly-unique corpus |clusters| ≈ |docs|, so the
    * size table is data-sized and must never ride a broadcast. The
    * weight/keep math is scan-stage. HASH-MATCHED.
    */
  val q155 = QueryDef.oracle("q155_dedup_sampling_weights", {
    // 4-nibble hex → integer, portably: strpos into the nibble alphabet
    // (DuckDB has no conv(); the value equals Spark's conv(h,16,10))
    def nib(i: Int): String =
      s"(strpos('0123456789abcdef', substr(h, $i, 1)) - 1)"
    val u16 = s"CAST(${nib(1)} * 4096 + ${nib(2)} * 256 + ${nib(3)} * 16 + ${nib(4)} AS BIGINT)"
    s"""$canonLabelCtes,
       |cs AS (SELECT lbl AS cluster_id, CAST(count(*) AS BIGINT) AS cluster_size
       |       FROM l$CanonRounds GROUP BY 1),
       |sp AS (
       |  SELECT l.v AS doc_id, l.lbl AS cluster_id, cs.cluster_size,
       |         md5(CAST(l.v AS VARCHAR)) AS h
       |  FROM l$CanonRounds l JOIN cs ON cs.cluster_id = l.lbl)
       |SELECT doc_id, cluster_id, cluster_size,
       |       round(1.0 / cluster_size, 6) AS weight,
       |       $u16 AS u16,
       |       $u16 * cluster_size < 65536 AS kept
       |FROM sp""".stripMargin})(
    (s, d) => {
      val lab = storedCanonLabels(s, d)
      val cs = lab.groupBy(col("lbl").as("cluster_id"))
        .agg(count(lit(1)).as("cluster_size"))
      val u16 = conv(substring(md5(col("v").cast("string")), 1, 4), 16, 10)
        .cast("long")
      // plain keyed join (q129's template) — |clusters| ≈ |docs| on a
      // mostly-unique corpus, so cs is data-sized: never broadcast it
      lab.join(cs, lab("lbl") === cs("cluster_id"))
        .select(col("v").as("doc_id"), col("cluster_id"), col("cluster_size"),
          round(lit(1.0) / col("cluster_size"), 6).as("weight"),
          u16.as("u16"))
        .withColumn("kept", col("u16") * col("cluster_size") < 65536)
    })

  /** The END-TO-END curation pipeline, one query: raw documents →
    * training-ready per-(split, source) manifest. A document survives
    * iff it is
    *  (a) its near-dup cluster's CANONICAL (q129's labels — shared
    *      CTEs, the clustering cannot disagree with q129/q150),
    *  (b) its exact-dup group's keeper (min doc_id per md5(text), q50's
    *      rule — NOT implied by (a) for gram-less docs: empty/1-gram
    *      texts produce no bands, so LSH can't pair even byte-identical
    *      copies; the md5 pass catches what banding can't see), and
    *  (c) of acceptable quality (q41's formula ≥ 0.5 — shared fragment,
    *      one definition of "quality" across the engine).
    * Survivors get q150's leakage-safe split (md5 nibble of the CLUSTER
    * id, so near-dups can never straddle train/test), and the output is
    * the manifest a training run starts from: docs / whitespace tokens /
    * chars per (split, source) — all exact BIGINT sums, no floats
    * anywhere in the output. Scale: rides q129's rounds + two keyed
    * joins (labels, md5 keepers — both data-sized, neither hinted) and
    * one scan-stage quality filter; the rollup is
    * |splits|×|sources|-bounded. HASH-MATCHED.
    */
  val q162 = QueryDef.oracle("q162_curation_pipeline", {
    def splitCase(nib: String): String =
      s"CASE WHEN $nib = 'e' THEN 'val' WHEN $nib = 'f' THEN 'test' ELSE 'train' END"
    s"""$canonLabelCtes,
       |keepers AS (SELECT md5(text) AS hh, min(doc_id) AS keeper
       |            FROM documents GROUP BY 1),
       |kept AS (
       |  SELECT d.source, l.lbl, d.text
       |  FROM documents d
       |  JOIN l$CanonRounds l ON l.v = d.doc_id
       |  JOIN keepers g ON g.hh = md5(d.text)
       |  WHERE d.doc_id = l.lbl AND d.doc_id = g.keeper
       |    AND ${graft.operators.TextQueries.qualitySql} >= 0.5),
       |sp AS (SELECT source,
       |         ${splitCase("substr(md5(CAST(lbl AS VARCHAR)), 32, 1)")} AS split,
       |         CAST(len(regexp_extract_all(text, '\\S+')) AS BIGINT) AS n_toks,
       |         CAST(length(text) AS BIGINT) AS n_chars
       |       FROM kept)
       |SELECT split, source, CAST(count(*) AS BIGINT) AS n_docs,
       |       CAST(SUM(n_toks) AS BIGINT) AS n_tokens,
       |       CAST(SUM(n_chars) AS BIGINT) AS total_chars
       |FROM sp GROUP BY 1, 2""".stripMargin})(
    (s, d) => {
      def splitOf(nib: Column): Column =
        when(nib === "e", "val").when(nib === "f", "test").otherwise("train")
      val lab = storedCanonLabels(s, d)
      val docs = Tables.documents(s, d)
      val keepers = docs.select(md5(col("text")).as("hh"), col("doc_id"))
        .groupBy("hh").agg(min("doc_id").as("keeper"))
      docs
        .join(lab, col("doc_id") === col("v"))
        .filter(col("doc_id") === col("lbl")) // near-dup canonical
        .select(col("doc_id"), col("source"), col("text"),
          col("lbl"), md5(col("text")).as("hh"))
        .join(keepers, Seq("hh")) // data-sized: plain keyed join
        .filter(col("doc_id") === col("keeper")) // exact keeper (gram-less docs)
        .filter(qualityScore(col("text")) >= 0.5)
        .select(
          splitOf(substring(md5(col("lbl").cast("string")), 32, 1)).as("split"),
          col("source"),
          tokenCount(col("text")).cast("long").as("n_toks"),
          length(col("text")).cast("long").as("n_chars"))
        .groupBy("split", "source")
        .agg(count(lit(1)).as("n_docs"),
          sum("n_toks").as("n_tokens"),
          sum("n_chars").as("total_chars"))
    })

  /** Temperature-based source mixture (α = 0.5) — the standard
    * rebalancing formula for multi-source/multilingual training (weight
    * ∝ n^α upweights small sources relative to proportional sampling):
    * per source, the unnormalized weight √n in exact micro-units
    * (IEEE sqrt is correctly-rounded, so both engines produce the
    * identical double, and rounding to integer micro-units BEFORE the
    * normalizing sum keeps that sum partition- and engine-exact — the
    * micro-integer-sums convention), the resulting sampling share in
    * ppm (one rounded division per source row, q152's convention), and
    * the per-source expected document count at a 100k-doc epoch budget.
    * Scale: one map-side-combined count per source + a |sources|-row
    * broadcast-back of the scalar total. HASH-MATCHED.
    */
  /** The temperature-weight CTE chain (`n`, `w`, `tot`) — ONE SQL
    * definition of the √n mixture weights, shared by q166 (the share
    * report) and q214 (the exact apportionment), which must agree on
    * every weight by construction. */
  private[graft] val mixtureWeightCtes: String =
    """WITH n AS (SELECT source, CAST(count(*) AS BIGINT) AS n_docs
      |           FROM documents GROUP BY source),
      |w AS (SELECT source, n_docs,
      |        CAST(round(sqrt(n_docs) * 1000000) AS BIGINT) AS weight_micro
      |      FROM n),
      |tot AS (SELECT CAST(SUM(weight_micro) AS BIGINT) AS total_micro FROM w)"""
      .stripMargin

  /** Spark twin of [[mixtureWeightCtes]]: (w(source, n_docs,
    * weight_micro), tot(total_micro)). */
  private def mixtureWeights(s: SparkSession, d: String): (DataFrame, DataFrame) = {
    val w = Tables.documents(s, d).groupBy("source")
      .agg(count(lit(1)).as("n_docs"))
      .select(col("source"), col("n_docs"),
        round(sqrt(col("n_docs")) * 1000000).cast("long").as("weight_micro"))
    (w, w.agg(sum("weight_micro").as("total_micro")))
  }

  val q166 = QueryDef.oracle("q166_mixture_temperature",
    s"""$mixtureWeightCtes
       |SELECT source, n_docs, weight_micro,
       |       CAST(round(weight_micro * 1000000.0 / total_micro) AS BIGINT)
       |         AS share_ppm,
       |       CAST(round(weight_micro * 100000.0 / total_micro) AS BIGINT)
       |         AS epoch_docs_100k
       |FROM w, tot""".stripMargin)(
    (s, d) => {
      val (w, tot) = mixtureWeights(s, d)
      w.crossJoin(broadcast(tot))
        .select(col("source"), col("n_docs"), col("weight_micro"),
          round(col("weight_micro") * lit(1000000.0) / col("total_micro"))
            .cast("long").as("share_ppm"),
          round(col("weight_micro") * lit(100000.0) / col("total_micro"))
            .cast("long").as("epoch_docs_100k"))
    })

  /** EXACT BUDGET APPORTIONMENT — the step q166's rounded shares can't
    * finish: round(B·wₛ/Σw) per source does NOT sum to B (rounding
    * drift of up to |sources|/2 docs), and a training-mix manifest
    * that over- or under-fills its budget by "a few docs" is a
    * different mix every run. Largest-remainder (Hamilton) allocation
    * fixes it in pure integers: base = B·wₛ div Σw, and the L = B −
    * Σbase leftover docs go to the L largest remainders (source-name
    * tiebreak) — Σalloc = B EXACTLY, by construction (q186's dealing
    * convention at mixture scale). Weights come from the ONE shared
    * [[mixtureWeightCtes]] chain. The ranking window is global but
    * runs over the |sources|-row aggregate (the zero-key-window rule's
    * sanctioned case). Output: one row per source. HASH-MATCHED.
    */
  val q214 = QueryDef.oracle("q214_budget_apportionment",
    s"""$mixtureWeightCtes,
       |q AS (SELECT source, n_docs, weight_micro,
       |        CAST(weight_micro * 100000 // total_micro AS BIGINT) AS base,
       |        CAST(weight_micro * 100000 % total_micro AS BIGINT) AS rem
       |      FROM w, tot),
       |l AS (SELECT CAST(100000 - SUM(base) AS BIGINT) AS leftover FROM q),
       |r AS (SELECT source, n_docs, weight_micro, base, rem,
       |        CAST(ROW_NUMBER() OVER (ORDER BY rem DESC, source) AS BIGINT)
       |          AS rk
       |      FROM q)
       |SELECT source, n_docs, weight_micro, base, rem, rk,
       |       base + CASE WHEN rk <= leftover THEN 1 ELSE 0 END AS alloc
       |FROM r, l""".stripMargin)(
    (s, d) => {
      val (w, tot) = mixtureWeights(s, d)
      val q = w.crossJoin(broadcast(tot))
        .select(col("source"), col("n_docs"), col("weight_micro"),
          expr("weight_micro * 100000 div total_micro").as("base"),
          (col("weight_micro") * 100000 % col("total_micro")).as("rem"))
      val l = q.agg((lit(100000L) - sum("base")).as("leftover"))
      q.withColumn("rk",
          row_number().over(Window.orderBy(col("rem").desc, col("source")))
            .cast("long"))
        .crossJoin(broadcast(l))
        .select(col("source"), col("n_docs"), col("weight_micro"), col("base"),
          col("rem"), col("rk"),
          (col("base") +
            when(col("rk") <= col("leftover"), 1L).otherwise(0L)).as("alloc"))
    })

  /** CCNet-style perplexity buckets (Wenzek et al. 2020): within each
    * language, rank every document by its unigram-LM bits/token (q123's
    * exact micro-bit scores — shared [[lmCtes]]/[[lmDocScores]], the
    * filter and the buckets cannot disagree on the LM) and NTILE(3)
    * into head/middle/tail. CCNet trains on head+middle and drops or
    * downweights tail; this report is the size/perplexity profile that
    * decision reads. Determinism: the rank orders by the IEEE-exact
    * double micro_sum/n_toks (identical division on both engines) with
    * doc_id tiebreak; bucket boundaries are NTILE's integer row split.
    * Scale: rides q123's two keyed aggregations plus one lang-keyed
    * window (per-language sort — CCNet's own per-shard sort, never
    * global) and a |langs|×3 rollup. */
  val q172 = QueryDef.oracle("q172_ccnet_buckets",
    s"""$lmCtes,
      |scored AS (SELECT d.doc_id, d.lang, doc.micro_sum, doc.n_toks
      |           FROM documents d JOIN doc USING (doc_id)),
      |bkt AS (SELECT lang, micro_sum, n_toks,
      |          NTILE(3) OVER (PARTITION BY lang
      |            ORDER BY micro_sum * 1.0 / n_toks, doc_id) AS b
      |        FROM scored)
      |SELECT lang,
      |       CASE b WHEN 1 THEN 'head' WHEN 2 THEN 'middle' ELSE 'tail' END AS bucket,
      |       CAST(count(*) AS BIGINT) AS n_docs,
      |       CAST(SUM(n_toks) AS BIGINT) AS n_tokens,
      |       round(min(micro_sum * 1.0 / n_toks) / 1000000.0, 4) AS min_bits_per_tok,
      |       round(max(micro_sum * 1.0 / n_toks) / 1000000.0, 4) AS max_bits_per_tok
      |FROM bkt GROUP BY 1, 2""".stripMargin)(
    (s, d) => {
      val scored = Tables.documents(s, d).select(col("doc_id"), col("lang"))
        .join(lmDocScores(s, d), Seq("doc_id"))
      val bpt = col("micro_sum") * lit(1.0) / col("n_toks")
      val wB = Window.partitionBy("lang").orderBy(bpt.asc, col("doc_id"))
      scored.withColumn("b", ntile(3).over(wB))
        .groupBy(col("lang"),
          when(col("b") === 1, "head").when(col("b") === 2, "middle")
            .otherwise("tail").as("bucket"))
        .agg(count(lit(1)).as("n_docs"), sum("n_toks").as("n_tokens"),
          round(min(bpt) / lit(1000000.0), 4).as("min_bits_per_tok"),
          round(max(bpt) / lit(1000000.0), 4).as("max_bits_per_tok"))
    })

  /** Quality-aware canonical selection — RefinedWeb's refinement of
    * q129's min-id keeper: within each near-dup cluster, KEEP THE
    * HIGHEST-QUALITY member (q41's quality formula; ties broken by the
    * smaller doc_id, so the choice is deterministic and, on
    * byte-identical duplicates — which score identically — degrades to
    * q129's min-id rule). Built entirely on shared machinery:
    * [[canonLabels]] / [[canonLabelCtes]] for the clustering and
    * q41's drift-pinned quality fragment for the score, so this query
    * cannot disagree with q129 on clusters or with q41 on quality.
    * Output per doc: cluster, own quality, the cluster's keeper and its
    * quality, is_keeper. Scale: the (id, label) table joins the
    * scan-stage quality pass on doc_id; keeper selection is one
    * cluster-keyed window over the |docs|-row label table — rank 1 per
    * cluster, no global sort. */
  val q181 = QueryDef.oracle("q181_quality_canonical", {
    val qualitySql = graft.operators.TextQueries.qualitySql
    s"""$canonLabelCtes,
       |q AS (SELECT doc_id, $qualitySql AS quality FROM documents),
       |m AS (SELECT l.v AS doc_id, l.lbl AS cluster_id, q.quality
       |      FROM l$CanonRounds l JOIN q ON q.doc_id = l.v),
       |k AS (SELECT cluster_id, doc_id, quality,
       |             ROW_NUMBER() OVER (PARTITION BY cluster_id
       |                                ORDER BY quality DESC, doc_id) AS rn
       |      FROM m),
       |keep AS (SELECT cluster_id, doc_id AS keeper_id, quality AS keeper_quality
       |         FROM k WHERE rn = 1)
       |SELECT m.doc_id, m.cluster_id, m.quality,
       |       keep.keeper_id, keep.keeper_quality,
       |       (m.doc_id = keep.keeper_id) AS is_keeper
       |FROM m JOIN keep USING (cluster_id)""".stripMargin})(
    (s, d) => {
      val lab = storedCanonLabels(s, d)
      val m = lab.select(col("v").as("doc_id"), col("lbl").as("cluster_id"))
        .join(Tables.documents(s, d)
          .select(col("doc_id"), qualityScore(col("text")).as("quality")),
          Seq("doc_id"))
      val w = Window.partitionBy("cluster_id")
        .orderBy(col("quality").desc, col("doc_id"))
      val keep = m.withColumn("rn", row_number().over(w)).filter(col("rn") === 1)
        .select(col("cluster_id"), col("doc_id").as("keeper_id"),
          col("quality").as("keeper_quality"))
      m.join(keep, Seq("cluster_id"))
        .select(col("doc_id"), col("cluster_id"), col("quality"),
          col("keeper_id"), col("keeper_quality"),
          (col("doc_id") === col("keeper_id")).as("is_keeper"))
    })

  /** Bigram LM scoring — the context-aware step past q123's unigram
    * model (CCNet scores with a 5-gram KenLM; a bigram captures the
    * same "does this doc read like the corpus" signal with corpus-only
    * training). Add-1-smoothed P(w₂|w₁) = (c₂+1)/(c₁+V) over the
    * observed bigrams, doc score = average bits per bigram. Same
    * micro-unit policy as q123: the per-BIGRAM-TYPE bits are rounded to
    * integer micro-bits ONCE (vocabulary-sized table), and every doc
    * sum runs on exact BIGINTs — partition-order-proof, bit-identical
    * across engines. Scale shape: bigram aggregates combine map-side
    * (bigram-type-sized, sublinear in corpus); the LM join is keyed on
    * the bigram; the 1-row vocab stat broadcasts. Docs under 2 tokens
    * have no bigrams: n_bigrams 0, score NULL (q123's convention).
    */
  val q187 = QueryDef.oracle("q187_bigram_lm_score",
    """WITH tk AS (SELECT doc_id, list_filter(
      |             regexp_split_to_array(text, '\s+'), x -> x <> '') AS l
      |           FROM documents),
      |bi AS (SELECT doc_id, unnest([{'w1': l[i], 'w2': l[i+1]}
      |                              FOR i IN range(1, len(l))],
      |                             recursive := true)
      |       FROM tk),
      |bf AS (SELECT doc_id, w1, w2, CAST(count(*) AS BIGINT) AS c
      |       FROM bi GROUP BY 1, 2, 3),
      |g2 AS (SELECT w1, w2, CAST(count(*) AS BIGINT) AS c2 FROM bi GROUP BY 1, 2),
      |g1 AS (SELECT w1, CAST(SUM(c2) AS BIGINT) AS c1 FROM g2 GROUP BY 1),
      |vs AS (SELECT CAST(count(DISTINCT tok) AS BIGINT) AS vocab
      |       FROM (SELECT unnest(l) AS tok FROM tk)),
      |bits AS (SELECT w1, w2, CAST(round(log2(
      |           CAST(c1 + vocab AS DOUBLE) / (c2 + 1)) * 1000000) AS BIGINT)
      |           AS micro_bits
      |         FROM g2 JOIN g1 USING (w1), vs),
      |doc AS (SELECT bf.doc_id,
      |               CAST(SUM(bf.c * b.micro_bits) AS BIGINT) AS micro_sum,
      |               CAST(SUM(bf.c) AS BIGINT) AS n_bi
      |        FROM bf JOIN bits b USING (w1, w2) GROUP BY 1)
      |SELECT d.doc_id, coalesce(doc.n_bi, CAST(0 AS BIGINT)) AS n_bigrams,
      |       round(doc.micro_sum / 1000000.0 / doc.n_bi, 4) AS bits_per_bigram,
      |       round(doc.micro_sum / 1000000.0 / doc.n_bi, 4) <= 4.9 AS kept
      |FROM documents d LEFT JOIN doc USING (doc_id)""".stripMargin)(
    (s, d) => {
      // r15 optimization: score the OCCURRENCE stream directly —
      // Σ_type c·bits ≡ Σ_occurrence bits, so the per-(doc, w1, w2)
      // rollup the oracle spells out (bf) is algebraically redundant
      // on the engine side, and it was the worst exchange in the plan:
      // doc-bigram types are nearly distinct, so grouping them shipped
      // a corpus-sized (doc_id, string, string) triple for no
      // reduction (guide §2.3: aggregate only where it reduces). One
      // (w1, w2)-keyed join exchange + the per-doc rollup remain.
      val bi = bigramStream(s, d)
      val doc = bi.join(bigramLmBits(s, d), Seq("w1", "w2"))
        .groupBy("doc_id")
        .agg(sum(col("micro_bits")).as("micro_sum"),
          count(lit(1)).as("n_bi"))
      val bpb = round(col("micro_sum") / lit(1000000.0) / col("n_bi"), 4)
      Tables.documents(s, d).select("doc_id").join(doc, Seq("doc_id"), "left")
        .select(col("doc_id"), coalesce(col("n_bi"), lit(0L)).as("n_bigrams"),
          bpb.as("bits_per_bigram"), (bpb <= 4.9).as("kept"))
    })

  /** Corpus bigram occurrences (doc_id, w1, w2), one row per adjacent
    * token pair — the training stream of the bigram LM, shared by q187
    * and the stored-artifact builders so model and query cannot drift. */
  private def bigramStream(s: SparkSession, d: String): DataFrame = {
    val tk = Tables.documents(s, d)
      .select(col("doc_id"), tokens(col("text")).as("l"))
    val len1 = greatest(size(col("l")) - 1, lit(0))
    tk.select(col("doc_id"), explode(zip_with(
        slice(col("l"), lit(1), len1), slice(col("l"), lit(2), len1),
        (a, b) => struct(a.as("w1"), b.as("w2")))).as("p"))
      .select(col("doc_id"), col("p.w1").as("w1"), col("p.w2").as("w2"))
  }

  /** 1-row (vocab BIGINT): distinct token count over the whole corpus. */
  private def lm2Vocab(s: SparkSession, d: String): DataFrame =
    Tables.documents(s, d)
      .select(explode(tokens(col("text"))).as("tok"))
      .agg(countDistinct("tok").as("vocab"))

  /** The trained bigram LM: (w1, w2, micro_bits) per OBSERVED bigram
    * type, micro_bits = round(log2((c1+V)/(c2+1))·10⁶). g2 aggregates
    * the re-exploded stream rather than rolling up from the per-doc
    * table: the per-doc table is nearly corpus-sized (its bigrams are
    * mostly distinct), so a rollup pays a second full shuffle of it
    * while the re-explode combines map-side straight down to the small
    * bigram-TYPE table — measured 1.43 s vs 1.72 s at sf0.1. */
  private[graft] def bigramLmBits(s: SparkSession, d: String): DataFrame = {
    val g2 = bigramStream(s, d).groupBy("w1", "w2").agg(count(lit(1)).as("c2"))
    val g1 = g2.groupBy("w1").agg(sum("c2").as("c1"))
    g2.join(g1, Seq("w1")).crossJoin(broadcast(lm2Vocab(s, d)))
      .select(col("w1"), col("w2"),
        round(log2((col("c1") + col("vocab")).cast("double") / (col("c2") + lit(1)))
          * lit(1000000)).cast("long").as("micro_bits"))
  }

  /** (w1, miss_micro): the add-1 score of an UNSEEN bigram with a seen
    * prefix — (c1+V)/(0+1) — which batch q187 never needs (it scores
    * the corpus the LM was trained on) but an arriving stream does. */
  private[graft] def bigramLmPrefix(s: SparkSession, d: String): DataFrame = {
    val g1 = bigramStream(s, d).groupBy("w1", "w2")
      .agg(count(lit(1)).as("c2"))
      .groupBy("w1").agg(sum("c2").as("c1"))
    g1.crossJoin(broadcast(lm2Vocab(s, d)))
      .select(col("w1"),
        round(log2((col("c1") + col("vocab")).cast("double"))
          * lit(1000000)).cast("long").as("miss_micro"))
  }

  /** The trained bigram LM as STORED artifacts (the bpe_merges pattern
    * applied to a statistical model: train once per corpus, read back
    * by every scorer): bits per observed bigram, the unseen-bigram
    * fallback per prefix, and the 1-row fully-OOV score log2(V)·10⁶.
    * Returns (bits, prefix, oovMicro) for the streaming scorer
    * [[graft.streaming.DocStreams.lmScore]]. */
  private[graft] def storedBigramLm(s: SparkSession, d: String)
      : (DataFrame, DataFrame, Long) = {
    import graft.sources.ArtifactStore
    val bits = ArtifactStore.table(s, d, "lm2_bits")(bigramLmBits(s, d))
    val prefix = ArtifactStore.table(s, d, "lm2_prefix")(bigramLmPrefix(s, d))
    val oov = ArtifactStore.table(s, d, "lm2_stats")(
      lm2Vocab(s, d).select(
        round(log2(col("vocab").cast("double")) * lit(1000000))
          .cast("long").as("oov_micro")))
    (bits, prefix, oov.head().getLong(0))
  }

  /** Stratified k-fold assignment with EXACT largest-remainder
    * allocation: within every (source, lang) stratum, docs are ordered
    * by a deterministic integer hash of doc_id (the LCG permutation —
    * content-independent, so folds don't correlate with any text
    * property) and dealt into k=5 contiguous blocks whose sizes are
    * ⌊n/k⌋ or ⌊n/k⌋+1 with the first n mod k folds taking the extra —
    * per-stratum fold sizes can NEVER differ by more than one, which is
    * the property random assignment only delivers in expectation. This
    * is the cross-validation/eval-holdout primitive next to q150's
    * leakage-safe 2-way split: proportional per stratum, pure integers,
    * any engine re-deals identically. Scale shape: one (source, lang)-
    * keyed window exchange carrying (doc_id, 8-byte hash); the fold
    * arithmetic is scan-local on the ranked rows. The block-boundary
    * division guards base=0 (stratum smaller than k) with greatest(·,1)
    * — that branch is unreachable then, but ANSI division must not
    * throw on the never-taken leg.
    */
  /** The k-fold CTE chain up to `folds(doc_id, source, lang, fold)` —
    * the ONE SQL definition of the stratified assignment, shared by
    * q186 (the assignment itself) and q208 (the leakage audit over it),
    * which must agree on every doc's fold by construction. */
  private[graft] val kfoldCtes: String =
    """s AS (SELECT doc_id, source, lang,
      |             ((doc_id % 1000000007) * 1103515245 + 12345) % 1000000007 AS h
      |           FROM documents),
      |r AS (SELECT doc_id, source, lang,
      |        CAST(ROW_NUMBER() OVER (PARTITION BY source, lang
      |                                ORDER BY h, doc_id) AS BIGINT) AS rn,
      |        CAST(COUNT(*) OVER (PARTITION BY source, lang) AS BIGINT) AS n
      |      FROM s),
      |folds AS (SELECT doc_id, source, lang,
      |       CAST(CASE WHEN rn <= (n % 5) * (n // 5 + 1)
      |                 THEN (rn - 1) // (n // 5 + 1)
      |                 ELSE (n % 5) + (rn - 1 - (n % 5) * (n // 5 + 1))
      |                      // greatest(n // 5, 1)
      |            END AS BIGINT) AS fold
      |FROM r)""".stripMargin

  /** Spark twin of [[kfoldCtes]]' `folds`. */
  private def kfoldAssign(s: SparkSession, d: String): DataFrame = {
    val k = 5
    val hash = ((col("doc_id") % 1000000007L) * 1103515245L + 12345L) % 1000000007L
    val w = Window.partitionBy("source", "lang")
    val r = Tables.documents(s, d)
      .select(col("doc_id"), col("source"), col("lang"), hash.as("h"))
      .select(col("doc_id"), col("source"), col("lang"),
        row_number().over(w.orderBy(col("h"), col("doc_id"))).cast("long").as("rn"),
        count(lit(1)).over(w).as("n"))
    val base = expr("n div 5")
    val rem = col("n") % k
    val fold = when(col("rn") <= rem * (base + 1),
      expr("(rn - 1) div (n div 5 + 1)"))
      .otherwise(rem + expr(
        "(rn - 1 - (n % 5) * (n div 5 + 1)) div greatest(n div 5, 1)"))
    r.select(col("doc_id"), col("source"), col("lang"),
      fold.cast("long").as("fold"))
  }

  val q186 = QueryDef.oracle("q186_stratified_kfold",
    s"""WITH $kfoldCtes
       |SELECT doc_id, source, lang, fold FROM folds""".stripMargin)(
    (s, d) => kfoldAssign(s, d))

  /** FOLD-LEAKAGE AUDIT — the ML-hygiene check that motivates q150's
    * cluster-aware split: q186 deals folds stratified by (source, lang)
    * but BLIND to near-duplicates, so a near-dup pair split across two
    * folds leaks training text into the held-out fold and inflates
    * every cross-validated metric. This query measures that leak
    * exactly: the admitted near-dup pair set (the STORED `scored_pairs`
    * artifact at the engine's one PortMatchMin threshold — the same
    * edge set q56's clusters and q150's split consume) joined to q186's
    * fold assignment (the shared [[kfoldCtes]] — audit and assignment
    * cannot drift), rolled up per unordered fold pair. Off-diagonal
    * rows ARE the leak; the diagonal shows pairs q186 happened to keep
    * together. Scale: two doc_id-keyed joins of the pair set against
    * the fold table (pair-sized, not corpus²), a ≤ k(k+1)/2-row
    * rollup. Output: one row per occupied fold pair. HASH-MATCHED.
    */
  val q208 = QueryDef.oracle("q208_fold_leakage",
    s"""${graft.operators.DedupQueries.portableScoredCtes},
       |$kfoldCtes,
       |kept AS (SELECT ia, ib FROM scored
       |         WHERE n_match >= ${graft.operators.DedupQueries.PortMatchMin})
       |SELECT least(fa.fold, fb.fold) AS fold_lo,
       |       greatest(fa.fold, fb.fold) AS fold_hi,
       |       CAST(count(*) AS BIGINT) AS n_pairs,
       |       least(fa.fold, fb.fold) <> greatest(fa.fold, fb.fold) AS leaking
       |FROM kept k JOIN folds fa ON fa.doc_id = k.ia
       |            JOIN folds fb ON fb.doc_id = k.ib
       |GROUP BY 1, 2""".stripMargin)(
    (s, d) => {
      val folds = kfoldAssign(s, d).select(col("doc_id"), col("fold"))
      val kept = graft.operators.DedupQueries.portableScoredPairs(s, d)
        .filter(col("n_match") >= graft.operators.DedupQueries.PortMatchMin)
        .select(col("ia"), col("ib"))
      kept
        .join(folds.select(col("doc_id").as("ia"), col("fold").as("fa")), Seq("ia"))
        .join(folds.select(col("doc_id").as("ib"), col("fold").as("fb")), Seq("ib"))
        .select(least(col("fa"), col("fb")).as("fold_lo"),
          greatest(col("fa"), col("fb")).as("fold_hi"))
        .groupBy("fold_lo", "fold_hi").agg(count(lit(1)).as("n_pairs"))
        .select(col("fold_lo"), col("fold_hi"), col("n_pairs"),
          (col("fold_lo") =!= col("fold_hi")).as("leaking"))
    })

  /** The curation FUNNEL — per-stage survivor accounting for the whole
    * cleaning chain, the report every pipeline owner reads first ("we
    * ingested X tokens, dedup cut Y%, quality cut Z%…"). Stages are
    * cumulative (a survivor of stage s passed every earlier stage), each
    * reusing the engine's ONE definition of that rule:
    *  0 `raw`          — every document;
    *  1 `exact_dedup`  — q50's keeper rule (min doc_id per md5(text),
    *                     NULL-safe so NULL-text docs form a group
    *                     instead of vanishing from the funnel);
    *  2 `near_dedup`   — q129's cluster canonical ([[canonLabelCtes]]);
    *  3 `quality`      — q41's score ≥ 0.5 (qualitySql fragment);
    *  4 `decontam`     — drops the held-out eval source AND every doc
    *                     sharing a 4-gram with it (q118's
    *                     [[graft.operators.CurationQueries.decontamCtes]]).
    * Output: 5 rows of exact BIGINT doc/token/char counts. Computed as
    * ONE pass deriving each doc's deepest-stage-survived, a ≤5-row
    * aggregate, and a 5×5 theta-join for the cumulative rollup — the
    * stage sets are never materialized separately.
    *
    * Scale shape: the canonical labels come from the STORED
    * [[storedCanonLabels]] artifact (r15 — re-running the 6-round
    * chain here was pure waste; q129 keeps it live), so the funnel
    * pays the md5 keeper agg, the broadcast eval-gram semi-join, one
    * doc-keyed flag join chain and a constant-size rollup.
    * HASH-MATCHED.
    */
  val q194 = QueryDef.oracle("q194_curation_funnel", {
    val qualitySql = graft.operators.TextQueries.qualitySql
    s"""$canonLabelCtes,
       |${graft.operators.CurationQueries.decontamCtes},
       |keep1 AS (SELECT md5(text) AS hh, min(doc_id) AS keeper
       |          FROM documents GROUP BY 1),
       |f0 AS (
       |  SELECT d.doc_id,
       |         (d.doc_id = k.keeper) AS ok1,
       |         (d.doc_id = l.lbl) AS ok2,
       |         ($qualitySql >= 0.5) AS ok3,
       |         (d.source <> 'src0' AND COALESCE(h.n_hits, 0) = 0) AS ok4,
       |         CAST(len(regexp_extract_all(d.text, '\\S+')) AS BIGINT) AS toks,
       |         CAST(length(d.text) AS BIGINT) AS chars
       |  FROM documents d
       |  JOIN l$CanonRounds l ON l.v = d.doc_id
       |  JOIN keep1 k ON k.hh IS NOT DISTINCT FROM md5(d.text)
       |  LEFT JOIN hits h ON h.doc_id = d.doc_id),
       |f AS (
       |  SELECT CASE WHEN ok1 AND ok2 AND ok3 AND ok4 THEN 4
       |              WHEN ok1 AND ok2 AND ok3 THEN 3
       |              WHEN ok1 AND ok2 THEN 2
       |              WHEN ok1 THEN 1 ELSE 0 END AS last_stage,
       |         toks, chars
       |  FROM f0),
       |per AS (SELECT last_stage, CAST(count(*) AS BIGINT) AS n,
       |               CAST(COALESCE(SUM(toks), 0) AS BIGINT) AS t,
       |               CAST(COALESCE(SUM(chars), 0) AS BIGINT) AS c
       |        FROM f GROUP BY 1),
       |st AS (SELECT CAST(unnest([0, 1, 2, 3, 4]) AS BIGINT) AS stage)
       |SELECT st.stage,
       |       CASE st.stage WHEN 0 THEN 'raw' WHEN 1 THEN 'exact_dedup'
       |            WHEN 2 THEN 'near_dedup' WHEN 3 THEN 'quality'
       |            ELSE 'decontam' END AS stage_name,
       |       CAST(COALESCE(SUM(p.n), 0) AS BIGINT) AS n_docs,
       |       CAST(COALESCE(SUM(p.t), 0) AS BIGINT) AS n_tokens,
       |       CAST(COALESCE(SUM(p.c), 0) AS BIGINT) AS n_chars
       |FROM st LEFT JOIN per p ON p.last_stage >= st.stage
       |GROUP BY st.stage""".stripMargin})(
    (s, d) => {
      val docs = Tables.documents(s, d)
      val lab = storedCanonLabels(s, d)
      val keepers = docs.select(md5(col("text")).as("hh"), col("doc_id"))
        .groupBy("hh").agg(min("doc_id").as("keeper"))
      val hits = graft.operators.CurationQueries.decontamHits(s, d)
      val f = docs
        .join(lab, col("doc_id") === col("v"))
        .join(keepers, col("hh") <=> md5(col("text"))) // NULL-safe: NULL-text docs stay in the funnel
        .join(hits, Seq("doc_id"), "left")
        .select(
          (col("doc_id") === col("keeper")).as("ok1"),
          (col("doc_id") === col("lbl")).as("ok2"),
          (qualityScore(col("text")) >= 0.5).as("ok3"),
          (col("source") =!= "src0" && coalesce(col("n_hits"), lit(0L)) === 0).as("ok4"),
          tokenCount(col("text")).cast("long").as("toks"),
          length(col("text")).cast("long").as("chars"))
        .select(
          when(col("ok1") && col("ok2") && col("ok3") && col("ok4"), 4L)
            .when(col("ok1") && col("ok2") && col("ok3"), 3L)
            .when(col("ok1") && col("ok2"), 2L)
            .when(col("ok1"), 1L).otherwise(0L).as("last_stage"),
          col("toks"), col("chars"))
      val per = f.groupBy("last_stage")
        .agg(count(lit(1)).as("n"),
          coalesce(sum("toks"), lit(0L)).as("t"),
          coalesce(sum("chars"), lit(0L)).as("c"))
      s.range(5).select(col("id").as("stage"))
        .join(broadcast(per), col("last_stage") >= col("stage"), "left")
        .groupBy("stage")
        .agg(coalesce(sum("n"), lit(0L)).as("n_docs"),
          coalesce(sum("t"), lit(0L)).as("n_tokens"),
          coalesce(sum("c"), lit(0L)).as("n_chars"))
        .select(col("stage"),
          when(col("stage") === 0, "raw").when(col("stage") === 1, "exact_dedup")
            .when(col("stage") === 2, "near_dedup").when(col("stage") === 3, "quality")
            .otherwise("decontam").as("stage_name"),
          col("n_docs"), col("n_tokens"), col("n_chars"))
    })

  /** Balanced output-shard assignment — the LAST step of a training-data
    * pipeline: deal documents into `ShardN` output shards so every shard
    * carries a near-equal token load (a skewed shard becomes the
    * straggler of every epoch). Greedy bin-packing (first-fit by
    * descending size) gives the best balance but is inherently
    * SEQUENTIAL — one global ordered pass, unparallelizable and
    * order-fragile. The distributed answer is SERPENTINE DEALING: rank
    * docs per source by token count descending (doc_id tiebreak), then
    * deal rank 1..S left-to-right and rank S+1..2S right-to-left
    * (boustrophedon) — consecutive heavy docs land on DIFFERENT shards
    * and each full serpentine round adds exactly one doc to every
    * shard with complementary sizes, so shard totals track within one
    * doc's tokens of each other per source, hence globally. Everything
    * is integer arithmetic on the per-source rank: round = (rk−1) div
    * S, pos = (rk−1) mod S, shard = pos when round even else S−1−pos.
    * Scale: the ONLY data-sized exchange is the source-keyed ranking
    * window carrying (doc_id, n_tokens) — 16 B/row, never text; no
    * global sort anywhere (the q196 CCNet per-shard-sort convention).
    * Output: one row per doc (doc_id, source, n_tokens, rk, shard).
    * HASH-MATCHED.
    */
  /** Output shard count for q199 (production: one per writer task). */
  private val ShardN = 8

  /** q199's dealing as a nestable fragment + shared Spark body — the
    * q308 audit consumes BOTH verbatim, so what it audits is exactly
    * what q199 ships (the drift-pin discipline, at val granularity). */
  private[graft] val shardDealSql: String =
    s"""WITH t AS (SELECT doc_id, source,
       |             CAST(len(regexp_extract_all(text, '\\S+')) AS BIGINT) AS n_tokens
       |           FROM documents),
       |r AS (SELECT doc_id, source, n_tokens,
       |        CAST(ROW_NUMBER() OVER (PARTITION BY source
       |          ORDER BY n_tokens DESC, doc_id) AS BIGINT) AS rk
       |      FROM t)
       |SELECT doc_id, source, n_tokens, rk,
       |       CASE WHEN ((rk - 1) // $ShardN) % 2 = 0
       |            THEN (rk - 1) % $ShardN
       |            ELSE $ShardN - 1 - (rk - 1) % $ShardN END AS shard
       |FROM r""".stripMargin

  private def shardDeal(s: SparkSession, d: String): DataFrame = {
    val w = Window.partitionBy("source")
      .orderBy(col("n_tokens").desc, col("doc_id"))
    Tables.documents(s, d)
      .select(col("doc_id"), col("source"),
        tokenCount(col("text")).cast("long").as("n_tokens"))
      .withColumn("rk", row_number().over(w).cast("long"))
      .withColumn("shard",
        when(expr(s"((rk - 1) div $ShardN) % 2") === 0,
          (col("rk") - 1) % ShardN)
          .otherwise(lit(ShardN - 1) - (col("rk") - 1) % ShardN))
  }

  val q199 = QueryDef.oracle("q199_shard_dealing", shardDealSql)(shardDeal)

  /** SHARD MIXING AUDIT — the property q199's dealing balances FOR
    * (token load) is not the property a training loader also needs
    * (source MIXING: a data-parallel rank streaming one shard sees that
    * shard's source distribution as its gradient diet — a shard
    * dominated by one source is correlated-batch poison even when its
    * token count is perfect). Per shard: doc/token load, source
    * coverage, the top source's token share in exact ppm, and the
    * Shannon entropy of the shard's source-token distribution in
    * micro-bits (q220's established per-VALUE rounding convention, so
    * both engines compute identical integers; a well-dealt shard scores
    * near log2(|sources|)). Consumes [[shardDealSql]]/[[shardDeal]]
    * verbatim — the audit cannot drift from the dealing it audits.
    * Scale shape: the dealing's source-keyed window, then a map-side
    * (shard, source) rollup (≤ S·|sources| partials), an S-row stats
    * join, zero text on any exchange. Output: ShardN rows.
    * HASH-MATCHED. */
  val q308 = QueryDef.oracle("q308_shard_mixing_audit",
    s"""WITH deal AS ($shardDealSql),
       |g AS (SELECT shard, source, CAST(count(*) AS BIGINT) AS n_docs_s,
       |        CAST(SUM(n_tokens) AS BIGINT) AS toks
       |      FROM deal GROUP BY 1, 2),
       |t AS (SELECT shard, CAST(SUM(n_docs_s) AS BIGINT) AS n_docs,
       |        CAST(SUM(toks) AS BIGINT) AS shard_tokens,
       |        CAST(count(*) AS BIGINT) AS n_sources,
       |        CAST(MAX(toks) AS BIGINT) AS top_toks
       |      FROM g GROUP BY 1),
       |b AS (SELECT g.shard,
       |        CAST(SUM(g.toks * CAST(round(log2(CAST(t.shard_tokens AS DOUBLE)
       |          / g.toks) * 1000000) AS BIGINT)) AS BIGINT) AS bits_sum
       |      FROM g JOIN t USING (shard) WHERE g.toks > 0 GROUP BY 1)
       |SELECT t.shard, t.n_docs, t.shard_tokens, t.n_sources,
       |       CASE WHEN t.shard_tokens > 0
       |            THEN 1000000 * t.top_toks // t.shard_tokens
       |            ELSE CAST(0 AS BIGINT) END AS top_share_ppm,
       |       CASE WHEN t.shard_tokens > 0
       |            THEN COALESCE(b.bits_sum, 0) // t.shard_tokens
       |            ELSE CAST(0 AS BIGINT) END AS mix_entropy_micro_bits
       |FROM t LEFT JOIN b USING (shard)""".stripMargin)(
    (s, d) => {
      val g = shardDeal(s, d).groupBy("shard", "source")
        .agg(count(lit(1)).as("n_docs_s"), sum("n_tokens").as("toks"))
      val t = g.groupBy("shard")
        .agg(sum("n_docs_s").as("n_docs"), sum("toks").as("shard_tokens"),
          count(lit(1)).as("n_sources"), max("toks").as("top_toks"))
      val b = g.filter(col("toks") > 0).join(broadcast(t), Seq("shard"))
        .select(col("shard"),
          (col("toks") * round(log2(col("shard_tokens").cast("double")
            / col("toks")) * 1000000).cast("long")).as("cb"))
        .groupBy("shard").agg(sum("cb").as("bits_sum"))
      t.join(b, Seq("shard"), "left")
        .select(col("shard"), col("n_docs"), col("shard_tokens"),
          col("n_sources"),
          when(col("shard_tokens") > 0,
            expr("1000000 * top_toks div shard_tokens"))
            .otherwise(lit(0L)).as("top_share_ppm"),
          when(col("shard_tokens") > 0,
            expr("coalesce(bits_sum, 0) div shard_tokens"))
            .otherwise(lit(0L)).as("mix_entropy_micro_bits"))
    })

  /** PMI COLLOCATIONS — multiword-expression discovery (the Church &
    * Hanks 1990 association measure): for every adjacent-token bigram
    * seen ≥ 5 times, pointwise mutual information against the bigram
    * stream's own marginals, PMI = log2(c₁₂·N / (c₁·c₂)) — symmetric
    * ASSOCIATION, unlike q127's conditional transitions or q187's
    * smoothed likelihood. This is the pass that finds the "new york" /
    * "machine learning" units a tokenizer or phrase-mining stage wants
    * pinned before training. The bigram stream is the ONE shared
    * [[bigramStream]] (q187's training stream — the measures cannot
    * disagree on what a bigram is). Micro-unit policy: both engines
    * compute round(log2((c₁₂::double · N)/(c₁::double · c₂))·10⁶) with
    * identical association, so the ranking is bit-stable; count
    * aggregates combine map-side (vocab²-bounded, sublinear in corpus);
    * top-25 rides TakeOrderedAndProject (no global sort). Output: 25
    * rows (w1, w2, c12, micro_pmi). HASH-MATCHED.
    *
    * KNOWN PLATFORM SENSITIVITY (the q149-note convention, r9 ADVICE;
    * q205's sel_key carries the same note): micro_pmi rounds a double
    * log2 to micro-units, assuming DuckDB's libm and the JVM agree to
    * the ulp at .5 boundaries — true on this container (hash-green
    * since landing), not guaranteed across libm revisions. Accepted
    * because PMI IS a log measure: an integer surrogate would redefine
    * the emitted values, and micro_pmi is consumed as a ranking score.
    */
  val q203 = QueryDef.oracle("q203_pmi_collocations",
    """WITH tk AS (SELECT doc_id, list_filter(
      |             regexp_split_to_array(text, '\s+'), x -> x <> '') AS l
      |           FROM documents),
      |bi AS (SELECT doc_id, unnest([{'w1': l[i], 'w2': l[i+1]}
      |                              FOR i IN range(1, len(l))],
      |                             recursive := true)
      |       FROM tk),
      |g2 AS (SELECT w1, w2, CAST(count(*) AS BIGINT) AS c12 FROM bi GROUP BY 1, 2),
      |cl AS (SELECT w1, CAST(SUM(c12) AS BIGINT) AS c1 FROM g2 GROUP BY 1),
      |cr AS (SELECT w2, CAST(SUM(c12) AS BIGINT) AS c2 FROM g2 GROUP BY 1),
      |n AS (SELECT CAST(SUM(c12) AS BIGINT) AS nb FROM g2),
      |p AS (SELECT w1, w2, c12,
      |        CAST(round(log2(CAST(c12 AS DOUBLE) * nb / (CAST(c1 AS DOUBLE) * c2))
      |          * 1000000) AS BIGINT) AS micro_pmi
      |      FROM g2 JOIN cl USING (w1) JOIN cr USING (w2), n
      |      WHERE c12 >= 5)
      |SELECT w1, w2, c12, micro_pmi FROM p
      |ORDER BY micro_pmi DESC, w1, w2 LIMIT 25""".stripMargin)(
    (s, d) => {
      val g2 = bigramStream(s, d)
        .groupBy("w1", "w2").agg(count(lit(1)).as("c12"))
      val cl = g2.groupBy("w1").agg(sum("c12").as("c1"))
      val cr = g2.groupBy("w2").agg(sum("c12").as("c2"))
      val n = g2.agg(sum("c12").as("nb"))
      g2.filter(col("c12") >= 5)
        .join(cl, Seq("w1")).join(cr, Seq("w2"))
        .crossJoin(broadcast(n))
        .select(col("w1"), col("w2"), col("c12"),
          round(log2(col("c12").cast("double") * col("nb")
            / (col("c1").cast("double") * col("c2"))) * 1000000)
            .cast("long").as("micro_pmi"))
        .orderBy(col("micro_pmi").desc, col("w1"), col("w2"))
        .limit(25)
    })

  /** RENDEZVOUS (highest-random-weight) SHARDING — q199's missing
    * property: q199 balances a FIXED shard count, but re-dealing on
    * S→S+1 moves almost every doc (rank mod S reshuffles globally).
    * HRW hashing (Thaler & Ravishankar 1998 — the scheme behind
    * consistent routing in storage systems) assigns each doc to
    * argmax_s h(doc, s), so adding shard S+1 moves EXACTLY the docs
    * whose new-shard hash wins — an expected 1/(S+1) of the corpus —
    * and every moved doc moves TO the new shard (nothing reshuffles
    * among survivors; spec-pinned, not just asserted in prose). The
    * weight is the portable char fold over 'rdv:s:doc_id' passed
    * through a SQUARE-MOD scramble (h² mod p): the raw fold is
    * POLYNOMIAL in the shard digit — candidates differ by s·131^k with
    * k = the digit's distance from the end, which for short doc_ids
    * never wraps the modulus, making the weight MONOTONE in s so the
    * newest shard always won (the spec caught this as a 100% moved
    * fraction) — squaring makes the s-dependence quadratic with
    * many-wrap cross terms, restoring the uniformity HRW needs. Argmax
    * ties break toward the LOWER shard (first-max in both engines).
    * Everything is
    * scan-stage per-doc arithmetic — S hash folds per doc, no shuffle,
    * no state; the output here carries both the S=8 and S=9 worlds
    * plus the moved flag so the reshard cost is measured, not
    * estimated. Output: one row per doc. HASH-MATCHED.
    */
  val q206 = QueryDef.oracle("q206_rendezvous_sharding", {
    def hsList(s: Int) =
      s"""list_transform([list_reduce(list_prepend(CAST(0 AS BIGINT),
         |   list_transform(string_split(concat('rdv:', CAST(s AS VARCHAR),
         |       ':', CAST(doc_id AS VARCHAR)), ''),
         |     c -> CAST(unicode(c) AS BIGINT))),
         |   (a, b) -> (a * 131 + b) % 1000000007) FOR s IN range(0, $s)],
         | h -> h * h % 1000000007)""".stripMargin
    s"""WITH h AS (SELECT doc_id, ${hsList(8)} AS h8, ${hsList(9)} AS h9
       |           FROM documents)
       |SELECT doc_id,
       |       CAST(list_position(h8, list_max(h8)) - 1 AS BIGINT) AS shard8,
       |       CAST(list_position(h9, list_max(h9)) - 1 AS BIGINT) AS shard9,
       |       list_position(h8, list_max(h8)) <> list_position(h9, list_max(h9))
       |         AS moved
       |FROM h""".stripMargin})(
    (s, d) => {
      def hs(n: Int) = transform(
        transform(sequence(lit(0), lit(n - 1)), sh =>
          tokHash(concat(lit("rdv:"), sh.cast("string"), lit(":"),
            col("doc_id").cast("string")))),
        h => h * h % 1000000007L)
      // first-max argmax (ties toward the lower shard, both engines)
      def arg(arr: Column) =
        (array_position(arr, array_max(arr)) - 1).cast("long")
      Tables.documents(s, d)
        .select(col("doc_id"), hs(8).as("h8"), hs(9).as("h9"))
        .select(col("doc_id"), arg(col("h8")).as("shard8"),
          arg(col("h9")).as("shard9"),
          (arg(col("h8")) =!= arg(col("h9"))).as("moved"))
    })

  /** The q43/q98 portable char fold, locally named for q206. */
  private def tokHash(c: Column): Column =
    graft.functions.TextFunctions.portableStringHash(c)

  /** FILTER CALIBRATION contingency — the question a pipeline asks
    * before trusting its cheap filter: does q41's heuristic quality
    * score AGREE with the unigram-LM perplexity filter (the CCNet
    * signal), and where do they disagree? For every scored document,
    * cross-tabulate its q172 perplexity bucket (the SAME per-lang
    * NTILE(3) head/middle/tail — shared [[lmCtes]], so the buckets
    * cannot drift from q172) against its quality decile (q205's exact
    * micro-quality idiom: round(quality·10⁴), integer-div to a decile,
    * capped at 9), with each cell's within-bucket share in ppm. Read
    * it like a confusion matrix: mass on the head-bucket/high-decile
    * diagonal means the cheap filter can pre-screen for the expensive
    * one; a head-bucket/low-decile cell is fluent text the heuristic
    * under-rates (and vice versa — each off-diagonal cell is a
    * concrete disagreement population worth sampling). Docs the LM
    * cannot score (no tokens) are excluded, matching q172.
    *
    * Scale shape: the LM side is q123's vocab-bounded aggregate
    * chain; the quality side is scan-stage; the join is doc-keyed
    * (ids + small ints, never text); output ≤ 3·10 cells + a 3-row
    * broadcast bucket total. HASH-MATCHED. */
  val q223 = QueryDef.oracle("q223_filter_calibration", {
    val qualitySql = graft.operators.TextQueries.qualitySql
    s"""$lmCtes,
      |scored AS (SELECT d.doc_id, d.lang, doc.micro_sum, doc.n_toks
      |           FROM documents d JOIN doc USING (doc_id)),
      |bkt AS (SELECT doc_id,
      |          NTILE(3) OVER (PARTITION BY lang
      |            ORDER BY micro_sum * 1.0 / n_toks, doc_id) AS b
      |        FROM scored),
      |q AS (SELECT doc_id, $qualitySql AS quality FROM documents),
      |w AS (SELECT doc_id, CAST(round(quality * 10000) AS BIGINT) AS w_micro
      |      FROM q),
      |cell AS (SELECT
      |           CASE b WHEN 1 THEN 'head' WHEN 2 THEN 'middle' ELSE 'tail' END
      |             AS bucket,
      |           CAST(least(w_micro // 1000, 9) AS BIGINT) AS q_decile
      |         FROM bkt JOIN w USING (doc_id)),
      |tot AS (SELECT bucket, CAST(count(*) AS BIGINT) AS n_bucket
      |        FROM cell GROUP BY 1)
      |SELECT c.bucket, c.q_decile, CAST(count(*) AS BIGINT) AS n_docs,
      |       CAST((1000000 * count(*)) // t.n_bucket AS BIGINT) AS share_ppm
      |FROM cell c JOIN tot t USING (bucket)
      |GROUP BY c.bucket, c.q_decile, t.n_bucket""".stripMargin})(
    (s, d) => {
      val scored = Tables.documents(s, d).select(col("doc_id"), col("lang"))
        .join(lmDocScores(s, d), Seq("doc_id"))
      val bpt = col("micro_sum") * lit(1.0) / col("n_toks")
      val wB = Window.partitionBy("lang").orderBy(bpt.asc, col("doc_id"))
      val bkt = scored.withColumn("b", ntile(3).over(wB))
        .select(col("doc_id"),
          when(col("b") === 1, "head").when(col("b") === 2, "middle")
            .otherwise("tail").as("bucket"))
      val w = Tables.documents(s, d)
        .select(col("doc_id"),
          round(qualityScore(col("text")) * 10000).cast("long").as("w_micro"))
      val cell = bkt.join(w, Seq("doc_id"))
        .select(col("bucket"),
          expr("CAST(least(w_micro div 1000, 9) AS BIGINT)").as("q_decile"))
      val tot = cell.groupBy("bucket").agg(count(lit(1)).as("n_bucket"))
      cell.groupBy("bucket", "q_decile").agg(count(lit(1)).as("n_docs"))
        .join(broadcast(tot), Seq("bucket"))
        .select(col("bucket"), col("q_decile"), col("n_docs"),
          expr("(1000000 * n_docs) div n_bucket").as("share_ppm"))
    })

  /** MIXTURE EPOCHS — the data-recipe number q166's shares and q214's
    * apportionment stop one step short of: allocate a fixed TOKEN
    * budget (1M here; the ratio is what matters) across sources by the
    * shared √n temperature weights with exact largest-remainder
    * dealing (Σalloc = budget, q214's chain verbatim), then divide by
    * each source's ACTUAL token count — epochs_ppm > 1e6 means the
    * source is repeated (upweighted past its size), < 1e6 means
    * subsampled. The `over_4_epochs` flag is the Muennighoff et al.
    * 2023 repetition cliff (returns from repeated data degrade sharply
    * past ~4 epochs) as an exact cross-multiplication — the row a
    * recipe review actually reads. Weights come from the ONE shared
    * [[mixtureWeightCtes]] chain so this cannot disagree with
    * q166/q214; token counts ride one scan-stage pass. Scale: two
    * map-side-combined source rollups + |sources|-row windows.
    * Output: one row per source. HASH-MATCHED. */
  val q257 = QueryDef.oracle("q257_mixture_epochs",
    s"""$mixtureWeightCtes,
       |tk AS (SELECT source,
       |         CAST(SUM(len(regexp_extract_all(text, '\\S+'))) AS BIGINT)
       |           AS n_tokens
       |       FROM documents GROUP BY source),
       |q AS (SELECT source, n_docs, weight_micro,
       |        CAST(weight_micro * 1000000 // total_micro AS BIGINT) AS base,
       |        CAST(weight_micro * 1000000 % total_micro AS BIGINT) AS rem
       |      FROM w, tot),
       |l AS (SELECT CAST(1000000 - SUM(base) AS BIGINT) AS leftover FROM q),
       |r AS (SELECT source, n_docs, weight_micro, base, rem,
       |        CAST(ROW_NUMBER() OVER (ORDER BY rem DESC, source) AS BIGINT)
       |          AS rk
       |      FROM q),
       |al AS (SELECT source, n_docs, weight_micro,
       |         base + CASE WHEN rk <= leftover THEN 1 ELSE 0 END AS alloc_tokens
       |       FROM r, l)
       |SELECT a.source, a.n_docs, t.n_tokens, a.weight_micro, a.alloc_tokens,
       |       CASE WHEN t.n_tokens = 0 THEN NULL
       |            ELSE CAST(a.alloc_tokens * 1000000 // t.n_tokens AS BIGINT)
       |       END AS epochs_ppm,
       |       a.alloc_tokens > 4 * t.n_tokens AS over_4_epochs
       |FROM al a JOIN tk t ON a.source = t.source""".stripMargin)(
    (s, d) => {
      import graft.functions.TextFunctions.tokenCount
      val (w, tot) = mixtureWeights(s, d)
      val tk = Tables.documents(s, d)
        .select(col("source"),
          coalesce(tokenCount(col("text")).cast("long"), lit(0L)).as("nt"))
        .groupBy("source").agg(sum("nt").as("n_tokens"))
      val q = w.crossJoin(broadcast(tot))
        .select(col("source"), col("n_docs"), col("weight_micro"),
          expr("weight_micro * 1000000 div total_micro").as("base"),
          (col("weight_micro") * 1000000 % col("total_micro")).as("rem"))
      val l = q.agg((lit(1000000L) - sum("base")).as("leftover"))
      q.withColumn("rk",
          row_number().over(Window.orderBy(col("rem").desc, col("source")))
            .cast("long"))
        .crossJoin(broadcast(l))
        .select(col("source"), col("n_docs"), col("weight_micro"),
          (col("base") +
            when(col("rk") <= col("leftover"), 1L).otherwise(0L))
            .as("alloc_tokens"))
        .join(tk, Seq("source"))
        .select(col("source"), col("n_docs"), col("n_tokens"),
          col("weight_micro"), col("alloc_tokens"),
          when(col("n_tokens") === 0, lit(null).cast("long"))
            .otherwise(expr("CAST(alloc_tokens * 1000000 div n_tokens AS BIGINT)"))
            .as("epochs_ppm"),
          (col("alloc_tokens") > col("n_tokens") * 4).as("over_4_epochs"))
    })

  /** EPOCH-CAPPED TOKEN WATERFILLING — the sampling-cap half of the
    * mixture question q166's temperature weights leave open: given a
    * training-token budget T (2× the corpus here) and a hard per-source
    * repetition cap (3 epochs — the LLaMA-style "don't loop a small
    * source forever" rule), allocate tokens by waterfilling: every
    * source gets the common water level except those whose cap sits
    * below it, which saturate and release budget to the rest. Exact
    * integer closed form, no iteration: sources sorted by (cap, name),
    * source k saturates iff cap_k·(n−k+1) ≤ T − Σ_{i<k} cap_i (the
    * saturation set is prefix-closed under this order — if k can't
    * saturate, k+1 has a larger cap and less budget), level = floor
    * share of the remaining budget over the unsaturated, remainder distributed
    * +1 to the first sources by name (the q214 largest-remainder
    * convention, made deterministic). epochs_micro = allocated·1e6 div
    * tokens is the per-source repetition factor a run config reads.
    * Scale shape: one map-side source token rollup; everything after is
    * |sources|-row windows. Output: one row per source. HASH-MATCHED.
    */
  val q302 = QueryDef.oracle("q302_token_waterfill",
    """WITH t AS (
      |  SELECT source,
      |         CAST(SUM(COALESCE(len(regexp_extract_all(text, '\S+')), 0))
      |              AS BIGINT) AS toks
      |  FROM documents GROUP BY source),
      |b AS (SELECT CAST(SUM(toks) * 2 AS BIGINT) AS budget,
      |             CAST(count(*) AS BIGINT) AS n FROM t),
      |o AS (SELECT source, toks, toks * 3 AS cap,
      |             ROW_NUMBER() OVER (ORDER BY toks * 3, source) AS rk,
      |             COALESCE(SUM(toks * 3) OVER (ORDER BY toks * 3, source
      |               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
      |               CAST(0 AS BIGINT)) AS pfx
      |      FROM t),
      |s AS (SELECT o.*, b.budget, b.n,
      |             cap * (n - rk + 1) <= budget - pfx AS sat
      |      FROM o, b),
      |lvl AS (SELECT CAST(SUM(CASE WHEN sat THEN cap ELSE 0 END) AS BIGINT) AS satsum,
      |               CAST(SUM(CASE WHEN sat THEN 1 ELSE 0 END) AS BIGINT) AS m
      |        FROM s),
      |lv AS (SELECT CASE WHEN n - m > 0 THEN (budget - satsum) // (n - m)
      |                   ELSE CAST(0 AS BIGINT) END AS level,
      |              CASE WHEN n - m > 0 THEN (budget - satsum) % (n - m)
      |                   ELSE CAST(0 AS BIGINT) END AS rem
      |       FROM lvl, b),
      |u AS (SELECT source, ROW_NUMBER() OVER (ORDER BY source) AS urk
      |      FROM s WHERE NOT sat)
      |SELECT s.source, s.toks, s.cap, s.sat AS saturated,
      |       CASE WHEN s.sat THEN s.cap
      |            ELSE lv.level + CASE WHEN u.urk <= lv.rem THEN 1 ELSE 0 END
      |       END AS allocated,
      |       CASE WHEN s.toks > 0
      |            THEN (CASE WHEN s.sat THEN s.cap
      |                       ELSE lv.level + CASE WHEN u.urk <= lv.rem THEN 1 ELSE 0 END
      |                  END) * 1000000 // s.toks
      |            ELSE CAST(0 AS BIGINT) END AS epochs_micro
      |FROM s LEFT JOIN u USING (source), lv""".stripMargin)(
    (s, d) => {
      val t = Tables.documents(s, d)
        .select(col("source"),
          coalesce(tokenCount(col("text")).cast("long"), lit(0L)).as("tk"))
        .groupBy("source").agg(sum("tk").as("toks"))
      val b = t.agg((sum("toks") * 2).as("budget"), count(lit(1)).as("n"))
      val o = t.select(col("source"), col("toks"), (col("toks") * 3).as("cap"))
        .withColumn("rk", row_number().over(
          Window.orderBy(col("cap"), col("source"))).cast("long"))
        .withColumn("pfx", coalesce(sum("cap").over(
          Window.orderBy(col("cap"), col("source"))
            .rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
      val st = o.crossJoin(broadcast(b))
        .withColumn("sat", col("cap") * (col("n") - col("rk") + 1) <=
          col("budget") - col("pfx"))
      val lvl = st.agg(
        sum(when(col("sat"), col("cap")).otherwise(0L)).as("satsum"),
        sum(when(col("sat"), 1L).otherwise(0L)).as("m"),
        max("budget").as("budget"), max("n").as("n"))
        .select(
          when(col("n") - col("m") > 0,
            expr("(budget - satsum) div (n - m)")).otherwise(0L).as("level"),
          when(col("n") - col("m") > 0,
            expr("(budget - satsum) % (n - m)")).otherwise(0L).as("rem"))
      val u = st.filter(!col("sat"))
        .select(col("source"),
          row_number().over(Window.orderBy("source")).cast("long").as("urk"))
      st.join(u, Seq("source"), "left").crossJoin(broadcast(lvl))
        .select(col("source"), col("toks"), col("cap"), col("sat").as("saturated"),
          when(col("sat"), col("cap"))
            .otherwise(col("level") +
              when(col("urk") <= col("rem"), 1L).otherwise(0L)).as("allocated"))
        .withColumn("epochs_micro",
          when(col("toks") > 0, expr("allocated * 1000000 div toks"))
            .otherwise(0L))
    })

  /** RETRIEVAL SOURCE-BIAS AUDIT — the serving-side fairness question
    * none of the ranking queries ask: does BM25's top-50 over-serve
    * some sources relative to their corpus share? (A RAG system built
    * on a biased retriever samples a different corpus than the one
    * curation balanced — q166/q214's mixture work is undone at query
    * time.) Per source: its share of the BM25 top-50 next to its share
    * of the corpus, both in exact ppm, and bias_ppm = top − corpus
    * (negative = under-served; sources absent from the top-50 still
    * emit rows). Scoring is the ONE shared [[bm25Ctes]] /
    * [[bm25ScoreFrame]] chain (q124/q270/q292's — the audit cannot
    * drift from the retriever it audits). Scale shape: the BM25
    * rollups + a 50-row TakeOrdered list joined broadcast to the
    * corpus source counts — |sources| output rows. HASH-MATCHED. */
  val q320 = QueryDef.oracle("q320_retrieval_source_bias",
    s"""WITH $bm25Ctes,
      |top AS (SELECT doc_id FROM (
      |          SELECT doc_id, ROW_NUMBER() OVER (
      |            ORDER BY score_micro DESC, doc_id) AS rnk FROM agg)
      |        WHERE rnk <= 50),
      |ts AS (SELECT d.source, CAST(count(*) AS BIGINT) AS n_top
      |       FROM top JOIN documents d USING (doc_id) GROUP BY 1),
      |cs AS (SELECT source, CAST(count(*) AS BIGINT) AS n_corpus
      |       FROM documents GROUP BY 1),
      |nd AS (SELECT CAST(count(*) AS BIGINT) AS n_docs FROM documents),
      |nt AS (SELECT CAST(count(*) AS BIGINT) AS k FROM top)
      |SELECT cs.source, COALESCE(ts.n_top, 0) AS n_top, cs.n_corpus,
      |       CAST(COALESCE(ts.n_top, 0) * 1000000 // nt.k AS BIGINT)
      |         AS top_share_ppm,
      |       CAST(cs.n_corpus * 1000000 // nd.n_docs AS BIGINT)
      |         AS corpus_share_ppm,
      |       CAST(COALESCE(ts.n_top, 0) * 1000000 // nt.k
      |            - cs.n_corpus * 1000000 // nd.n_docs AS BIGINT) AS bias_ppm
      |FROM cs LEFT JOIN ts USING (source), nd, nt""".stripMargin)(
    (s, d) => {
      val docs = Tables.documents(s, d)
      val top = bm25ScoreFrame(s, d)
        .orderBy(col("score_micro").desc, col("doc_id")).limit(50)
        .select("doc_id")
      val ts = top.join(docs.select("doc_id", "source"), Seq("doc_id"))
        .groupBy("source").agg(count(lit(1)).as("n_top"))
      val cs = docs.groupBy("source").agg(count(lit(1)).as("n_corpus"))
      val nd = docs.agg(count(lit(1)).as("n_docs"))
      val nt = top.agg(count(lit(1)).as("k"))
      cs.join(broadcast(ts), Seq("source"), "left")
        .crossJoin(broadcast(nd)).crossJoin(broadcast(nt))
        .select(col("source"),
          coalesce(col("n_top"), lit(0L)).as("n_top"), col("n_corpus"),
          expr("CAST(coalesce(n_top, 0) * 1000000 div k AS BIGINT)")
            .as("top_share_ppm"),
          expr("CAST(n_corpus * 1000000 div n_docs AS BIGINT)")
            .as("corpus_share_ppm"),
          expr("CAST(coalesce(n_top, 0) * 1000000 div k" +
            " - n_corpus * 1000000 div n_docs AS BIGINT)").as("bias_ppm"))
    })

  /** CROSS-SOURCE PERPLEXITY matrix — the domain-similarity table
    * behind CCNet-style LM filtering (q123 scores every doc with ONE
    * global LM; this trains an add-1 unigram LM PER SOURCE and scores
    * every source's token stream under every source's model): cell
    * (train, eval) is the average surprisal in micro-bits/token of
    * eval's stream under train's LM — the diagonal is held-in fit, an
    * off-diagonal cell near the diagonal says the two crawls speak the
    * same language (cheap transfer, redundant mixture mass), a high
    * cell says out-of-domain. Surprisal is q123's exact convention
    * (round(log2((N+V)/(c+1))·10⁶) — identical double op in both
    * engines, then pure integer sums). Scale shape: one scan → the
    * (source, tok) count rollup PINNED once (it is the eval stream,
    * the per-source LM, the totals and the vocab) → a vocab-keyed left
    * join between eval rollup × |sources| axis and the LM rollup —
    * everything after the scan is vocab-sized × |sources|, never
    * corpus-sized. Output: |sources|² rows. HASH-MATCHED. */
  val q328 = QueryDef.oracle("q328_cross_perplexity",
    """WITH toks AS (SELECT source, unnest(list_filter(
      |                regexp_split_to_array(text, '\s+'), x -> x <> '')) AS tok
      |              FROM documents),
      |tc AS (SELECT source, tok, CAST(count(*) AS BIGINT) AS c
      |       FROM toks GROUP BY 1, 2),
      |nt AS (SELECT source, CAST(SUM(c) AS BIGINT) AS n FROM tc GROUP BY 1),
      |v AS (SELECT CAST(count(DISTINCT tok) AS BIGINT) AS vocab FROM tc),
      |x AS (SELECT e.source AS eval_source, t.source AS train_source,
      |        e.c AS ec, COALESCE(tr.c, CAST(0 AS BIGINT)) AS trc, t.n, v.vocab
      |      FROM tc e CROSS JOIN nt t
      |      LEFT JOIN tc tr ON tr.source = t.source AND tr.tok = e.tok
      |      CROSS JOIN v),
      |sc AS (SELECT eval_source, train_source,
      |         CAST(SUM(ec) AS BIGINT) AS n_tokens,
      |         CAST(SUM(ec * CAST(round(log2(CAST(n + vocab AS DOUBLE)
      |                / (trc + 1)) * 1000000) AS BIGINT)) AS BIGINT) AS micro_sum
      |       FROM x GROUP BY 1, 2)
      |SELECT eval_source, train_source, n_tokens,
      |       CAST(micro_sum // n_tokens AS BIGINT) AS bits_per_tok_micro,
      |       eval_source = train_source AS is_diagonal
      |FROM sc""".stripMargin)(
    (s, d) => {
      import graft.functions.TextFunctions.tokens
      // the (source, tok) rollup is the eval stream, the per-source LM,
      // the totals AND the vocab: pin it once
      val tc = Tables.documents(s, d)
        .select(col("source"), explode(tokens(col("text"))).as("tok"))
        .groupBy("source", "tok").agg(count(lit(1)).as("c"))
        .localCheckpoint(false)
      val nt = tc.groupBy("source").agg(sum("c").as("n"))
      val v = tc.agg(countDistinct("tok").as("vocab"))
      val x = tc.toDF("eval_source", "tok", "ec")
        .crossJoin(broadcast(nt.toDF("train_source", "n")))
        .join(tc.toDF("train_source", "tok", "trc"),
          Seq("train_source", "tok"), "left")
        .crossJoin(broadcast(v))
      x.groupBy("eval_source", "train_source")
        .agg(sum("ec").as("n_tokens"),
          sum(col("ec") * round(log2((col("n") + col("vocab")).cast("double")
            / (coalesce(col("trc"), lit(0L)) + lit(1))) * lit(1000000))
            .cast("long")).as("micro_sum"))
        .select(col("eval_source"), col("train_source"), col("n_tokens"),
          expr("CAST(micro_sum div n_tokens AS BIGINT)")
            .as("bits_per_tok_micro"),
          (col("eval_source") === col("train_source")).as("is_diagonal"))
    })

  /** DEDUP → LM IMPACT — the Lee et al. 2022 headline claim
    * ("Deduplicating Training Data Makes Language Models Better"),
    * MEASURED on this corpus instead of assumed: train the add-1
    * unigram LM twice on the train split (doc_id % 5 ≠ 0) — once on
    * every train doc ('full'), once on exact-dedup keepers only
    * ('dedup', q50's rule: min doc_id per md5(text) group among train
    * docs) — and score BOTH models on the same held-out split
    * (doc_id % 5 = 0) in exact micro-bits (q187's ladder:
    * micro_bits = round(log2((T+V)/(c+1))·10⁶) per eval TYPE, weighted
    * by eval count; V is the WHOLE-corpus vocab so the two variants
    * smooth over an identical event space and their cross-entropies are
    * directly comparable). The output row pair is the evidence a data
    * curator cites for (or against) running the dedup pass before
    * training — on a template-duplicated corpus the 'full' model
    * overweights repeated content and pays for it on held-out text.
    * Scale shape: one train scan exploded per variant tag (keeper docs
    * carry both tags) → (variant, tok)-keyed counts → eval-vocab-keyed
    * left join (eval types × 2 variants) → 2-row report. Output: one
    * row per variant. HASH-MATCHED. */
  val q343 = QueryDef.oracle("q343_dedup_lm_impact",
    """WITH docs AS (SELECT doc_id, COALESCE(text, '') AS text FROM documents),
      |tr AS (SELECT doc_id, text, md5(text) AS h FROM docs WHERE doc_id % 5 <> 0),
      |keep AS (SELECT h, min(doc_id) AS keeper_id FROM tr GROUP BY 1),
      |tagged AS (SELECT t.doc_id, t.text, v.variant
      |           FROM tr t JOIN keep k USING (h),
      |                unnest(['full', 'dedup']) AS v(variant)
      |           WHERE v.variant = 'full' OR t.doc_id = k.keeper_id),
      |tt AS (SELECT variant, unnest(list_filter(
      |         regexp_split_to_array(text, '\s+'), x -> x <> '')) AS tok
      |       FROM tagged),
      |cv AS (SELECT variant, tok, CAST(count(*) AS BIGINT) AS c
      |       FROM tt GROUP BY 1, 2),
      |tv AS (SELECT variant, CAST(SUM(c) AS BIGINT) AS t_train FROM cv GROUP BY 1),
      |nd AS (SELECT variant, CAST(count(DISTINCT doc_id) AS BIGINT) AS n_train_docs
      |       FROM tagged GROUP BY 1),
      |va AS (SELECT CAST(count(DISTINCT tok) AS BIGINT) AS vocab
      |       FROM (SELECT unnest(list_filter(
      |               regexp_split_to_array(text, '\s+'), x -> x <> '')) AS tok
      |             FROM docs)),
      |ev AS (SELECT tok, CAST(count(*) AS BIGINT) AS m
      |       FROM (SELECT unnest(list_filter(
      |               regexp_split_to_array(text, '\s+'), x -> x <> '')) AS tok
      |             FROM docs WHERE doc_id % 5 = 0) GROUP BY 1),
      |sc AS (SELECT tv.variant, ev.tok, ev.m,
      |         CAST(round(log2(CAST(tv.t_train + va.vocab AS DOUBLE)
      |              / (COALESCE(cv.c, 0) + 1)) * 1000000) AS BIGINT) AS micro_bits
      |       FROM ev CROSS JOIN tv CROSS JOIN va
      |       LEFT JOIN cv ON cv.variant = tv.variant AND cv.tok = ev.tok),
      |agg AS (SELECT variant, CAST(SUM(m * micro_bits) AS BIGINT) AS micro_sum,
      |          CAST(SUM(m) AS BIGINT) AS eval_tokens
      |        FROM sc GROUP BY 1)
      |SELECT a.variant, nd.n_train_docs, tv.t_train AS n_train_tokens,
      |       va.vocab, a.eval_tokens,
      |       round(a.micro_sum / 1000000.0 / a.eval_tokens, 4) AS bits_per_token
      |FROM agg a JOIN tv USING (variant) JOIN nd USING (variant), va""".stripMargin)(
    (s, d) => {
      val docs = Tables.documents(s, d)
        .select(col("doc_id"), coalesce(col("text"), lit("")).as("text"))
        .localCheckpoint(false) // feeds train tagging, vocab, and eval
      val isEval = col("doc_id") % 5 === 0
      val tr = docs.filter(!isEval).withColumn("h", md5(col("text")))
      val keep = tr.groupBy("h").agg(min("doc_id").as("keeper_id"))
      // the pin stays: unpinned, q343 ran a median 1.04x its pinned time
      // over six sf0.1 windows
      val tagged = tr.join(keep, Seq("h"))
        .withColumn("variant", explode(
          when(col("doc_id") === col("keeper_id"),
            array(lit("full"), lit("dedup"))).otherwise(array(lit("full")))))
        .select(col("variant"), col("doc_id"), col("text"))
        .localCheckpoint(false) // feeds counts and the doc rollup
      val cv = tagged
        .select(col("variant"), explode(tokens(col("text"))).as("tok"))
        .groupBy("variant", "tok").agg(count(lit(1)).as("c")) // totals + the eval join
      val tv = cv.groupBy("variant").agg(sum("c").as("t_train"))
      val nd = tagged.groupBy("variant").agg(count(lit(1)).as("n_train_docs"))
      val va = docs.select(explode(tokens(col("text"))).as("tok"))
        .agg(countDistinct("tok").as("vocab"))
      val ev = docs.filter(isEval)
        .select(explode(tokens(col("text"))).as("tok"))
        .groupBy("tok").agg(count(lit(1)).as("m"))
      val sc = ev.crossJoin(broadcast(tv)).crossJoin(broadcast(va))
        .join(cv, Seq("variant", "tok"), "left")
        .withColumn("micro_bits", round(log2(
          (col("t_train") + col("vocab")).cast("double")
            / (coalesce(col("c"), lit(0L)) + 1)) * 1000000).cast("long"))
      sc.groupBy("variant")
        .agg(sum(col("m") * col("micro_bits")).as("micro_sum"),
          sum("m").as("eval_tokens"))
        .join(broadcast(tv), Seq("variant"))
        .join(broadcast(nd), Seq("variant"))
        .crossJoin(broadcast(va))
        .select(col("variant"), col("n_train_docs"),
          col("t_train").as("n_train_tokens"), col("vocab"),
          col("eval_tokens"),
          round(col("micro_sum") / lit(1000000.0) / col("eval_tokens"), 4)
            .as("bits_per_token"))
    })

  /** LEAVE-ONE-SOURCE-OUT DATA VALUATION — the ablation table behind
    * every mixture decision: q343's train/eval ladder re-run with one
    * variant per dropped source ('drop_<s>' trains on every train doc
    * NOT from s; 'all' is the reference), scoring each model on the SAME
    * held-out split with the SAME whole-corpus smoothing vocab, so the
    * per-variant cross-entropies differ ONLY by the training data. The
    * verdict column is the exact micro-bit delta vs 'all': positive =
    * held-out got WORSE without that source = the source is worth
    * tokens; ≈0/negative = redundant (its content is covered by the
    * others — on a duplicated corpus, exactly what q159/q236's overlap
    * matrices predict). This is the measured form of "which source
    * earns its budget" that q302's waterfilling and q214's
    * apportionment take as input.
    *
    * SUBTRACTIVE ONE-ROLLUP FORM (r14 verdict #1 — the shipped r14
    * shape fanned every train document into |sources|+1 variant copies
    * through a crossJoin tag and tokenized each copy, ~21 corpus token
    * scans' worth of explode+shuffle for a 21-row answer): the add-1
    * unigram LM this trains per variant is algebraically subtractive,
    * so ONE (source, split, tok) rollup — the query's single corpus
    * token scan, asserted by PlanShapeSpec as the plan's only Generate —
    * yields every variant exactly: c_drop_s(tok) = c_all(tok) −
    * c_s(tok), t_drop_s = t_all − t_s, n_docs_drop_s = n_all − n_s
    * (the 'all' row is the rollup's own grand total), and the
    * smoothing vocab is the same rollup's distinct-token count. The
    * per-variant scoring is then pure vocab-sized arithmetic: eval
    * types × the |sources|+1-row broadcast axis, minus a (tok, source)-
    * keyed left join for the one subtracted count. Scale shape: one
    * corpus token scan → (source, split, tok) rollup → eval-vocab ×
    * bounded-axis arithmetic → |sources|+1-row report. Output: one row
    * per variant. HASH-MATCHED (values identical to the fan-out form
    * by the subtraction identity, so the r14 hash stands). */
  val q344 = QueryDef.oracle("q344_loo_source_valuation",
    """WITH docs AS (SELECT doc_id, source, COALESCE(text, '') AS text
      |              FROM documents),
      |base AS (SELECT source, is_eval, tok, CAST(count(*) AS BIGINT) AS c
      |         FROM (SELECT source, doc_id % 5 = 0 AS is_eval,
      |                 unnest(list_filter(
      |                   regexp_split_to_array(text, '\s+'), x -> x <> '')) AS tok
      |               FROM docs)
      |         GROUP BY 1, 2, 3),
      |cs AS (SELECT source, tok, c FROM base WHERE NOT is_eval),
      |ca AS (SELECT tok, CAST(SUM(c) AS BIGINT) AS c_all FROM cs GROUP BY 1),
      |ts AS (SELECT source, CAST(SUM(c) AS BIGINT) AS t_s FROM cs GROUP BY 1),
      |persrc AS (SELECT source,
      |             CAST(count(CASE WHEN doc_id % 5 <> 0 THEN 1 END) AS BIGINT)
      |               AS n_s
      |           FROM docs GROUP BY 1),
      |tot AS (SELECT CAST(COALESCE((SELECT SUM(c) FROM cs), 0) AS BIGINT)
      |            AS t_all,
      |          CAST(COALESCE((SELECT SUM(n_s) FROM persrc), 0) AS BIGINT)
      |            AS n_all),
      |vars AS (SELECT 'drop_' || p.source AS variant, p.source AS excluded,
      |           CAST(t.t_all - COALESCE(ts.t_s, 0) AS BIGINT) AS t_train,
      |           CAST(t.n_all - p.n_s AS BIGINT) AS n_train_docs
      |         FROM persrc p LEFT JOIN ts USING (source), tot t
      |         UNION ALL
      |         SELECT 'all', NULL, t_all, n_all FROM tot),
      |va AS (SELECT CAST(count(DISTINCT tok) AS BIGINT) AS vocab FROM base),
      |ev AS (SELECT tok, CAST(SUM(c) AS BIGINT) AS m
      |       FROM base WHERE is_eval GROUP BY 1),
      |evc AS (SELECT e.tok, e.m, COALESCE(ca.c_all, CAST(0 AS BIGINT)) AS c_all
      |        FROM ev e LEFT JOIN ca USING (tok)),
      |sc AS (SELECT v.variant, e.m,
      |         CAST(round(log2(CAST(v.t_train + va.vocab AS DOUBLE)
      |              / (e.c_all - COALESCE(cs.c, 0) + 1)) * 1000000) AS BIGINT)
      |           AS micro_bits
      |       FROM evc e CROSS JOIN vars v CROSS JOIN va
      |       LEFT JOIN cs ON cs.source = v.excluded AND cs.tok = e.tok),
      |agg AS (SELECT variant, CAST(SUM(m * micro_bits) AS BIGINT) AS micro_sum,
      |          CAST(SUM(m) AS BIGINT) AS eval_tokens
      |        FROM sc GROUP BY 1),
      |fin AS (SELECT variant, micro_sum, eval_tokens,
      |          CAST(micro_sum // eval_tokens AS BIGINT) AS mbits_per_token
      |        FROM agg),
      |ref AS (SELECT mbits_per_token AS ref_mbits FROM fin WHERE variant = 'all')
      |SELECT f.variant, v.n_train_docs, v.t_train AS n_train_tokens,
      |       f.eval_tokens, f.mbits_per_token,
      |       CAST(f.mbits_per_token - ref.ref_mbits AS BIGINT) AS delta_mbits
      |FROM fin f JOIN vars v USING (variant), ref""".stripMargin)(
    (s, d) => looSourceValuation(s, d, pin = true))

  /** q344's builder, pin-parameterized: the query runs with every shared
    * fragment pinned (localCheckpoint — the rollup, the axis, and the
    * report table each compute once); PlanShapeSpec audits the UNPINNED
    * form, where the whole lineage is one visible tree, to assert the
    * subtractive shape mechanically: exactly ONE Generate (= one corpus
    * token scan) in the entire plan. The pins stay: the consumers filter
    * the rollup and the report table on grouping columns (`is_eval`,
    * `variant`), Spark pushes those filters below the aggregates, and the
    * consumers then share no exchange: at sf0.01 (local[4]) a warm build
    * plus one run took 33 jobs unpinned, 29 with only the rollup and the
    * report table pinned, and 21 with every pin. */
  private[graft] def looSourceValuation(s: SparkSession, d: String,
      pin: Boolean): DataFrame = {
    def maybePin(df: DataFrame): DataFrame =
      if (pin) df.localCheckpoint(false) else df
    val docs = Tables.documents(s, d)
    val isEval = col("doc_id") % 5 === 0
    // THE one corpus token scan: (source, split, tok) counts feed the
    // train rollup, the eval stream, AND the smoothing vocab
    val base = maybePin(docs
      .select(col("source"), isEval.as("is_eval"),
        explode(tokens(coalesce(col("text"), lit("")))).as("tok"))
      .groupBy("source", "is_eval", "tok").agg(count(lit(1)).as("c")))
    val cs = base.filter(!col("is_eval")).select("source", "tok", "c")
    val ca = cs.groupBy("tok").agg(sum("c").as("c_all"))
    val ts = cs.groupBy("source").agg(sum("c").as("t_s"))
    // doc counts per source (empty-text docs count too — a doc-grain
    // metadata scan, never a second token pass)
    val perSrc = maybePin(docs.groupBy("source")
      .agg(count(when(!isEval, lit(1))).as("n_s"))) // |sources| rows
    val tot = cs.agg(coalesce(sum("c"), lit(0L)).as("t_all"))
      .crossJoin(perSrc.agg(coalesce(sum("n_s"), lit(0L)).as("n_all")))
    // the |sources|+1-row variant axis with its SUBTRACTED totals
    val vars = maybePin(perSrc.join(ts, Seq("source"), "left")
      .crossJoin(broadcast(tot))
      .select(concat(lit("drop_"), col("source")).as("variant"),
        col("source").as("excluded"),
        (col("t_all") - coalesce(col("t_s"), lit(0L))).as("t_train"),
        (col("n_all") - col("n_s")).as("n_train_docs"))
      .unionByName(tot.select(lit("all").as("variant"),
        lit(null).cast("string").as("excluded"),
        col("t_all").as("t_train"), col("n_all").as("n_train_docs"))))
    val va = base.agg(countDistinct("tok").as("vocab"))
    val ev = base.filter(col("is_eval")).groupBy("tok").agg(sum("c").as("m"))
    val evc = ev.join(ca, Seq("tok"), "left")
      .select(col("tok"), col("m"),
        coalesce(col("c_all"), lit(0L)).as("c_all"))
    // per (variant, eval type): c_v = c_all − c_excluded (the NULL
    // 'all' key never matches, so its subtraction is 0)
    val evs = cs.select(col("tok"), col("source").as("excluded"),
      col("c").as("c_excl"))
    val sc = evc.crossJoin(broadcast(vars)).crossJoin(broadcast(va))
      .join(evs, Seq("tok", "excluded"), "left")
      .withColumn("micro_bits", round(log2(
        (col("t_train") + col("vocab")).cast("double")
          / (col("c_all") - coalesce(col("c_excl"), lit(0L)) + 1))
        * 1000000).cast("long"))
    val fin = maybePin(sc.groupBy("variant")
      .agg(sum(col("m") * col("micro_bits")).as("micro_sum"),
        sum("m").as("eval_tokens"))
      .withColumn("mbits_per_token",
        expr("CAST(micro_sum div eval_tokens AS BIGINT)")))
    val ref = fin.filter(col("variant") === "all")
      .select(col("mbits_per_token").as("ref_mbits"))
    fin.join(broadcast(vars), Seq("variant"))
      .crossJoin(broadcast(ref))
      .select(col("variant"), col("n_train_docs"),
        col("t_train").as("n_train_tokens"), col("eval_tokens"),
        col("mbits_per_token"),
        (col("mbits_per_token") - col("ref_mbits")).as("delta_mbits"))
  }

  /** SPAN-DEDUP → LM IMPACT — q343's measured ladder re-run on the
    * SPAN-deduped variant (r14 verdict #7: the exact-substring pass
    * must produce its product, and this is the product SCORED): train
    * the add-1 unigram LM on the full train split vs the train split
    * with q339's 32-token removable spans CUT (Lee et al. 2022's actual
    * operating point — substring-level, not doc-level, removal), score
    * both on the same held-out split with the same whole-corpus
    * smoothing vocab in exact micro-bits. Next to q343 this completes
    * the dedup-impact table: doc-level exact dedup vs substring-level
    * span dedup, same eval, directly comparable bits/token. The cut
    * uses removable STARTS directly — island coverage ≡ start coverage
    * (gap ≤ L merging unions exactly the window intervals), so the cut
    * agrees with q354's span_tokens by construction — via q178's
    * per-doc HOF idiom (collect starts, filter tokens covered by
    * [p, p+32)). Shares the span fragments with q339/q354 (Spark:
    * `DedupQueries.removableSpanStarts`; oracle: the pinned dup32
    * chain). Scale shape: read-back starts → doc-keyed cut →
    * (variant, tok)-keyed counts ×2 → eval-vocab join → 2-row report.
    * Output: one row per variant. HASH-MATCHED. */
  val q355 = QueryDef.oracle("q355_span_dedup_lm_impact",
    s"""WITH ${graft.operators.DedupQueries.spanSuffixToksCte},
       |${graft.operators.DedupQueries.spanSuffixDuckArm(32)},
       |ps AS (SELECT doc_id, list(i0) AS ps FROM dup32
       |       WHERE doc_id % 5 <> 0 GROUP BY 1),
       |tr AS (SELECT t.doc_id, COALESCE(t.l, []) AS l, COALESCE(ps, []) AS ps
       |       FROM toks t LEFT JOIN ps USING (doc_id)
       |       WHERE t.doc_id % 5 <> 0),
       |kt AS (SELECT doc_id,
       |         [l[i] FOR i IN range(1, len(l) + 1)
       |          IF len(list_filter(ps, p -> p <= i - 1 AND i - 1 < p + 32)) = 0]
       |           AS kept
       |       FROM tr),
       |tt AS (SELECT 'full' AS variant, unnest(l) AS tok FROM tr
       |       UNION ALL
       |       SELECT 'span_dedup' AS variant, unnest(kept) AS tok FROM kt),
       |cv AS (SELECT variant, tok, CAST(count(*) AS BIGINT) AS c
       |       FROM tt GROUP BY 1, 2),
       |vax AS (SELECT unnest(['full', 'span_dedup']) AS variant),
       |tv AS (SELECT v.variant, CAST(COALESCE(SUM(c), 0) AS BIGINT) AS t_train
       |       FROM vax v LEFT JOIN cv USING (variant) GROUP BY 1),
       |nd AS (SELECT CAST(count(*) AS BIGINT) AS n_train_docs FROM tr),
       |va AS (SELECT CAST(count(DISTINCT tok) AS BIGINT) AS vocab
       |       FROM (SELECT unnest(l) AS tok FROM toks)),
       |ev AS (SELECT tok, CAST(count(*) AS BIGINT) AS m
       |       FROM (SELECT unnest(l) AS tok FROM toks WHERE doc_id % 5 = 0)
       |       GROUP BY 1),
       |sc AS (SELECT tv.variant, ev.m,
       |         CAST(round(log2(CAST(tv.t_train + va.vocab AS DOUBLE)
       |              / (COALESCE(cv.c, 0) + 1)) * 1000000) AS BIGINT)
       |           AS micro_bits
       |       FROM ev CROSS JOIN tv CROSS JOIN va
       |       LEFT JOIN cv ON cv.variant = tv.variant AND cv.tok = ev.tok),
       |agg AS (SELECT variant, CAST(SUM(m * micro_bits) AS BIGINT) AS micro_sum,
       |          CAST(SUM(m) AS BIGINT) AS eval_tokens
       |        FROM sc GROUP BY 1)
       |SELECT a.variant, nd.n_train_docs, tv.t_train AS n_train_tokens,
       |       va.vocab, a.eval_tokens,
       |       round(a.micro_sum / 1000000.0 / a.eval_tokens, 4) AS bits_per_token
       |FROM agg a JOIN tv USING (variant), nd, va""".stripMargin)(
    (s, d) => {
      import s.implicits._
      // (r16: the parallelScan floor was TRIED here and measured WORSE —
      // 1.74 → 2.89 s isolated at sf0.1: the widened checkpoint spreads
      // ~4 s of total CPU over 32 tasks × ~18 stages, and the added
      // task-launch overhead exceeds the CPU win. The floor only pays
      // when a single stage carries the query's CPU, q219/q117-style.)
      val docs = Tables.documents(s, d)
        .select(col("doc_id"), coalesce(col("text"), lit("")).as("text"))
        .localCheckpoint(false) // feeds the cut, vocab, and eval
      val isEval = col("doc_id") % 5 === 0
      val ps = graft.operators.DedupQueries
        .removableSpanStarts(s, d, Seq(5))
        .filter(col("doc_id") % 5 =!= 0)
        .groupBy("doc_id").agg(collect_set(col("i0")).as("ps"))
      // the pin stays: unpinned, q355 ran 1.12-1.16x its pinned time in three sf0.1 windows
      val tr = docs.filter(!isEval)
        .select(col("doc_id"), tokens(col("text")).as("l"))
        .join(ps, Seq("doc_id"), "left")
        .select(col("doc_id"), col("l"),
          coalesce(col("ps"), array().cast("array<long>")).as("ps"))
        .withColumn("kept", filter(col("l"), (_, i) =>
          !exists(col("ps"), p => p <= i && i < p + 32)))
        .localCheckpoint(false) // feeds both variant streams + the doc count
      val tt = tr.select(lit("full").as("variant"), explode(col("l")).as("tok"))
        .unionByName(tr.select(lit("span_dedup").as("variant"),
          explode(col("kept")).as("tok")))
      val cv = tt.groupBy("variant", "tok").agg(count(lit(1)).as("c")) // totals + eval join
      val vax = Seq("full", "span_dedup").toDF("variant")
      val tv = vax.join(cv.groupBy("variant").agg(sum("c").as("t")),
          Seq("variant"), "left")
        .select(col("variant"), coalesce(col("t"), lit(0L)).as("t_train"))
      val nd = tr.agg(count(lit(1)).as("n_train_docs"))
      val va = docs.select(explode(tokens(col("text"))).as("tok"))
        .agg(countDistinct("tok").as("vocab"))
      val ev = docs.filter(isEval)
        .select(explode(tokens(col("text"))).as("tok"))
        .groupBy("tok").agg(count(lit(1)).as("m"))
      ev.crossJoin(broadcast(tv)).crossJoin(broadcast(va))
        .join(cv, Seq("variant", "tok"), "left")
        .withColumn("micro_bits", round(log2(
          (col("t_train") + col("vocab")).cast("double")
            / (coalesce(col("c"), lit(0L)) + 1)) * 1000000).cast("long"))
        .groupBy("variant")
        .agg(sum(col("m") * col("micro_bits")).as("micro_sum"),
          sum("m").as("eval_tokens"))
        .join(broadcast(tv), Seq("variant"))
        .crossJoin(broadcast(nd))
        .crossJoin(broadcast(va))
        .select(col("variant"), col("n_train_docs"),
          col("t_train").as("n_train_tokens"), col("vocab"),
          col("eval_tokens"),
          round(col("micro_sum") / lit(1000000.0) / col("eval_tokens"), 4)
            .as("bits_per_token"))
    })

  /** NEGATIVE-SAMPLING TABLE — the word2vec/contrastive-training prep
    * artifact: every vocab type weighted by freq^0.75 (the Mikolov
    * exponent that lifts the tail), with rank, exact ppm share, and the
    * CUMULATIVE weight an alias/CDF sampler binary-searches. The rank
    * AND the running sum come from ONE keyedPrefixRank pass (the vocab
    * GROWS — no zero-key window; r13 verdict #4's convention, and the
    * first consumer of keyedPrefixRank's cumsum leg outside q151).
    * Weights are micro-rounded doubles (pow(f, 0.75) — the same
    * round-to-micro cross-engine contract as the log2 ladders). The
    * cumulative weight, the grand total, and the ppm shares all route
    * through DECIMAL(38,0)/HUGEINT (q348's moment-algebra convention —
    * the r14 advisor's finding: Σ freq^0.75 · 10⁶ passes int64 at only
    * a few-million-token corpus, where non-ANSI Spark would silently
    * wrap while DuckDB raises); only the final ppm columns (≤ 10⁶ by
    * construction) cast back to BIGINT, and cum_w_micro itself ships as
    * VARCHAR digits (the q149 wire convention). Scale shape: one token rollup → keyedPrefixRank
    * (rank + decimal cum) → 1-row total broadcast. Output: one row per
    * vocab type. HASH-MATCHED. */
  val q350 = QueryDef.oracle("q350_negative_sampling_table",
    """WITH f AS (SELECT tok, CAST(count(*) AS BIGINT) AS freq
      |           FROM (SELECT unnest(list_filter(
      |                   regexp_split_to_array(text, '\s+'), x -> x <> '')) AS tok
      |                 FROM documents) GROUP BY 1),
      |w AS (SELECT tok, freq,
      |        CAST(round(pow(CAST(freq AS DOUBLE), 0.75) * 1000000) AS BIGINT)
      |          AS w_micro
      |      FROM f),
      |r AS (SELECT tok, freq, w_micro,
      |        CAST(ROW_NUMBER() OVER (ORDER BY freq DESC, tok) AS BIGINT) AS rnk,
      |        SUM(CAST(w_micro AS HUGEINT)) OVER (ORDER BY freq DESC, tok
      |          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
      |          AS cum_w_micro
      |      FROM w),
      |t AS (SELECT SUM(CAST(w_micro AS HUGEINT)) AS total_w FROM w)
      |SELECT tok, freq, rnk, w_micro,
      |       CAST(cum_w_micro AS VARCHAR) AS cum_w_micro,
      |       CAST(CAST(w_micro AS HUGEINT) * 1000000 // total_w AS BIGINT)
      |         AS share_ppm,
      |       CAST(cum_w_micro * 1000000 // total_w AS BIGINT) AS cum_share_ppm
      |FROM r, t""".stripMargin)(
    (s, d) => {
      val f = Tables.documents(s, d)
        .select(explode(tokens(col("text"))).as("tok"))
        .groupBy("tok").agg(count(lit(1)).as("freq"))
        .withColumn("w_micro",
          round(pow(col("freq").cast("double"), 0.75) * 1000000).cast("long"))
        // the decimal twin feeds every sum: cum, total, and both shares
        .withColumn("__wd", col("w_micro").cast("decimal(38,0)"))
      val r = graft.pipeline.Clean.keyedPrefixRank(f,
        Seq(col("freq").desc, col("tok")), "rnk",
        cumOf = Some("__wd" -> "cum_w_micro"))
      val t = f.agg(sum("__wd").as("total_w")) // decimal(38,0) sum — exact
      r.crossJoin(broadcast(t))
        .select(col("tok"), col("freq"), col("rnk"), col("w_micro"),
          // DECIMAL internally, VARCHAR on the wire (q149 convention —
          // the driver's hasher floats DuckDB decimals)
          col("cum_w_micro").cast("decimal(38,0)").cast("string")
            .as("cum_w_micro"),
          expr("CAST(CAST(w_micro AS DECIMAL(38,0)) * 1000000 div total_w" +
            " AS BIGINT)").as("share_ppm"),
          expr("CAST(cum_w_micro * 1000000 div total_w AS BIGINT)")
            .as("cum_share_ppm"))
    })

  /** DATA-CONSTRAINED EPOCH BUDGET (Muennighoff et al. 2023, "Scaling
    * Data-Constrained Language Models") — when the token budget exceeds
    * the unique data, sources get REPEATED, and repeated epochs are
    * worth less than fresh tokens. Per source: unique-token supply,
    * a temperature-flattened mixture weight (√supply — the τ=2
    * convention of q166, integer-exact as floor∘sqrt, IEEE-correctly-
    * rounded in both engines below the 2⁵² doc bound), the source's
    * share of a 4×-total-unique token budget, the full epochs + partial
    * remainder that budget buys, and the EFFECTIVE token value under a
    * halving-per-epoch decay (epoch k is worth 2^(1−k) of an epoch-1
    * token): eff_micro = U·(2·10⁶ − 2·10⁶/2^f) + rem·(10⁶/2^f), exact
    * integers because every 2^f divisor is a power-of-two shift (f
    * capped at 20 — beyond that an epoch is worth < 1 micro and the
    * budget is marked saturated). The verdict column eff_ppm_of_budget
    * (effective value per budgeted token) is the diminishing-returns
    * number a mixture designer reads before up-weighting a small
    * source. Scale shape: one map-side token-count rollup (regexp
    * count, no explode) → |sources|-row arithmetic → |sources|-row
    * report; the budget products route through DECIMAL(38,0)/HUGEINT
    * (4·U_tot·w passes int64 at ~10¹³ corpus tokens). HASH-MATCHED. */
  val q359 = QueryDef.oracle("q359_repetition_budget",
    """WITH u AS (SELECT source,
      |        CAST(COALESCE(SUM(len(list_filter(
      |          regexp_split_to_array(COALESCE(text, ''), '\s+'),
      |          x -> x <> ''))), 0) AS BIGINT) AS u_tok
      |      FROM documents GROUP BY 1),
      |w AS (SELECT source, u_tok,
      |        CAST(floor(sqrt(CAST(u_tok AS DOUBLE))) AS BIGINT) AS wt
      |      FROM u),
      |t AS (SELECT CAST(SUM(u_tok) AS BIGINT) AS u_tot,
      |        CAST(SUM(wt) AS BIGINT) AS w_tot FROM w),
      |b AS (SELECT source, u_tok, wt,
      |        CAST(CAST(4 AS HUGEINT) * t.u_tot * wt // t.w_tot AS BIGINT)
      |          AS budget
      |      FROM w, t),
      |e AS (SELECT source, u_tok, wt, budget,
      |        budget // GREATEST(u_tok, 1) > 20 AS saturated,
      |        CAST(LEAST(budget // GREATEST(u_tok, 1), 20) AS BIGINT) AS epochs
      |      FROM b),
      |r AS (SELECT source, u_tok, wt, budget, saturated, epochs,
      |        CAST(CASE WHEN saturated THEN 0
      |             ELSE budget - epochs * u_tok END AS BIGINT) AS rem
      |      FROM e)
      |SELECT source, u_tok, wt, budget, epochs, rem, saturated,
      |  CAST(CAST(u_tok AS HUGEINT)
      |         * (2000000 - 2000000 // (CAST(1 AS BIGINT) << epochs))
      |       + CAST(rem AS HUGEINT)
      |         * (1000000 // (CAST(1 AS BIGINT) << epochs))
      |       AS VARCHAR) AS eff_micro,
      |  CASE WHEN budget = 0 THEN NULL
      |       ELSE CAST((CAST(u_tok AS HUGEINT)
      |              * (2000000 - 2000000 // (CAST(1 AS BIGINT) << epochs))
      |            + CAST(rem AS HUGEINT)
      |              * (1000000 // (CAST(1 AS BIGINT) << epochs))) // budget
      |            AS BIGINT) END AS eff_ppm_of_budget
      |FROM r""".stripMargin)(
    (s, d) => {
      val u = Tables.documents(s, d)
        .groupBy("source")
        .agg(coalesce(sum(tokenCount(coalesce(col("text"), lit(""))).cast("long")),
          lit(0L)).as("u_tok"))
        .withColumn("wt", floor(sqrt(col("u_tok").cast("double"))).cast("long"))
      val t = u.agg(sum("u_tok").as("u_tot"), sum("wt").as("w_tot"))
      u.crossJoin(broadcast(t))
        .withColumn("budget",
          expr("CAST(CAST(4 AS DECIMAL(38,0)) * u_tot * wt div w_tot AS BIGINT)"))
        .withColumn("saturated",
          expr("budget div GREATEST(u_tok, 1) > 20"))
        .withColumn("epochs",
          expr("CAST(LEAST(budget div GREATEST(u_tok, 1), 20) AS BIGINT)"))
        .withColumn("rem",
          expr("CAST(CASE WHEN saturated THEN 0" +
            " ELSE budget - epochs * u_tok END AS BIGINT)"))
        .withColumn("eff_micro",
          expr("CAST(CAST(u_tok AS DECIMAL(38,0))" +
            " * (2000000 - 2000000 div shiftleft(CAST(1 AS BIGINT), CAST(epochs AS INT)))" +
            " + CAST(rem AS DECIMAL(38,0))" +
            " * (1000000 div shiftleft(CAST(1 AS BIGINT), CAST(epochs AS INT)))" +
            " AS DECIMAL(38,0))"))
        .select(col("source"), col("u_tok"), col("wt"), col("budget"),
          col("epochs"), col("rem"), col("saturated"),
          // DECIMAL internally, VARCHAR on the wire (q149 convention)
          col("eff_micro").cast("string").as("eff_micro"),
          expr("CASE WHEN budget = 0 THEN NULL" +
            " ELSE CAST(eff_micro div budget AS BIGINT) END")
            .as("eff_ppm_of_budget"))
    })

  /** DATA-SCALING LADDER — the measured "does more data help" curve
    * (the empirical rung table a Chinchilla-style fit reads): train
    * the add-1 unigram LM on nested 1/8, 1/4, 1/2, and full train
    * subsets (membership by md5-nibble bucket — content-keyed,
    * engine-portable, and NESTED: rung m contains every bucket < m,
    * so each rung extends the last like a real data-scaling study),
    * score each on the SAME held-out split with the SAME whole-corpus
    * smoothing vocab (q343's ladder contract), and report exact
    * micro-bits/token per rung plus the delta vs the half-size rung —
    * the marginal value of each doubling. Like q344's subtractive
    * form, the corpus is tokenized ONCE: an (is_eval, bucket, tok)
    * rollup; rung counts are the rollup joined to the 4-row rung axis
    * on bucket < m (a ×4 fan on VOCAB-sized rows, never on the token
    * stream). Scale shape: one corpus token scan → 8-bucket-keyed
    * rollup → bounded-axis arithmetic → 4-row report. HASH-MATCHED. */
  val q360 = QueryDef.oracle("q360_data_scaling_ladder",
    """WITH docs AS (SELECT doc_id, COALESCE(text, '') AS text,
      |        (strpos('0123456789abcdef',
      |           substr(md5(COALESCE(text, '')), 32, 1)) - 1) % 8 AS g
      |      FROM documents),
      |base AS (SELECT is_eval, g, tok, CAST(count(*) AS BIGINT) AS c
      |         FROM (SELECT doc_id % 5 = 0 AS is_eval, g,
      |                 unnest(list_filter(
      |                   regexp_split_to_array(text, '\s+'), x -> x <> '')) AS tok
      |               FROM docs)
      |         GROUP BY 1, 2, 3),
      |rungs AS (SELECT unnest([1, 2, 4, 8]) AS m),
      |cr AS (SELECT r.m, b.tok, CAST(SUM(b.c) AS BIGINT) AS c
      |       FROM base b JOIN rungs r ON b.g < r.m
      |       WHERE NOT b.is_eval GROUP BY 1, 2),
      |tr AS (SELECT m, CAST(SUM(c) AS BIGINT) AS t_train FROM cr GROUP BY 1),
      |nd AS (SELECT r.m, CAST(count(*) AS BIGINT) AS n_docs
      |       FROM docs d JOIN rungs r ON d.g < r.m
      |       WHERE d.doc_id % 5 <> 0 GROUP BY 1),
      |va AS (SELECT CAST(count(DISTINCT tok) AS BIGINT) AS vocab FROM base),
      |ev AS (SELECT tok, CAST(SUM(c) AS BIGINT) AS mm
      |       FROM base WHERE is_eval GROUP BY 1),
      |sc AS (SELECT t.m, e.mm,
      |         CAST(round(log2(CAST(t.t_train + va.vocab AS DOUBLE)
      |              / (COALESCE(cr.c, 0) + 1)) * 1000000) AS BIGINT)
      |           AS micro_bits
      |       FROM ev e CROSS JOIN tr t CROSS JOIN va
      |       LEFT JOIN cr ON cr.m = t.m AND cr.tok = e.tok),
      |agg AS (SELECT m, CAST(SUM(mm * micro_bits) AS BIGINT) AS micro_sum,
      |          CAST(SUM(mm) AS BIGINT) AS eval_tokens
      |        FROM sc GROUP BY 1),
      |fin AS (SELECT m, micro_sum, eval_tokens,
      |          CAST(micro_sum // eval_tokens AS BIGINT) AS mbits_per_token
      |        FROM agg)
      |SELECT f.m AS rung_eighths, nd.n_docs AS n_train_docs,
      |       tr.t_train AS n_train_tokens, f.eval_tokens,
      |       f.mbits_per_token,
      |       CAST(f.mbits_per_token - p.mbits_per_token AS BIGINT)
      |         AS delta_vs_half
      |FROM fin f JOIN tr ON tr.m = f.m JOIN nd ON nd.m = f.m
      |LEFT JOIN fin p ON p.m = f.m // 2 AND f.m > 1""".stripMargin)(
    (s, d) => {
      val docs = Tables.documents(s, d)
        .select(col("doc_id"), coalesce(col("text"), lit("")).as("text"))
        .withColumn("g",
          conv(substring(md5(col("text")), 32, 1), 16, 10).cast("long") % 8)
        .localCheckpoint(false) // feeds the token rollup and the doc rollup
      val isEval = col("doc_id") % 5 === 0
      // THE one corpus token scan (q344's convention)
      val base = docs
        .select(isEval.as("is_eval"), col("g"),
          explode(tokens(col("text"))).as("tok"))
        .groupBy("is_eval", "g", "tok").agg(count(lit(1)).as("c"))
        .localCheckpoint(false) // feeds rung counts, vocab, and eval
      val rungs = broadcast(docs.sparkSession.range(1)
        .select(explode(array(lit(1L), lit(2L), lit(4L), lit(8L))).as("m")))
      val cr = base.filter(!col("is_eval"))
        .join(rungs, col("g") < col("m"))
        .groupBy("m", "tok").agg(sum("c").as("c")) // feeds totals and the eval join
      val tr = cr.groupBy("m").agg(sum("c").as("t_train"))
      val nd = docs.filter(!isEval).join(rungs, col("g") < col("m"))
        .groupBy("m").agg(count(lit(1)).as("n_docs"))
      val va = base.agg(countDistinct("tok").as("vocab"))
      val ev = base.filter(col("is_eval"))
        .groupBy("tok").agg(sum("c").as("mm"))
      val sc = ev.crossJoin(broadcast(tr)).crossJoin(broadcast(va))
        .join(cr, Seq("m", "tok"), "left")
        .withColumn("micro_bits", round(log2(
          (col("t_train") + col("vocab")).cast("double")
            / (coalesce(col("c"), lit(0L)) + 1)) * 1000000).cast("long"))
      val fin = sc.groupBy("m")
        .agg(sum(col("mm") * col("micro_bits")).as("micro_sum"),
          sum("mm").as("eval_tokens"))
        .withColumn("mbits_per_token",
          expr("CAST(micro_sum div eval_tokens AS BIGINT)")) // read by rungs + half rungs
      val prev = fin.select(col("m").as("__pm"),
        col("mbits_per_token").as("__pmb"))
      fin.join(broadcast(tr), Seq("m")).join(broadcast(nd), Seq("m"))
        .join(broadcast(prev),
          col("__pm") === expr("m div 2") && col("m") > 1, "left")
        .select(col("m").as("rung_eighths"), col("n_docs").as("n_train_docs"),
          col("t_train").as("n_train_tokens"), col("eval_tokens"),
          col("mbits_per_token"),
          (col("mbits_per_token") - col("__pmb")).cast("long")
            .as("delta_vs_half"))
    })

  /** STUPID-BACKOFF BIGRAM SCORING (Brants et al. 2007, "Large Language
    * Models in Machine Translation") — the n-gram smoothing production
    * web-scale LMs actually ship: a SEEN bigram scores its raw relative
    * frequency c₂/c₁; an unseen one backs off to the unigram with a
    * fixed 0.4 penalty (add-1 at the bottom so every token scores).
    * This is what q187's add-1 bigram table cannot be at 100 TB —
    * add-1 needs the V² smoothing mass; backoff needs only the OBSERVED
    * bigrams. Split is content-keyed (q45's md5-nibble idiom: eval =
    * nibble ∈ {0,7}, train = nibble ≥ 8 — DECORRELATED from source,
    * unlike doc_id%5 which this corpus aliases to 4 sources), so the
    * per-source readout covers every source and the backoff arm is
    * exercised by real unseen mass. Per-type terms micro-rounded (the
    * log2-ladder contract), unigram denominator = the bigram stream's
    * second positions (self-consistent from ONE rollup — no second
    * token pass). Scale shape: one corpus bigram scan → (split, w1,
    * w2)-keyed rollup → keyed left joins on observed tables only →
    * |sources|-row report. HASH-MATCHED. */
  val q365 = QueryDef.oracle("q365_stupid_backoff_score",
    """WITH l AS (SELECT doc_id, source,
      |             substr(md5(COALESCE(text, '')), 32, 1) AS nib,
      |             list_filter(regexp_split_to_array(
      |              COALESCE(text, ''), '\s+'), x -> x <> '') AS l
      |           FROM documents),
      |base AS (SELECT grp, source, w1, w2, CAST(count(*) AS BIGINT) AS c
      |         FROM (SELECT CASE WHEN nib IN ('0', '7') THEN 'eval'
      |                           WHEN nib >= '8' THEN 'train'
      |                           ELSE 'unused' END AS grp, source,
      |                 struct_extract(p, 'a') AS w1, struct_extract(p, 'b') AS w2
      |               FROM (SELECT doc_id, source, nib,
      |                       unnest([{'a': l[i], 'b': l[i+1]}
      |                               FOR i IN range(1, len(l))]) AS p
      |                     FROM l WHERE len(l) >= 2))
      |         GROUP BY 1, 2, 3, 4),
      |tr2 AS (SELECT w1, w2, CAST(SUM(c) AS BIGINT) AS c2
      |        FROM base WHERE grp = 'train' GROUP BY 1, 2),
      |tr1 AS (SELECT w1, CAST(SUM(c2) AS BIGINT) AS c1 FROM tr2 GROUP BY 1),
      |uni AS (SELECT w2, CAST(SUM(c2) AS BIGINT) AS cu FROM tr2 GROUP BY 1),
      |tot AS (SELECT CAST(COALESCE(SUM(cu), 0) AS BIGINT) AS n,
      |          CAST(count(*) AS BIGINT) AS v FROM uni),
      |ev AS (SELECT source, w1, w2, CAST(SUM(c) AS BIGINT) AS m
      |       FROM base WHERE grp = 'eval' GROUP BY 1, 2, 3),
      |sc AS (SELECT e.source, e.m, t2.c2 IS NOT NULL AS seen,
      |         CASE WHEN t2.c2 IS NOT NULL
      |              THEN CAST(round(log2(CAST(t1.c1 AS DOUBLE) / t2.c2)
      |                   * 1000000) AS BIGINT)
      |              ELSE CAST(round(log2(2.5 * CAST(tot.n + tot.v AS DOUBLE)
      |                   / (COALESCE(u.cu, 0) + 1)) * 1000000) AS BIGINT) END
      |           AS micro_bits
      |       FROM ev e CROSS JOIN tot
      |       LEFT JOIN tr2 t2 ON t2.w1 = e.w1 AND t2.w2 = e.w2
      |       LEFT JOIN tr1 t1 ON t1.w1 = e.w1
      |       LEFT JOIN uni u ON u.w2 = e.w2)
      |SELECT source, CAST(SUM(m) AS BIGINT) AS n_eval_bigrams,
      |       CAST(SUM(CASE WHEN seen THEN m ELSE 0 END) AS BIGINT) AS n_seen,
      |       CAST(SUM(CASE WHEN seen THEN 0 ELSE m END) AS BIGINT) AS n_backoff,
      |       CAST(SUM(m * micro_bits) // SUM(m) AS BIGINT) AS mbits_per_bigram
      |FROM sc GROUP BY 1""".stripMargin)(
    (s, d) => {
      val nib = substring(md5(coalesce(col("text"), lit(""))), 32, 1)
      // THE one corpus bigram scan (cur/next recovered from the gram
      // string — q363's idiom)
      val base = Tables.documents(s, d)
        .select(
          when(nib.isin("0", "7"), "eval")
            .when(nib >= "8", "train").otherwise("unused").as("grp"),
          col("source"),
          explode(wordNgrams(coalesce(col("text"), lit("")), 2)).as("gram"))
        .select(col("grp"), col("source"),
          substring_index(col("gram"), " ", 1).as("w1"),
          substring_index(col("gram"), " ", -1).as("w2"))
        .groupBy("grp", "source", "w1", "w2").agg(count(lit(1)).as("c"))
        .localCheckpoint(false) // feeds the train tables AND the eval stream
      val tr2 = base.filter(col("grp") === "train")
        .groupBy("w1", "w2").agg(sum("c").as("c2")) // c1, the unigram table, the join
      val tr1 = tr2.groupBy("w1").agg(sum("c2").as("c1"))
      val uni = tr2.groupBy("w2").agg(sum("c2").as("cu")) // totals + the backoff join
      val tot = uni.agg(coalesce(sum("cu"), lit(0L)).as("n"),
        count(lit(1)).as("v"))
      val ev = base.filter(col("grp") === "eval")
        .groupBy("source", "w1", "w2").agg(sum("c").as("m"))
      val sc = ev.crossJoin(broadcast(tot))
        .join(tr2, Seq("w1", "w2"), "left")
        .join(tr1, Seq("w1"), "left")
        .join(uni, Seq("w2"), "left")
        .select(col("source"), col("m"), col("c2").isNotNull.as("seen"),
          when(col("c2").isNotNull,
            round(log2(col("c1").cast("double") / col("c2")) * 1000000)
              .cast("long"))
            .otherwise(
              round(log2(lit(2.5) * (col("n") + col("v")).cast("double")
                / (coalesce(col("cu"), lit(0L)) + 1)) * 1000000).cast("long"))
            .as("micro_bits"))
      sc.groupBy("source")
        .agg(sum("m").as("n_eval_bigrams"),
          sum(when(col("seen"), col("m")).otherwise(0L)).as("n_seen"),
          sum(when(col("seen"), 0L).otherwise(col("m"))).as("n_backoff"),
          expr("CAST(SUM(m * micro_bits) div SUM(m) AS BIGINT)")
            .as("mbits_per_bigram"))
    })

  val defs: Seq[QueryDef] =
    Seq(q123, q124, q125, q126, q127, q128, q129, q130, q139, q140, q145,
      q150, q155, q162, q166, q172, q181, q186, q187, q194, q199, q203, q206,
      q208, q214, q223, q257, q302, q308, q320, q328, q343, q344, q350, q355,
      q359, q360, q365)
}
