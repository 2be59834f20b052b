package graft.operators

import graft.{QueryDef, Tables}
import graft.functions.TextFunctions._
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

/** Text-analysis suite over the `documents` table — the per-document
  * scoring pass of a training-data pipeline. Everything is scan-stage
  * scalar work (no shuffle), so it scales linearly with input bytes.
  */
object TextQueries {

  /** Token/char statistics with a DuckDB oracle (regex token split is
    * identical in both engines). */
  val q40 = QueryDef.oracle("q40_token_stats",
    """SELECT doc_id, n_chars, length(text) AS text_len,
      |       len(list_filter(regexp_split_to_array(text, '\s+'), x -> x <> '')) AS n_tokens
      |FROM documents""".stripMargin)(
    (s, d) => Tables.documents(s, d)
      .select(col("doc_id"), col("n_chars"), length(col("text")).as("text_len"),
        tokenCount(col("text")).as("n_tokens")))

  /** Quality scoring (length band + alpha ratio + word-length band),
    * HASH-MATCHED: the formula is plain double arithmetic over integer
    * counts with identical operation order in both engines, so the
    * rounded score is bit-reproducible.
    */
  /** q41's quality formula over a column named `text` — ONE definition
    * shared by q41 (the per-doc report) and q162's keep criterion (the
    * curation pipeline), which must agree on what "quality" means. */
  private[graft] val qualitySql: String =
    """round((CASE WHEN length(text) BETWEEN 200 AND 20000 THEN 1.0
      |              WHEN length(text) >= 50 THEN 0.5 ELSE 0.0 END) * 0.4
      |      + (CASE WHEN length(text) > 0
      |              THEN CAST(length(regexp_replace(text, '[^A-Za-z ]', '', 'g')) AS DOUBLE)
      |                   / length(text)
      |              ELSE 0.0 END) * 0.4
      |      + (CASE WHEN len(regexp_extract_all(text, '\S+')) > 0
      |               AND CAST(length(text) AS DOUBLE) / len(regexp_extract_all(text, '\S+'))
      |                   BETWEEN 3 AND 12
      |              THEN 1.0 ELSE 0.3 END) * 0.2, 4)""".stripMargin

  val q41 = QueryDef.oracle("q41_quality_score",
    raw"""SELECT doc_id, lang,
      |  $qualitySql AS quality,
      |  len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]+')) AS n_bpeish_tokens
      |FROM documents""".stripMargin)(
    (s, d) => Tables.documents(s, d)
      .select(col("doc_id"), col("lang"),
        qualityScore(col("text")).as("quality"),
        bpeishTokenCount(col("text")).as("n_bpeish_tokens")))

  /** Heuristic language ID vs the labeled lang column, HASH-MATCHED:
    * marker counts are literal-split counts (identical in both engines),
    * argmax tie-break order en>de>fr>es>zh reproduced as a CASE chain.
    */
  private val langMarkers = Seq(
    "en" -> Seq("the", "and", "of", "to", "is"),
    "de" -> Seq("der", "die", "und", "ist", "das"),
    "fr" -> Seq("le", "la", "et", "est", "les"),
    "es" -> Seq("el", "la", "y", "es", "los"))

  /** The per-doc `(doc_id, labeled_lang, detected_lang)` oracle SELECT —
    * the ONE SQL definition of the langid heuristic, shared by q42 (the
    * per-doc report) and q200 (the confusion-matrix rollup) so the two
    * cannot drift. */
  private[graft] val langIdOracleSelect: String = {
    def score(markers: Seq[String]): String =
      s"len(list_filter(l, x -> x IN (${markers.map(m => s"'$m'").mkString(", ")})))"
    val scores = langMarkers.map { case (l, ms) => l -> score(ms) }
    val zh = "(len(regexp_split_to_array(text, '[\\x{4e00}-\\x{9fff}]')) - 1)"
    val all = scores :+ ("zh" -> zh)
    val best = s"greatest(${all.map(_._2).mkString(", ")})"
    val caseChain = all.map { case (l, e) =>
      s"WHEN $best > 0 AND $e = $best THEN '$l'" }.mkString(" ")
    s"""SELECT doc_id, lang AS labeled_lang,
       |  CASE $caseChain ELSE 'en' END AS detected_lang
       |FROM (SELECT doc_id, lang, text,
       |        list_filter(regexp_split_to_array(lower(text), '\\s+'),
       |                    x -> x <> '') AS l
       |      FROM documents)""".stripMargin
  }

  val q42 = QueryDef.oracle("q42_lang_id", langIdOracleSelect)(
    (s, d) => Tables.documents(s, d)
      .select(col("doc_id"), col("lang").as("labeled_lang"),
        langIdHeuristic(col("text")).as("detected_lang")))

  /** Document fingerprint DEDUP: rolling-hash fingerprint equality ⇒
    * token-sequence equality (whitespace-insensitive exact dedup — the
    * md5 family q50 is byte-exact; this catches reformatted copies).
    * HASH-MATCHED: the fingerprint is the engine-portable modular fold
    * (q98's arithmetic — q98 reports the VALUES, this query the
    * sequence-identity GROUPS), so DuckDB replays fold → group → keeper
    * end to end. One keyed shuffle on the 8-byte fingerprint. */
  val q43 = QueryDef.oracle("q43_fingerprint",
    """WITH fp AS (
      |  SELECT doc_id,
      |    list_reduce(list_prepend(CAST(0 AS BIGINT),
      |      list_transform(l, t ->
      |        list_reduce(list_prepend(CAST(0 AS BIGINT),
      |          list_transform(string_split(t, ''),
      |            c -> CAST(unicode(c) AS BIGINT))),
      |          (a, b) -> (a * 131 + b) % 1000000007))),
      |      (a, b) -> (a * 1000003 + b) % 1000000007) AS fingerprint
      |  FROM (SELECT doc_id,
      |          list_filter(regexp_split_to_array(text, '\s+'), x -> x <> '') AS l
      |        FROM documents)),
      |g AS (SELECT fingerprint, min(doc_id) AS keeper_id,
      |             CAST(count(*) AS BIGINT) AS n_same_sequence
      |      FROM fp GROUP BY fingerprint)
      |SELECT fp.doc_id, fp.fingerprint, g.keeper_id, g.n_same_sequence,
      |       CASE WHEN fp.doc_id = g.keeper_id THEN 'keep' ELSE 'drop' END AS action
      |FROM fp JOIN g USING (fingerprint)""".stripMargin)(
    (s, d) => {
      val fp = Tables.documents(s, d)
        .select(col("doc_id"), portableFingerprint(col("text")).as("fingerprint"))
      val g = fp.groupBy("fingerprint")
        .agg(min("doc_id").as("keeper_id"), count(lit(1)).as("n_same_sequence"))
      fp.join(g, "fingerprint")
        .select(col("doc_id"), col("fingerprint"), col("keeper_id"), col("n_same_sequence"),
          when(col("doc_id") === col("keeper_id"), "keep").otherwise("drop").as("action"))
    })

  /** Engine-portable rolling fingerprint (exact modular arithmetic) —
    * HASH-MATCHED: DuckDB reproduces every fold step bit-exactly, so
    * the fingerprint survives engine migration (the property q43's
    * xxhash family can't give). See TextFunctions.portableFingerprint.
    */
  val q98 = QueryDef.oracle("q98_portable_fingerprint",
    """SELECT doc_id,
      |  list_reduce(list_prepend(CAST(0 AS BIGINT),
      |    list_transform(l, t ->
      |      list_reduce(list_prepend(CAST(0 AS BIGINT),
      |        list_transform(string_split(t, ''),
      |          c -> CAST(unicode(c) AS BIGINT))),
      |        (a, b) -> (a * 131 + b) % 1000000007))),
      |    (a, b) -> (a * 1000003 + b) % 1000000007) AS fingerprint
      |FROM (SELECT doc_id,
      |        list_filter(regexp_split_to_array(text, '\s+'), x -> x <> '') AS l
      |      FROM documents)""".stripMargin)(
    (s, d) => Tables.documents(s, d)
      .select(col("doc_id"), portableFingerprint(col("text")).as("fingerprint")))

  /** Tokenizer-prep vocabulary build: global token frequencies, ranked,
    * with the coverage cutoff — `in_vocab` marks the smallest
    * frequency-ordered prefix covering ≥ 97.5% of all token occurrences
    * (the classic vocab-size selection before training a tokenizer).
    * Exact integers end to end: the threshold compare is
    * `(cum − freq)·40 < total·39`, never a float share — HASH-MATCHED.
    * Scale shape: one map-side-combined token aggregate (vocab-sized —
    * sublinear in corpus but GROWING, so the rank/cumsum is
    * Clean.keyedPrefixRank: range-partitioned keyed row_number+cumsum
    * with driver-prefix-summed P-bounded offsets, no zero-key window
    * anywhere; a global window here was the r13-verdict #4 class). */
  val q151 = QueryDef.oracle("q151_vocab_coverage",
    """WITH toks AS (SELECT unnest(list_filter(
      |                regexp_split_to_array(text, '\s+'), x -> x <> '')) AS tok
      |              FROM documents),
      |f AS (SELECT tok, CAST(count(*) AS BIGINT) AS freq FROM toks GROUP BY tok),
      |t AS (SELECT CAST(SUM(freq) AS BIGINT) AS total FROM f),
      |c AS (SELECT tok, freq,
      |        CAST(ROW_NUMBER() OVER (ORDER BY freq DESC, tok) AS BIGINT) AS rnk,
      |        CAST(SUM(freq) OVER (ORDER BY freq DESC, tok
      |          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum_freq
      |      FROM f)
      |SELECT tok, freq, rnk, cum_freq,
      |       (cum_freq - freq) * 40 < total * 39 AS in_vocab
      |FROM c, t""".stripMargin)(
    (s, d) => {
      val freq = Tables.documents(s, d)
        .select(explode(tokens(col("text"))).as("tok"))
        .groupBy("tok").agg(count(lit(1)).as("freq"))
      val total = freq.agg(sum("freq").as("total"))
      // the freq table is VOCAB-sized (grows with the corpus), so the
      // rank/cumsum must be the keyed two-level form — never a global
      // window (r13 verdict #4; q329's hashBucketRank is the sibling)
      graft.pipeline.Clean.keyedPrefixRank(freq,
          Seq(col("freq").desc, col("tok")), "rnk",
          cumOf = Some("freq" -> "cum_freq"))
        .crossJoin(broadcast(total))
        .select(col("tok"), col("freq"), col("rnk"), col("cum_freq"),
          ((col("cum_freq") - col("freq")) * 40 < col("total") * 39).as("in_vocab"))
    })

  /** Word 3-gram inventory size per doc, with oracle: count of distinct
    * 3-grams — DuckDB computes via its own list ops. */
  val q44 = QueryDef.oracle("q44_ngram_profile",
    """SELECT doc_id,
      |       CASE WHEN len(l) < 3 THEN 0
      |            ELSE len(list_distinct([list_aggregate(l[i:i+2], 'string_agg', ' ')
      |                   FOR i IN range(1, len(l) - 1)])) END AS n_distinct_3grams
      |FROM (SELECT doc_id, text,
      |        list_filter(regexp_split_to_array(text, '\s+'), x -> x <> '') AS l
      |      FROM documents)""".stripMargin)(
    (s, d) => Tables.documents(s, d)
      .select(col("doc_id"),
        size(array_distinct(wordNgrams(col("text"), 3))).as("n_distinct_3grams")))

  /** Deterministic hash sampling — the scale-correct way to take a
    * reproducible corpus sample: membership is a pure function of content
    * key (last md5 nibble), so the sample is stable across engines, runs,
    * partitionings, and cluster sizes — none of which is true of
    * `TABLESAMPLE`/`df.sample`'s RNG. Scan-local: no shuffle, the
    * predicate rides the parquet scan. 2/16 ≈ 12.5% expected rate.
    */
  val q45 = QueryDef.oracle("q45_hash_sample",
    """SELECT doc_id, lang, n_chars
      |FROM documents
      |WHERE substr(md5(text), 32, 1) IN ('0', '7')""".stripMargin)(
    (s, d) => Tables.documents(s, d)
      .filter(substring(md5(col("text")), 32, 1).isin("0", "7"))
      .select("doc_id", "lang", "n_chars"))

  /** Per-class cap (class balancing): at most N docs per language, chosen
    * by deterministic md5 order (not arrival order — rerun-stable and
    * skew-immune: one window shuffle on lang, no global sort).
    */
  val q46 = QueryDef.oracle("q46_class_balance",
    """SELECT doc_id, lang FROM (
      |  SELECT doc_id, lang,
      |         ROW_NUMBER() OVER (PARTITION BY lang
      |                            ORDER BY md5(text), doc_id) AS rn
      |  FROM documents)
      |WHERE rn <= 50""".stripMargin)(
    (s, d) => {
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("lang").orderBy(md5(col("text")), col("doc_id"))
      Tables.documents(s, d)
        .select(col("doc_id"), col("lang"),
          org.apache.spark.sql.functions.row_number().over(w).as("rn"))
        .filter(col("rn") <= 50)
        .select("doc_id", "lang")
    })

  /** Corpus gram-frequency table via the custom Generator
    * (`LATERAL VIEW ngram_explode`): top-20 word 3-grams with
    * deterministic (count desc, gram) tiebreak. Oracle: DuckDB list
    * comprehension + unnest.
    */
  val q48 = QueryDef.oracle("q48_ngram_freq",
    """SELECT gram, count(*) AS n FROM (
      |  SELECT unnest([list_aggregate(l[i:i+2], 'string_agg', ' ')
      |                 FOR i IN range(1, len(l) - 1)]) AS gram
      |  FROM (SELECT list_filter(regexp_split_to_array(text, '\s+'),
      |               x -> x <> '') AS l FROM documents)
      |  WHERE len(l) >= 3)
      |GROUP BY gram ORDER BY n DESC, gram LIMIT 20""".stripMargin)(
    (s, d) => {
      Tables.documents(s, d).createOrReplaceTempView("graft_docs_q48")
      graft.functions.HashFunctions.registerAll(s)
      s.sql(
        """SELECT gram, count(*) AS n
          |FROM graft_docs_q48
          |LATERAL VIEW ngram_explode(text, 3) g AS pos, gram
          |GROUP BY gram ORDER BY n DESC, gram LIMIT 20""".stripMargin)
    })

  /** Array higher-order functions as a declared query surface
    * (transform / filter / aggregate / array_distinct / array_max over
    * the token array) — integer-only outputs so the oracle hash-matches.
    */
  val q49 = QueryDef.oracle("q49_array_ops",
    """SELECT doc_id, len(l) AS n_tokens,
      |       CAST(COALESCE(list_aggregate(list_transform(l, x -> length(x)), 'sum'), 0) AS BIGINT) AS total_tok_len,
      |       list_aggregate(list_transform(l, x -> length(x)), 'max') AS max_tok_len,
      |       len(list_distinct(l)) AS n_distinct,
      |       len(list_filter(l, x -> length(x) > 5)) AS n_long
      |FROM (SELECT doc_id,
      |        list_filter(regexp_split_to_array(text, '\s+'), x -> x <> '') AS l
      |      FROM documents)""".stripMargin)(
    (s, d) => {
      val toks = tokens(col("text"))
      val lens = transform(toks, t => length(t))
      Tables.documents(s, d).select(
        col("doc_id"),
        size(toks).as("n_tokens"),
        aggregate(lens, lit(0), (acc, x) => acc + x).as("total_tok_len"),
        array_max(lens).as("max_tok_len"),
        size(array_distinct(toks)).as("n_distinct"),
        size(filter(toks, t => length(t) > 5)).as("n_long"))
    })

  /** GPT-style sequence packing (concat-and-chunk): documents are laid
    * end-to-end in deterministic (source, doc_id) order and cut into
    * fixed 512-token training chunks; each doc learns its start/end
    * chunk and how many chunks it spans. This is the shard-assignment
    * step of a training-data pipeline — the cumulative sum is windowed
    * PER SOURCE (real pipelines pack within shards), so the window is
    * keyed, never single-partition, and the exchange carries one long
    * per row. All integer math → DuckDB reproduces it exactly.
    */
  val q77 = QueryDef.oracle("q77_token_packing",
    """SELECT doc_id, source, n_tokens, cum_before,
      |       cum_before // 512 AS start_chunk,
      |       CASE WHEN n_tokens = 0 THEN NULL
      |            ELSE (cum_before + n_tokens - 1) // 512 END AS end_chunk,
      |       CASE WHEN n_tokens = 0 THEN CAST(0 AS BIGINT)
      |            ELSE (cum_before + n_tokens - 1) // 512 - cum_before // 512 + 1
      |       END AS n_chunks
      |FROM (
      |  SELECT doc_id, source, n_tokens,
      |         COALESCE(CAST(SUM(n_tokens) OVER (PARTITION BY source ORDER BY doc_id
      |           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS BIGINT),
      |           CAST(0 AS BIGINT)) AS cum_before
      |  FROM (SELECT doc_id, source,
      |          CAST(len(regexp_extract_all(text, '\S+')) AS BIGINT) AS n_tokens
      |        FROM documents))""".stripMargin)(
    (s, d) => {
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy("source").orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, -1)
      Tables.documents(s, d)
        .select(col("doc_id"), col("source"),
          tokenCount(col("text")).cast("long").as("n_tokens"))
        .withColumn("cum_before", coalesce(sum("n_tokens").over(w), lit(0L)))
        .select(col("doc_id"), col("source"), col("n_tokens"), col("cum_before"),
          expr("cum_before div 512").as("start_chunk"),
          when(col("n_tokens") === 0, lit(null).cast("long"))
            .otherwise(expr("(cum_before + n_tokens - 1) div 512")).as("end_chunk"),
          when(col("n_tokens") === 0, lit(0L))
            .otherwise(expr("(cum_before + n_tokens - 1) div 512 - cum_before div 512 + 1"))
            .as("n_chunks"))
    })

  /** BPE-training pair statistics — the first statistic a BPE tokenizer
    * trainer computes, distributed: corpus-wide counts of ADJACENT
    * character pairs within words (the initial symbol sequence before
    * any merge), top-50 by frequency. Each training round of real BPE
    * re-runs exactly this shape with the current vocab's symbols, so
    * this is the per-iteration kernel: scan-stage word split + pair
    * explode (a chars× NARROW multiplier — nothing shuffles until the
    * count), map-side-combined pair counts (exchange carries |distinct
    * pairs| partials, sublinear in corpus), bounded top-k via
    * TakeOrderedAndProject — no global sort. Deterministic: ties break
    * on the pair string; counts are exact integers — HASH-MATCHED.
    * Single-char words contribute no pairs (guarded: Spark's sequence()
    * would otherwise generate a DESCENDING range for empty windows).
    */
  /** Adjacent character pairs of a symbol string (empty below 2 chars —
    * guarded because Spark's sequence() would otherwise generate a
    * DESCENDING range). Shared by q156 (round-1 stats) and q158 (the
    * merge round), which must agree on pair extraction. */
  private def charPairs(w: Column): Column =
    when(length(w) >= 2,
      transform(sequence(lit(1), length(w) - 1), i => w.substr(i, lit(2))))
      .otherwise(array().cast("array<string>"))

  /** Training depth of the SHIPPED tokenizer: the k-round trainer
    * (q174), the stored `bpe_merges` artifact, and its apply-side
    * consumers (q168 tokenization, q173 fertility) all derive from this
    * one constant — bumping it deepens the whole chain together
    * (CorpusGuardSpec's sentinel bound follows it too). Declared ahead
    * of the query vals because their oracle SQL is GENERATED from it at
    * object init, and a forward-referenced val would silently read 0. */
  val BpeTrainK = 5

  /** The shared words + round-1-pairs CTE prefix of the BPE oracles. */
  private val bpePairCtes: String =
    """WITH toks AS (
      |  SELECT list_filter(regexp_split_to_array(text, '\s+'), x -> x <> '') AS l
      |  FROM documents),
      |w AS (SELECT unnest(l) AS w FROM toks),
      |p AS (SELECT unnest([substr(w, i, 2) FOR i IN range(1, len(w))]) AS pair FROM w)""".stripMargin

  val q156 = QueryDef.oracle("q156_bpe_pair_stats",
    s"""$bpePairCtes
      |SELECT pair, CAST(count(*) AS BIGINT) AS n_occurrences
      |FROM p GROUP BY pair
      |ORDER BY n_occurrences DESC, pair
      |LIMIT 50""".stripMargin)(
    (s, d) => {
      val words = Tables.documentsParallel(s, d)
        .select(explode(tokens(col("text"))).as("w"))
      words.select(explode(charPairs(col("w"))).as("pair"))
        .groupBy("pair").agg(count(lit(1)).as("n_occurrences"))
        .orderBy(col("n_occurrences").desc, col("pair")).limit(50)
    })

  /** One full BPE MERGE ROUND, distributed: pick the corpus-wide most
    * frequent adjacent pair (q156's statistic, argmax with ties on the
    * pair string), APPLY the merge to every word, and recount — the
    * iterative step that turns pair statistics into a tokenizer. The
    * merge trick: greedy BPE merging is left-to-right non-overlapping
    * replacement, which is EXACTLY the semantics of literal `replace()`
    * in both engines — so applying merge "er" is
    * `replace(w, 'er', chr(1))` with an out-of-alphabet sentinel char
    * standing for the merged symbol (the corpus is sentinel-free by
    * construction of \\s-tokenization; chr(1) never survives a token).
    * Round-2 pairs are then plain adjacent pairs over the rewritten
    * words; the sentinel expands back to a bracketed "(er)" in the
    * report, so composite pairs like "m(er)" are readable. No
    * collect(): the 1-row winning-pair table crossJoin-broadcasts into
    * the rewrite scan. Scale: two scan stages + two map-side-combined
    * pair counts — each further training round repeats this exact
    * shape. HASH-MATCHED (exact counts, deterministic ties).
    */
  val q158 = QueryDef.oracle("q158_bpe_merge_round",
    s"""$bpePairCtes,
      |m AS (SELECT pair FROM (
      |        SELECT pair, count(*) AS c FROM p GROUP BY pair
      |        ORDER BY c DESC, pair LIMIT 1)),
      |w2 AS (SELECT replace(w, (SELECT pair FROM m), chr(1)) AS w FROM w),
      |p2 AS (SELECT unnest([substr(w, i, 2) FOR i IN range(1, len(w))]) AS pair FROM w2),
      |e AS (SELECT replace(pair, chr(1), '(' || (SELECT pair FROM m) || ')') AS pair
      |      FROM p2)
      |SELECT pair, CAST(count(*) AS BIGINT) AS n_occurrences,
      |       (SELECT pair FROM m) AS merged_pair
      |FROM e GROUP BY pair
      |ORDER BY n_occurrences DESC, pair
      |LIMIT 20""".stripMargin)(
    (s, d) => {
      val words = Tables.documentsParallel(s, d)
        .select(explode(tokens(col("text"))).as("w"))
      val top1 = words.select(explode(charPairs(col("w"))).as("pair"))
        .groupBy("pair").agg(count(lit(1)).as("c"))
        .orderBy(col("c").desc, col("pair")).limit(1)
        .select(col("pair").as("m"))
      val rewritten = words.crossJoin(broadcast(top1))
        .select(expr("replace(w, m, chr(1))").as("w"), col("m"))
      rewritten.select(explode(charPairs(col("w"))).as("rp"), col("m"))
        .select(expr("replace(rp, chr(1), concat('(', m, ')'))").as("pair"), col("m"))
        .groupBy("pair", "m").agg(count(lit(1)).as("n_occurrences"))
        .orderBy(col("n_occurrences").desc, col("pair")).limit(20)
        .select(col("pair"), col("n_occurrences"), col("m").as("merged_pair"))
    })

  /** THREE chained BPE merge rounds — the ordered MERGE LIST (round,
    * merged_pair, n_occurrences) with sentinels expanded to bracketed
    * readable form ("(e(er))" surfaces as such). Since the r15
    * optimization round this is a READ-BACK of the stored `bpe_merges`
    * artifact's round ≤ 3 prefix: rounds 1..3 of the k = [[BpeTrainK]]
    * trainer are EXACTLY the 3-round chain (same pair argmax, same
    * sentinel rewrites), so re-running three corpus-wide training
    * passes per invocation was pure waste — the report is 3 rows of
    * already-trained state plus an in-expression display fold. The
    * LIVE proofs this read-back is verified against: q158 (the
    * un-pinned single round) and q174 (the k-round trainer, the very
    * loop that builds the artifact); the oracle still replays the full
    * 3-round chain in DuckDB, so a trainer/artifact divergence is a
    * hash mismatch. HASH-MATCHED (exact counts, deterministic ties).
    */
  /** The 3-round BPE training CTE chain (winners m1/m2/m3, rewritten
    * words w2/w3, readable round-2 display d2) — shared by q160 (the
    * merge LIST) and q165 (APPLYING the merges), which must agree on
    * what was learned. */
  private[graft] val bpeChainCtes: String =
    s"""$bpePairCtes,
      |m1 AS (SELECT pair, CAST(count(*) AS BIGINT) AS c FROM p
      |       GROUP BY pair ORDER BY c DESC, pair LIMIT 1),
      |w2 AS (SELECT replace(w, (SELECT pair FROM m1), chr(1)) AS w FROM w),
      |p2 AS (SELECT unnest([substr(w, i, 2) FOR i IN range(1, len(w))]) AS pair FROM w2),
      |m2 AS (SELECT pair, CAST(count(*) AS BIGINT) AS c FROM p2
      |       GROUP BY pair ORDER BY c DESC, pair LIMIT 1),
      |w3 AS (SELECT replace(w, (SELECT pair FROM m2), chr(2)) AS w FROM w2),
      |p3 AS (SELECT unnest([substr(w, i, 2) FOR i IN range(1, len(w))]) AS pair FROM w3),
      |m3 AS (SELECT pair, CAST(count(*) AS BIGINT) AS c FROM p3
      |       GROUP BY pair ORDER BY c DESC, pair LIMIT 1),
      |d2 AS (SELECT replace(m2.pair, chr(1), '(' || m1.pair || ')') AS d
      |       FROM m2, m1)""".stripMargin

  val q160 = QueryDef.oracle("q160_bpe_training_rounds",
    s"""$bpeChainCtes
      |SELECT * FROM (
      |  SELECT 1 AS round, pair AS merged_pair, c AS n_occurrences FROM m1
      |  UNION ALL
      |  SELECT 2, d, c FROM m2, d2
      |  UNION ALL
      |  SELECT 3, replace(replace(m3.pair,
      |                            chr(2), '(' || d2.d || ')'),
      |                    chr(1), '(' || m1.pair || ')'), m3.c
      |  FROM m3, d2, m1)
      |ORDER BY round""".stripMargin)(
    (s, d) => {
      // r15 optimization: the training REPORT reads the stored
      // `bpe_merges` artifact's round ≤ 3 prefix (rounds 1..3 of the
      // k = 5 trainer ARE the 3-round chain — identical argmax over
      // identical rewrites) instead of re-running three corpus-wide
      // training passes per invocation (guide §2.4: remove shuffles
      // outright; the canonlabels/suffranks read-back pattern). q158
      // keeps the un-pinned single round live and q174 the k-round
      // trainer — the live proofs this read-back is verified against.
      // Display expansion is the q168 fold: each round's readable form
      // is its pattern with every EARLIER sentinel expanded to the
      // bracketed earlier display, so one array fold replaces the old
      // m1/m2/m3 crossJoin ladder. Emptiness convention preserved: the
      // artifact holds one row per NON-EMPTY round, so a degenerate
      // corpus yields exactly the completed-round prefix here too.
      storedBpeMerges(s, d).filter(col("round") <= 3)
        .agg(sort_array(collect_list(
          struct(col("round"), col("pat"), col("c"), col("sent")))).as("ms"))
        .select(explode(expr(
          """aggregate(ms,
            |  cast(array() as array<struct<round:int,sent:string,bare:string,c:bigint>>),
            |  (acc, m) -> array_append(acc, named_struct(
            |    'round', m.round,
            |    'sent', m.sent,
            |    'bare', aggregate(acc, m.pat,
            |      (a, pd) -> replace(a, pd.sent, concat('(', pd.bare, ')'))),
            |    'c', m.c)))""".stripMargin)).as("r"))
        .select(col("r.round").as("round"), col("r.bare").as("merged_pair"),
          col("r.c").as("n_occurrences"))
        .orderBy("round")
    })

  /** APPLY the trained tokenizer — the other half of the BPE story
    * (q156/q158/q160 learn the merges; this TOKENIZES the corpus with
    * them and reports the resulting vocabulary head): the first three
    * learned merges rewrite every word, after which each remaining
    * CHARACTER is one token (a sentinel char IS the merged symbol), so
    * token counts are character frequencies over the rewritten corpus.
    * Top-20 tokens by count, sentinels expanded to readable bracketed
    * forms ("(er)", "((er)s)"). Since the r15 optimization round the
    * merges come from the stored `bpe_merges` artifact (round ≤ 3
    * prefix — identical winners to the 3-round chain) and application
    * is ONE corpus scan folding them through a single higher-order
    * `aggregate` (q168's production shape at depth 3) instead of the
    * old four corpus passes; the oracle still replays the full chain
    * ([[bpeChainCtes]]), so training and application cannot disagree
    * without a hash mismatch. FROM-driven emptiness preserved via the
    * size(ms) = 3 guard. HASH-MATCHED. */
  val q165 = QueryDef.oracle("q165_bpe_apply",
    s"""$bpeChainCtes,
      |w4 AS (SELECT replace(w3.w, m3.pair, chr(3)) AS w FROM w3, m3),
      |d3 AS (SELECT replace(replace(m3.pair, chr(2), '(' || d2.d || ')'),
      |                      chr(1), '(' || m1.pair || ')') AS d
      |       FROM m3, d2, m1),
      |ch AS (SELECT unnest(string_split(w, '')) AS tok FROM w4),
      |tc AS (SELECT tok, CAST(count(*) AS BIGINT) AS n FROM ch GROUP BY 1)
      |SELECT replace(replace(replace(tc.tok,
      |         chr(3), '(' || d3.d || ')'),
      |         chr(2), '(' || d2.d || ')'),
      |         chr(1), '(' || m1.pair || ')') AS token,
      |       tc.n AS n_occurrences
      |FROM tc, d3, d2, m1
      |ORDER BY n_occurrences DESC, token
      |LIMIT 20""".stripMargin)(
    (s, d) => {
      // r15 optimization: q165 was FOUR corpus-wide passes per run
      // (three training argmaxes + the rewrite chain). The merges come
      // from the stored `bpe_merges` artifact's round ≤ 3 prefix
      // (identical to the 3-round chain's winners) and application is
      // q168's one-scan fold — per-merge cost is a replace inside the
      // fold expression, not a corpus scan. The size(ms) = 3 guard is
      // the old crossJoin-ladder emptiness convention: any incomplete
      // training prefix empties the result on both engines.
      val mrow3 = storedBpeMerges(s, d).filter(col("round") <= 3)
        .agg(sort_array(collect_list(
          struct(col("round"), col("pat"), col("sent")))).as("ms"))
        .filter(size(col("ms")) === 3)
        .select(col("ms"), expr(
          """aggregate(ms,
            |  cast(array() as array<struct<sent:string,disp:string>>),
            |  (acc, m) -> array_append(acc, named_struct(
            |    'sent', m.sent,
            |    'disp', concat('(',
            |      aggregate(acc, m.pat, (a, pd) -> replace(a, pd.sent, pd.disp)),
            |      ')'))))""".stripMargin).as("dmap"))
      val words = Tables.documentsParallel(s, d)
        .select(explode(tokens(col("text"))).as("w"))
      val applied = words.crossJoin(broadcast(mrow3))
        .select(expr("aggregate(ms, w, (acc, m) -> replace(acc, m.pat, m.sent))")
          .as("w"), col("dmap"))
      applied.select(explode(split(col("w"), "")).as("tok"), col("dmap"))
        .groupBy("tok", "dmap").agg(count(lit(1)).as("n"))
        .select(
          expr("aggregate(dmap, tok, (a, pd) -> replace(a, pd.sent, pd.disp))")
            .as("token"),
          col("n").as("n_occurrences"))
        .orderBy(col("n_occurrences").desc, col("token")).limit(20)
    })

  /** PRODUCTION-shaped BPE apply — the one-pass k-merge fold q165's
    * Scaladoc promised ("a production tokenizer folds all 30k merges
    * into one scan-stage pass"), made real and mechanically asserted:
    *
    *  - the trained merge list becomes a stored ARTIFACT
    *    ([[graft.sources.ArtifactStore]] — built once per corpus, which
    *    is exactly how a tokenizer ships: train offline, apply
    *    everywhere);
    *  - application is ONE corpus scan folding the whole ordered merge
    *    table through a single higher-order `aggregate` expression —
    *    per-merge cost is a replace inside the fold, so k grows the
    *    expression, NOT the number of corpus scans (q160/q165 rescan
    *    per merge: pedagogically oracle-checkable, but at k=30k that is
    *    the difference between a tokenizer and a non-starter);
    *  - the readable sentinel→"(er)" expansion is itself a fold: each
    *    merge's display string is its pattern with all EARLIER
    *    sentinels expanded (an `aggregate` over the prefix already
    *    folded), so display strings are sentinel-free and replacement
    *    order stops mattering.
    *
    * Same output contract as q165 (top-20 tokens, bracketed readable
    * forms) at depth k = [[BpeTrainK]] — the oracle is GENERATED
    * unrolled CTEs ([[bpeApplyCtesK]]) replaying the k-round trainer
    * plus the fold application, so the trainer that ships the artifact
    * and the fold apply cannot disagree without a hash mismatch. The
    * `size(ms) = BpeTrainK` guard mirrors the oracle's FROM-every-
    * display emptiness convention on degenerate corpora. The plan-shape
    * record pins the one-scan apply plan. HASH-MATCHED.
    */
  val q168 = QueryDef.oracle("q168_bpe_fold_apply",
    bpeApplyCtesK(BpeTrainK))(
    (s, d) => {
      // one row: the ordered merge array + per-sentinel display map
      // (each display = pattern with every earlier sentinel expanded)
      val mrow = bpeMergeRow(s, d)
        .select(col("ms"), expr(
          """aggregate(ms,
            |  cast(array() as array<struct<sent:string,disp:string>>),
            |  (acc, m) -> array_append(acc, named_struct(
            |    'sent', m.sent,
            |    'disp', concat('(',
            |      aggregate(acc, m.pat, (a, pd) -> replace(a, pd.sent, pd.disp)),
            |      ')'))))""".stripMargin).as("dmap"))
      val words = Tables.documentsParallel(s, d)
        .select(explode(tokens(col("text"))).as("w"))
      val applied = words.crossJoin(broadcast(mrow))
        .select(expr("aggregate(ms, w, (acc, m) -> replace(acc, m.pat, m.sent))")
          .as("w"), col("dmap"))
      applied.select(explode(split(col("w"), "")).as("tok"), col("dmap"))
        .groupBy("tok", "dmap").agg(count(lit(1)).as("n"))
        .select(
          expr("aggregate(dmap, tok, (a, pd) -> replace(a, pd.sent, pd.disp))")
            .as("token"),
          col("n").as("n_occurrences"))
        .orderBy(col("n_occurrences").desc, col("token")).limit(20)
    })

  /** The ONE-ROW ordered merge array from the stored artifact, with the
    * oracle's FROM-driven emptiness convention (zero rows unless all
    * [[BpeTrainK]] training rounds produced a winner) — shared by every
    * apply-side consumer so the shipped-tokenizer shape cannot fork. */
  private[operators] def bpeMergeRow(s: SparkSession, d: String): DataFrame =
    storedBpeMerges(s, d)
      .agg(sort_array(collect_list(
        struct(col("round"), col("pat"), col("sent")))).as("ms"))
      .filter(size(col("ms")) === BpeTrainK)

  /** The trained merge TABLE as a stored artifact (round, pat, c, sent)
    * — built once per corpus by the k-round trainer at k = [[BpeTrainK]]
    * ([[bpeTrainWinners]], the exact loop q174 proves), read back by
    * every apply-side consumer (q168 tokenization, q173 fertility, and
    * since the r15 optimization round the training-report/apply pair
    * q160/q165, which consume its round ≤ 3 prefix — rounds 1..3 of the
    * k = 5 chain ARE the 3-round chain, same argmax over the same
    * rewrites). The winner count `c` rides along so the training REPORT
    * (q160) is also a read-back, not a re-train. The artifact IS the
    * shipped tokenizer — and it is the DEEPEST chain trained, not a
    * shallower sibling. */
  private def storedBpeMerges(s: SparkSession, d: String): DataFrame =
    graft.sources.ArtifactStore.table(s, d, "bpe_merges") {
      bpeTrainWinners(s, d, BpeTrainK)
        .map(_.select(col("round"), col("pat"), col("c"),
          expr("chr(round)").as("sent")))
        .reduce(_.unionByName(_))
    }

  /** Tokenizer FERTILITY by language — the multilingual-equity metric a
    * tokenizer eval reports (tokens per word; a language with high
    * fertility pays more sequence length for the same text): apply the
    * trained merges (the `bpe_merges` artifact — the k-round trainer's
    * output at k = [[BpeTrainK]], q168's fold, second consumer) to
    * every word, count post-merge characters (each = one token, q165's
    * convention) per language. Exactness: integer word and token
    * counts; fertility is one IEEE division rounded 4dp. Scale: ONE
    * corpus scan (the fold applies all k merges in-expression) + a
    * |langs|-bounded map-side-combined rollup; the oracle is GENERATED
    * unrolled CTEs replaying training + per-word application at the
    * same depth ([[bpeFertilityCtesK]]). HASH-MATCHED. */
  val q173 = QueryDef.oracle("q173_tokenizer_fertility",
    bpeFertilityCtesK(BpeTrainK))(
    (s, d) => {
      val mrow = bpeMergeRow(s, d)
      Tables.documentsParallel(s, d)
        .select(col("lang"), explode(tokens(col("text"))).as("w"))
        .crossJoin(broadcast(mrow))
        .select(col("lang"),
          expr("aggregate(ms, w, (acc, m) -> replace(acc, m.pat, m.sent))").as("w"))
        .groupBy("lang")
        .agg(count(lit(1)).as("n_words"), sum(length(col("w"))).as("n_tokens"),
          round(sum(length(col("w"))) * lit(1.0) / count(lit(1)), 4).as("fertility"))
    })

  /** Generated oracle for a k-round BPE training chain: unrolled CTEs
    * (the [[bpeChainCtes]] pattern made programmatic, like the k-means
    * [[SimilarityQueries]] oracle generator) — round r counts adjacent
    * pairs over the current words, takes the (count DESC, pair) argmax,
    * and rewrites with sentinel chr(r). */
  private[graft] def bpeTrainCtesK(k: Int): String = {
    val rounds = (1 to k).map { r =>
      val src = if (r == 1) "p" else s"p$r"
      val wSrc = if (r == 1) "w" else s"w$r"
      val step =
        s"""mr$r AS (SELECT pair, CAST(count(*) AS BIGINT) AS c FROM $src
           |        GROUP BY pair ORDER BY c DESC, pair LIMIT 1)""".stripMargin
      val rewrite = if (r == k) step else step + s""",
        |w${r + 1} AS (SELECT replace(w, (SELECT pair FROM mr$r), chr($r)) AS w FROM $wSrc),
        |p${r + 1} AS (SELECT unnest([substr(w, i, 2) FOR i IN range(1, len(w))]) AS pair
        |        FROM w${r + 1})""".stripMargin
      rewrite
    }
    s"$bpePairCtes,\n" + rounds.mkString(",\n")
  }

  /** Generated APPLY-side oracle for the k-round chain (q168's
    * contract at depth k): the trained words get round k's rewrite too,
    * each winner's DISPLAY expands its earlier sentinels to bracketed
    * readable forms (displays are sentinel-free by induction, so
    * replacement order stops mattering), and tokens = characters of the
    * fully rewritten words. FROM-driven off every display — zero rows
    * unless all k rounds produced a winner, mirroring the engine's
    * size(ms) = k guard. */
  private[graft] def bpeApplyCtesK(k: Int): String = {
    val wSrc = if (k == 1) "w" else s"w$k"
    val disp = (1 to k).map { r =>
      if (r == 1) "d1 AS (SELECT pair AS d FROM mr1)"
      else {
        val expanded = (r - 1 to 1 by -1).foldLeft(s"mr$r.pair") { (acc, j) =>
          s"replace($acc, chr($j), '(' || d$j.d || ')')"
        }
        s"d$r AS (SELECT $expanded AS d FROM mr$r, " +
          (r - 1 to 1 by -1).map(j => s"d$j").mkString(", ") + ")"
      }
    }.mkString(",\n")
    val tokenExpr = (k to 1 by -1).foldLeft("tc.tok") { (acc, r) =>
      s"replace($acc, chr($r), '(' || d$r.d || ')')"
    }
    s"""${bpeTrainCtesK(k)},
       |wA AS (SELECT replace(w, (SELECT pair FROM mr$k), chr($k)) AS w FROM $wSrc),
       |$disp,
       |ch AS (SELECT unnest(string_split(w, '')) AS tok FROM wA),
       |tc AS (SELECT tok, CAST(count(*) AS BIGINT) AS n FROM ch GROUP BY 1)
       |SELECT $tokenExpr AS token, tc.n AS n_occurrences
       |FROM tc, ${(k to 1 by -1).map(r => s"d$r").mkString(", ")}
       |ORDER BY n_occurrences DESC, token
       |LIMIT 20""".stripMargin
  }

  /** Generated FERTILITY oracle for the k-round chain (q173's contract
    * at depth k): per-language word stream through all k rewrites (each
    * FROM-driven off its 1-row winner), then tokens-per-word. */
  private[graft] def bpeFertilityCtesK(k: Int): String = {
    val rewrites = (1 to k).map { r =>
      val src = if (r == 1) "wl" else s"wl${r - 1}"
      s"wl$r AS (SELECT lang, replace($src.w, mr$r.pair, chr($r)) AS w FROM $src, mr$r)"
    }.mkString(",\n")
    s"""${bpeTrainCtesK(k)},
       |wl AS (SELECT lang, unnest(list_filter(
       |         regexp_split_to_array(text, '\\s+'), x -> x <> '')) AS w
       |       FROM documents),
       |$rewrites
       |SELECT lang, CAST(count(*) AS BIGINT) AS n_words,
       |       CAST(SUM(len(w)) AS BIGINT) AS n_tokens,
       |       round(SUM(len(w)) * 1.0 / count(*), 4) AS fertility
       |FROM wl$k GROUP BY lang""".stripMargin
  }

  /** The k-round trainer loop shared by q174 and the `bpe_merges`
    * artifact build — ONE source of what the shipped tokenizer learned:
    * per round, a corpus-wide pair count, the (count DESC, pair) argmax
    * pinned as a 1-row localCheckpoint (the linear-passes shape — see
    * q174's Scaladoc for the 2^k hazard the pin removes), and the
    * rewrite folded into the running words. Returns the pinned winners
    * as (round, pat, c) frames in round order. */
  private def bpeTrainWinners(s: SparkSession, d: String, k: Int): Seq[DataFrame] = {
    var words = Tables.documentsParallel(s, d)
      .select(explode(tokens(col("text"))).as("w"))
    (1 to k).map { r =>
      val top1 = words.select(explode(charPairs(col("w"))).as("pair"))
        .groupBy("pair").agg(count(lit(1)).as("c"))
        .orderBy(col("c").desc, col("pair")).limit(1)
        .localCheckpoint(false)
      words = words.crossJoin(broadcast(top1.select(col("pair").as("m"))))
        .select(expr(s"replace(w, m, chr($r))").as("w"))
      top1.select(lit(r).as("round"), col("pair").as("pat"), col("c"))
    }
  }

  /** k-ROUND BPE training (k = 5) — the proof that the q158/q160 merge
    * round composes into an arbitrary-depth training loop, not just the
    * hand-unrolled 3: a Scala loop builds round r's argmax over the
    * round-(r−1) rewrite, the oracle is GENERATED unrolled CTEs from the
    * same parameter (the k-means-oracle convention), and the merge list
    * ships SENTINEL-ENCODED (merged symbol = chr(round) — both engines
    * emit identical raw chars) instead of q160's bracketed display,
    * which would nest k deep for nothing a hash check can read.
    * CorpusGuardSpec pins the corpus sentinel-free through chr(k).
    * Scale: each round's ONE-ROW winner is localCheckpointed — without
    * that, the winner subtree re-derives every earlier round inside
    * both the next rewrite and the final union, and the corpus-scan
    * count doubles per round (2^k: 31 scans at k=5, observed in the
    * plan before the fix; 3.52 s at sf0.1). With the pin, training is
    * k sequential passes, round r's pass carrying r−1 accumulated
    * replaces — linear in k, the shape a deep trainer needs
    * (checkpointing the corpus-sized words instead was measured SLOWER
    * here, the q160 trade); a 30k-merge
    * production trainer breaks the chain with periodic checkpoints and
    * ships the result as the `bpe_merges` artifact (q168/q173 consume
    * exactly that). HASH-MATCHED. */
  val q174 = QueryDef.oracle("q174_bpe_train_k", {
    val branches = (1 to BpeTrainK).map(r =>
      s"SELECT $r AS round, pair AS merged_pair, c AS n_occurrences FROM mr$r")
      .mkString("\nUNION ALL\n")
    s"""${bpeTrainCtesK(BpeTrainK)}
       |SELECT * FROM ($branches)
       |ORDER BY round""".stripMargin})(
    (s, d) =>
      // the pinned-winner loop lives in [[bpeTrainWinners]], shared with
      // the `bpe_merges` artifact build — the trainer q174 proves IS the
      // trainer that ships
      bpeTrainWinners(s, d, BpeTrainK)
        .map(_.select(col("round"), col("pat").as("merged_pair"),
          col("c").as("n_occurrences")))
        .reduce(_.unionByName(_)).orderBy("round"))

  /** Language-ID CONFUSION MATRIX — the model-eval rollup of q42: per
    * (labeled, detected) cell, the doc count and its exact share of the
    * labeled language in ppm (integer division), plus the diagonal
    * flag. The per-doc classification comes from the ONE shared
    * [[langIdOracleSelect]] fragment (q42's definition verbatim — the
    * heuristic under audit cannot drift from the audit). This is the
    * acceptance report a langid filter ships with: per-language recall
    * sits on the diagonal, and every off-diagonal cell names the
    * specific confusion (e.g. es→fr) that a marker-list change would
    * move. Scale: one (labeled, detected)-keyed aggregate (≤ langs²
    * groups, map-side combined) + a broadcast join against the
    * labeled-lang totals (≤ langs rows). Output ≤ langs² rows at any
    * corpus size. HASH-MATCHED.
    */
  val q200 = QueryDef.oracle("q200_langid_confusion",
    s"""WITH d AS ($langIdOracleSelect),
       |tot AS (SELECT labeled_lang, CAST(count(*) AS BIGINT) AS n_labeled
       |        FROM d GROUP BY 1)
       |SELECT d.labeled_lang, d.detected_lang,
       |       CAST(count(*) AS BIGINT) AS n_docs,
       |       CAST(count(*) * 1000000 // t.n_labeled AS BIGINT) AS share_ppm,
       |       d.labeled_lang = d.detected_lang AS correct
       |FROM d JOIN tot t USING (labeled_lang)
       |GROUP BY d.labeled_lang, d.detected_lang, t.n_labeled""".stripMargin)(
    (s, d) => {
      val perDoc = Tables.documents(s, d)
        .select(col("lang").as("labeled_lang"),
          langIdHeuristic(col("text")).as("detected_lang"))
      val tot = perDoc.groupBy("labeled_lang")
        .agg(count(lit(1)).as("n_labeled"))
      perDoc.groupBy("labeled_lang", "detected_lang")
        .agg(count(lit(1)).as("n_docs"))
        .join(broadcast(tot), Seq("labeled_lang"))
        .select(col("labeled_lang"), col("detected_lang"), col("n_docs"),
          expr("n_docs * 1000000 div n_labeled").as("share_ppm"),
          (col("labeled_lang") === col("detected_lang")).as("correct"))
    })

  /** Per-source VOCABULARY GROWTH audit (the Heaps'-law health check a
    * corpus intake runs): token volume, distinct-type count, hapax
    * count (types seen exactly once), and the two exact-ppm ratios —
    * type-token ratio and hapax share of the vocabulary. A source whose
    * hapax share collapses is template spam (the same tokens over and
    * over); one whose TTR spikes is ID/hash noise (every token novel) —
    * the two tails a quality gate wants flagged BEFORE training a
    * tokenizer on the mix. All counts are exact integers off ONE
    * (source, tok)-keyed aggregate (map-side combined, exchange volume
    * = per-source vocab size, sublinear in corpus); the rollup above it
    * is |sources|-sized. Output: one row per source. HASH-MATCHED.
    */
  val q201 = QueryDef.oracle("q201_vocab_growth",
    """WITH tf AS (
      |  SELECT source, tok, CAST(count(*) AS BIGINT) AS freq
      |  FROM (SELECT source, unnest(list_filter(
      |          regexp_split_to_array(text, '\s+'), x -> x <> '')) AS tok
      |        FROM documents)
      |  GROUP BY source, tok)
      |SELECT source, CAST(SUM(freq) AS BIGINT) AS n_toks,
      |       CAST(count(*) AS BIGINT) AS n_types,
      |       CAST(count(*) FILTER (freq = 1) AS BIGINT) AS n_hapax,
      |       CAST(count(*) * 1000000 // SUM(freq) AS BIGINT) AS ttr_ppm,
      |       CAST(count(*) FILTER (freq = 1) * 1000000 // count(*) AS BIGINT)
      |         AS hapax_ppm
      |FROM tf GROUP BY source""".stripMargin)(
    (s, d) => Tables.documents(s, d)
      .select(col("source"), explode(tokens(col("text"))).as("tok"))
      .groupBy("source", "tok").agg(count(lit(1)).as("freq"))
      .groupBy("source")
      .agg(sum("freq").as("n_toks"), count(lit(1)).as("n_types"),
        sum(when(col("freq") === 1, 1L).otherwise(0L)).as("n_hapax"))
      .select(col("source"), col("n_toks"), col("n_types"), col("n_hapax"),
        expr("n_types * 1000000 div n_toks").as("ttr_ppm"),
        expr("n_hapax * 1000000 div n_types").as("hapax_ppm")))

  /** PADDING-WASTE accounting — the number that justifies q77's
    * concat-and-chunk packing: per source, the token slots a naive
    * pad-each-doc-to-512 batching would allocate (⌈n/512⌉·512 per doc)
    * vs the actual token mass vs what packing allocates (one ⌈Σn/512⌉
    * ceiling for the whole source). waste_ppm is the exact integer
    * share of padded slots burned on padding — for ~80-token docs that
    * is ~84% of the batch doing nothing, the single biggest silent
    * compute sink in naive fine-tuning loaders. One map-side-combined
    * source rollup over scan-stage integer arithmetic; ≤ |sources|
    * rows. HASH-MATCHED.
    */
  val q210 = QueryDef.oracle("q210_padding_waste",
    """WITH t AS (SELECT doc_id, source,
      |             CAST(len(regexp_extract_all(text, '\S+')) AS BIGINT) AS n
      |           FROM documents),
      |r AS (SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
      |        CAST(SUM(n) AS BIGINT) AS n_tokens,
      |        CAST(SUM((n + 511) // 512 * 512) AS BIGINT) AS padded_slots
      |      FROM t GROUP BY source)
      |SELECT source, n_docs, n_tokens, padded_slots,
      |       padded_slots - n_tokens AS waste_tokens,
      |       CASE WHEN padded_slots > 0
      |            THEN (padded_slots - n_tokens) * 1000000 // padded_slots
      |            ELSE CAST(0 AS BIGINT) END AS waste_ppm,
      |       (n_tokens + 511) // 512 * 512 AS packed_slots
      |FROM r""".stripMargin)(
    (s, d) => Tables.documents(s, d)
      .select(col("source"), tokenCount(col("text")).cast("long").as("n"))
      .groupBy("source")
      .agg(count(lit(1)).as("n_docs"), sum("n").as("n_tokens"),
        sum(expr("(n + 511) div 512 * 512")).as("padded_slots"))
      .select(col("source"), col("n_docs"), col("n_tokens"), col("padded_slots"),
        (col("padded_slots") - col("n_tokens")).as("waste_tokens"),
        when(col("padded_slots") > 0,
          expr("(padded_slots - n_tokens) * 1000000 div padded_slots"))
          .otherwise(lit(0L)).as("waste_ppm"),
        expr("(n_tokens + 511) div 512 * 512").as("packed_slots")))

  /** PER-SOURCE LEXICAL DIVERSITY report — the corpus-composition
    * metrics a data-mixing decision reads before weighting sources:
    * unigram Shannon entropy of each source's token distribution (in
    * micro-bits — a source of repeated boilerplate scores low, diverse
    * prose scores near log2(vocab)), type-token ratio in ppm, plus the
    * exact token and vocabulary counts. Entropy uses q123's established
    * micro-bit convention — per-token-type bits = round(log2(N/c)·10⁶)
    * (one engine-identical rounding per VALUE, then pure integer
    * arithmetic), H_micro = Σ c·bits div N — and inherits that
    * convention's documented libm platform note. Scale shape: one
    * map-side-combined (source, token) aggregate (vocab-bounded,
    * sublinear in corpus), a |sources|-row stats rollup broadcast
    * back, and a second vocab-sized rollup — the corpus text never
    * shuffles. Output: one row per source. HASH-MATCHED. */
  val q220 = QueryDef.oracle("q220_source_entropy",
    """WITH toks AS (SELECT source, unnest(list_filter(
      |                regexp_split_to_array(text, '\s+'), x -> x <> '')) AS tok
      |              FROM documents),
      |g AS (SELECT source, tok, CAST(count(*) AS BIGINT) AS c
      |      FROM toks GROUP BY 1, 2),
      |st AS (SELECT source, CAST(SUM(c) AS BIGINT) AS n_total,
      |              CAST(count(*) AS BIGINT) AS vocab
      |       FROM g GROUP BY 1),
      |b AS (SELECT g.source, g.c,
      |        CAST(round(log2(CAST(st.n_total AS DOUBLE) / g.c) * 1000000)
      |             AS BIGINT) AS micro_bits
      |      FROM g JOIN st USING (source))
      |SELECT st.source, st.n_total AS n_tokens, st.vocab,
      |       CAST((1000000 * st.vocab) // st.n_total AS BIGINT) AS ttr_ppm,
      |       CAST(CAST(SUM(b.c * b.micro_bits) AS BIGINT) // st.n_total
      |            AS BIGINT) AS entropy_micro_bits
      |FROM b JOIN st USING (source)
      |GROUP BY st.source, st.n_total, st.vocab""".stripMargin)(
    (s, d) => {
      val toks = Tables.documents(s, d)
        .select(col("source"), explode(tokens(col("text"))).as("tok"))
      val g = toks.groupBy("source", "tok").agg(count(lit(1)).as("c"))
      val st = g.groupBy("source")
        .agg(sum("c").as("n_total"), count(lit(1)).as("vocab"))
      g.join(broadcast(st), Seq("source"))
        .select(col("source"), col("n_total"), col("vocab"), col("c"),
          round(log2(col("n_total").cast("double") / col("c")) * lit(1000000))
            .cast("long").as("micro_bits"))
        .groupBy("source", "n_total", "vocab")
        .agg(sum(col("c") * col("micro_bits")).as("bits_sum"))
        .select(col("source"), col("n_total").as("n_tokens"), col("vocab"),
          expr("(1000000 * vocab) div n_total").as("ttr_ppm"),
          expr("bits_sum div n_total").as("entropy_micro_bits"))
    })

  /** q224's and q325's per-source sketch input, SHARED: tokens →
    * distinct (source, tok) (`dt`) → `hll_in` (source, th = the
    * portable codepoint fold of the token). q325's union merges are
    * merges of q224's sketches only while both read this verbatim
    * (drift-spec pinned). */
  private[graft] val sourceTokenCtes: String =
    s"""toks AS (SELECT source, unnest(list_filter(
       |                regexp_split_to_array(text, '\\s+'), x -> x <> '')) AS tok
       |              FROM documents),
       |dt AS (SELECT DISTINCT source, tok FROM toks),
       |hll_in AS (SELECT source,
       |        list_reduce(list_prepend(CAST(0 AS BIGINT),
       |          list_transform(string_split(tok, ''),
       |            c -> CAST(unicode(c) AS BIGINT))),
       |          (a, b) -> (a * 131 + b) % 1000000007) AS th
       |      FROM dt)""".stripMargin

  private val hllStreams = graft.functions.PortableHll.Streams(11, 12)

  /** Spark twin of [[sourceTokenCtes]]'s `dt`: distinct (source, tok). */
  private[graft] def hllDt(s: SparkSession, d: String): DataFrame =
    Tables.documents(s, d)
      .select(col("source"), explode(tokens(col("text"))).as("tok"))
      .distinct()

  /** (source, bucket, rho) per distinct token of a `dt` frame. */
  private def hllRegisters(dt: DataFrame): DataFrame =
    graft.functions.PortableHll.registers(
      dt.select(col("source"), portableStringHash(col("tok")).as("th")), hllStreams)

  /** PORTABLE HyperLogLog — the hash-MATCHED sketch the q25 ledger row
    * says engine-native sketches can't be: per-source distinct-token
    * cardinality estimated by a 128-bucket HLL
    * ([[graft.functions.PortableHll]], streams 11/12, base hash = the
    * portable codepoint fold of the token), next to the exact answer
    * and the error it made. Because every bit of the sketch is exact
    * integer arithmetic, DuckDB replays the whole estimator bit for
    * bit — the DECLARED result is the estimate itself, not a rows-only
    * row count. Scale shape: ONE corpus scan in ONE linear chain —
    * distinct (source, token) aggregate (vocab-sized, map-side
    * combined), then a 128-row-per-source (max, count) rollup that
    * carries the exact distinct count alongside the sketch, so the
    * exact/estimate comparison costs no extra pass. `SketchAccuracySpec`
    * gates the estimate against HLL theory (σ = 1.04/√128 ≈ 9.2%).
    * HASH-MATCHED. */
  val q224 = {
    import graft.functions.PortableHll
    QueryDef.oracle("q224_portable_hll",
      s"""WITH $sourceTokenCtes,
         |${PortableHll.registerCtes(hllStreams)},
         |r AS (SELECT source, bucket, MAX(rho) AS mx,
         |        CAST(count(*) AS BIGINT) AS cnt
         |      FROM hll_rank GROUP BY 1, 2),
         |${PortableHll.estimateCte("est", "r", Seq("source"),
              "CAST(SUM(cnt) AS BIGINT) AS n_exact")}
         |SELECT source, n_exact, n_empty, est AS est_hll,
         |       CAST((est - n_exact) * 1000000 // n_exact AS BIGINT) AS err_ppm
         |FROM est""".stripMargin)(
      (s, d) => {
        val r = hllRegisters(hllDt(s, d))
          .groupBy("source", "bucket")
          .agg(max("rho").as("mx"), count(lit(1)).as("cnt"))
        PortableHll.estimate(r, Seq("source"), sum("cnt").cast("long").as("n_exact"))
          .select(col("source"), col("n_exact"), col("n_empty"), col("est").as("est_hll"),
            expr("CAST((est - n_exact) * 1000000 div n_exact AS BIGINT)")
              .as("err_ppm"))
      })
  }

  /** Length-BUCKETED batching waste — the dynamic-batching counterpart
    * of q210's pad-to-512 accounting: docs are binned to the next
    * power-of-two token length (clamped to [16, 1024], long docs
    * truncated at the cap — q210's convention), the way a serving /
    * fine-tuning stack pads within length-sorted batches instead of to
    * one global max. Per (source, bucket): docs, real tokens, padded
    * slots, waste in exact ppm — read next to q210's ~88% global-pad
    * waste, this is the measured case FOR length bucketing. The next-
    * pow2 is the same float-free bit-smear kernel as q224's rank
    * extraction (v = m−1 smeared, +1), so the whole table is integer-
    * exact on both engines. Scan-stage per-doc math + ONE map-side-
    * combined (source, bucket) rollup — nothing else moves. HASH-
    * MATCHED. */
  val q225 = QueryDef.oracle("q225_length_bucket_waste",
    """WITH n AS (SELECT doc_id, source,
      |             LEAST(CAST(len(regexp_extract_all(text, '\S+')) AS BIGINT),
      |                   1024) AS c
      |           FROM documents),
      |v AS (SELECT source, c, GREATEST(c, 16) - 1 AS v FROM n),
      |s1 AS (SELECT source, c, v | (v >> 1) AS v FROM v),
      |s2 AS (SELECT source, c, v | (v >> 2) AS v FROM s1),
      |s3 AS (SELECT source, c, v | (v >> 4) AS v FROM s2),
      |s4 AS (SELECT source, c, v | (v >> 8) AS v FROM s3),
      |b AS (SELECT source, c, v + 1 AS bucket FROM s4)
      |SELECT source, bucket,
      |       CAST(count(*) AS BIGINT) AS n_docs,
      |       CAST(SUM(c) AS BIGINT) AS n_tokens,
      |       CAST(bucket * count(*) AS BIGINT) AS n_slots,
      |       CAST(bucket * count(*) - SUM(c) AS BIGINT) AS waste,
      |       CAST((bucket * count(*) - SUM(c)) * 1000000
      |            // (bucket * count(*)) AS BIGINT) AS waste_ppm
      |FROM b GROUP BY source, bucket""".stripMargin)(
    (s, d) => {
      val n = Tables.documents(s, d).select(col("source"),
        least(tokenCount(col("text")).cast("long"), lit(1024L)).as("c"))
      val v0 = n.withColumn("v", greatest(col("c"), lit(16L)) - 1L)
      val b = graft.functions.PortableHll.smear(v0, "v")
        .withColumn("bucket", col("v") + 1L)
      b.groupBy("source", "bucket")
        .agg(count(lit(1)).as("n_docs"), sum("c").as("n_tokens"))
        .select(col("source"), col("bucket"), col("n_docs"),
          col("n_tokens").cast("long").as("n_tokens"),
          (col("bucket") * col("n_docs")).as("n_slots"),
          (col("bucket") * col("n_docs") - col("n_tokens")).as("waste"),
          expr("CAST((bucket * n_docs - n_tokens) * 1000000" +
            " div (bucket * n_docs) AS BIGINT)").as("waste_ppm"))
    })

  /** Pairwise source VOCABULARY overlap — the third angle on "do these
    * crawls duplicate each other", completing the triangle: q159
    * measures shared DOCUMENTS (membership), q188 shared WORD
    * FREQUENCIES (distribution), this measures shared WORD TYPES (set
    * Jaccard of the vocabularies). Two mirrors score high on all
    * three; two same-domain independent crawls score high here and on
    * q188 but zero on q159 — the separation that tells dedup apart
    * from topical redundancy. Exact integers: |A∩B| from ONE
    * token-keyed self-join of the distinct (source, token) table
    * (vocab-sized, never documents), |A∪B| by inclusion-exclusion,
    * Jaccard in exact ppm. The full |sources|² /2 grid is a broadcast
    * cross of the |sources|-row vocab table, so never-overlapping
    * pairs surface as explicit zeros. Output: one row per unordered
    * source pair. HASH-MATCHED. */
  val q236 = QueryDef.oracle("q236_vocab_overlap",
    """WITH toks AS (SELECT source, unnest(list_filter(
      |                regexp_split_to_array(text, '\s+'), x -> x <> '')) AS tok
      |              FROM documents),
      |dt AS (SELECT DISTINCT source, tok FROM toks),
      |vs AS (SELECT source, CAST(count(*) AS BIGINT) AS vocab FROM dt GROUP BY 1),
      |inter AS (SELECT a.source AS sa, b.source AS sb,
      |            CAST(count(*) AS BIGINT) AS n_common
      |          FROM dt a JOIN dt b ON a.tok = b.tok AND a.source < b.source
      |          GROUP BY 1, 2),
      |grid AS (SELECT a.source AS sa, b.source AS sb,
      |           a.vocab AS va, b.vocab AS vb
      |         FROM vs a JOIN vs b ON a.source < b.source)
      |SELECT g.sa, g.sb, g.va, g.vb,
      |       COALESCE(i.n_common, 0) AS n_common,
      |       CAST(COALESCE(i.n_common, 0) * 1000000
      |            // (g.va + g.vb - COALESCE(i.n_common, 0)) AS BIGINT)
      |         AS jaccard_ppm
      |FROM grid g LEFT JOIN inter i ON g.sa = i.sa AND g.sb = i.sb""".stripMargin)(
    (s, d) => {
      val dt = Tables.documents(s, d)
        .select(col("source"), explode(tokens(col("text"))).as("tok"))
        .distinct()
      val vs = dt.groupBy("source").agg(count(lit(1)).as("vocab"))
      val inter = dt.select(col("source").as("sa"), col("tok"))
        .join(dt.select(col("source").as("sb"), col("tok")), Seq("tok"))
        .filter(col("sa") < col("sb"))
        .groupBy("sa", "sb").agg(count(lit(1)).as("n_common"))
      val grid = vs.select(col("source").as("sa"), col("vocab").as("va"))
        .join(broadcast(vs.select(col("source").as("sb"),
          col("vocab").as("vb"))), col("sa") < col("sb"))
      grid.join(inter, Seq("sa", "sb"), "left")
        .select(col("sa"), col("sb"), col("va"), col("vb"),
          coalesce(col("n_common"), lit(0L)).as("n_common"),
          expr("CAST(COALESCE(n_common, 0L) * 1000000" +
            " div (va + vb - COALESCE(n_common, 0L)) AS BIGINT)")
            .as("jaccard_ppm"))
    })

  /** PHRASE SEARCH over a positional inverted index — the search-
    * engine primitive the retrieval family lacks: q124's BM25 ranks by
    * bag-of-words, but "new york" is not "york new", and phrase
    * matching needs POSITIONS. Build side: postings (doc_id, pos, term)
    * from one tokenize explode — at 100 TB this is the stored
    * term-bucketed artifact, gpos's unhashed sibling. The query phrase
    * is the corpus's top bigram (count desc, then lexicographic — a
    * deterministic self-referential pick, like q161's salient terms),
    * found with ONE doc-keyed lead window + a bigram-keyed rollup +
    * a bounded top-1 (TakeOrdered, never a full sort). Probe side runs
    * the way a search engine actually executes a phrase: fetch the two
    * terms' posting lists (term-pruned — O(postings of the phrase
    * terms), NOT a corpus pass) and join them on positional adjacency
    * p2.pos = p1.pos + 1 within a document. Output: every matching doc
    * with its occurrence count. Scale shape: one explode, one doc-keyed
    * window, one bigram rollup, broadcast 1-row phrase, doc-keyed
    * adjacency join over two pruned posting lists. HASH-MATCHED. */
  val q248 = QueryDef.oracle("q248_phrase_search",
    """WITH l AS (SELECT doc_id,
      |             list_filter(regexp_split_to_array(text, '\s+'),
      |                         x -> x <> '') AS l
      |           FROM documents),
      |bg AS (SELECT doc_id, unnest([{'w1': l[i], 'w2': l[i + 1]}
      |                              FOR i IN range(1, len(l))]) AS b
      |       FROM l),
      |bgc AS (SELECT b.w1 AS w1, b.w2 AS w2, count(*) AS cnt
      |        FROM bg GROUP BY 1, 2),
      |top AS (SELECT w1, w2 FROM bgc
      |        ORDER BY cnt DESC, w1, w2 LIMIT 1)
      |SELECT bg.doc_id, t.w1, t.w2, CAST(count(*) AS BIGINT) AS n_hits
      |FROM bg JOIN top t ON bg.b.w1 = t.w1 AND bg.b.w2 = t.w2
      |GROUP BY 1, 2, 3""".stripMargin)(
    (s, d) => {
      // build: postings (doc_id, pos, term) — ONE tokenize explode
      val postings = Tables.documents(s, d)
        .select(col("doc_id"), posexplode(tokens(col("text")))
          .as(Seq("pos", "term")))
      // index-build analytics: top bigram via doc-keyed lead
      val w = Window.partitionBy("doc_id").orderBy("pos")
      val top = postings
        .withColumn("w2", lead("term", 1).over(w))
        .filter(col("w2").isNotNull)
        .groupBy(col("term").as("w1"), col("w2"))
        .agg(count(lit(1)).as("cnt"))
        .orderBy(col("cnt").desc, col("w1"), col("w2"))
        .limit(1)
        .select("w1", "w2")
      // probe: two term-pruned posting fetches joined on adjacency —
      // the phrase executes against the INDEX, not the corpus
      val p1 = postings.join(broadcast(top), col("term") === col("w1"))
        .select(col("doc_id"), col("pos"), col("w1"), col("w2"))
      val p2 = postings.join(broadcast(top.select(col("w2").as("w2p"))),
          col("term") === col("w2p"))
        .select(col("doc_id").as("doc_id2"), col("pos").as("pos2"))
      p1.join(p2, col("doc_id") === col("doc_id2") &&
          col("pos2") === col("pos") + 1)
        .groupBy("doc_id", "w1", "w2")
        .agg(count(lit(1)).as("n_hits"))
    })

  /** Sliding-window CHUNKING overhead — the retrieval/embedding-index
    * prep cost model q210/q225 don't cover: docs are cut into W=128-
    * token windows at stride S=96 (32-token overlap, the standard RAG /
    * context-packing shape — overlap so no semantic unit is split at
    * every boundary), the last chunk left ragged (variable length, no
    * padding). Per source, in exact integers: docs, emitted chunks,
    * corpus tokens, DUPLICATED token slots ((n_chunks−1)·(W−S) per doc
    * — the tokens embedded twice purely for overlap; this is the
    * marginal embedding-compute bill of the overlap parameter), the
    * overhead in exact ppm, and fragment tails (last chunk under 32
    * tokens — chunks so short their embeddings are mostly noise).
    * n_chunks is closed-form (1 + ⌈(n−W)/S⌉), so NOTHING is exploded —
    * the audit is pure scan-stage arithmetic on token counts + ONE
    * map-side-combined source rollup; the actual chunk EMISSION at
    * 100 TB is the same closed form fed to a generator, costed here
    * before anyone pays it. Output: one row per source. HASH-MATCHED. */
  val q254 = QueryDef.oracle("q254_chunk_overlap_cost",
    """WITH tk AS (SELECT source,
      |              CAST(len(regexp_extract_all(text, '\S+')) AS BIGINT) AS n_tok
      |            FROM documents),
      |ch AS (SELECT source, n_tok,
      |         CASE WHEN n_tok = 0 THEN CAST(0 AS BIGINT)
      |              WHEN n_tok <= 128 THEN CAST(1 AS BIGINT)
      |              ELSE 1 + (n_tok - 128 + 95) // 96 END AS n_chunks
      |       FROM tk),
      |cc AS (SELECT source, n_tok, n_chunks,
      |         CASE WHEN n_chunks > 1 THEN (n_chunks - 1) * 32
      |              ELSE CAST(0 AS BIGINT) END AS dup_tok,
      |         CASE WHEN n_chunks > 1
      |               AND n_tok - (n_chunks - 1) * 96 < 32
      |              THEN 1 ELSE 0 END AS frag
      |       FROM ch)
      |SELECT source,
      |       CAST(count(*) AS BIGINT) AS n_docs,
      |       CAST(SUM(n_chunks) AS BIGINT) AS n_chunks,
      |       CAST(SUM(n_tok) AS BIGINT) AS n_tokens,
      |       CAST(SUM(dup_tok) AS BIGINT) AS dup_tokens,
      |       CASE WHEN SUM(n_tok) = 0 THEN NULL
      |            ELSE CAST(SUM(dup_tok) * 1000000 // SUM(n_tok) AS BIGINT)
      |       END AS overhead_ppm,
      |       CAST(SUM(frag) AS BIGINT) AS frag_tail_chunks
      |FROM cc GROUP BY source""".stripMargin)(
    (s, d) =>
      chunkCostFrame(Tables.documents(s, d).select(col("source"), col("text")))
        .groupBy("source")
        .agg(count(lit(1)).as("n_docs"),
          sum("n_chunks").cast("long").as("n_chunks"),
          sum("n_tok").cast("long").as("n_tokens"),
          sum("dup_tok").cast("long").as("dup_tokens"),
          when(sum("n_tok") === 0, lit(null).cast("long"))
            .otherwise(expr("CAST(SUM(dup_tok) * 1000000 div SUM(n_tok) AS BIGINT)"))
            .as("overhead_ppm"),
          sum("frag").cast("long").as("frag_tail_chunks")))

  /** The ONE per-doc chunk-cost chain (W=128, S=96) shared by q254's
    * batch rollup and `DocStreams.chunkGate`'s stateless streaming twin
    * — batch and stream cannot disagree on a doc's chunk accounting.
    * Adds n_tok / n_chunks / dup_tok / frag next to the input columns;
    * drops text on the way out (verdicts travel, content doesn't). */
  private[graft] def chunkCostFrame(docs: DataFrame): DataFrame = {
    import graft.functions.TextFunctions.tokenCount
    docs
      .withColumn("n_tok",
        coalesce(tokenCount(col("text")).cast("long"), lit(0L)))
      .withColumn("n_chunks", expr(
        "CASE WHEN n_tok = 0 THEN 0L WHEN n_tok <= 128 THEN 1L" +
          " ELSE 1L + (n_tok - 128 + 95) div 96 END"))
      .withColumn("dup_tok", expr(
        "CASE WHEN n_chunks > 1 THEN (n_chunks - 1) * 32 ELSE 0L END"))
      .withColumn("frag", expr(
        "CASE WHEN n_chunks > 1 AND n_tok - (n_chunks - 1) * 96 < 32" +
          " THEN 1L ELSE 0L END"))
      .drop("text")
  }

  /** TOKEN-FREQUENCY GINI — the concentration half of the corpus
    * profile q220's entropy starts: per source, the Gini coefficient
    * of the token-frequency distribution in exact integers via the
    * rank formula G = (2·Σᵢ i·xᵢ − (n+1)·Σx)/(n·Σx) over counts
    * sorted ascending with (count, token) tiebreak — 0 ⇒ every type
    * equally frequent, → 1 ⇒ the mass sits on a handful of types (a
    * boilerplate-heavy or template-generated source shows up here
    * before any dedup runs). top1_ppm (modal type's share) rides
    * along as the eyeball check. All integer: rank·count products
    * summed as BIGINT — safe to ~10¹⁸, i.e. vocab·tokens < 9·10¹⁸;
    * the 100-TB production form flips the three products to
    * DECIMAL(38,0)/HUGEINT (same floors, both engines) — noted, not
    * needed at any test SF. Scale shape: one corpus explode →
    * map-side-combined (source, token) rollup (vocab-sized, sublinear
    * in corpus) → source-keyed rank window over the ROLLUP → source
    * rollup. Output: one row per source. HASH-MATCHED. */
  val q269 = QueryDef.oracle("q269_token_gini",
    """WITH toks AS (SELECT source, unnest(list_filter(
      |                regexp_split_to_array(text, '\s+'), x -> x <> '')) AS tok
      |              FROM documents),
      |tf AS (SELECT source, tok, CAST(count(*) AS BIGINT) AS c
      |       FROM toks GROUP BY 1, 2),
      |r AS (SELECT source, c,
      |        CAST(ROW_NUMBER() OVER (PARTITION BY source ORDER BY c, tok)
      |             AS BIGINT) AS rk
      |      FROM tf),
      |g AS (SELECT source, CAST(count(*) AS BIGINT) AS n_types,
      |        CAST(SUM(c) AS BIGINT) AS n_tokens,
      |        CAST(SUM(rk * c) AS BIGINT) AS rc,
      |        CAST(MAX(c) AS BIGINT) AS top1
      |      FROM r GROUP BY 1)
      |SELECT source, n_types, n_tokens,
      |       CAST((2 * rc - (n_types + 1) * n_tokens) * 1000000
      |            // (n_types * n_tokens) AS BIGINT) AS gini_ppm,
      |       CAST(top1 * 1000000 // n_tokens AS BIGINT) AS top1_ppm
      |FROM g""".stripMargin)(
    (s, d) => {
      val tf = Tables.documents(s, d)
        .select(col("source"), explode(tokens(col("text"))).as("tok"))
        .groupBy("source", "tok").agg(count(lit(1)).as("c"))
      val r = tf.select(col("source"), col("c"),
        row_number().over(Window.partitionBy("source")
          .orderBy(col("c"), col("tok"))).cast("long").as("rk"))
      r.groupBy("source")
        .agg(count(lit(1)).as("n_types"), sum("c").as("n_tokens"),
          sum(col("rk") * col("c")).as("rc"), max("c").as("top1"))
        .select(col("source"), col("n_types").cast("long").as("n_types"),
          col("n_tokens").cast("long").as("n_tokens"),
          expr("CAST((2 * rc - (n_types + 1) * n_tokens) * 1000000" +
            " div (n_types * n_tokens) AS BIGINT)").as("gini_ppm"),
          expr("CAST(top1 * 1000000 div n_tokens AS BIGINT)").as("top1_ppm"))
    })

  /** SEQUENCE-LENGTH FRONTIER — the "choose max_seq_len" decision
    * table q210 (pad-to-512) and q225 (pow2 buckets) stop short of:
    * the SAME per-doc token counts priced at every candidate cap
    * (128 / 512 / 2048 / 8192), naive one-doc-per-slot padding vs
    * q77's concat-and-pack baseline, per cap in exact integers.
    * Reading a row: naive waste FALLS with smaller caps (less pad per
    * doc) but chunking long docs rises; packed waste is near zero at
    * every cap — the quantified case for packing BEFORE burning FLOPs
    * on pad tokens (the q210 corpus measured ~88% naive waste at 512).
    * Long docs chunk (⌈n/cap⌉ slots, q210's rule); the frontier is
    * data-independent arithmetic over ONE per-doc length pass — four
    * constant legs over the same map-side rollup, no second corpus
    * scan. Output: one row per cap. HASH-MATCHED. */
  val q278 = {
    val caps = Seq(128L, 512L, 2048L, 8192L)
    val arms = caps.map { c =>
      s"""SELECT CAST($c AS BIGINT) AS cap,
         |  CAST(SUM((n + $c - 1) // $c) AS BIGINT) AS naive_slots,
         |  CAST(SUM((n + $c - 1) // $c * $c) AS BIGINT) AS naive_slot_tokens,
         |  CAST(SUM(n) AS BIGINT) AS n_tokens,
         |  CAST((SUM((n + $c - 1) // $c * $c) - SUM(n)) * 1000000
         |       // SUM((n + $c - 1) // $c * $c) AS BIGINT) AS naive_waste_ppm,
         |  CAST((SUM(n) + $c - 1) // $c AS BIGINT) AS packed_slots,
         |  CAST(((SUM(n) + $c - 1) // $c * $c - SUM(n)) * 1000000
         |       // ((SUM(n) + $c - 1) // $c * $c) AS BIGINT) AS packed_waste_ppm
         |FROM t""".stripMargin
    }
    QueryDef.oracle("q278_seqlen_frontier",
      s"""WITH t AS (SELECT CAST(len(regexp_extract_all(text, '\\S+'))
         |             AS BIGINT) AS n
         |           FROM documents)
         |${arms.mkString("\nUNION ALL\n")}""".stripMargin)(
      (s, d) => {
        val t = Tables.documents(s, d)
          .select(coalesce(tokenCount(col("text")).cast("long"), lit(0L))
            .as("n"))
          .localCheckpoint(false) // one length pass feeds all four legs
        caps.map { c =>
          t.agg(
            sum(expr(s"(n + $c - 1) div $c")).as("naive_slots"),
            sum(expr(s"(n + $c - 1) div $c * $c")).as("naive_slot_tokens"),
            sum("n").as("n_tokens"))
            .select(lit(c).as("cap"),
              col("naive_slots").cast("long").as("naive_slots"),
              col("naive_slot_tokens").cast("long").as("naive_slot_tokens"),
              col("n_tokens").cast("long").as("n_tokens"),
              expr("CAST((naive_slot_tokens - n_tokens) * 1000000" +
                " div naive_slot_tokens AS BIGINT)").as("naive_waste_ppm"),
              expr(s"CAST((n_tokens + $c - 1) div $c AS BIGINT)")
                .as("packed_slots"),
              expr(s"CAST(((n_tokens + $c - 1) div $c * $c - n_tokens)" +
                s" * 1000000 div ((n_tokens + $c - 1) div $c * $c) AS BIGINT)")
                .as("packed_waste_ppm"))
        }.reduce(_ unionByName _)
      })
  }

  /** ZIPF FIT — per source, the least-squares slope of log-frequency
    * on log-rank over the top-100 types: natural text sits near −1;
    * a flat slope (template spam — every type equally frequent) or a
    * cliff (ID/hash noise — a long unique tail after a tiny head) are
    * both intake defects the count-based audits (q201's TTR/hapax)
    * flag only indirectly. Logs ride the engine-shared
    * round(log2·10⁶) micro convention (q123's), the normal-equation
    * sums go through DECIMAL(38,0)/HUGEINT, and slope/intercept come
    * out as ONE integer division each — both engines land identical
    * BIGINTs. Scale shape: vocab-sized (source, tok) rollup
    * (map-side), per-source rank window over the ROLLUP top-100, a
    * |sources|-row normal-equation rollup. HASH-MATCHED. */
  val q290 = QueryDef.oracle("q290_zipf_fit",
    """WITH toks AS (
      |  SELECT d.source, unnest(list_filter(
      |    regexp_split_to_array(text, '\s+'), x -> x <> '')) AS tok
      |  FROM documents d),
      |vc AS (SELECT source, tok, CAST(count(*) AS BIGINT) AS c
      |       FROM toks GROUP BY 1, 2),
      |r AS (SELECT source, c,
      |        ROW_NUMBER() OVER (PARTITION BY source
      |          ORDER BY c DESC, tok) AS rk
      |      FROM vc QUALIFY rk <= 100),
      |xy AS (SELECT source,
      |         CAST(round(log2(CAST(rk AS DOUBLE)) * 1000000) AS BIGINT) AS x,
      |         CAST(round(log2(CAST(c AS DOUBLE)) * 1000000) AS BIGINT) AS y
      |       FROM r),
      |a AS (SELECT source, CAST(count(*) AS BIGINT) AS n,
      |        CAST(SUM(x) AS HUGEINT) AS sx, CAST(SUM(y) AS HUGEINT) AS sy,
      |        SUM(CAST(x AS HUGEINT) * y) AS sxy,
      |        SUM(CAST(x AS HUGEINT) * x) AS sxx
      |      FROM xy GROUP BY 1),
      |s AS (SELECT source, n,
      |        CAST((n * sxy - sx * sy) * 1000000
      |             // (n * sxx - sx * sx) AS BIGINT) AS slope_micro,
      |        sx, sy
      |      FROM a WHERE n * sxx - sx * sx <> 0)
      |SELECT source, n AS n_types, slope_micro,
      |       CAST((sy * 1000000 - CAST(slope_micro AS HUGEINT) * sx)
      |            // (n * 1000000) AS BIGINT) AS intercept_micro
      |FROM s""".stripMargin)(
    (s, d) => {
      import org.apache.spark.sql.expressions.Window
      val vc = Tables.documents(s, d)
        .select(col("source"), explode(tokens(col("text"))).as("tok"))
        .groupBy("source", "tok").agg(count(lit(1)).as("c"))
      val r = vc.withColumn("rk", row_number().over(
        Window.partitionBy("source").orderBy(col("c").desc, col("tok"))))
        .filter(col("rk") <= 100)
      val xy = r.select(col("source"),
        round(log2(col("rk").cast("double")) * 1000000).cast("long").as("x"),
        round(log2(col("c").cast("double")) * 1000000).cast("long").as("y"))
      val a = xy.groupBy("source").agg(count(lit(1)).as("n"),
        sum("x").cast("decimal(38,0)").as("sx"),
        sum("y").cast("decimal(38,0)").as("sy"),
        sum(col("x").cast("decimal(38,0)") * col("y")).as("sxy"),
        sum(col("x").cast("decimal(38,0)") * col("x")).as("sxx"))
      a.filter(expr("n * sxx - sx * sx <> 0"))
        .withColumn("slope_micro", expr(
          "CAST((n * sxy - sx * sy) * 1000000 div (n * sxx - sx * sx) AS BIGINT)"))
        .select(col("source"), col("n").as("n_types"), col("slope_micro"),
          expr("CAST((sy * 1000000 - CAST(slope_micro AS DECIMAL(38,0)) * sx)" +
            " div (n * 1000000) AS BIGINT)").as("intercept_micro"))
    })

  /** GRAM NOVELTY CURVE — the within-corpus scaling-value question
    * under every "crawl more data" decision: consuming the corpus in
    * ingest (doc_id) order, how much NEW 3-gram structure does each
    * decile of documents contribute? A gram's novelty belongs to its
    * FIRST document (min doc_id per gram — one vocab-sized rollup,
    * never a sequential pass), each decile then sums first-occurrences
    * against its gram occurrences, and the running totals come from a
    * cumsum window over the 10-row decile table. Flattening novelty =
    * diminishing returns; a flat-then-spiking curve = a source-order
    * artifact worth shuffling. Also the batch truth for the streaming
    * novelty gate ([[graft.streaming.DocStreams.gramNoveltyGate]]).
    * Scale shape: one gram explode → (gram) min-rollup + one per-doc
    * occurrence rollup → 10-row axis; windows only over the decile
    * table. HASH-MATCHED. */
  val q291 = QueryDef.oracle("q291_gram_novelty_curve",
    """WITH nd AS (SELECT CAST(count(*) AS BIGINT) AS n FROM documents),
      |toks AS (
      |  SELECT doc_id, list_filter(COALESCE(regexp_split_to_array(text, '\s+'),
      |                             []), x -> x <> '') AS l
      |  FROM documents),
      |grams AS (
      |  SELECT doc_id, CASE WHEN len(l) < 3 THEN CAST([] AS VARCHAR[])
      |         ELSE [list_aggregate(l[i:i+2], 'string_agg', ' ')
      |               FOR i IN range(1, len(l) - 1)] END AS gs
      |  FROM toks),
      |ex AS (SELECT g.doc_id * 10 // nd.n + 1 AS decile, unnest(gs) AS gram
      |       FROM grams g, nd),
      |occ AS (SELECT decile, CAST(count(*) AS BIGINT) AS occurrences
      |        FROM ex GROUP BY 1),
      |first AS (SELECT gram, MIN(decile) AS fdec FROM ex GROUP BY 1),
      |nf AS (SELECT fdec AS decile, CAST(count(*) AS BIGINT) AS new_grams
      |       FROM first GROUP BY 1),
      |ndoc AS (SELECT d.doc_id * 10 // nd.n + 1 AS decile,
      |           CAST(count(*) AS BIGINT) AS n_docs
      |         FROM documents d, nd GROUP BY 1),
      |m AS (SELECT m0.decile, m0.n_docs,
      |        COALESCE(o.occurrences, 0) AS occurrences,
      |        COALESCE(f.new_grams, 0) AS new_grams
      |      FROM ndoc m0 LEFT JOIN occ o ON m0.decile = o.decile
      |           LEFT JOIN nf f ON m0.decile = f.decile)
      |SELECT decile, n_docs, occurrences, new_grams,
      |       CAST(SUM(new_grams) OVER (ORDER BY decile) AS BIGINT)
      |         AS cum_distinct,
      |       CAST(CASE WHEN occurrences = 0 THEN NULL
      |            ELSE new_grams * 1000000 // occurrences END AS BIGINT)
      |         AS novelty_ppm
      |FROM m""".stripMargin)(
    (s, d) => {
      import org.apache.spark.sql.expressions.Window
      val docs = Tables.documents(s, d)
      // 1-row corpus size, materialized so its scan doesn't replicate
      // into every consumer branch
      val nd = docs.agg(count(lit(1)).as("n")).localCheckpoint(false)
      // ONE gram-explode pass, folded map-side into the (decile, gram)
      // rollup, which is materialized once and feeds BOTH legs:
      // occurrences per decile AND first-occurrence novelty (decile is
      // monotone in doc_id, so MIN(decile) ≡ the first document's
      // decile — no second corpus scan for min-doc). The rollup is
      // vocab×10-sized — q201's sublinear exchange class
      val g2 = docs
        .select(col("doc_id"), explode(wordNgrams(col("text"), 3)).as("gram"))
        .crossJoin(broadcast(nd))
        .select(expr("doc_id * 10 div n + 1").as("decile"), col("gram"))
        .groupBy("decile", "gram").agg(count(lit(1)).as("c"))
        .localCheckpoint(false)
      val occ = g2.groupBy("decile").agg(sum("c").cast("long").as("occurrences"))
      val nf = g2.groupBy("gram").agg(min("decile").as("fdec"))
        .groupBy(col("fdec").as("decile")).agg(count(lit(1)).as("new_grams"))
      val ndoc = docs.select(col("doc_id")).crossJoin(broadcast(nd))
        .groupBy(expr("doc_id * 10 div n + 1").as("decile"))
        .agg(count(lit(1)).as("n_docs"))
      ndoc.join(occ, Seq("decile"), "left").join(nf, Seq("decile"), "left")
        .select(col("decile"), col("n_docs"),
          coalesce(col("occurrences"), lit(0L)).as("occurrences"),
          coalesce(col("new_grams"), lit(0L)).as("new_grams"))
        .withColumn("cum_distinct",
          sum("new_grams").over(Window.orderBy("decile")
            .rowsBetween(Window.unboundedPreceding, Window.currentRow))
            .cast("long"))
        .withColumn("novelty_ppm",
          when(col("occurrences") === 0, lit(null).cast("long"))
            .otherwise(expr("CAST(new_grams * 1000000 div occurrences AS BIGINT)")))
    })

  /** TOKEN-LENGTH DECILE TABLE — the numeric spine of a per-source
    * datasheet (q259's card points at distributions; this IS the
    * distribution): exact d/10 quantiles of tokens-per-doc for every
    * source, by rank over the (source, n_tok) value-count rollup —
    * the quantile at d is the smallest length whose cumulative count
    * reaches ⌈d·n/10⌉ (integer cross-multiplication, no
    * interpolation for engines to disagree on — the q207 lower-median
    * rule generalized to the full ladder). Sources whose deciles
    * bunch low are fragment-heavy; a p90/p50 explosion is the long
    * -tail packing hazard q225/q278 price. Scale shape: one map-side
    * value-count rollup → source-keyed cumsum windows over the
    * ROLLUP → 9-row decile axis joined against the bounded
    * cumulative table. HASH-MATCHED. */
  val q296 = QueryDef.oracle("q296_token_decile_table",
    """WITH tk AS (SELECT source,
      |              CAST(COALESCE(len(regexp_extract_all(text, '\S+')), 0)
      |                   AS BIGINT) AS n_tok
      |            FROM documents),
      |vc AS (SELECT source, n_tok, CAST(count(*) AS BIGINT) AS c
      |       FROM tk GROUP BY 1, 2),
      |cum AS (SELECT source, n_tok,
      |          SUM(c) OVER (PARTITION BY source ORDER BY n_tok) AS cf,
      |          SUM(c) OVER (PARTITION BY source) AS n
      |        FROM vc),
      |grid AS (SELECT unnest(range(1, 10)) AS d)
      |SELECT c.source, CAST(g.d AS BIGINT) AS decile,
      |       CAST(MAX(c.n) AS BIGINT) AS n_docs,
      |       CAST(MIN(CASE WHEN c.cf * 10 >= g.d * c.n THEN c.n_tok END)
      |            AS BIGINT) AS tok_at_decile
      |FROM cum c, grid g
      |GROUP BY 1, 2""".stripMargin)(
    (s, d) => {
      import org.apache.spark.sql.expressions.Window
      val vc = Tables.documents(s, d)
        .select(col("source"),
          coalesce(tokenCount(col("text")).cast("long"), lit(0L)).as("n_tok"))
        .groupBy("source", "n_tok").agg(count(lit(1)).as("c"))
      val cum = vc
        .withColumn("cf", sum("c").over(
          Window.partitionBy("source").orderBy("n_tok")))
        .withColumn("n", sum("c").over(Window.partitionBy("source")))
      val grid = s.range(1, 10).toDF("d")
      cum.crossJoin(broadcast(grid))
        .groupBy(col("source"), col("d").as("decile"))
        .agg(max("n").cast("long").as("n_docs"),
          min(when(col("cf") * 10 >= col("d") * col("n"), col("n_tok")))
            .cast("long").as("tok_at_decile"))
    })

  /** HEAPS'-LAW FIT — the extrapolation q201's growth COUNTS and q291's
    * novelty CURVE stop short of: per source, fit log₂(types) = a +
    * β·log₂(tokens) over the source's own cumulative growth trajectory
    * (10 doc-rank-decile sample points, types attributed to their
    * first decile exactly as q291 attributes grams) and read off the
    * Heaps exponent β plus the log-domain prediction at 10× the
    * current token count — "how much new vocabulary will the next
    * crawl increment actually buy" as a number a scaling decision can
    * hold against q239's measured increments. Natural text sits near
    * β ≈ 0.5; β → 1 is an open-ended ID/hash tail (vocabulary never
    * saturates — tokenizer poison), β → 0 a closed template
    * vocabulary. Same integer discipline as q290: per-VALUE
    * round(log₂·10⁶), normal equations in DECIMAL(38,0)/HUGEINT, one
    * floor division per coefficient; the 10× prediction stays in the
    * log domain (pred = a + β·log₂(10·T), pure integer ops) so no
    * pow2 crosses an engine boundary. Scale shape: one doc-rank
    * window over skinny (source, doc_id) rows, one (source, decile,
    * tok) rollup (vocab-bounded), cumsums and the fit over ≤
    * 10·|sources| rows. Output: one row per source. HASH-MATCHED. */
  /** The Heaps-fit CTE chain (docs → f), parameterized by the snapshot
    * predicate/text so q311 (live corpus) and q318 (forecast fit on the
    * OLD snapshot) share ONE fit definition. Ends at
    * f(source, n, beta_micro, sx, sy, x_now). */
  private[graft] def heapsFitCtes(filterSql: String, textSql: String): String =
    s"""docs AS (
      |  SELECT source, doc_id, list_filter(
      |           COALESCE(regexp_split_to_array($textSql, '\\s+'), []),
      |           x -> x <> '') AS l
      |  FROM documents WHERE $filterSql),
      |rk AS (SELECT source, doc_id, l,
      |         ROW_NUMBER() OVER (PARTITION BY source ORDER BY doc_id) AS rn,
      |         COUNT(*) OVER (PARTITION BY source) AS cnt
      |       FROM docs),
      |ex AS (SELECT source, (rn - 1) * 10 // cnt + 1 AS dec, unnest(l) AS tok
      |       FROM rk),
      |tokd AS (SELECT source, dec, CAST(count(*) AS BIGINT) AS n_tok
      |         FROM ex GROUP BY 1, 2),
      |typd AS (SELECT source, fdec AS dec, CAST(count(*) AS BIGINT) AS n_new
      |         FROM (SELECT source, tok, MIN(dec) AS fdec FROM ex GROUP BY 1, 2)
      |         GROUP BY 1, 2),
      |cum AS (SELECT t.source, t.dec,
      |          SUM(t.n_tok) OVER (PARTITION BY t.source ORDER BY t.dec) AS ct,
      |          SUM(COALESCE(y.n_new, 0)) OVER (PARTITION BY t.source
      |            ORDER BY t.dec) AS cy
      |        FROM tokd t LEFT JOIN typd y
      |          ON t.source = y.source AND t.dec = y.dec),
      |xy AS (SELECT source,
      |         CAST(round(log2(CAST(ct AS DOUBLE)) * 1000000) AS BIGINT) AS x,
      |         CAST(round(log2(CAST(cy AS DOUBLE)) * 1000000) AS BIGINT) AS y
      |       FROM cum WHERE ct > 0 AND cy > 0),
      |a AS (SELECT source, CAST(count(*) AS BIGINT) AS n,
      |        CAST(SUM(x) AS HUGEINT) AS sx, CAST(SUM(y) AS HUGEINT) AS sy,
      |        SUM(CAST(x AS HUGEINT) * y) AS sxy,
      |        SUM(CAST(x AS HUGEINT) * x) AS sxx,
      |        CAST(MAX(x) AS HUGEINT) AS x_now
      |      FROM xy GROUP BY 1),
      |f AS (SELECT source, n,
      |        CAST((n * sxy - sx * sy) * 1000000
      |             // (n * sxx - sx * sx) AS BIGINT) AS beta_micro,
      |        sx, sy, x_now
      |      FROM a WHERE n * sxx - sx * sx <> 0)""".stripMargin

  val q311 = QueryDef.oracle("q311_heaps_fit",
    s"""WITH ${heapsFitCtes("TRUE", "text")},
      |g AS (SELECT source, n AS n_points, beta_micro,
      |        CAST((sy * 1000000 - CAST(beta_micro AS HUGEINT) * sx)
      |             // (n * 1000000) AS BIGINT) AS intercept_micro,
      |        x_now + 3321928 AS x10
      |      FROM f)
      |SELECT source, n_points, beta_micro, intercept_micro,
      |       CAST(intercept_micro + CAST(beta_micro AS HUGEINT) * x10
      |            // 1000000 AS BIGINT) AS pred_log2_types_micro_10x
      |FROM g""".stripMargin)(
    (s, d) => heapsFitFrame(
      Tables.documents(s, d).select(col("source"), col("doc_id"), col("text")))
      .select(col("source"), col("n").as("n_points"), col("beta_micro"),
        col("intercept_micro"),
        expr("CAST(intercept_micro + CAST(beta_micro AS DECIMAL(38,0))" +
          " * (x_now + 3321928) div 1000000 AS BIGINT)")
          .as("pred_log2_types_micro_10x")))

  /** Spark twin of [[heapsFitCtes]]: the per-source fit coefficients
    * (n, beta_micro, intercept_micro, sx, sy, x_now) over any
    * (source, doc_id, text) frame — q311 fits the live corpus, q318
    * fits the OLD snapshot and tests the forecast. */
  private def heapsFitFrame(docs: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val rk = docs
      .withColumn("rn", row_number().over(
        Window.partitionBy("source").orderBy("doc_id")))
      .withColumn("cnt", count(lit(1)).over(Window.partitionBy("source")))
    val ex = rk.select(col("source"),
      expr("(rn - 1) * 10 div cnt + 1").as("dec"),
      explode(tokens(col("text"))).as("tok"))
    val tokd = ex.groupBy("source", "dec").agg(count(lit(1)).as("n_tok"))
    val typd = ex.groupBy("source", "tok").agg(min("dec").as("fdec"))
      .groupBy(col("source"), col("fdec").as("dec"))
      .agg(count(lit(1)).as("n_new"))
    val wc = Window.partitionBy("source").orderBy("dec")
    val cum = tokd.join(typd, Seq("source", "dec"), "left")
      .withColumn("ct", sum("n_tok").over(wc))
      .withColumn("cy", sum(coalesce(col("n_new"), lit(0L))).over(wc))
    val xy = cum.filter(col("ct") > 0 && col("cy") > 0)
      .select(col("source"),
        round(log2(col("ct").cast("double")) * 1000000).cast("long").as("x"),
        round(log2(col("cy").cast("double")) * 1000000).cast("long").as("y"))
    val a = xy.groupBy("source").agg(count(lit(1)).as("n"),
      sum("x").cast("decimal(38,0)").as("sx"),
      sum("y").cast("decimal(38,0)").as("sy"),
      sum(col("x").cast("decimal(38,0)") * col("y")).as("sxy"),
      sum(col("x").cast("decimal(38,0)") * col("x")).as("sxx"),
      max("x").cast("decimal(38,0)").as("x_now"))
    a.filter(expr("n * sxx - sx * sx <> 0"))
      .withColumn("beta_micro", expr(
        "CAST((n * sxy - sx * sy) * 1000000 div (n * sxx - sx * sx) AS BIGINT)"))
      .withColumn("intercept_micro", expr(
        "CAST((sy * 1000000 - CAST(beta_micro AS DECIMAL(38,0)) * sx)" +
          " div (n * 1000000) AS BIGINT)"))
  }

  /** HEAPS FORECAST vs MEASURED — the loop-closer between q311's fit
    * and q239's measured increments (the optimizer-audit discipline —
    * q250/q253/q280 predict THEN check — applied to the vocabulary
    * forecast): fit the Heaps coefficients on the OLD snapshot view
    * alone, predict log₂(vocab) at the NEW snapshot's measured token
    * count, and put the prediction next to the NEW snapshot's measured
    * log₂(vocab) — err_micro = predicted − measured in log₂ micro-units
    * (positive = the fit over-promised novelty; ~0 validates using
    * q311's extrapolation for crawl budgeting). Snapshot views are the
    * ONE shared q190/q239 definition (same Scala vals — the family
    * cannot fork); the fit chain is the ONE shared [[heapsFitCtes]]/
    * [[heapsFitFrame]] (q311's own fit, applied to the old view).
    * Scale shape: the fit's rollups on the old view + one (source,
    * tok)-distinct rollup and one token-count rollup on the new view;
    * text never crosses an exchange. Output: one row per source with a
    * fit. HASH-MATCHED. */
  val q318 = {
    val oldPred = ExtensionQueries.snapshotOldPred
    val newPred = ExtensionQueries.snapshotNewPred
    val oldText = ExtensionQueries.snapshotOldTextSql
    QueryDef.oracle("q318_heaps_forecast_check",
      s"""WITH ${heapsFitCtes(oldPred, oldText)},
        |co AS (SELECT source, n AS n_points, beta_micro,
        |         CAST((sy * 1000000 - CAST(beta_micro AS HUGEINT) * sx)
        |              // (n * 1000000) AS BIGINT) AS intercept_micro
        |       FROM f),
        |nt AS (SELECT source, unnest(list_filter(
        |         COALESCE(regexp_split_to_array(text, '\\s+'), []),
        |         x -> x <> '')) AS tok
        |       FROM documents WHERE $newPred),
        |nm AS (SELECT source, CAST(count(*) AS BIGINT) AS new_tokens,
        |         CAST(count(DISTINCT tok) AS BIGINT) AS new_vocab
        |       FROM nt GROUP BY 1)
        |SELECT co.source, co.n_points, co.beta_micro,
        |       nm.new_tokens, nm.new_vocab,
        |       CAST(co.intercept_micro + CAST(co.beta_micro AS HUGEINT)
        |            * CAST(round(log2(CAST(nm.new_tokens AS DOUBLE)) * 1000000)
        |                   AS HUGEINT) // 1000000 AS BIGINT)
        |         AS pred_log2_vocab_micro,
        |       CAST(round(log2(CAST(nm.new_vocab AS DOUBLE)) * 1000000)
        |            AS BIGINT) AS meas_log2_vocab_micro,
        |       CAST(co.intercept_micro + CAST(co.beta_micro AS HUGEINT)
        |            * CAST(round(log2(CAST(nm.new_tokens AS DOUBLE)) * 1000000)
        |                   AS HUGEINT) // 1000000 AS BIGINT)
        |       - CAST(round(log2(CAST(nm.new_vocab AS DOUBLE)) * 1000000)
        |              AS BIGINT) AS err_micro
        |FROM co JOIN nm USING (source)
        |WHERE nm.new_tokens > 0 AND nm.new_vocab > 0""".stripMargin)(
      (s, d) => {
        val docs = Tables.documents(s, d)
        val co = heapsFitFrame(docs
          .filter(expr(oldPred))
          .select(col("source"), col("doc_id"),
            ExtensionQueries.snapshotOldText.as("text")))
        val nm = docs.filter(expr(newPred))
          .select(col("source"), explode(tokens(col("text"))).as("tok"))
          .groupBy("source")
          .agg(count(lit(1)).as("new_tokens"),
            countDistinct("tok").as("new_vocab"))
        co.join(nm, Seq("source"))
          .filter(col("new_tokens") > 0 && col("new_vocab") > 0)
          .withColumn("x_new",
            round(log2(col("new_tokens").cast("double")) * 1000000)
              .cast("long"))
          .withColumn("meas_log2_vocab_micro",
            round(log2(col("new_vocab").cast("double")) * 1000000)
              .cast("long"))
          .withColumn("pred_log2_vocab_micro", expr(
            "CAST(intercept_micro + CAST(beta_micro AS DECIMAL(38,0))" +
              " * x_new div 1000000 AS BIGINT)"))
          .select(col("source"), col("n").as("n_points"), col("beta_micro"),
            col("new_tokens"), col("new_vocab"),
            col("pred_log2_vocab_micro"), col("meas_log2_vocab_micro"),
            (col("pred_log2_vocab_micro") - col("meas_log2_vocab_micro"))
              .as("err_micro"))
      })
  }

  /** TERM BURSTINESS — Church & Gale's dispersion statistic, the
    * third axis of the vocabulary profile after frequency (q290's
    * Zipf head) and coverage (q151): per type, the variance-to-mean
    * ratio of its per-document count across ALL documents (zeros
    * included — algebraically, via the same moment identity as
    * q227/q309: VMR = (n·Σc² − cf²)/(n·cf), exact in integers, no
    * zero rows ever materialized). Poisson scatter ⇒ VMR = 1e6;
    * content words BURST (VMR ≫ 1e6 — a doc that mentions them,
    * mentions them repeatedly); function words sit near uniform. The
    * split matters operationally: burstiness separates keyword-like
    * types from glue BEFORE any IDF/c-TF-IDF stage, and a
    * template-spam source shows up as glue-grade VMR on content-grade
    * frequency. Also emits burst size cf/df in micro (mean
    * occurrences per CONTAINING doc). Scale shape: one (tok, doc)
    * rollup (map-side), one vocab-sized type rollup against a 1-row
    * broadcast doc count — corpus text never shuffles. Output: one
    * row per type with cf ≥ 5. HASH-MATCHED. */
  val q312 = QueryDef.oracle("q312_term_burstiness",
    """WITH nd AS (SELECT CAST(count(*) AS BIGINT) AS n FROM documents),
      |pd AS (SELECT tok, doc_id, CAST(count(*) AS BIGINT) AS c FROM (
      |         SELECT doc_id, unnest(list_filter(
      |           regexp_split_to_array(text, '\s+'), x -> x <> '')) AS tok
      |         FROM documents)
      |       GROUP BY 1, 2),
      |t AS (SELECT tok, CAST(count(*) AS BIGINT) AS df,
      |        CAST(SUM(c) AS BIGINT) AS cf,
      |        SUM(CAST(c AS HUGEINT) * c) AS s2
      |      FROM pd GROUP BY 1)
      |SELECT tok, df, cf,
      |       CAST(CAST(cf AS HUGEINT) * 1000000 // df AS BIGINT) AS burst_size_micro,
      |       CAST((nd.n * t.s2 - CAST(t.cf AS HUGEINT) * t.cf) * 1000000
      |            // (nd.n * t.cf) AS BIGINT) AS vmr_micro
      |FROM t, nd WHERE cf >= 5""".stripMargin)(
    (s, d) => {
      val docs = Tables.documents(s, d)
      val nd = docs.agg(count(lit(1)).as("n"))
      val pd = docs
        .select(col("doc_id"), explode(tokens(col("text"))).as("tok"))
        .groupBy("tok", "doc_id").agg(count(lit(1)).as("c"))
      val t = pd.groupBy("tok").agg(count(lit(1)).as("df"),
        sum("c").as("cf"),
        sum(col("c").cast("decimal(38,0)") * col("c")).as("s2"))
      t.filter(col("cf") >= 5).crossJoin(broadcast(nd))
        .select(col("tok"), col("df"), col("cf"),
          expr("CAST(CAST(cf AS DECIMAL(38,0)) * 1000000 div df AS BIGINT)")
            .as("burst_size_micro"),
          expr("CAST((CAST(n AS DECIMAL(38,0)) * s2" +
            " - CAST(cf AS DECIMAL(38,0)) * cf) * 1000000" +
            " div (CAST(n AS DECIMAL(38,0)) * cf) AS BIGINT)").as("vmr_micro"))
    })

  /** HLL SET-OPERATION overlap matrix — the mergeable-sketch answer to
    * q159's question: pairwise source vocabulary overlap WITHOUT the
    * token-keyed self-join. Per source pair, |A∩B| is estimated by
    * inclusion–exclusion over the SHARED q224 sketches
    * ([[sourceTokenCtes]] into [[graft.functions.PortableHll]],
    * drift-pinned): the union sketch is the
    * bucket-wise max of the two per-source sketches (the property that
    * makes HLL state mergeable — the same merge a 1000-executor
    * tree-aggregate does), est(A∩B) = est(A) + est(B) − est(A∪B), each
    * through the same integer estimator. Beside it, the EXACT intersection
    * (the dt self-join) and the estimator's signed error in ppm OF THE
    * UNION — the denominator inclusion–exclusion error actually scales
    * with (σ ≈ 1.04/√128 on each term). The operational question this
    * table answers at 100 TB: per-source sketches are 128 longs and
    * merge in O(m) — can overlap triage run on sketches alone, and for
    * which pair sizes does it lie? Scale shape: ONE corpus scan into
    * the vocab-sized dt (pinned — it feeds sketch AND exact sides),
    * |sources|×128 sketch rows, |pairs|×128 merge rows; only the exact
    * audit touches anything vocab-sized (tok-keyed equi-join). Output:
    * one row per unordered source pair. HASH-MATCHED. */
  val q325 = {
    import graft.functions.PortableHll
    QueryDef.oracle("q325_hll_overlap_matrix",
      s"""WITH $sourceTokenCtes,
         |${PortableHll.registerCtes(hllStreams)},
         |r AS (SELECT source, bucket, MAX(rho) AS mx FROM hll_rank GROUP BY 1, 2),
         |na AS (SELECT source, CAST(count(*) AS BIGINT) AS n FROM dt GROUP BY 1),
         |ix AS (SELECT a.source AS src_a, b.source AS src_b,
         |         CAST(count(*) AS BIGINT) AS inter_exact
         |       FROM dt a JOIN dt b ON a.tok = b.tok AND a.source < b.source
         |       GROUP BY 1, 2),
         |${PortableHll.estimateCte("est", "r", Seq("source"))},
         |prs AS (SELECT a.source AS src_a, b.source AS src_b
         |        FROM (SELECT DISTINCT source FROM r) a
         |        JOIN (SELECT DISTINCT source FROM r) b ON a.source < b.source),
         |ru AS (SELECT src_a, src_b, bucket, MAX(mx) AS mx
         |       FROM (SELECT p.src_a, p.src_b, r.bucket, r.mx
         |             FROM prs p JOIN r ON r.source = p.src_a
         |             UNION ALL
         |             SELECT p.src_a, p.src_b, r.bucket, r.mx
         |             FROM prs p JOIN r ON r.source = p.src_b)
         |       GROUP BY 1, 2, 3),
         |${PortableHll.estimateCte("estu", "ru", Seq("src_a", "src_b"))}
         |SELECT p.src_a, p.src_b, na.n AS n_a, nb.n AS n_b,
         |       COALESCE(ix.inter_exact, CAST(0 AS BIGINT)) AS inter_exact,
         |       ea.est + eb.est - eu.est AS inter_est,
         |       CAST((ea.est + eb.est - eu.est
         |             - COALESCE(ix.inter_exact, CAST(0 AS BIGINT))) * 1000000
         |            // (na.n + nb.n - COALESCE(ix.inter_exact, CAST(0 AS BIGINT)))
         |            AS BIGINT) AS err_vs_union_ppm
         |FROM prs p
         |JOIN na ON na.source = p.src_a
         |JOIN na nb ON nb.source = p.src_b
         |JOIN est ea ON ea.source = p.src_a
         |JOIN est eb ON eb.source = p.src_b
         |JOIN estu eu ON eu.src_a = p.src_a AND eu.src_b = p.src_b
         |LEFT JOIN ix ON ix.src_a = p.src_a AND ix.src_b = p.src_b""".stripMargin)(
      (s, d) => {
        // dt feeds BOTH the sketch chain and the exact audit; r feeds
        // the per-source estimator, the pair axis, and the union merge
        val dt = hllDt(s, d).localCheckpoint(false)
        val r = hllRegisters(dt).groupBy("source", "bucket")
          .agg(max("rho").as("mx")).localCheckpoint(false)
        def estimate(df: DataFrame, keys: Seq[String], out: String): DataFrame =
          PortableHll.estimate(df, keys).select((keys.map(col) :+ col("est").as(out)): _*)
        val na = dt.groupBy("source").agg(count(lit(1)).as("n"))
        val ix = dt.as("a")
          .join(dt.as("b"), col("a.tok") === col("b.tok") &&
            col("a.source") < col("b.source"))
          .groupBy(col("a.source").as("src_a"), col("b.source").as("src_b"))
          .agg(count(lit(1)).as("inter_exact"))
        val srcs = r.select("source").distinct()
        val prs = srcs.as("a")
          .join(srcs.as("b"), col("a.source") < col("b.source"))
          .select(col("a.source").as("src_a"), col("b.source").as("src_b"))
        val ru = prs.join(r, col("source") === col("src_a"))
          .select("src_a", "src_b", "bucket", "mx")
          .unionByName(prs.join(r, col("source") === col("src_b"))
            .select("src_a", "src_b", "bucket", "mx"))
          .groupBy("src_a", "src_b", "bucket").agg(max("mx").as("mx"))
        val ea = estimate(r, Seq("source"), "est1")
        val eu = estimate(ru, Seq("src_a", "src_b"), "est_u")
        prs
          .join(broadcast(na.toDF("src_a", "n_a")), Seq("src_a"))
          .join(broadcast(na.toDF("src_b", "n_b")), Seq("src_b"))
          .join(broadcast(ea.toDF("src_a", "est_a")), Seq("src_a"))
          .join(broadcast(ea.toDF("src_b", "est_b")), Seq("src_b"))
          .join(broadcast(eu), Seq("src_a", "src_b"))
          .join(broadcast(ix), Seq("src_a", "src_b"), "left")
          .select(col("src_a"), col("src_b"), col("n_a"), col("n_b"),
            coalesce(col("inter_exact"), lit(0L)).as("inter_exact"),
            (col("est_a") + col("est_b") - col("est_u")).as("inter_est"),
            expr("CAST((est_a + est_b - est_u - COALESCE(inter_exact, 0))" +
              " * 1000000 div (n_a + n_b - COALESCE(inter_exact, 0))" +
              " AS BIGINT)").as("err_vs_union_ppm"))
      })
  }

  /** PER-DOCUMENT KEYWORD EXTRACTION — TF-IDF top-3 terms per doc, the
    * tagging pass a corpus browser/labeling UI runs (q161 ranks terms
    * per SOURCE class; this is the per-document form): idf_micro =
    * round(log2(N/df)·10⁶) over document frequency, score = tf ·
    * idf_micro in exact integers, top-3 per doc with the (score desc,
    * term) tiebreak under a doc-KEYED window. Scale shape: one corpus
    * scan → (doc, tok) tf rollup + (tok) df rollup (both map-side
    * combined) → vocab-keyed join → doc-keyed top-3. Output: ≤3 rows
    * per doc. HASH-MATCHED. */
  val q347 = QueryDef.oracle("q347_keyword_extraction",
    """WITH tk AS (SELECT doc_id, unnest(list_filter(
      |              regexp_split_to_array(text, '\s+'), x -> x <> '')) AS term
      |            FROM documents),
      |tf AS (SELECT doc_id, term, CAST(count(*) AS BIGINT) AS tf
      |       FROM tk GROUP BY 1, 2),
      |df AS (SELECT term, CAST(count(DISTINCT doc_id) AS BIGINT) AS df
      |       FROM tk GROUP BY 1),
      |nn AS (SELECT CAST(count(*) AS BIGINT) AS n_docs FROM documents),
      |sc AS (SELECT tf.doc_id, tf.term, tf.tf, df.df,
      |         tf.tf * CAST(round(log2(CAST(nn.n_docs AS DOUBLE) / df.df)
      |                 * 1000000) AS BIGINT) AS score_micro
      |       FROM tf JOIN df USING (term), nn)
      |SELECT doc_id, term, tf, df, score_micro,
      |       CAST(rnk AS BIGINT) AS rnk
      |FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY doc_id
      |        ORDER BY score_micro DESC, term) AS rnk FROM sc)
      |WHERE rnk <= 3""".stripMargin)(
    (s, d) => {
      import org.apache.spark.sql.expressions.Window
      val tk = Tables.documents(s, d)
        .select(col("doc_id"), explode(tokens(col("text"))).as("term"))
        .localCheckpoint(false) // tf and df read one tokenize
      val tf = tk.groupBy("doc_id", "term").agg(count(lit(1)).as("tf"))
      val df = tk.groupBy("term").agg(countDistinct("doc_id").as("df"))
      val nn = Tables.documents(s, d).agg(count(lit(1)).as("n_docs"))
      val sc = tf.join(df, Seq("term")).crossJoin(broadcast(nn))
        .withColumn("score_micro", col("tf") * round(log2(
          col("n_docs").cast("double") / col("df")) * 1000000).cast("long"))
      sc.withColumn("rnk", row_number().over(Window.partitionBy("doc_id")
          .orderBy(col("score_micro").desc, col("term"))).cast("long"))
        .filter(col("rnk") <= 3)
        .select("doc_id", "term", "tf", "df", "score_micro", "rnk")
    })

  /** ZIPF RANK-FREQUENCY FIT — the power-law twin of q311's Heaps fit
    * (same micro-bit log points, same DECIMAL(38,0)/HUGEINT moment
    * algebra, same integer-division slope): log₂(freq) regressed on
    * log₂(rank) over the vocab table, with rank from the keyed
    * two-level numbering (keyedPrefixRank — the vocab GROWS, so no
    * zero-key rank window; r13 verdict #4's convention). TWO segments
    * expose the classic shape: 'head_32' (rank ≤ 32, where Zipf is
    * near-linear — the slope a corpus-health check reads, ≈ −1 for
    * natural text) and 'full' (all types — flattened by the hapax
    * plateau; the head-vs-full slope GAP is the template-spam signal
    * next to q201's TTR and q312's burstiness). Scale shape: one token
    * rollup → keyedPrefixRank → per-segment DECIMAL(38,0) moments →
    * 2-row fit. Output: one row per segment. HASH-MATCHED. */
  val q348 = QueryDef.oracle("q348_zipf_fit",
    """WITH f AS (SELECT tok, CAST(count(*) AS BIGINT) AS freq
      |           FROM (SELECT unnest(list_filter(
      |                   regexp_split_to_array(text, '\s+'), x -> x <> '')) AS tok
      |                 FROM documents) GROUP BY 1),
      |r AS (SELECT tok, freq, CAST(ROW_NUMBER() OVER (
      |        ORDER BY freq DESC, tok) AS BIGINT) AS rnk FROM f),
      |pt AS (SELECT s.segment,
      |         CAST(round(log2(CAST(rnk AS DOUBLE)) * 1000000) AS BIGINT) AS x,
      |         CAST(round(log2(CAST(freq AS DOUBLE)) * 1000000) AS BIGINT) AS y
      |       FROM r, unnest(['full', 'head_32']) AS s(segment)
      |       WHERE s.segment = 'full' OR rnk <= 32),
      |a AS (SELECT segment, CAST(count(*) AS HUGEINT) AS n,
      |        CAST(SUM(x) AS HUGEINT) AS sx, CAST(SUM(y) AS HUGEINT) AS sy,
      |        SUM(CAST(x AS HUGEINT) * y) AS sxy,
      |        SUM(CAST(x AS HUGEINT) * x) AS sxx
      |      FROM pt GROUP BY 1)
      |SELECT segment, CAST(n AS BIGINT) AS n_points,
      |       CAST((n * sxy - sx * sy) * 1000000
      |            // (n * sxx - sx * sx) AS BIGINT) AS slope_micro,
      |       CAST((sy * 1000000 - ((n * sxy - sx * sy) * 1000000
      |              // (n * sxx - sx * sx)) * sx)
      |            // (n * 1000000) AS BIGINT) AS intercept_micro
      |FROM a WHERE n * sxx - sx * sx <> 0""".stripMargin)(
    (s, d) => {
      val f = Tables.documents(s, d)
        .select(explode(tokens(col("text"))).as("tok"))
        .groupBy("tok").agg(count(lit(1)).as("freq"))
      val r = graft.pipeline.Clean.keyedPrefixRank(f,
        Seq(col("freq").desc, col("tok")), "rnk")
      val pt = r.withColumn("segment", explode(
          when(col("rnk") <= 32, array(lit("full"), lit("head_32")))
            .otherwise(array(lit("full")))))
        .select(col("segment"),
          round(log2(col("rnk").cast("double")) * 1000000).cast("long").as("x"),
          round(log2(col("freq").cast("double")) * 1000000).cast("long").as("y"))
      val a = pt.groupBy("segment").agg(
        count(lit(1)).cast("decimal(38,0)").as("n"),
        sum("x").cast("decimal(38,0)").as("sx"),
        sum("y").cast("decimal(38,0)").as("sy"),
        sum(col("x").cast("decimal(38,0)") * col("y")).as("sxy"),
        sum(col("x").cast("decimal(38,0)") * col("x")).as("sxx"))
      a.filter(expr("n * sxx - sx * sx <> 0"))
        .withColumn("slope_micro", expr(
          "CAST((n * sxy - sx * sy) * 1000000 div (n * sxx - sx * sx) AS BIGINT)"))
        .withColumn("intercept_micro", expr(
          "CAST((sy * 1000000 - ((n * sxy - sx * sy) * 1000000" +
            " div (n * sxx - sx * sx)) * sx) div (n * 1000000) AS BIGINT)"))
        .select(col("segment"), col("n").cast("long").as("n_points"),
          col("slope_micro"), col("intercept_micro"))
    })

  /** HILL TAIL-INDEX (per language) — the heavy-tail exponent of the
    * document-length distribution, the number that decides whether a
    * mean-based length filter is even meaningful (α ≤ 2: infinite
    * variance, every "average length" gate is sampling noise) and how
    * much mass a truncation cap at L leaves behind (P[X>x] ~ x^-α).
    * Classic Hill (1975) over the top-k order statistics: α̂⁻¹ =
    * (1/k)·Σ ln(x_(i)/x_(k+1)), with k = min(32, n−1) per language,
    * per-term ln micro-rounded before the sum (the log2-ladder
    * contract), α in micro units by exact integer division. The order
    * statistics come from a LANGUAGE-KEYED rank window — never a
    * global sort — and everything past the rank is ≤33 rows per
    * language. Complements q207 (MAD outliers) and q290/q348 (Zipf on
    * token frequencies): this is the tail law of the LENGTH axis.
    * Scale shape: doc-grain metadata scan → lang-keyed top-(k+1)
    * window → |langs|-row report. HASH-MATCHED. */
  val q362 = QueryDef.oracle("q362_hill_tail_index",
    """WITH r AS (SELECT lang, doc_id, n_chars,
      |        ROW_NUMBER() OVER (PARTITION BY lang
      |          ORDER BY n_chars DESC, doc_id) AS rn,
      |        CAST(count(*) OVER (PARTITION BY lang) AS BIGINT) AS n_docs
      |      FROM documents),
      |k AS (SELECT lang, n_docs,
      |        CAST(LEAST(32, n_docs - 1) AS BIGINT) AS kk
      |      FROM r GROUP BY 1, 2),
      |xr AS (SELECT r.lang, r.n_chars AS x_ref
      |       FROM r JOIN k ON k.lang = r.lang AND r.rn = k.kk + 1),
      |s AS (SELECT r.lang,
      |        CAST(SUM(CAST(round(ln(CAST(r.n_chars AS DOUBLE)
      |             / CAST(xr.x_ref AS DOUBLE)) * 1000000) AS BIGINT)) AS BIGINT)
      |          AS sum_log_micro
      |      FROM r JOIN k ON k.lang = r.lang JOIN xr ON xr.lang = r.lang
      |      WHERE r.rn <= k.kk GROUP BY 1)
      |SELECT k.lang AS lang, k.n_docs, k.kk AS k, xr.x_ref, s.sum_log_micro,
      |  CASE WHEN s.sum_log_micro <= 0 THEN NULL
      |       ELSE CAST(CAST(k.kk AS HUGEINT) * 1000000 * 1000000
      |                 // s.sum_log_micro AS BIGINT) END AS alpha_micro
      |FROM k JOIN xr ON xr.lang = k.lang JOIN s ON s.lang = k.lang""".stripMargin)(
    (s, d) => {
      // the pin stays: unpinned, PlanShapeSpec's broadcast audit flags q362
      val r = Tables.documents(s, d)
        .select(col("lang"), col("doc_id"), col("n_chars"))
        .withColumn("rn", row_number().over(Window.partitionBy("lang")
          .orderBy(col("n_chars").desc, col("doc_id"))))
        .withColumn("n_docs", count(lit(1)).over(Window.partitionBy("lang")))
        // everything below is <=33 rows per language
        .localCheckpoint(false)
      val k = r.groupBy("lang", "n_docs")
        .agg(least(lit(32L), col("n_docs") - 1).as("kk"))
      val xr = r.join(broadcast(k.select(col("lang"), col("kk"))), Seq("lang"))
        .filter(col("rn") === col("kk") + 1)
        .select(col("lang"), col("n_chars").as("x_ref"))
      val sm = r.join(broadcast(k.select(col("lang"), col("kk"))), Seq("lang"))
        .join(broadcast(xr), Seq("lang"))
        .filter(col("rn") <= col("kk"))
        .groupBy("lang")
        .agg(sum(round(log(col("n_chars").cast("double")
          / col("x_ref").cast("double")) * 1000000).cast("long"))
          .as("sum_log_micro"))
      k.join(broadcast(xr), Seq("lang")).join(broadcast(sm), Seq("lang"))
        .select(col("lang"), col("n_docs"), col("kk").as("k"), col("x_ref"),
          col("sum_log_micro"),
          when(col("sum_log_micro") <= 0, lit(null).cast("long"))
            .otherwise(expr("CAST(CAST(kk AS DECIMAL(38,0)) * 1000000" +
              " * 1000000 div sum_log_micro AS BIGINT)"))
            .as("alpha_micro"))
    })

  /** BIGRAM ENTROPY RATE (per source) — the redundancy estimate q220's
    * unigram entropy cannot see: H(next|cur) vs H(cur) over the SAME
    * bigram stream. A source whose conditional entropy is far below
    * its unigram entropy is locally predictable (templated/boilerplate
    * text compresses away), which is the signal behind every
    * "compression-ratio" quality heuristic — computed here exactly
    * instead of by running a compressor. Per-type terms micro-rounded
    * before the weighted sum (q220's per-VALUE convention), redundancy
    * = 1 − H₂/H₁ in exact ppm. One corpus bigram scan: the conditional
    * marginal c₁ and the per-source total are both rollups OF the
    * bigram rollup, never a second pass. Scale shape: one Generate →
    * (source, cur, next)-keyed rollup → (source, cur)-keyed join →
    * |sources|-row report. HASH-MATCHED. */
  val q363 = QueryDef.oracle("q363_entropy_rate",
    """WITH l AS (SELECT source, list_filter(regexp_split_to_array(
      |              COALESCE(text, ''), '\s+'), x -> x <> '') AS l
      |           FROM documents),
      |pairs AS (SELECT source,
      |        unnest([{'c': l[i], 'n': l[i+1]} FOR i IN range(1, len(l))]) AS p
      |      FROM l WHERE len(l) >= 2),
      |g2 AS (SELECT source, struct_extract(p, 'c') AS cur,
      |        struct_extract(p, 'n') AS nxt, CAST(count(*) AS BIGINT) AS c2
      |      FROM pairs GROUP BY 1, 2, 3),
      |g1 AS (SELECT source, cur, CAST(SUM(c2) AS BIGINT) AS c1
      |      FROM g2 GROUP BY 1, 2),
      |st AS (SELECT source, CAST(SUM(c1) AS BIGINT) AS n2 FROM g1 GROUP BY 1),
      |h2 AS (SELECT g2.source,
      |        CAST(SUM(g2.c2 * CAST(round(log2(CAST(g1.c1 AS DOUBLE) / g2.c2)
      |             * 1000000) AS BIGINT)) AS BIGINT) AS bits2
      |      FROM g2 JOIN g1 ON g1.source = g2.source AND g1.cur = g2.cur
      |      GROUP BY 1),
      |h1 AS (SELECT g1.source,
      |        CAST(SUM(g1.c1 * CAST(round(log2(CAST(st.n2 AS DOUBLE) / g1.c1)
      |             * 1000000) AS BIGINT)) AS BIGINT) AS bits1
      |      FROM g1 JOIN st USING (source) GROUP BY 1)
      |SELECT st.source AS source, st.n2 AS n_bigrams,
      |       CAST(h1.bits1 // st.n2 AS BIGINT) AS h1_micro_bits,
      |       CAST(h2.bits2 // st.n2 AS BIGINT) AS h2cond_micro_bits,
      |       CASE WHEN h1.bits1 <= 0 THEN NULL
      |            ELSE CAST(CAST(h1.bits1 - h2.bits2 AS HUGEINT) * 1000000
      |                 // h1.bits1 AS BIGINT) END AS redundancy_ppm
      |FROM st JOIN h1 USING (source) JOIN h2 USING (source)""".stripMargin)(
    (s, d) => {
      // THE one corpus bigram scan; cur/next recovered from the gram
      // string (tokens are whitespace-split, so the single space is a
      // safe separator)
      val g2 = Tables.documents(s, d)
        .select(col("source"),
          explode(wordNgrams(coalesce(col("text"), lit("")), 2)).as("gram"))
        .select(col("source"),
          substring_index(col("gram"), " ", 1).as("cur"),
          substring_index(col("gram"), " ", -1).as("nxt"))
        .groupBy("source", "cur", "nxt").agg(count(lit(1)).as("c2")) // marginal, totals, H2
      val g1 = g2.groupBy("source", "cur").agg(sum("c2").as("c1")) // totals, H1, H2 join
      val st = g1.groupBy("source").agg(sum("c1").as("n2"))
      val h2 = g2.join(g1, Seq("source", "cur"))
        .groupBy("source")
        .agg(sum(col("c2") * round(log2(col("c1").cast("double") / col("c2"))
          * 1000000).cast("long")).as("bits2"))
      val h1 = g1.join(broadcast(st), Seq("source"))
        .groupBy("source")
        .agg(sum(col("c1") * round(log2(col("n2").cast("double") / col("c1"))
          * 1000000).cast("long")).as("bits1"))
      st.join(broadcast(h1), Seq("source")).join(broadcast(h2), Seq("source"))
        .select(col("source"), col("n2").as("n_bigrams"),
          expr("CAST(bits1 div n2 AS BIGINT)").as("h1_micro_bits"),
          expr("CAST(bits2 div n2 AS BIGINT)").as("h2cond_micro_bits"),
          when(col("bits1") <= 0, lit(null).cast("long"))
            .otherwise(expr("CAST(CAST(bits1 - bits2 AS DECIMAL(38,0))" +
              " * 1000000 div bits1 AS BIGINT)"))
            .as("redundancy_ppm"))
    })

  /** GOOD–TURING COUNTS-OF-COUNTS — the smoothing table every n-gram LM
    * and vocabulary-coverage estimate is built on (Good 1953; the Gale
    * & Sampson "simple GT" low-frequency rows): N_r = how many types
    * occur exactly r times, r* = (r+1)·N_{r+1}/N_r the adjusted count,
    * and the unseen-mass row P₀ = N₁/N — the number that says how much
    * probability a held-out split will spend on tokens training never
    * saw (the companion to q201's vocab-growth and q318's Heaps
    * forecast, which predict how many NEW types arrive; this prices
    * them). Rows r = 0..8: the low-r region is where GT is used
    * verbatim (higher r falls back to raw counts in every practical
    * smoother), so the report axis is 9-bounded by construction.
    * Exact integers end to end: r* in micro units by integer division,
    * the mass columns route through DECIMAL(38,0) (r·N_r·10⁶ and
    * N₁·10⁶ both pass int64 near 10¹³ corpus tokens — the q350
    * lesson) and only the ≤10⁶ ppm columns cast to BIGINT. Scale
    * shape: one token rollup (map-side combined) → counts-of-counts
    * rollup FILTERED to freq ≤ 9 before the broadcast (the
    * counts-of-counts table itself grows with the corpus; the r-axis
    * slice is what's bounded) → 9-row report. HASH-MATCHED. */
  val q367 = QueryDef.oracle("q367_good_turing",
    """WITH f AS (SELECT tok, CAST(count(*) AS BIGINT) AS freq
      |           FROM (SELECT unnest(list_filter(
      |                   regexp_split_to_array(text, '\s+'), x -> x <> '')) AS tok
      |                 FROM documents) GROUP BY 1),
      |t AS (SELECT CAST(SUM(freq) AS DECIMAL(38,0)) AS n_tok FROM f),
      |cc AS (SELECT freq AS r, CAST(count(*) AS BIGINT) AS n_r
      |       FROM f WHERE freq <= 9 GROUP BY 1),
      |g AS (SELECT CAST(range AS BIGINT) AS r FROM range(1, 9)),
      |j AS (SELECT g.r, COALESCE(c1.n_r, 0) AS n_r, COALESCE(c2.n_r, 0) AS n_next
      |      FROM g LEFT JOIN cc c1 ON c1.r = g.r
      |             LEFT JOIN cc c2 ON c2.r = g.r + 1)
      |SELECT j.r, j.n_r, j.n_next,
      |  CASE WHEN j.n_r > 0
      |       THEN CAST((j.r + 1) * j.n_next * 1000000 // j.n_r AS BIGINT)
      |       END AS r_star_micro,
      |  CAST(CAST(j.r AS DECIMAL(38,0)) * j.n_r * 1000000 // t.n_tok
      |       AS BIGINT) AS obs_mass_ppm,
      |  CASE WHEN j.n_r > 0
      |       THEN CAST(CAST(j.n_r AS DECIMAL(38,0))
      |              * ((j.r + 1) * j.n_next * 1000000 // j.n_r) // t.n_tok
      |            AS BIGINT)
      |       END AS gt_mass_ppm
      |FROM j, t
      |UNION ALL
      |SELECT CAST(0 AS BIGINT), CAST(0 AS BIGINT),
      |  COALESCE((SELECT n_r FROM cc WHERE r = 1), 0),
      |  CAST(NULL AS BIGINT), CAST(0 AS BIGINT),
      |  CAST(CAST(COALESCE((SELECT n_r FROM cc WHERE r = 1), 0)
      |         AS DECIMAL(38,0)) * 1000000 // t.n_tok AS BIGINT)
      |FROM t""".stripMargin)(
    (s, d) => {
      val f = Tables.documents(s, d)
        .select(explode(tokens(col("text"))).as("tok"))
        .groupBy("tok").agg(count(lit(1)).as("freq")) // total + counts-of-counts
      val t = f.agg(sum("freq").cast("decimal(38,0)").as("n_tok"))
      // 9-bounded BEFORE the broadcast: the full counts-of-counts table
      // grows with the corpus (max freq rises), the r <= 9 slice doesn't
      val cc = f.filter(col("freq") <= 9)
        .groupBy(col("freq").as("r")).agg(count(lit(1)).as("n_r"))
      val g = s.range(1L, 9L).toDF("r")
      val j = g.join(broadcast(cc), Seq("r"), "left")
        .join(broadcast(cc.select((col("r") - 1).as("r"),
          col("n_r").as("n_next"))), Seq("r"), "left")
        .select(col("r"), coalesce(col("n_r"), lit(0L)).as("n_r"),
          coalesce(col("n_next"), lit(0L)).as("n_next"))
      val body = j.crossJoin(broadcast(t)).select(col("r"), col("n_r"),
        col("n_next"),
        when(col("n_r") > 0,
          expr("CAST((r + 1) * n_next * 1000000 div n_r AS BIGINT)"))
          .as("r_star_micro"),
        expr("CAST(CAST(r AS DECIMAL(38,0)) * n_r * 1000000 div n_tok" +
          " AS BIGINT)").as("obs_mass_ppm"),
        when(col("n_r") > 0,
          expr("CAST(CAST(n_r AS DECIMAL(38,0))" +
            " * ((r + 1) * n_next * 1000000 div n_r) div n_tok AS BIGINT)"))
          .as("gt_mass_ppm"))
      val n1 = cc.filter(col("r") === 1)
        .agg(coalesce(max("n_r"), lit(0L)).as("n1"))
      val unseen = n1.crossJoin(t).select(lit(0L).as("r"), lit(0L).as("n_r"),
        col("n1").as("n_next"), lit(null).cast("long").as("r_star_micro"),
        lit(0L).as("obs_mass_ppm"),
        expr("CAST(CAST(n1 AS DECIMAL(38,0)) * 1000000 div n_tok AS BIGINT)")
          .as("gt_mass_ppm"))
      body.unionByName(unseen)
    })

  /** PER-SOURCE UNSEEN-MASS PROFILE — q367's Good–Turing low-r rows
    * resolved to the SOURCE axis, the crawl-planning view: per source,
    * hapax share V₁/V (how much of the vocabulary is singletons),
    * unseen mass P₀ = V₁/N (the probability the source's NEXT token is
    * a type this corpus never saw — which crawl buys the most new
    * vocabulary), and the simple-GT adjusted hapax count r*₁ = 2·V₂/V₁
    * (≈1 for healthy text; ≪1 means the hapax tail is
    * noise/typos/IDs, the q201-TTR companion diagnostic). Exact
    * integers end to end: all three ratios by integer division on the
    * (source, tok) rollup's aggregates (token totals int64-safe to
    * ~9·10¹⁸ per source; the vocab counts are far smaller). Scale
    * shape: one (source, tok) rollup (map-side combined) →
    * |sources|-row report. HASH-MATCHED. */
  val q376 = QueryDef.oracle("q376_source_unseen_mass",
    """WITH f AS (SELECT source, tok, CAST(count(*) AS BIGINT) AS freq
      |           FROM (SELECT source, unnest(list_filter(
      |                   regexp_split_to_array(text, '\s+'), x -> x <> '')) AS tok
      |                 FROM documents) GROUP BY 1, 2)
      |SELECT source, CAST(count(*) AS BIGINT) AS v_types,
      |  CAST(SUM(freq) AS BIGINT) AS n_tokens,
      |  CAST(count(CASE WHEN freq = 1 THEN 1 END) AS BIGINT) AS v1,
      |  CAST(count(CASE WHEN freq = 2 THEN 1 END) AS BIGINT) AS v2,
      |  CAST(count(CASE WHEN freq = 1 THEN 1 END) * 1000000
      |       // count(*) AS BIGINT) AS hapax_ppm,
      |  CAST(CAST(count(CASE WHEN freq = 1 THEN 1 END) AS HUGEINT)
      |       * 1000000 // SUM(freq) AS BIGINT) AS unseen_mass_ppm,
      |  CASE WHEN count(CASE WHEN freq = 1 THEN 1 END) > 0
      |       THEN CAST(2 * count(CASE WHEN freq = 2 THEN 1 END) * 1000000
      |            // count(CASE WHEN freq = 1 THEN 1 END) AS BIGINT)
      |       END AS r1_star_micro
      |FROM f GROUP BY 1""".stripMargin)(
    (s, d) => {
      Tables.documents(s, d)
        .select(col("source"), explode(tokens(col("text"))).as("tok"))
        .groupBy("source", "tok").agg(count(lit(1)).as("freq"))
        .groupBy("source").agg(
          count(lit(1)).as("v_types"),
          sum("freq").cast("long").as("n_tokens"),
          count(when(col("freq") === 1, lit(1))).as("v1"),
          count(when(col("freq") === 2, lit(1))).as("v2"))
        .select(col("source"), col("v_types"), col("n_tokens"), col("v1"),
          col("v2"),
          expr("CAST(v1 * 1000000 div v_types AS BIGINT)").as("hapax_ppm"),
          expr("CAST(CAST(v1 AS DECIMAL(38,0)) * 1000000 div n_tokens" +
            " AS BIGINT)").as("unseen_mass_ppm"),
          expr("CASE WHEN v1 > 0 THEN CAST(2 * v2 * 1000000 div v1" +
            " AS BIGINT) END").as("r1_star_micro"))
    })

  val defs: Seq[QueryDef] =
    Seq(q40, q41, q42, q43, q44, q45, q46, q48, q49, q77, q98, q151, q156,
      q158, q160, q165, q168, q173, q174, q200, q201, q210, q220, q224, q225,
      q236, q248, q254, q269, q278, q290, q291, q296, q311, q312, q318, q325,
      q347, q348, q362, q363, q367, q376)
}
