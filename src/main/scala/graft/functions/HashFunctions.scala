package graft.functions

import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.functions._

/** MinHash / SimHash building blocks over token or shingle arrays.
  *
  * Signatures run as native Catalyst expressions ([[MinHashSig]],
  * [[SimHash64]]) — tight JIT'd loops in the scan stage, zero shuffles;
  * the only shuffle in an LSH dedup is the band-bucket join. The pairwise
  * helpers (jaccard estimates, banding) stay as higher-order functions:
  * they run on candidate pairs / k-length signatures, not the corpus.
  */
object HashFunctions {

  import org.apache.spark.sql.catalyst.FunctionIdentifier
  import org.apache.spark.sql.catalyst.expressions.Expression

  /** Extract an integer literal argument with a usable error instead of a
    * raw ClassCastException / IndexOutOfBounds from inside the builder. */
  private[functions] def intArg(name: String, exprs: Seq[Expression], i: Int): Int = {
    require(exprs.length > i,
      s"$name: expected ${i + 1}+ arguments, got ${exprs.length}")
    val e = exprs(i)
    require(e.foldable, s"$name: argument ${i + 1} must be a literal integer")
    e.eval() match {
      case n: Number => n.intValue
      case other => throw new IllegalArgumentException(
        s"$name: argument ${i + 1} must be an integer, got $other")
    }
  }

  /** The single source of truth for the text-hash SQL functions — consumed
    * by both the temp-registry path below and the session-extensions path
    * in [[graft.GraftExtensions]], so the two can't drift. The middle
    * element is the implementing class name: ExpressionInfo's first arg
    * is a class, not a package — DESCRIBE FUNCTION shows it.
    */
  val sqlBuilders: Seq[(String, String, Seq[Expression] => Expression)] = Seq(
    ("minhash_sig", classOf[MinHashSig].getName,
      exprs => MinHashSig(exprs.head, intArg("minhash_sig", exprs, 1))),
    ("simhash64", classOf[SimHash64].getName,
      exprs => SimHash64(exprs.head)),
    ("minhash_text", classOf[MinHashText].getName,
      exprs => MinHashText(exprs.head,
        intArg("minhash_text", exprs, 1), intArg("minhash_text", exprs, 2))),
    ("word_ngrams", classOf[WordNgrams].getName,
      exprs => WordNgrams(exprs.head, intArg("word_ngrams", exprs, 1))),
    ("text_stats", classOf[TextStats].getName,
      exprs => TextStats(exprs.head)),
    ("ngram_explode", classOf[NgramExplode].getName,
      exprs => NgramExplode(exprs.head, intArg("ngram_explode", exprs, 1))),
    ("portable_minhash_sig", classOf[PortableMinHashSig].getName,
      exprs => PortableMinHashSig(exprs.head,
        intArg("portable_minhash_sig", exprs, 1), intArg("portable_minhash_sig", exprs, 2))),
    ("portable_simhash", classOf[PortableSimHash].getName,
      exprs => PortableSimHash(exprs.head,
        intArg("portable_simhash", exprs, 1), intArg("portable_simhash", exprs, 2))),
    ("pii_scrub", classOf[PiiScrub].getName,
      exprs => PiiScrub(exprs.head)),
    ("classifier_score", classOf[PortableClassifierScore].getName,
      exprs => PortableClassifierScore(exprs.head)),
    ("portable_cp_hash", classOf[PortableCpHash].getName,
      exprs => PortableCpHash(exprs.head)),
    ("topk_agg", classOf[TopKNative].getName,
      exprs => {
        require(exprs.length == 3, s"topk_agg: expected 3 arguments, got ${exprs.length}")
        TopKNative(exprs.head, exprs(1), intArg("topk_agg", exprs, 2))
          .toAggregateExpression()
      }),
    ("unigram_segment", classOf[UnigramSegment].getName,
      exprs => {
        require(exprs.length == 3,
          s"unigram_segment: expected 3 arguments, got ${exprs.length}")
        UnigramSegment(exprs.head, exprs(1), exprs(2))
      }))

  /** Registers each of `builders` that the session's function registry
    * lacks. A session built with `GraftExtensions`, or one that registered
    * them before, is left untouched, so a per-Column-construction call
    * costs one lookup per name and replaces nothing. */
  private[functions] def registerMissing(spark: SparkSession,
      builders: Seq[(String, String, Seq[Expression] => Expression)]): Unit = {
    val reg = spark.sessionState.functionRegistry
    builders.foreach { case (name, _, builder) =>
      if (!reg.functionExists(FunctionIdentifier(name)))
        reg.createOrReplaceTempFunction(name, builder, "built-in")
    }
  }

  /** Register every text-hash function in the session's temp registry —
    * for sessions not built with `spark.sql.extensions=graft.GraftExtensions`
    * that still want the SQL names (e.g. LATERAL VIEW ngram_explode). */
  def registerAll(spark: SparkSession): Unit = registerMissing(spark, sqlBuilders)

  private def native(name: String, cols: Column*): Column = {
    registerAll(SparkSession.active)
    call_function(name, cols: _*)
  }

  /** Viterbi unigram-LM segmentation under a literal (pieces, weights)
    * vocabulary — see [[UnigramSegment]]. */
  def unigramSegment(word: Column, pieces: Column, weights: Column): Column =
    native("unigram_segment", word, pieces, weights)

  /** k-permutation MinHash signature (array<long>, length k): native
    * kernel, two XXH64 passes per shingle + k derived minima
    * (Kirsch–Mitzenmacher). Empty input → all-Long.MaxValue sentinel.
    */
  def minhashSignature(shingles: Column, k: Int): Column =
    native("minhash_sig", shingles, lit(k))

  /** Fused tokenize + word-n-gram + MinHash straight off the text column —
    * one byte-level pass, no token/shingle materialization. The fast path
    * for whole-corpus signature scans. EXACTLY equal to
    * `minhashSignature(wordNgrams(text, n), k)` — both hash identical
    * space-joined gram bytes; [[graft.plans.FuseMinHashRule]] relies on
    * that equality and a differential test asserts it. Do not change one
    * kernel's byte encoding without the other.
    */
  def minhashTextSignature(text: Column, n: Int, k: Int): Column =
    native("minhash_text", text, lit(n), lit(k))

  /** Native word-n-gram expression (Column form of [[WordNgrams]]). */
  def wordNgramsNative(text: Column, n: Int): Column =
    native("word_ngrams", text, lit(n))

  /** Fused per-document text statistics (Column form of [[TextStats]]):
    * struct<alpha:int, n_tokens:int, n_bpeish:int> in one byte pass —
    * the scoring-scan replacement for three per-row regex executions.
    * Repeated uses inside one projection (quality + token count) CSE
    * into a single evaluation under whole-stage codegen. */
  def textStatsNative(text: Column): Column =
    native("text_stats", text)

  /** Fused PII detect + redact (Column form of [[PiiScrub]]):
    * struct<n_emails:int, n_phones:int, n_ips:int, redacted:string> —
    * one evaluation where the regex formulation pays six (3 counts +
    * 3 replaces); pass semantics pinned by PiiScrubSpec. */
  def piiScrubNative(text: Column): Column =
    native("pii_scrub", text)

  /** Fused hashed-linear-classifier scorer (Column form of
    * [[PortableClassifierScore]]): struct<n_tok:bigint, score:bigint>
    * in one text pass — bag-of-tokens, portable codepoint hash,
    * LCG-derived integer weights (the oracle replays the exact sums). */
  def classifierScoreNative(text: Column): Column =
    native("classifier_score", text)

  /** Codegen'd whole-string portable codepoint hash (Column form of
    * [[PortableCpHash]]) — bit-identical to the HOF spec
    * `TextFunctions.portableStringHash`, differentially pinned. Use
    * this one inside fact-scan projections: the HOF form is
    * CodegenFallback and collapses the stage to interpreted eval. */
  def portableCpHashNative(s: Column): Column =
    native("portable_cp_hash", s)

  /** Fused engine-portable MinHash signature (Column form of
    * [[PortableMinHashSig]]); slots are the sentinel P for gram-less
    * docs — map to NULL before banding. */
  def portableMinhashSigNative(text: Column, n: Int, k: Int): Column =
    native("portable_minhash_sig", text, lit(n), lit(k))

  /** Fused engine-portable SimHash (Column form of [[PortableSimHash]]):
    * struct<n_grams:int, fp:bigint>. */
  def portableSimhashNative(text: Column, n: Int, bits: Int): Column =
    native("portable_simhash", text, lit(n), lit(bits))

  /** Band keys for LSH: split the k-signature into `bands` bands of
    * k/bands rows each; key = (band index, xxhash64 of the band slice).
    * Returns array<struct<band:int, bh:bigint>> — explode then group/join
    * on (band, bh) to get candidate pairs.
    */
  def lshBands(signature: Column, k: Int, bands: Int): Column = {
    require(k % bands == 0, s"k=$k not divisible by bands=$bands")
    val r = k / bands
    transform(sequence(lit(0), lit(bands - 1)), b =>
      struct(b.cast("int").as("band"),
        xxhash64(b, slice(signature, b * r + 1, lit(r))).as("bh")))
  }

  /** Estimated Jaccard from two MinHash signatures: fraction of agreeing
    * components.
    */
  def minhashJaccard(sigA: Column, sigB: Column): Column =
    aggregate(zip_with(sigA, sigB, (x, y) => when(x === y, 1).otherwise(0)),
      lit(0), (acc, v) => acc + v).cast("double") / size(sigA)

  /** Exact Jaccard over two string arrays (as sets). */
  def jaccard(a: Column, b: Column): Column = {
    val inter = size(array_intersect(a, b)).cast("double")
    val union = size(array_union(a, b)).cast("double")
    when(union === 0, lit(0.0)).otherwise(inter / union)
  }

  /** Exact Jaccard for arrays ALREADY distinct (e.g. array_distinct'd
    * shingle sets): |a ∪ b| = |a| + |b| − |a ∩ b|, so only the
    * intersection is materialized — half the set work of [[jaccard]] on
    * the hot pairwise-verify path.
    */
  def jaccardDistinct(a: Column, b: Column): Column = {
    val inter = size(array_intersect(a, b)).cast("double")
    val union = size(a).cast("double") + size(b).cast("double") - inter
    when(union === 0, lit(0.0)).otherwise(inter / union)
  }

  /** 64-bit SimHash over a token array: per bit, sum +1/-1 votes from each
    * token's xxhash64 (seed 42); bit set iff vote > 0. Native kernel.
    */
  def simhash64(toks: Column): Column = native("simhash64", toks)

  /** Hamming distance between two 64-bit simhashes. */
  def hamming64(a: Column, b: Column): Column =
    bit_count(a.bitwiseXOR(b))
}
