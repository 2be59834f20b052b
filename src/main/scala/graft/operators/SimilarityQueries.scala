package graft.operators

import graft.{QueryDef, Tables}
import graft.functions.VecExpressions
import graft.functions.VectorFunctions._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Approximate-nearest-neighbor search over the `embeddings` table
  * (array<float> column).
  *
  * Two paths:
  *  - brute-force: query set (small, broadcast) x full table, top-k via
  *    window. Exact; cost O(|Q| * N) dot products — the baseline.
  *  - LSH-bucketed: sign-random-projection bucket on both sides; join on
  *    bucket (+ its 1-bit neighbors for recall), top-k within. At 100 TB
  *    the bucket join shuffles each row once on a small int key instead
  *    of replicating the corpus |Q| times.
  */
object SimilarityQueries {

  /** Deterministic small query set: every 50th vector. */
  private def querySet(s: org.apache.spark.sql.SparkSession, d: String) =
    Tables.embeddings(s, d).filter(col("vec_id") % 50 === 0)
      .select(col("vec_id").as("q_id"), col("embedding").as("q_vec"))

  /** Embedding plumbing sanity with DuckDB oracle: dims + per-label count. */
  val q60 = QueryDef.oracle("q60_embedding_profile",
    """SELECT label, count(*) AS n_vecs, min(len(embedding)) AS min_dims,
      |       max(len(embedding)) AS max_dims
      |FROM embeddings GROUP BY label""".stripMargin)(
    (s, d) => Tables.embeddings(s, d)
      .groupBy("label")
      .agg(count(lit(1)).as("n_vecs"), min(size(col("embedding"))).as("min_dims"),
        max(size(col("embedding"))).as("max_dims")))

  /** Brute-force cosine top-10 per query vector. Cosine is the fused
    * single-pass codegen expression (VecCosine) — the hot inner loop of
    * the O(|Q| * N) scan. HASH-MATCHED: exact search, so the (query,
    * rank, neighbor) triples are oracle-able against DuckDB's
    * list_cosine_similarity (rank-only output, same float-robustness
    * argument as q65). */
  val q61 = QueryDef.oracle("q61_ann_bruteforce",
    """SELECT q_id, rk, vec_id, label FROM (
      |  SELECT q.vec_id AS q_id, n.vec_id AS vec_id, n.label AS label,
      |         ROW_NUMBER() OVER (PARTITION BY q.vec_id
      |           ORDER BY list_cosine_similarity(CAST(q.embedding AS DOUBLE[]),
      |                                           CAST(n.embedding AS DOUBLE[])) DESC,
      |                    n.vec_id) AS rk
      |  FROM embeddings q JOIN embeddings n ON n.vec_id <> q.vec_id
      |  WHERE q.vec_id % 50 = 0)
      |WHERE rk <= 10""".stripMargin)(
    (s, d) => {
      val base = Tables.embeddings(s, d)
        .select(col("vec_id"), col("embedding"), col("label"))
      val q = querySet(s, d)
      val scored = base.crossJoin(broadcast(q))
        .filter(col("vec_id") =!= col("q_id"))
        .select(col("q_id"), col("vec_id"), col("label"),
          VecExpressions.cosineFast(s, col("q_vec"), col("embedding")).as("cos"))
      val w = Window.partitionBy("q_id").orderBy(col("cos").desc, col("vec_id"))
      scored.withColumn("rk", row_number().over(w)).filter(col("rk") <= 10)
        .select(col("q_id"), col("rk"), col("vec_id"), col("label"))
    })

  // q62 parameters: 12 tables × 5 bits. The OR across tables is what
  // recalls weak neighbors (this corpus' true top-10 sit at cosine
  // 0.26-0.45, where any single table's bucket agreement is ~p^bits).
  private val AnnTables = 12
  private val AnnBits = 5

  // IVF parameters (q64, q69): K centroids, nprobe probed lists per
  // query. Centroids are TRAINED (deterministic spherical k-means, see
  // [[trainCentroids]]) — routing is the recall-binding approximation;
  // nprobe/K is the fraction of the corpus each query touches, and the
  // recall gate in AnnRecallSpec pins what that fraction buys (declared
  // before the query vals that bake them into oracle SQL — init order).
  // Training bought the probe-budget cut: with the old untrained
  // (vec_id < K) codebook, recall@10 at sf0.001 was 0.79 at nprobe=32;
  // trained centroids give 0.83 at nprobe=24 and 0.91 at 32.
  private val IvfK = 64
  private[graft] val IvfNprobe = 24

  // Deterministic k-means: fixed iteration count (converged by iter 2-3
  // on this corpus), corpus-derived init (vec_id < K), and EXACT
  // integer centroid state — so the training loop is oracle-replayable
  // (q129's fixpoint convention applied to codebooks).
  private val KmIters = 3

  // --- Trained codebooks (deterministic spherical k-means) --------------
  //
  // The determinism trick that makes TRAINED codebooks oracle-able: a
  // float centroid (mean of member vectors) would depend on summation
  // order — non-reproducible across partitionings, let alone engines.
  // Instead coordinates quantize to 1e-4 integer units (q149's
  // convention) and a centroid is the EXACT INTEGER SUM of its members'
  // quantized vectors — order-independent by construction. Cosine is
  // scale-invariant, so the un-normalized sum IS the spherical-k-means
  // centroid for assignment purposes: no division, no float state, and
  // both engines compute bit-identical cosines against the double-cast
  // sums. Assignment ties break toward the larger c_id (max(struct) ≡
  // ORDER BY cos DESC, c_id DESC), empty clusters keep their previous
  // centroid — all replayed verbatim in the unrolled oracle CTEs.

  /** Integer-quantized embeddings — the k-means training view. */
  private def quantizedVecs(s: SparkSession, d: String): DataFrame =
    Tables.embeddingsParallel(s, d).select(col("vec_id"),
      transform(col("embedding").cast("array<double>"),
        x => round(x * 10000).cast("long")).as("v"))

  /** Deterministic spherical k-means: `iters` Lloyd rounds over
    * `src(vec_id, v: array<bigint>)`, init = the K lowest vec_ids.
    * Returns (c_id, c: array<bigint>). Every round is two bounded
    * shuffles (argmax agg + (c_id, dim) sum) against a BROADCAST
    * centroid table; at 100 TB training runs on a corpus sample (this
    * corpus is small enough to train on in full), while assignment /
    * encode — the full-scan stages — live in the queries themselves. */
  /** Map-side argmax assignment of `src(vec_id, v)` to its nearest
    * centroid in `cent(c_id, c)` by double cosine, ties toward the
    * larger c_id (max(struct) ≡ ORDER BY cos DESC, c_id DESC) — the ONE
    * assignment definition shared by k-means training, q170 and q182,
    * replayed verbatim in the oracle `asg` CTEs. The exchange carries
    * (vec_id, best-struct) partial maxima, never vectors. */
  private def nearestCentroid(s: SparkSession, src: DataFrame,
      cent: DataFrame): DataFrame =
    src.crossJoin(broadcast(cent))
      .select(col("vec_id"),
        struct(VecExpressions.cosineFast(s, col("v").cast("array<double>"),
          col("c").cast("array<double>")).as("s"), col("c_id")).as("sc"))
      .groupBy("vec_id").agg(max("sc").as("b"))
      .select(col("vec_id"), col("b.c_id").as("c_id"))

  private def trainCentroids(s: SparkSession, src: DataFrame,
      k: Int, iters: Int): DataFrame = {
    var cent = src.filter(col("vec_id") < k)
      .select(col("vec_id").as("c_id"), col("v").as("c"))
      .localCheckpoint(false)
    for (_ <- 1 to iters) {
      val asg = nearestCentroid(s, src, cent)
      val sums = asg.join(src, Seq("vec_id"))
        .select(col("c_id"), posexplode(col("v")).as(Seq("dim", "uv")))
        .groupBy("c_id", "dim").agg(sum("uv").as("sv"))
        .groupBy("c_id")
        .agg(array_sort(collect_list(struct(col("dim"), col("sv")))).as("l"))
        .select(col("c_id"), transform(col("l"), x => x.getField("sv")).as("nc"))
      cent = cent.join(sums, Seq("c_id"), "left")
        .select(col("c_id"), coalesce(col("nc"), col("c")).as("c"))
        .localCheckpoint(false)
    }
    cent
  }

  /** Codebooks are ARTIFACTS: trained once per (JVM, sf-dir), stored as
    * tiny catalog tables, read back by every consumer (q64/q67/q69 and
    * repeated bench runs) — the same store-don't-recompute contract as
    * q148's band index, at codebook scale. */
  private def storedCentroids(s: SparkSession, d: String, kind: String)(
      build: => DataFrame): DataFrame =
    graft.sources.ArtifactStore.table(s, d, s"cent_$kind")(build)

  /** Trained IVF coarse quantizer: (c_id, c array<bigint>), IvfK rows. */
  private def storedIvfCentroids(s: SparkSession, d: String): DataFrame =
    storedCentroids(s, d, "ivf") {
      trainCentroids(s, quantizedVecs(s, d), IvfK, KmIters)
    }

  /** Trained PQ codebook, CONCATENATED: (c_id, c array<bigint>) where
    * slice j of `c` is subspace j's trained centroid c_id — so the
    * existing slice-wise encode/lookup (and their oracles) consume a
    * trained codebook with no structural change. */
  private def storedPqCodebook(s: SparkSession, d: String): DataFrame =
    storedCentroids(s, d, "pq") {
      val src = quantizedVecs(s, d)
      (0 until PqM).map { j =>
        trainCentroids(s,
          src.select(col("vec_id"), slice(col("v"), j * PqSub + 1, PqSub).as("v")),
          PqK, KmIters)
          .select(col("c_id"), col("c").as(s"c$j"))
      }.reduce(_.join(_, Seq("c_id")))
        .select(col("c_id"), concat((0 until PqM).map(j => col(s"c$j")): _*).as("c"))
    }

  /** Unrolled DuckDB twin of [[trainCentroids]]: CTEs ${p}cent0 ..
    * ${p}cent$iters over `src(vec_id, v BIGINT[])`; final centroids =
    * ${p}cent$iters(c_id, c BIGINT[]). Every head is MATERIALIZED:
    * ${p}cent$t reads ${p}cent${t-1} twice, so an inlining DuckDB would
    * re-expand every earlier round inside each later one (the ANN/PQ
    * oracles ran out of memory on the sf0.001 tables). */
  private def kmeansCtes(p: String, src: String, k: Int, iters: Int): String = {
    val init = s"${p}cent0 AS MATERIALIZED (SELECT vec_id AS c_id, v AS c FROM $src WHERE vec_id < $k)"
    val steps = (1 to iters).map { t =>
      s"""${p}asg$t AS MATERIALIZED (
         |  SELECT vec_id, c_id FROM (
         |    SELECT v.vec_id, c.c_id,
         |           ROW_NUMBER() OVER (PARTITION BY v.vec_id
         |             ORDER BY list_cosine_similarity(CAST(v.v AS DOUBLE[]),
         |                        CAST(c.c AS DOUBLE[])) DESC, c.c_id DESC) AS rn
         |    FROM $src v CROSS JOIN ${p}cent${t - 1} c) WHERE rn = 1),
         |${p}sum$t AS MATERIALIZED (
         |  SELECT c_id, dim, CAST(SUM(uv) AS BIGINT) AS sv FROM (
         |    SELECT a.c_id AS c_id,
         |           UNNEST([{'dim': i, 'uv': v[i]} FOR i IN range(1, len(v) + 1)],
         |                  recursive := true)
         |    FROM ${p}asg$t a JOIN $src USING (vec_id))
         |  GROUP BY c_id, dim),
         |${p}cent$t AS MATERIALIZED (
         |  SELECT o.c_id, COALESCE(n.c, o.c) AS c
         |  FROM ${p}cent${t - 1} o LEFT JOIN (
         |    SELECT c_id, list(sv ORDER BY dim) AS c FROM ${p}sum$t GROUP BY c_id) n
         |    USING (c_id))""".stripMargin
    }
    (init +: steps).mkString(",\n")
  }

  /** The quantized-source CTE both codebook chains train on — exposed
    * for the oracle drift guard, which pins every consumer to this
    * exact text. */
  private[graft] def iqCte: String =
    """iq AS (SELECT vec_id,
      |         list_transform(CAST(embedding AS DOUBLE[]),
      |                        x -> CAST(round(x * 10000) AS BIGINT)) AS v
      |       FROM embeddings)""".stripMargin

  /** The bare generated IVF k-means chain — exposed for the oracle
    * drift guard, which pins every consumer (q64/q69/q170/q182) to this
    * exact text so the trained codebook cannot fork across oracles. */
  private[graft] def ivfChainCtes: String = kmeansCtes("ivf", "iq", IvfK, KmIters)

  /** iq + IVF training chain; exposes cent(c_id, c_vec DOUBLE[]). */
  private def ivfCentCtes: String =
    s"""$iqCte,
       |$ivfChainCtes,
       |cent AS (SELECT c_id, CAST(c AS DOUBLE[]) AS c_vec FROM ivfcent$KmIters)""".stripMargin

  /** The 8 per-subspace training chains, concatenated into a single
    * (c_id, c DOUBLE[]) codebook named `cname` — slice j of `c` is
    * subspace j's trained centroid (the oracle twin of
    * [[storedPqCodebook]]). Assumes `iq` is already in scope. */
  private def pqCentCtes(cname: String): String = pqCentCtesOver(cname, "iq", "pq")

  /** [[pqCentCtes]] generalized over the training source and CTE
    * prefix — the rotated-layout codebook (q301) trains the same 8
    * chains on the permuted vectors under a disjoint prefix. The
    * default-args path emits byte-identical text to the original, so
    * the q67/q69/q211 oracle fragments (drift-pinned) are unchanged. */
  private def pqCentCtesOver(cname: String, src: String, pfx: String): String = {
    val srcs = (0 until PqM).map(j =>
      s"$pfx${j}src AS (SELECT vec_id, v[${j * PqSub + 1}:${(j + 1) * PqSub}] AS v FROM $src)")
      .mkString(",\n")
    val chains = (0 until PqM).map(j =>
      kmeansCtes(s"$pfx$j", s"$pfx${j}src", PqK, KmIters)).mkString(",\n")
    val joins = (1 until PqM).map(j => s"JOIN $pfx${j}cent$KmIters c$j USING (c_id)").mkString(" ")
    val cat = (0 until PqM).map(j => s"c$j.c").mkString(" || ")
    s"""$srcs,
       |$chains,
       |$cname AS (SELECT c0.c_id, CAST($cat AS DOUBLE[]) AS c
       |           FROM ${pfx}0cent$KmIters c0 $joins)""".stripMargin
  }

  /** (tbl, bucket) sign-projection buckets from DETERMINISTIC hyperplanes
    * (the first tables×bits corpus vectors — the stand-in-for-trained-
    * planes convention; q64/q67's codebooks are now genuinely trained,
    * sign planes stay untrained by design — training planes buys little
    * when buckets are OR'd across 12 tables): bit b of
    * table t is sign(cos(v, plane_{t·bits+b})). Shared by q62 and q63. */
  private def signBuckets(s: SparkSession, emb: DataFrame,
      tables: Int, bits: Int): DataFrame = {
    val planes = emb.filter(col("vec_id") < tables * bits)
      .select(col("vec_id").as("p_id"), col("embedding").as("p"))
    emb.crossJoin(broadcast(planes))
      .select(col("vec_id"), col("label"),
        expr(s"CAST(p_id div $bits AS INT)").as("tbl"),
        when(VecExpressions.cosineFast(s, col("embedding"), col("p")) > 0,
          expr(s"shiftleft(1, CAST(p_id % $bits AS INT))").cast("long"))
          .otherwise(lit(0L)).as("bit"))
      .groupBy("vec_id", "label", "tbl").agg(sum("bit").as("bucket"))
  }

  /** The same bucket CTEs in DuckDB — parameterized twin of
    * [[signBuckets]], shared by the q62/q63 oracles. Yields
    * emb(vec_id, e, label) and buckets(vec_id, label, tbl, bucket). */
  private def signBucketsCtes(tables: Int, bits: Int): String =
    s"""WITH emb AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e, label
       |             FROM embeddings),
       |planes AS (SELECT vec_id AS p_id, e AS p FROM emb WHERE vec_id < ${tables * bits}),
       |bits AS (
       |  SELECT v.vec_id, v.label, CAST(p.p_id // $bits AS INTEGER) AS tbl,
       |         CASE WHEN list_cosine_similarity(v.e, p.p) > 0
       |              THEN 1 << CAST(p.p_id % $bits AS INTEGER) ELSE 0 END AS bit
       |  FROM emb v CROSS JOIN planes p),
       |buckets AS (SELECT vec_id, label, tbl, CAST(SUM(bit) AS BIGINT) AS bucket
       |            FROM bits GROUP BY vec_id, label, tbl)""".stripMargin

  /** LSH-bucketed ANN: multi-table sign projection; candidates are
    * bucket collisions with the probe set, each paying ONE exact cosine
    * (multi-table hits dedup'd pre-cosine); top-10 per query. The
    * shuffle carries only (id, table, 8-byte bucket). HASH-MATCHED: the
    * hyperplanes are deterministic (see [[signBuckets]]) and VecCosine is
    * bitwise-equal to DuckDB's list_cosine_similarity, so buckets,
    * candidates, ranks, and the exact-double cosines all replay. */
  val q62 = QueryDef.oracle("q62_ann_lsh_bucketed",
    s"""${signBucketsCtes(AnnTables, AnnBits)},
       |cand AS (
       |  SELECT DISTINCT q.vec_id AS q_id, n.vec_id AS vec_id, n.label AS label
       |  FROM buckets q JOIN buckets n
       |    ON q.tbl = n.tbl AND q.bucket = n.bucket AND q.vec_id <> n.vec_id
       |  WHERE q.vec_id % 50 = 0),
       |scored AS (
       |  SELECT c.q_id, c.vec_id, c.label,
       |         list_cosine_similarity(eq.e, en.e) AS cos
       |  FROM cand c
       |  JOIN emb eq ON eq.vec_id = c.q_id
       |  JOIN emb en ON en.vec_id = c.vec_id)
       |SELECT q_id, rk, vec_id, label, cos FROM (
       |  SELECT q_id, vec_id, label, cos,
       |         ROW_NUMBER() OVER (PARTITION BY q_id
       |           ORDER BY cos DESC, vec_id) AS rk
       |  FROM scored)
       |WHERE rk <= 10""".stripMargin)(
    (s, d) => {
      val emb = Tables.embeddings(s, d).select(col("vec_id"), col("embedding"), col("label"))
      val buckets = signBuckets(s, emb, AnnTables, AnnBits)
      val probes = buckets.filter(col("vec_id") % 50 === 0)
        .select(col("tbl"), col("bucket"), col("vec_id").as("q_id"))
      // dedup multi-table hits BEFORE the cosine — a pair found in
      // several tables costs one dot product, not twelve
      val cand = buckets.join(broadcast(probes), Seq("tbl", "bucket"))
        .filter(col("vec_id") =!= col("q_id"))
        .select("q_id", "vec_id", "label").distinct()
      val scored = cand
        .join(emb.select(col("vec_id").as("q_id"), col("embedding").as("q_vec")), Seq("q_id"))
        .join(emb.select(col("vec_id"), col("embedding").as("n_vec")), Seq("vec_id"))
        .select(col("q_id"), col("vec_id"), col("label"),
          VecExpressions.cosineFast(s, col("q_vec"), col("n_vec")).as("cos"))
      val w = Window.partitionBy("q_id").orderBy(col("cos").desc, col("vec_id"))
      scored.withColumn("rk", row_number().over(w)).filter(col("rk") <= 10)
        .select(col("q_id"), col("rk"), col("vec_id"), col("label"), col("cos"))
    })

  // q63 parameters: 6 tables × 12 bits, accept at cosine ≥ 0.95. At that
  // threshold sign agreement is ~0.9/bit, so the OR across 6 tables gives
  // ~0.86 pair recall with a tiny random-candidate rate.
  private val NdTables = 6
  private val NdBits = 12
  private val NdThreshold = 0.95

  /** Embedding-cosine near-duplicate detection: pairs sharing any LSH
    * bucket (blocked pairwise, not all-pairs) verified at cosine ≥ 0.95.
    * HASH-MATCHED on deterministic hyperplanes ([[signBuckets]]). The
    * output exposes n_candidates alongside the accepted near-dups, so the
    * oracle verifies the BLOCKING structure even on this corpus, whose
    * true near-dup count at 0.95 is zero (q68 is the same machinery at
    * an accept threshold this corpus does populate). */
  val q63 = QueryDef.oracle("q63_embedding_near_dup",
    s"""${signBucketsCtes(NdTables, NdBits)},
       |cand AS (
       |  SELECT DISTINCT a.vec_id AS ia, b.vec_id AS ib
       |  FROM buckets a JOIN buckets b
       |    ON a.tbl = b.tbl AND a.bucket = b.bucket AND a.vec_id < b.vec_id),
       |pairs AS (
       |  SELECT ia, ib, list_cosine_similarity(ea.e, eb.e) AS cos
       |  FROM cand c
       |  JOIN emb ea ON ea.vec_id = c.ia
       |  JOIN emb eb ON eb.vec_id = c.ib),
       |pervec AS (
       |  SELECT vec_id, CAST(count(*) AS BIGINT) AS n_candidates,
       |         CAST(count(*) FILTER (WHERE cos >= $NdThreshold) AS BIGINT) AS n_near_dups,
       |         max(CASE WHEN cos >= $NdThreshold THEN cos END) AS best_cos
       |  FROM (SELECT ia AS vec_id, cos FROM pairs
       |        UNION ALL SELECT ib AS vec_id, cos FROM pairs)
       |  GROUP BY vec_id)
       |SELECT e.vec_id, COALESCE(n_candidates, CAST(0 AS BIGINT)) AS n_candidates,
       |       COALESCE(n_near_dups, CAST(0 AS BIGINT)) AS n_near_dups, best_cos
       |FROM emb e LEFT JOIN pervec USING (vec_id)""".stripMargin)(
    (s, d) => {
      val emb = Tables.embeddings(s, d).select(col("vec_id"), col("embedding"), col("label"))
      val buckets = signBuckets(s, emb, NdTables, NdBits)
      val a = buckets.select(col("tbl"), col("bucket"), col("vec_id").as("ia"))
      val b = buckets.select(col("tbl"), col("bucket"), col("vec_id").as("ib"))
      // dedup multi-table hits BEFORE the cosine: 1 dot product per pair
      val cand = a.join(b, Seq("tbl", "bucket")).filter(col("ia") < col("ib"))
        .select("ia", "ib").distinct()
      val pairs = cand
        .join(emb.select(col("vec_id").as("ia"), col("embedding").as("va")), Seq("ia"))
        .join(emb.select(col("vec_id").as("ib"), col("embedding").as("vb")), Seq("ib"))
        .select(col("ia"), col("ib"),
          VecExpressions.cosineFast(s, col("va"), col("vb")).as("cos"))
      val perVec = pairs.select(col("ia").as("vec_id"), col("cos"))
        .unionByName(pairs.select(col("ib").as("vec_id"), col("cos")))
        .groupBy("vec_id")
        .agg(count(lit(1)).as("n_candidates"),
          count(when(col("cos") >= NdThreshold, 1)).as("n_near_dups"),
          max(when(col("cos") >= NdThreshold, col("cos"))).as("best_cos"))
      emb.select("vec_id")
        .join(perVec, Seq("vec_id"), "left")
        .select(col("vec_id"), coalesce(col("n_candidates"), lit(0L)).as("n_candidates"),
          coalesce(col("n_near_dups"), lit(0L)).as("n_near_dups"),
          col("best_cos"))
    })

  /** IVF-style ANN with a TRAINED coarse quantizer: deterministic
    * spherical k-means centroids ([[trainCentroids]] — integer-sum
    * state, so the training replays exactly in the oracle's unrolled
    * CTEs), every corpus vector assigned to its nearest centroid, and
    * each query probing its IvfNprobe nearest inverted lists. Training
    * bought the budget cut: recall@10 0.83 at nprobe=24 vs 0.79 at
    * nprobe=32 untrained (sf0.001; AnnRecallSpec gates ≥0.8). Scale
    * shape: the codebook is a stored artifact (built once, read back —
    * [[storedCentroids]]) and broadcasts; assignment is a map-side
    * max_by over the crossed (id, centroid) scores — partials collapse
    * to one row per vector before any exchange, so the assign map
    * shuffles N skinny rows, never N×K; candidate generation is an
    * equi-join on c_id touching only probed lists (~nprobe/K of the
    * corpus) instead of the |Q|×N cross of q61. HASH-MATCHED: rank-only
    * output. Oracle tie-breaks mirror the Spark plan exactly:
    * assignment uses max(struct(cos,c_id)) → ties pick the LARGEST c_id
    * (c_id DESC); probe ranking uses orderBy(cos desc, c_id) → c_id ASC.
    */
  val q64 = QueryDef.oracle("q64_ann_ivf",
    s"""WITH emb AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e, label
      |             FROM embeddings),
      |$ivfCentCtes,
      |assign AS (
      |  SELECT vec_id, c_id FROM (
      |    SELECT v.vec_id, c.c_id,
      |           ROW_NUMBER() OVER (PARTITION BY v.vec_id
      |             ORDER BY list_cosine_similarity(v.e, c.c_vec) DESC,
      |                      c.c_id DESC) AS rn
      |    FROM emb v CROSS JOIN cent c) WHERE rn = 1),
      |probes AS (
      |  SELECT q_id, c_id FROM (
      |    SELECT q.vec_id AS q_id, c.c_id,
      |           ROW_NUMBER() OVER (PARTITION BY q.vec_id
      |             ORDER BY list_cosine_similarity(q.e, c.c_vec) DESC,
      |                      c.c_id) AS pr
      |    FROM emb q CROSS JOIN cent c WHERE q.vec_id % 50 = 0) WHERE pr <= $IvfNprobe),
      |cand AS (
      |  SELECT p.q_id, a.vec_id, n.label,
      |         list_cosine_similarity(qe.e, n.e) AS cos
      |  FROM probes p
      |  JOIN assign a ON a.c_id = p.c_id
      |  JOIN emb n ON n.vec_id = a.vec_id
      |  JOIN emb qe ON qe.vec_id = p.q_id
      |  WHERE a.vec_id <> p.q_id)
      |SELECT q_id, rk, vec_id, label FROM (
      |  SELECT q_id, vec_id, label,
      |         ROW_NUMBER() OVER (PARTITION BY q_id
      |           ORDER BY cos DESC, vec_id) AS rk
      |  FROM cand) WHERE rk <= 10""".stripMargin)(
    (s, d) => ivfTop10(s, d, IvfNprobe))

  /** q64's search, parameterized by probe budget — the query fn runs it
    * at IvfNprobe (the value baked into the oracle SQL); the frontier
    * measurement (`tools.AnnFrontier`, SCALE.md's recall-vs-nprobe
    * table) sweeps it. */
  /** Coarse quantization shared by q64's search and q276's balance
    * audit: best (cos, c_id) per vector, embedding NOT carried through
    * the agg — only (vec_id, c_id) crosses the wire. */
  private def ivfAssignMap(s: SparkSession, d: String): DataFrame = {
    val emb = Tables.embeddings(s, d)
      .select(col("vec_id"), col("embedding"))
    val centroids = storedIvfCentroids(s, d)
      .select(col("c_id"), col("c").cast("array<double>").as("c_vec"))
    emb.crossJoin(broadcast(centroids))
      .select(col("vec_id"),
        struct(VecExpressions.cosineFast(s, col("embedding"), col("c_vec"))
          .as("c_cos"), col("c_id")).as("sc"))
      .groupBy("vec_id").agg(max("sc").as("best"))
      .select(col("vec_id"), col("best.c_id").as("c_id"))
  }

  private[graft] def ivfTop10(s: SparkSession, d: String, nprobe: Int): DataFrame = {
    val emb = Tables.embeddings(s, d)
      .select(col("vec_id"), col("embedding"), col("label"))
    val centroids = storedIvfCentroids(s, d)
      .select(col("c_id"), col("c").cast("array<double>").as("c_vec"))
    val assignMap = ivfAssignMap(s, d)
    val assigned = emb.join(assignMap, Seq("vec_id"))
    // each query probes its nprobe nearest inverted lists
    val wProbe = Window.partitionBy("q_id")
      .orderBy(col("c_cos").desc, col("c_id"))
    val probes = querySet(s, d).crossJoin(broadcast(centroids))
      .select(col("q_id"), col("q_vec"), col("c_id"),
        VecExpressions.cosineFast(s, col("q_vec"), col("c_vec")).as("c_cos"))
      .withColumn("rk", row_number().over(wProbe)).filter(col("rk") <= nprobe)
      .select("q_id", "q_vec", "c_id")
    val w = Window.partitionBy("q_id").orderBy(col("cos").desc, col("vec_id"))
    assigned.join(broadcast(probes), Seq("c_id"))
      .filter(col("vec_id") =!= col("q_id"))
      .select(col("q_id"), col("vec_id"), col("label"),
        VecExpressions.cosineFast(s, col("q_vec"), col("embedding")).as("cos"))
      .withColumn("rk", row_number().over(w)).filter(col("rk") <= 10)
      .select(col("q_id"), col("rk"), col("vec_id"), col("label"))
  }

  /** Exact-ANN rank oracle: top-5 cosine neighbors for 20 query vectors,
    * HASH-MATCHED against DuckDB's list_cosine_similarity — the output is
    * (query, neighbor, rank) only. Ranks are float-robust: both engines
    * compute cosine in double and the last-ULP summation differences
    * can't reorder neighbors whose similarity gaps are ~1e-4; exact ties
    * (duplicate vectors) break deterministically on vec_id.
    */
  val q65 = QueryDef.oracle("q65_ann_rank_oracle",
    """SELECT q_id, n_id, rnk FROM (
      |  SELECT q.vec_id AS q_id, n.vec_id AS n_id,
      |         ROW_NUMBER() OVER (PARTITION BY q.vec_id
      |           ORDER BY list_cosine_similarity(CAST(q.embedding AS DOUBLE[]),
      |                                           CAST(n.embedding AS DOUBLE[])) DESC,
      |                    n.vec_id) AS rnk
      |  FROM embeddings q JOIN embeddings n ON n.vec_id <> q.vec_id
      |  WHERE q.vec_id < 20)
      |WHERE rnk <= 5""".stripMargin)(
    (s, d) => {
      val e = Tables.embeddings(s, d)
      val q = e.filter(col("vec_id") < 20)
        .select(col("vec_id").as("q_id"), col("embedding").as("q_emb"))
      val n = e.select(col("vec_id").as("n_id"), col("embedding").as("n_emb"))
      val w = Window.partitionBy("q_id").orderBy(col("sim").desc, col("n_id"))
      n.crossJoin(broadcast(q))
        .filter(col("n_id") =!= col("q_id"))
        .select(col("q_id"), col("n_id"),
          VecExpressions.cosineFast(s, col("q_emb"), col("n_emb")).as("sim"))
        .withColumn("rnk", row_number().over(w))
        .filter(col("rnk") <= 5)
        .select(col("q_id"), col("n_id"), col("rnk"))
    })

  /** Int8 scalar-quantized ANN — the storage/bandwidth scale path: each
    * vector is quantized to int8 with a per-vector scale
    * (round(x / (max|x| / 127))), and cosine is computed ENTIRELY in the
    * quantized domain — the per-vector scales cancel in the cosine
    * ratio, so the score is exact integer dot products + one double
    * division. At 100 TB this is 4× less vector I/O and int arithmetic
    * in the hot loop; the quantized columns are what a production index
    * would persist. HASH-MATCHED: the math is deterministic integer ops,
    * reproduced in DuckDB (rank-only output, vec_id tiebreak).
    * All in codegen'd higher-order functions (transform / zip_with /
    * aggregate) — no UDFs.
    */
  val q66 = QueryDef.oracle("q66_ann_quantized",
    """WITH quant AS (
      |  SELECT vec_id, label,
      |         list_transform(embedding, x -> CAST(round(
      |           CAST(x AS DOUBLE) /
      |           greatest(CAST(list_max(list_transform(embedding, y -> abs(y)))
      |                    AS DOUBLE) / 127.0, 1e-30)) AS INTEGER)) AS qv
      |  FROM embeddings),
      |n AS (
      |  SELECT vec_id, label, qv,
      |         sqrt(list_dot_product(CAST(qv AS DOUBLE[]), CAST(qv AS DOUBLE[]))) AS qnorm
      |  FROM quant)
      |SELECT q_id, rk, vec_id, label FROM (
      |  SELECT q.vec_id AS q_id, c.vec_id AS vec_id, c.label AS label,
      |         ROW_NUMBER() OVER (PARTITION BY q.vec_id ORDER BY
      |           CASE WHEN q.qnorm = 0 OR c.qnorm = 0 THEN 0.0
      |                ELSE list_dot_product(CAST(q.qv AS DOUBLE[]),
      |                                      CAST(c.qv AS DOUBLE[]))
      |                     / (q.qnorm * c.qnorm) END DESC,
      |           c.vec_id) AS rk
      |  FROM n q JOIN n c ON c.vec_id <> q.vec_id
      |  WHERE q.vec_id % 50 = 0)
      |WHERE rk <= 10""".stripMargin)(
    (s, d) => {
      val scale = greatest(
        array_max(transform(col("embedding"), x => abs(x))).cast("double") / 127.0,
        lit(1e-30))
      val quant = Tables.embeddings(s, d)
        .select(col("vec_id"), col("label"), scale.as("scale"), col("embedding"))
        .select(col("vec_id"), col("label"),
          transform(col("embedding"),
            x => round(x.cast("double") / col("scale")).cast("int")).as("qv"))
      // the hot O(|Q|×N) loop runs on the fused codegen VecDot, not
      // interpreted HOF lambdas (the q61 lesson applied to the int8
      // path). Accumulating in double instead of long changes nothing:
      // |qv| ≤ 127, dims = 64, so every partial sum is an exact integer
      // far below 2^53 — bit-identical to the long fold and to DuckDB's
      // list_dot_product over the same double-cast values.
      val qvd = col("qv").cast("array<double>")
      val n = quant.select(col("vec_id"), col("label"), col("qv"),
        sqrt(VecExpressions.dotFast(s, qvd, qvd)).as("qnorm"))
      val q = n.filter(col("vec_id") % 50 === 0)
        .select(col("vec_id").as("q_id"), qvd.as("q_qv"), col("qnorm").as("q_norm"))
      val scored = n.crossJoin(broadcast(q))
        .filter(col("vec_id") =!= col("q_id"))
        .select(col("q_id"), col("vec_id"), col("label"),
          when(col("q_norm") === 0 || col("qnorm") === 0, lit(0.0))
            .otherwise(VecExpressions.dotFast(s, col("q_qv"), qvd)
              / (col("q_norm") * col("qnorm")))
            .as("qcos"))
      val w = Window.partitionBy("q_id").orderBy(col("qcos").desc, col("vec_id"))
      scored.withColumn("rk", row_number().over(w)).filter(col("rk") <= 10)
        .select(col("q_id"), col("rk"), col("vec_id"), col("label"))
    })

  // --- Product quantization (q67) --------------------------------------
  private val PqM = 8 // subspaces
  private val PqSub = 8 // dims per subspace (64-dim embeddings)
  private val PqK = 16 // centroids per subspace codebook
  private val PqShortlist = 128 // ADC-pruned candidates per query, exact-reranked

  private def subCosSql(l: String, r: String, j: Int) = {
    val lo = j * PqSub + 1
    val hi = (j + 1) * PqSub
    s"list_cosine_similarity($l[$lo:$hi], $r[$lo:$hi])"
  }

  /** The PQ ENCODE CTE chain up to `enc(vec_id, code0..code{m-1})` —
    * the ONE SQL definition of the trained-codebook assignment, shared
    * by q67/q69 (the ANN paths) and q211 (the utilization audit), which
    * must agree on every code by construction. */
  private def pqEncOracleCtes: String = {
    val encCtes = (0 until PqM).map { j =>
      s"""enc$j AS (
         |  SELECT vec_id, c_id AS code$j FROM (
         |    SELECT v.vec_id, c.c_id,
         |           ROW_NUMBER() OVER (PARTITION BY v.vec_id
         |             ORDER BY ${subCosSql("v.e", "c.c", j)} DESC, c.c_id DESC) AS rn
         |    FROM emb v CROSS JOIN cent c) WHERE rn = 1)""".stripMargin
    }.mkString(",\n")
    val encJoin = (1 until PqM).map(j => s"JOIN enc$j USING (vec_id)").mkString(" ")
    s"""WITH emb AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e, label
       |             FROM embeddings),
       |$iqCte,
       |${pqCentCtes("cent")},
       |$encCtes,
       |enc AS (SELECT * FROM enc0 $encJoin)""".stripMargin
  }

  private def pqOracleSql: String = {
    def subCos(l: String, r: String, j: Int) = subCosSql(l, r, j)
    val qtabCols = (0 until PqM).map(j => s"${subCos("q.e", "c.c", j)} AS s$j").mkString(",\n         ")
    val qarrCols = (0 until PqM).map(j => s"list(s$j ORDER BY c_id) AS a$j").mkString(", ")
    val approx = (0 until PqM).map(j => s"qa.a$j[en.code$j + 1]").mkString(" + ")
    s"""$pqEncOracleCtes,
       |qtab AS (
       |  SELECT q.vec_id AS q_id, c.c_id,
       |         $qtabCols
       |  FROM emb q CROSS JOIN cent c WHERE q.vec_id % 50 = 0),
       |qarr AS (SELECT q_id, $qarrCols FROM qtab GROUP BY q_id),
       |scored AS (
       |  SELECT qa.q_id, en.vec_id,
       |         $approx AS approx
       |  FROM qarr qa CROSS JOIN enc en
       |  WHERE en.vec_id <> qa.q_id),
       |short AS (
       |  SELECT q_id, vec_id FROM (
       |    SELECT q_id, vec_id,
       |           ROW_NUMBER() OVER (PARTITION BY q_id
       |             ORDER BY approx DESC, vec_id) AS rs
       |    FROM scored) WHERE rs <= $PqShortlist),
       |rer AS (
       |  SELECT s.q_id, s.vec_id, e2.label,
       |         list_cosine_similarity(qe.e, e2.e) AS cos
       |  FROM short s
       |  JOIN emb e2 ON e2.vec_id = s.vec_id
       |  JOIN emb qe ON qe.vec_id = s.q_id)
       |SELECT q_id, rk, vec_id, label FROM (
       |  SELECT q_id, vec_id, label,
       |         ROW_NUMBER() OVER (PARTITION BY q_id
       |           ORDER BY cos DESC, vec_id) AS rk
       |  FROM rer) WHERE rk <= 10""".stripMargin
  }

  /** Product-quantization ANN with exact re-ranking (the 100-TB
    * embedding-compression scale path): each 64-float vector is encoded
    * as 8 sub-space codes — 8 bytes instead of 256, 32× compression — by
    * assigning each 8-dim slice to its nearest codebook centroid
    * (TRAINED per-subspace spherical k-means — [[storedPqCodebook]],
    * deterministic integer-sum centroids, oracle-replayed; recall@10
    * 0.85 vs 0.79 with the old untrained vec_id<16 codebook). Scoring
    * is asymmetric (ADC): the query stays
    * full-precision; per query a 16-entry lookup table of sub-space
    * cosines is built per subspace, and a candidate's approximate score
    * is the fixed-order sum of its codes' table entries — per-candidate
    * cost is m array lookups, no vector math. The ADC scan only PRUNES
    * (top-PqShortlist shortlist); true cosine re-ranks the shortlist — the
    * standard two-stage shape, so only |Q|×50 full vectors are ever
    * fetched. Scale shape: the codebook broadcasts everywhere; encode is
    * a map-side argmax (the corpus never shuffles its vectors); the scan
    * scores CODES with full vectors left in storage (in production you'd
    * IVF-route first — q64 — and PQ-score inside probed lists: IVFPQ).
    * HASH-MATCHED: codebook, encoding (tie-break c_id DESC =
    * max(struct)), lookup tables, the fixed left-to-right 8-term sum,
    * the shortlist cut, and the exact re-rank are all reproduced in
    * DuckDB; cosines use the bitwise-proven VecCosine ≡
    * list_cosine_similarity pairing, so ranks agree exactly (rank-only
    * output, ties → vec_id). Recall@10 gated in AnnRecallSpec.
    */
  /** Per-subspace cosine between two vector columns' j-th slices. */
  private def pqSubCos(s: org.apache.spark.sql.SparkSession,
      l: org.apache.spark.sql.Column, r: org.apache.spark.sql.Column, j: Int) =
    VecExpressions.cosineFast(s,
      slice(l, j * PqSub + 1, PqSub), slice(r, j * PqSub + 1, PqSub))

  /** PQ codebook: TRAINED per-subspace k-means, stored and read back
    * ([[storedPqCodebook]] — slice j of c_vec is subspace j's trained
    * centroid, so slice-wise encode/lookup consume it unchanged). */
  private def pqCodebook(s: org.apache.spark.sql.SparkSession, d: String) =
    storedPqCodebook(s, d)
      .select(col("c_id"), col("c").cast("array<double>").as("c_vec"))

  /** PQ encode: one cross with the broadcast codebook, all m argmaxes in
    * one map-side-combinable agg (max(struct(cos, c_id)) ≡ the oracle's
    * DESC,c_id DESC window) → (vec_id, code0..code{m-1}). */
  private def pqEncode(s: org.apache.spark.sql.SparkSession, d: String,
      emb: org.apache.spark.sql.DataFrame) =
    emb.crossJoin(broadcast(pqCodebook(s, d)))
      .select(col("vec_id") +:
        (0 until PqM).map(j =>
          struct(pqSubCos(s, col("embedding"), col("c_vec"), j).as("s"),
            col("c_id")).as(s"sc$j")): _*)
      .groupBy("vec_id")
      .agg(max(s"sc0").as("b0"), (1 until PqM).map(j => max(s"sc$j").as(s"b$j")): _*)
      .select(col("vec_id") +:
        (0 until PqM).map(j => col(s"b$j.c_id").as(s"code$j")): _*)

  /** Per-query ADC lookup tables: m arrays of K sub-space cosines,
    * positioned by c_id (sort_array on struct(c_id, s) = list ORDER BY). */
  private def pqLookup(s: org.apache.spark.sql.SparkSession, d: String,
      emb: org.apache.spark.sql.DataFrame) =
    querySet(s, d).crossJoin(broadcast(pqCodebook(s, d)))
      .select(col("q_id") +: col("c_id") +:
        (0 until PqM).map(j => pqSubCos(s, col("q_vec"), col("c_vec"), j).as(s"s$j")): _*)
      .groupBy("q_id")
      .agg(sort_array(collect_list(struct(col("c_id"), col("s0")))).as("l0"),
        (1 until PqM).map(j =>
          sort_array(collect_list(struct(col("c_id"), col(s"s$j")))).as(s"l$j")): _*)
      .select(col("q_id") +:
        (0 until PqM).map(j =>
          transform(col(s"l$j"), x => x.getField(s"s$j")).as(s"a$j")): _*)

  /** Fixed left-to-right m-term ADC sum (matches the oracle's + chain). */
  private def pqApprox = (0 until PqM)
    .map(j => element_at(col(s"a$j"), (col(s"code$j") + 1).cast("int")))
    .reduceLeft(_ + _)

  val q67 = QueryDef.oracle("q67_ann_pq", pqOracleSql)(
    (s, d) => {
      val emb = Tables.embeddings(s, d)
        .select(col("vec_id"), col("embedding"), col("label"))
      val enc = pqEncode(s, d, emb)
      val qarr = pqLookup(s, d, emb)
      val approx = pqApprox
      // ADC prune: codes x broadcast lookup tables, no vector math
      val wShort = Window.partitionBy("q_id").orderBy(col("approx").desc, col("vec_id"))
      val short = enc
        .crossJoin(broadcast(qarr))
        .filter(col("vec_id") =!= col("q_id"))
        .withColumn("approx", approx)
        .withColumn("rs", row_number().over(wShort)).filter(col("rs") <= PqShortlist)
        .select("q_id", "vec_id")
      // exact re-rank: fetch full vectors for the |Q| x shortlist set only
      val wRank = Window.partitionBy("q_id").orderBy(col("cos").desc, col("vec_id"))
      short
        .join(emb, Seq("vec_id"))
        .join(broadcast(querySet(s, d)), Seq("q_id"))
        .select(col("q_id"), col("vec_id"), col("label"),
          VecExpressions.cosineFast(s, col("q_vec"), col("embedding")).as("cos"))
        .withColumn("rk", row_number().over(wRank)).filter(col("rk") <= 10)
        .select(col("q_id"), col("rk"), col("vec_id"), col("label"))
    })

  // --- Portable vector LSH (q68) ---------------------------------------
  private val VlTables = 4 // LSH tables
  private val VlBits = 6 // sign bits per table
  private val VlThreshold = 0.4 // exact-cosine accept (no >=0.95 dups in testdata)

  /** Sign-projection vector LSH with DETERMINISTIC hyperplanes — the
    * oracle-able twin of q62/q63's random-hyperplane buckets (same role
    * q99/q100 play for the text family). Hyperplanes are the first
    * tables×bits corpus vectors (vec_id < 24, the q64/q67 stand-in for
    * sampled/learned planes); bit b of table t is sign(cos(v, plane)) —
    * the bitwise-proven VecCosine ≡ list_cosine_similarity pairing, so
    * both engines derive IDENTICAL buckets, candidates, and accepted
    * pairs. Same scale shape as q63: the only data-sized shuffle carries
    * (table, bucket, vec_id); exact cosines are paid only on bucket
    * collisions; per-vec near-dup summary output. HASH-MATCHED
    * end-to-end, exact-double best_cos included (no rounding needed —
    * both engines produce the same bits).
    */
  val q68 = QueryDef.oracle("q68_portable_vec_lsh",
    s"""WITH emb AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings),
       |planes AS (SELECT vec_id AS p_id, e AS p FROM emb WHERE vec_id < ${VlTables * VlBits}),
       |bits AS (
       |  SELECT v.vec_id, CAST(p.p_id // $VlBits AS INTEGER) AS tbl,
       |         CASE WHEN list_cosine_similarity(v.e, p.p) > 0
       |              THEN 1 << CAST(p.p_id % $VlBits AS INTEGER) ELSE 0 END AS bit
       |  FROM emb v CROSS JOIN planes p),
       |buckets AS (SELECT vec_id, tbl, CAST(SUM(bit) AS BIGINT) AS bucket
       |            FROM bits GROUP BY vec_id, tbl),
       |cand AS (
       |  SELECT DISTINCT a.vec_id AS ia, b.vec_id AS ib
       |  FROM buckets a JOIN buckets b
       |    ON a.tbl = b.tbl AND a.bucket = b.bucket AND a.vec_id < b.vec_id),
       |pairs AS (
       |  SELECT ia, ib, cos FROM (
       |    SELECT c.ia, c.ib, list_cosine_similarity(ea.e, eb.e) AS cos
       |    FROM cand c
       |    JOIN emb ea ON ea.vec_id = c.ia
       |    JOIN emb eb ON eb.vec_id = c.ib)
       |  WHERE cos >= $VlThreshold),
       |pervec AS (
       |  SELECT vec_id, CAST(count(*) AS BIGINT) AS n_near_dups, max(cos) AS best_cos
       |  FROM (SELECT ia AS vec_id, cos FROM pairs
       |        UNION ALL SELECT ib AS vec_id, cos FROM pairs)
       |  GROUP BY vec_id)
       |SELECT e.vec_id, COALESCE(n_near_dups, CAST(0 AS BIGINT)) AS n_near_dups, best_cos
       |FROM emb e LEFT JOIN pervec USING (vec_id)""".stripMargin)(
    (s, d) => {
      val emb = Tables.embeddings(s, d).select(col("vec_id"), col("embedding"))
      val planes = emb.filter(col("vec_id") < VlTables * VlBits)
        .select(col("vec_id").as("p_id"), col("embedding").as("p"))
      val buckets = emb.crossJoin(broadcast(planes))
        .select(col("vec_id"),
          expr(s"CAST(p_id div $VlBits AS INT)").as("tbl"),
          when(VecExpressions.cosineFast(s, col("embedding"), col("p")) > 0,
            expr(s"shiftleft(1, CAST(p_id % $VlBits AS INT))").cast("long"))
            .otherwise(lit(0L)).as("bit"))
        .groupBy("vec_id", "tbl").agg(sum("bit").as("bucket"))
      val a = buckets.select(col("tbl"), col("bucket"), col("vec_id").as("ia"))
      val b = buckets.select(col("tbl"), col("bucket"), col("vec_id").as("ib"))
      val cand = a.join(b, Seq("tbl", "bucket")).filter(col("ia") < col("ib"))
        .select("ia", "ib").distinct()
      val pairs = cand
        .join(emb.select(col("vec_id").as("ia"), col("embedding").as("va")), Seq("ia"))
        .join(emb.select(col("vec_id").as("ib"), col("embedding").as("vb")), Seq("ib"))
        .select(col("ia"), col("ib"),
          VecExpressions.cosineFast(s, col("va"), col("vb")).as("cos"))
        .filter(col("cos") >= VlThreshold)
      val perVec = pairs.select(col("ia").as("vec_id"), col("cos"))
        .unionByName(pairs.select(col("ib").as("vec_id"), col("cos")))
        .groupBy("vec_id")
        .agg(count(lit(1)).as("n_near_dups"), max("cos").as("best_cos"))
      emb.select("vec_id").join(perVec, Seq("vec_id"), "left")
        .select(col("vec_id"),
          coalesce(col("n_near_dups"), lit(0L)).as("n_near_dups"),
          col("best_cos"))
    })

  // --- IVFPQ (q69) ------------------------------------------------------
  private def ivfpqOracleSql: String = {
    def lo(j: Int) = j * PqSub + 1
    def hi(j: Int) = (j + 1) * PqSub
    def subCos(l: String, r: String, j: Int) =
      s"list_cosine_similarity($l[${lo(j)}:${hi(j)}], $r[${lo(j)}:${hi(j)}])"
    val encCtes = (0 until PqM).map { j =>
      s"""enc$j AS (
         |  SELECT vec_id, c_id AS code$j FROM (
         |    SELECT v.vec_id, c.c_id,
         |           ROW_NUMBER() OVER (PARTITION BY v.vec_id
         |             ORDER BY ${subCos("v.e", "c.c", j)} DESC, c.c_id DESC) AS rn
         |    FROM emb v CROSS JOIN pqcent c) WHERE rn = 1)""".stripMargin
    }.mkString(",\n")
    val qtabCols = (0 until PqM).map(j => s"${subCos("q.e", "c.c", j)} AS s$j").mkString(",\n         ")
    val qarrCols = (0 until PqM).map(j => s"list(s$j ORDER BY c_id) AS a$j").mkString(", ")
    val encJoin = (1 until PqM).map(j => s"JOIN enc$j USING (vec_id)").mkString(" ")
    val approx = (0 until PqM).map(j => s"qa.a$j[en.code$j + 1]").mkString(" + ")
    s"""WITH emb AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e, label
       |             FROM embeddings),
       |$iqCte,
       |$ivfChainCtes,
       |ivfcent AS (SELECT c_id, CAST(c AS DOUBLE[]) AS c_vec FROM ivfcent$KmIters),
       |${pqCentCtes("pqcent")},
       |assign AS (
       |  SELECT vec_id, c_id FROM (
       |    SELECT v.vec_id, c.c_id,
       |           ROW_NUMBER() OVER (PARTITION BY v.vec_id
       |             ORDER BY list_cosine_similarity(v.e, c.c_vec) DESC,
       |                      c.c_id DESC) AS rn
       |    FROM emb v CROSS JOIN ivfcent c) WHERE rn = 1),
       |probes AS (
       |  SELECT q_id, c_id FROM (
       |    SELECT q.vec_id AS q_id, c.c_id,
       |           ROW_NUMBER() OVER (PARTITION BY q.vec_id
       |             ORDER BY list_cosine_similarity(q.e, c.c_vec) DESC,
       |                      c.c_id) AS pr
       |    FROM emb q CROSS JOIN ivfcent c WHERE q.vec_id % 50 = 0) WHERE pr <= $IvfNprobe),
       |$encCtes,
       |enc AS (SELECT * FROM enc0 $encJoin),
       |qtab AS (
       |  SELECT q.vec_id AS q_id, c.c_id,
       |         $qtabCols
       |  FROM emb q CROSS JOIN pqcent c WHERE q.vec_id % 50 = 0),
       |qarr AS (SELECT q_id, $qarrCols FROM qtab GROUP BY q_id),
       |scored AS (
       |  SELECT p.q_id, a.vec_id,
       |         $approx AS approx
       |  FROM probes p
       |  JOIN assign a ON a.c_id = p.c_id
       |  JOIN enc en ON en.vec_id = a.vec_id
       |  JOIN qarr qa ON qa.q_id = p.q_id
       |  WHERE a.vec_id <> p.q_id),
       |short AS (
       |  SELECT q_id, vec_id FROM (
       |    SELECT q_id, vec_id,
       |           ROW_NUMBER() OVER (PARTITION BY q_id
       |             ORDER BY approx DESC, vec_id) AS rs
       |    FROM scored) WHERE rs <= $PqShortlist),
       |rer AS (
       |  SELECT s.q_id, s.vec_id, e2.label,
       |         list_cosine_similarity(qe.e, e2.e) AS cos
       |  FROM short s
       |  JOIN emb e2 ON e2.vec_id = s.vec_id
       |  JOIN emb qe ON qe.vec_id = s.q_id)
       |SELECT q_id, rk, vec_id, label FROM (
       |  SELECT q_id, vec_id, label,
       |         ROW_NUMBER() OVER (PARTITION BY q_id
       |           ORDER BY cos DESC, vec_id) AS rk
       |  FROM rer) WHERE rk <= 10""".stripMargin
  }

  /** IVFPQ — the composed production ANN: IVF coarse routing (q64's
    * 64-centroid quantizer, nprobe=IvfNprobe) narrows candidates to the probed
    * inverted lists (~1/8 of the corpus), PQ-ADC (q67's 8-byte codes +
    * per-query lookup tables) scores those candidates without touching
    * vectors, and true cosine re-ranks the PqShortlist-candidate shortlist. At
    * 100 TB this is THE shape: routing bounds the scan, codes bound the
    * I/O (32×), rerank bounds the quality loss — and every stage's
    * shuffle carries ids + codes, never vectors (full vectors re-join
    * only for |Q|×50 rows). HASH-MATCHED end-to-end: both quantizers are
    * deterministic, all cosines are the bitwise-proven pairing, sums are
    * fixed-order — DuckDB reproduces routing, encoding, ADC, shortlist,
    * and rerank exactly (rank-only output, ties → vec_id).
    */
  val q69 = QueryDef.oracle("q69_ann_ivfpq", ivfpqOracleSql)(
    (s, d) => {
      val emb = Tables.embeddings(s, d)
        .select(col("vec_id"), col("embedding"), col("label"))
      val ivfCent = storedIvfCentroids(s, d)
        .select(col("c_id"), col("c").cast("array<double>").as("c_vec"))
      // IVF routing: map-side argmax against the broadcast coarse codebook
      val assign = emb.crossJoin(broadcast(ivfCent))
        .select(col("vec_id"),
          struct(VecExpressions.cosineFast(s, col("embedding"), col("c_vec")).as("s"),
            col("c_id")).as("sc"))
        .groupBy("vec_id").agg(max("sc").as("best"))
        .select(col("vec_id"), col("best.c_id").as("c_id"))
      val wProbe = Window.partitionBy("q_id").orderBy(col("c_cos").desc, col("c_id"))
      val probes = querySet(s, d).crossJoin(broadcast(ivfCent))
        .select(col("q_id"), col("c_id"),
          VecExpressions.cosineFast(s, col("q_vec"), col("c_vec")).as("c_cos"))
        .withColumn("pr", row_number().over(wProbe)).filter(col("pr") <= IvfNprobe)
        .select("q_id", "c_id")
      // PQ encode + per-query lookup tables: shared q67 construction
      val enc = pqEncode(s, d, emb)
      val qarr = pqLookup(s, d, emb)
      val approx = pqApprox
      // routed candidates only: probes ⋈ assign on the coarse cell, then
      // ADC-score codes against the broadcast lookup tables
      val wShort = Window.partitionBy("q_id").orderBy(col("approx").desc, col("vec_id"))
      val short = broadcast(probes).join(assign, Seq("c_id"))
        .join(enc, Seq("vec_id"))
        .join(broadcast(qarr), Seq("q_id"))
        .filter(col("vec_id") =!= col("q_id"))
        .withColumn("approx", approx)
        .withColumn("rs", row_number().over(wShort)).filter(col("rs") <= PqShortlist)
        .select("q_id", "vec_id")
      val wRank = Window.partitionBy("q_id").orderBy(col("cos").desc, col("vec_id"))
      short
        .join(emb, Seq("vec_id"))
        .join(broadcast(querySet(s, d)), Seq("q_id"))
        .select(col("q_id"), col("vec_id"), col("label"),
          VecExpressions.cosineFast(s, col("q_vec"), col("embedding")).as("cos"))
        .withColumn("rk", row_number().over(wRank)).filter(col("rk") <= 10)
        .select(col("q_id"), col("rk"), col("vec_id"), col("label"))
    })

  /** kNN label propagation (weak supervision): each query vector takes
    * the majority label of its exact top-10 cosine neighbors (ties →
    * smaller label), compared against its own label. Composes on q61's
    * hash-matched top-10 — the oracle literally nests q61's SQL — so the
    * whole classify step inherits the exact-search guarantee; the extra
    * work over q61 is one |Q|×10-row aggregation and a truth join that
    * broadcasts the |Q|-row PREDICTION side while the corpus-sized
    * (vec_id, label) map streams past it. The scale path swaps the
    * brute-force neighbor stage for q62/q64/q69 unchanged.
    */
  val q136 = QueryDef.oracle("q136_knn_label_propagation",
    s"""WITH knn AS (${q61.sql.get}),
       |v AS (SELECT q_id, label, CAST(count(*) AS BIGINT) AS votes
       |      FROM knn GROUP BY 1, 2),
       |p AS (SELECT q_id, label AS pred_label, votes FROM (
       |        SELECT *, ROW_NUMBER() OVER (PARTITION BY q_id
       |                    ORDER BY votes DESC, label) AS rn FROM v)
       |      WHERE rn = 1)
       |SELECT p.q_id, p.pred_label, p.votes, e.label AS true_label,
       |       p.pred_label = e.label AS agree
       |FROM p JOIN embeddings e ON e.vec_id = p.q_id""".stripMargin)(
    (s, d) => {
      val top = q61.fn(s, d) // (q_id, rk, vec_id, label) — exact top-10
      val votes = top.groupBy("q_id", "label").agg(count(lit(1)).as("votes"))
      val w = Window.partitionBy("q_id").orderBy(col("votes").desc, col("label"))
      val pred = votes.withColumn("rn", row_number().over(w))
        .filter(col("rn") === 1)
        .select(col("q_id"), col("label").as("pred_label"), col("votes"))
      val truth = Tables.embeddings(s, d)
        .select(col("vec_id"), col("label").as("true_label"))
      // broadcast the |Q|-row prediction table, not the corpus-sized
      // truth map (q154's rule): the corpus streams past |Q| rows once
      broadcast(pred).join(truth, pred("q_id") === truth("vec_id"))
        .select(col("q_id"), col("pred_label"), col("votes"), col("true_label"),
          (col("pred_label") === col("true_label")).as("agree"))
    })

  /** Embedding-space outlier detection (curation by embedding): each
    * vector's squared L2 distance to its LABEL CENTROID, ranked within
    * the label; the top 5% are flagged — the mislabeled/garbage-content
    * screen a training-data pipeline runs on pooled embeddings. Exact
    * arithmetic throughout, so it's HASH-MATCHED: coordinates quantize
    * to 1e-4 integer units, and the distance is computed count²-scaled —
    * d2 = Σ_dims (cnt·q_i − Σq_i)² — entirely in BIGINTs (no float
    * centroid ever materializes; scaling by cnt² is monotone within a
    * label, so ranks are unchanged). Scale shape: posexplode is a
    * dims× SKINNY expansion collapsed by a map-side-combined (label,
    * dim) aggregate; the |labels|×dims stats table broadcasts back;
    * the per-vector re-sum and the rank window are keyed.
    *
    * PRECISION (the price of the cnt² scaling): the linear term
    * cnt·qv − s stays comfortably inside int64 (|term| ≤ 2·cnt·Q with
    * Q = max|qv| ≈ 1e4 ⇒ fine to cnt ≈ 4·10¹⁴ members), but its SQUARE
    * overflows int64 at cnt ≈ 19k members per label (dims=64). So the
    * square and the d2 sum run in DECIMAL: each term is cast to
    * DECIMAL(19,0) — 19 digits hold any realistic linear term, and
    * 19+19 is exactly DuckDB's 38-digit multiply-width cap — squared
    * into DECIMAL(38,0) and summed there. d2 ≤ dims·(2·cnt·Q)² needs
    * 38 digits only past cnt ≈ 6·10¹³ members per label — effectively
    * unbounded. Both engines do identical decimal arithmetic, so the
    * result (and the rank ordering, which is what is_outlier consumes)
    * stays bit-exact at cardinalities where the old int64 form wrapped
    * silently (DecimalOverflowSpec pins one such case). */
  /** Spark twin of [[quantStatsCtes]]'s `qd`: the 1e-4-quantized
    * (vec_id, label, dim, qv) expansion. */
  private def quantDims(s: SparkSession, d: String): DataFrame =
    Tables.embeddings(s, d)
      .select(col("vec_id"), col("label"),
        posexplode(col("embedding")).as(Seq("dim0", "v")))
      .select(col("vec_id"), col("label"), (col("dim0") + 1).as("dim"),
        round(col("v").cast("double") * 10000).cast("long").as("qv"))

  /** The 1e-4-quantized per-(label, dim) integer sums — the exact
    * label-centroid state shared by q149 (outliers: distance to OWN
    * centroid) and q163 (overlap: cosine BETWEEN centroids), which must
    * agree on what a centroid is. */
  private[graft] val quantStatsCtes: String =
    """WITH emb AS (SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS e FROM embeddings),
      |qd AS (
      |  SELECT vec_id, label,
      |         UNNEST([{'dim': i, 'qv': CAST(round(e[i] * 10000) AS BIGINT)}
      |                 FOR i IN range(1, len(e) + 1)], recursive := true)
      |  FROM emb),
      |stats AS (SELECT label, dim, CAST(SUM(qv) AS BIGINT) AS s,
      |                 CAST(count(*) AS BIGINT) AS cnt
      |          FROM qd GROUP BY label, dim)""".stripMargin

  /** The outlier CTE chain (`quantStatsCtes` through `ranked`) — ONE
    * SQL definition of the per-label centroid-distance outlier rank,
    * shared by q149 (the report) and q215 (the cross-modal gate), which
    * must agree on every verdict by construction. */
  private def outlierChainCtes: String =
    s"""$quantStatsCtes,
       |d2 AS (SELECT vec_id, q.label,
       |              CAST(SUM(CAST(st.cnt * q.qv - st.s AS DECIMAL(19,0))
       |                       * CAST(st.cnt * q.qv - st.s AS DECIMAL(19,0)))
       |                   AS DECIMAL(38,0)) AS d2
       |       FROM qd q JOIN stats st ON st.label = q.label AND st.dim = q.dim
       |       GROUP BY vec_id, q.label),
       |ranked AS (SELECT vec_id, label, d2,
       |                  ROW_NUMBER() OVER (PARTITION BY label ORDER BY d2 DESC, vec_id) AS rnk,
       |                  CAST(count(*) OVER (PARTITION BY label) AS BIGINT) AS n
       |           FROM d2)""".stripMargin

  /** Spark twin of [[outlierChainCtes]]' `ranked` (plus the verdict):
    * (vec_id, label, d2 string, rnk, is_outlier). */
  private def embeddingOutliers(s: SparkSession, d: String): DataFrame = {
    val dims = quantDims(s, d)
    val stats = dims.groupBy("label", "dim")
      .agg(sum("qv").as("s"), count(lit(1)).as("cnt"))
    // Round-13 restructure (the q185 playbook): the old d2 stage
    // re-joined the ×dims-exploded expansion against the stats and
    // shuffled ALL of it through a groupBy(vec_id) just to re-sum per
    // vector — at sf0.1 a 3.8M-row exchange, at 100 TB the query's
    // whole cost. d2 is instead computed per ROW against BROADCAST
    // dim-ordered per-label stat arrays with the fused native kernel
    // ([[graft.functions.VecCentroidD2]] — exact 128-bit accumulation
    // of the same DECIMAL contract; an HOF formulation was measured
    // slower than the exploded form and rejected). The only exploded
    // pass left is the map-side-combined stats aggregate, and the only
    // exchange after it is the rank window's. Positional alignment is
    // sound for ragged corpora too: a vector of length L contributed
    // to dims 1..L, so every label's dim inventory is contiguous from
    // 1 and sorting by dim makes index i ↔ dim i+1.
    val statsArr = stats.groupBy("label")
      .agg(array_sort(collect_list(struct(col("dim"), col("s"), col("cnt"))))
        .as("sc"))
      .select(col("label"),
        transform(col("sc"), e => e.getField("s")).as("s_arr"),
        transform(col("sc"), e => e.getField("cnt")).as("cnt_arr"))
    val qvs = transform(col("embedding"),
      v => round(v.cast("double") * 10000).cast("long"))
    // parity with the exploded form on degenerate rows: a null/empty
    // embedding produced no qd rows there, so it must not surface here
    val d2 = Tables.embeddings(s, d)
      .filter(col("embedding").isNotNull && size(col("embedding")) > 0)
      .join(broadcast(statsArr), Seq("label"))
      .select(col("vec_id"), col("label"),
        graft.functions.VecExpressions.centroidD2(s,
          qvs, col("s_arr"), col("cnt_arr")).as("d2"))
    val wRnk = Window.partitionBy("label").orderBy(col("d2").desc, col("vec_id"))
    val wN = Window.partitionBy("label")
    // rank on the DECIMAL, ship d2 as VARCHAR: DECIMAL(38,0) is
    // hasher-hostile on the wire (DuckDB .df() renders it float64,
    // Spark parquet keeps fixed-point — same value, different
    // stringification), while the digit string is identical on both
    // engines. The math and the ordering stay exact-decimal.
    d2.withColumn("rnk", row_number().over(wRnk).cast("long"))
      .withColumn("n", count(lit(1)).over(wN))
      .select(col("vec_id"), col("label"), col("d2").cast("string").as("d2"),
        col("rnk"), (col("rnk") <= ceil(lit(0.05) * col("n"))).as("is_outlier"))
  }

  val q149 = QueryDef.oracle("q149_embedding_outliers",
    s"""$outlierChainCtes
      |SELECT vec_id, label, CAST(d2 AS VARCHAR) AS d2, rnk,
      |       rnk <= CAST(ceil(0.05 * n) AS BIGINT) AS is_outlier
      |FROM ranked""".stripMargin)(
    (s, d) => embeddingOutliers(s, d))

  /** CROSS-MODAL curation gate — the join no single-modality pass can
    * express: a document survives only if its TEXT passes the quality
    * bar (the shared q41 fragment, ≥ 0.5) AND its EMBEDDING is not a
    * per-label outlier (the shared q149 chain, top-5% centroid
    * distance). The two signals catch different failures — fluent spam
    * reads fine but embeds far from its label's mass; OCR noise embeds
    * centrally but reads as garbage — and modern curation (quality
    * classifier ∧ SemDeDup-family embedding screen) gates on both.
    * This is also the engine's one documents⋈embeddings equijoin (the
    * corpus is keyed 1:1 on doc_id = vec_id): both sides reduce to
    * (id, small ints) BEFORE the join, so the exchange carries
    * verdicts, never text or vectors. Output: one row per doc.
    * HASH-MATCHED.
    */
  val q215 = QueryDef.oracle("q215_crossmodal_gate", {
    val qualitySql = graft.operators.TextQueries.qualitySql
    s"""$outlierChainCtes,
       |o AS (SELECT vec_id, label,
       |        rnk <= CAST(ceil(0.05 * n) AS BIGINT) AS is_outlier
       |      FROM ranked),
       |tq AS (SELECT doc_id, source, $qualitySql AS quality FROM documents)
       |SELECT tq.doc_id, tq.source, o.label, tq.quality, o.is_outlier,
       |       tq.quality >= 0.5 AND NOT o.is_outlier AS kept
       |FROM tq JOIN o ON o.vec_id = tq.doc_id""".stripMargin})(
    (s, d) => {
      val tq = Tables.documents(s, d)
        .select(col("doc_id"), col("source"),
          graft.functions.TextFunctions.qualityScore(col("text")).as("quality"))
      val o = embeddingOutliers(s, d)
        .select(col("vec_id").as("doc_id"), col("label"), col("is_outlier"))
      tq.join(o, Seq("doc_id"))
        .select(col("doc_id"), col("source"), col("label"), col("quality"),
          col("is_outlier"),
          (col("quality") >= 0.5 && !col("is_outlier")).as("kept"))
    })

  /** Retrieval-quality metrics (the eval harness of an embedding-search
    * pipeline): per query, standard IR metrics of its exact top-10 under
    * label relevance (a hit = neighbor shares the query's label — the
    * stand-in for a judged relevance set). ALL-INTEGER metric math so
    * the whole report is hash-exact across engines, no float summation
    * anywhere:
    *
    *  - n_relevant_at_10 — precision@10 numerator;
    *  - first_rel_rank   — rank of the first hit (NULL if none);
    *  - mrr_x2520        — reciprocal rank scaled by 2520 = lcm(1..10),
    *                       so 2520/rank is EXACT integer division for
    *                       every possible rank (the portable way to ship
    *                       MRR without engine-float drift);
    *  - rank_weighted_hits — Σ (11 − rank) over hits: the log-free
    *                       DCG-shaped discount (integer weights 10..1).
    *
    * Composes on q61's hash-matched exact ranks (the oracle nests q61's
    * SQL, q136's convention), so the metric layer inherits the search
    * guarantee; swap in q62/q64/q69 unchanged to score an ANN backend
    * instead. Scale: one |Q|×10-row aggregation + a truth join that
    * broadcasts the |Q|×10-row SEARCH side — never the corpus-sized
    * (vec_id, label) map (the q153 lesson: broadcast the side that is
    * bounded by construction; the corpus streams past it once) — so
    * the metrics cost nothing beyond the search being evaluated.
    */
  val q154 = QueryDef.oracle("q154_retrieval_metrics",
    s"""WITH knn AS (${q61.sql.get}),
       |hits AS (
       |  SELECT k.q_id, eq.label,
       |         CAST(count(CASE WHEN k.label = eq.label THEN 1 END) AS BIGINT)
       |           AS n_relevant_at_10,
       |         CAST(min(CASE WHEN k.label = eq.label THEN k.rk END) AS BIGINT)
       |           AS first_rel_rank,
       |         CAST(COALESCE(SUM(CASE WHEN k.label = eq.label
       |                                THEN 11 - k.rk ELSE 0 END), 0) AS BIGINT)
       |           AS rank_weighted_hits
       |  FROM knn k JOIN embeddings eq ON eq.vec_id = k.q_id
       |  GROUP BY k.q_id, eq.label)
       |SELECT q_id, label, n_relevant_at_10, first_rel_rank,
       |       CAST(COALESCE(2520 // first_rel_rank, 0) AS BIGINT) AS mrr_x2520,
       |       rank_weighted_hits
       |FROM hits""".stripMargin)(
    (s, d) => {
      val top = q61.fn(s, d) // (q_id, rk, vec_id, label) — exact top-10
      val truth = Tables.embeddings(s, d)
        .select(col("vec_id").as("q_id"), col("label").as("q_label"))
      val isHit = col("label") === col("q_label")
      // broadcast the |Q|×10 search result, stream the corpus-sized
      // truth map past it (broadcasting truth would be a driver-side
      // collect of the whole corpus in disguise)
      broadcast(top).join(truth, Seq("q_id"))
        .groupBy(col("q_id"), col("q_label").as("label"))
        .agg(count(when(isHit, 1)).as("n_relevant_at_10"),
          min(when(isHit, col("rk"))).cast("long").as("first_rel_rank"),
          coalesce(sum(when(isHit, lit(11) - col("rk")).otherwise(0)), lit(0))
            .cast("long").as("rank_weighted_hits"))
        .select(col("q_id"), col("label"), col("n_relevant_at_10"),
          col("first_rel_rank"),
          coalesce(expr("2520 div first_rel_rank"), lit(0L)).cast("long")
            .as("mrr_x2520"),
          col("rank_weighted_hits"))
    })

  /** Label-centroid overlap matrix — the TOPIC-level near-dup screen: a
    * pair of labels whose centroids point the same way is a candidate
    * duplicated topic group (two crawls of the same subject, a split
    * label that should merge) — the embedding-space companion of q159's
    * source overlap matrix. Centroids are the same exact integer state
    * as q149 (shared [[quantStatsCtes]] — outliers and overlap cannot
    * disagree on what a centroid is): per-(label, dim) sums of 1e-4
    * quantized coordinates, cosine-scale-invariant so the unnormalized
    * sum IS the centroid. Dot products and squared norms run in
    * DECIMAL(19,0)² → DECIMAL(38,0) (q149's convention — exact at any
    * label cardinality); only the final |labels|²-row cosine takes one
    * double division+sqrt, rounded (q122's convention) — HASH-MATCHED.
    * Scale: one dims× skinny expansion collapsing map-side to the
    * |labels|×dims stats table; the pair matrix is a |labels|×dims
    * self-join keyed on dim — |labels|²-bounded output, corpus never
    * moves. */
  val q163 = QueryDef.oracle("q163_label_centroid_overlap",
    s"""$quantStatsCtes,
      |norm AS (SELECT label,
      |           CAST(SUM(CAST(s AS DECIMAL(19,0)) * CAST(s AS DECIMAL(19,0)))
      |                AS DECIMAL(38,0)) AS n2
      |         FROM stats GROUP BY label),
      |nv AS (SELECT label, CAST(count(*) AS BIGINT) AS n_vecs FROM emb GROUP BY label),
      |dots AS (SELECT a.label AS label_a, b.label AS label_b,
      |           CAST(SUM(CAST(a.s AS DECIMAL(19,0)) * CAST(b.s AS DECIMAL(19,0)))
      |                AS DECIMAL(38,0)) AS dot
      |         FROM stats a JOIN stats b ON a.dim = b.dim AND a.label < b.label
      |         GROUP BY 1, 2)
      |SELECT d.label_a, d.label_b, na.n_vecs AS n_a, nb.n_vecs AS n_b,
      |       CASE WHEN x.n2 > 0 AND y.n2 > 0
      |            THEN round(CAST(d.dot AS DOUBLE)
      |                       / sqrt(CAST(x.n2 AS DOUBLE) * CAST(y.n2 AS DOUBLE)), 4)
      |            END AS centroid_cos
      |FROM dots d
      |JOIN norm x ON x.label = d.label_a
      |JOIN norm y ON y.label = d.label_b
      |JOIN nv na ON na.label = d.label_a
      |JOIN nv nb ON nb.label = d.label_b""".stripMargin)(
    (s, d) => {
      val stats = quantDims(s, d).groupBy("label", "dim").agg(sum("qv").as("s"))
      def dec(c: org.apache.spark.sql.Column) = c.cast("decimal(19,0)")
      val norm = stats.groupBy("label")
        .agg(sum(dec(col("s")) * dec(col("s"))).cast("decimal(38,0)").as("n2"))
      val nv = Tables.embeddings(s, d).groupBy("label")
        .agg(count(lit(1)).as("n_vecs"))
      val a = stats.select(col("label").as("label_a"), col("dim"), col("s").as("sa"))
      val b = stats.select(col("label").as("label_b"), col("dim"), col("s").as("sb"))
      val dots = a.join(b, Seq("dim")).filter(col("label_a") < col("label_b"))
        .groupBy("label_a", "label_b")
        .agg(sum(dec(col("sa")) * dec(col("sb"))).cast("decimal(38,0)").as("dot"))
      dots
        .join(norm.select(col("label").as("label_a"), col("n2").as("n2a")), Seq("label_a"))
        .join(norm.select(col("label").as("label_b"), col("n2").as("n2b")), Seq("label_b"))
        .join(nv.select(col("label").as("label_a"), col("n_vecs").as("n_a")), Seq("label_a"))
        .join(nv.select(col("label").as("label_b"), col("n_vecs").as("n_b")), Seq("label_b"))
        .select(col("label_a"), col("label_b"), col("n_a"), col("n_b"),
          // NULL (not NaN/Inf) for a zero-norm centroid on BOTH engines
          // — Spark's non-ANSI 0/0 is NULL but DuckDB's is NaN, so the
          // guard is what keeps a degenerate label hash-matched
          when(col("n2a") > 0 && col("n2b") > 0,
            round(col("dot").cast("double")
              / sqrt(col("n2a").cast("double") * col("n2b").cast("double")), 4))
            .as("centroid_cos"))
    })

  /** SemDeDup-style SEMANTIC dedup (Abbas et al. 2023): cluster the
    * embedding space with the trained IVF coarse quantizer (the stored
    * `cent_ivf` artifact — SemDeDup's k-means IS an IVF assignment), then
    * within each cluster drop every vector that has a LOWER-id member at
    * cosine ≥ 0.35 (keep-lowest-id, the q50/q56 keeper convention; the
    * paper uses ~0.95 on real text embeddings — this synthetic corpus is
    * near-orthogonal, max pairwise cosine 0.48, so the threshold is
    * tuned to the corpus's cosine scale to keep the decision logic
    * EXERCISED, the q52 est-Jaccard≥0.5 convention). The
    * cosine threshold is decided in FULLY EXACT integer math — no doubles
    * anywhere in the keep/drop decision: over the 1e-4-quantized vectors,
    * cos ≥ 7/20 ⟺ dot ≥ 0 ∧ (20·dot)² ≥ 49·n2a·n2b, with the squares
    * in DECIMAL(38,0) on the engine and HUGEINT on DuckDB (both exact;
    * 20·dot ≤ ~10¹² so the DECIMAL(19,0) square never saturates), and
    * zero-norm vectors guarded out (0/0 matches nothing, both engines).
    * Complements the text-side MinHash stack: near-identical MEANING
    * (paraphrases, translations-of-boilerplate) that exact/MinHash dedup
    * cannot see. Scale: assignment is a map-side argmax against the
    * broadcast IvfK-row codebook; the pair stage is cluster-keyed — the
    * shuffle carries (c_id, 64 longs)-rows and pair volume is
    * Σ|cluster|², bounded by CHOOSING K (SemDeDup runs K ∝ N/1e4; a
    * mega-cluster is an AQE-skew-split candidate, and the within-cluster
    * quadratic is the algorithm's own definition, not an accident of the
    * plan). Oracle replays the trained k-means chain verbatim (shared
    * [[ivfCentCtes]] — codebook drift impossible), the same assignment
    * argmax, and the same integer threshold. HASH-MATCHED.
    */
  val q170 = QueryDef.oracle("q170_semantic_dedup",
    s"""WITH $ivfCentCtes,
       |asg AS (SELECT vec_id, c_id FROM (
       |    SELECT v.vec_id, c.c_id,
       |           ROW_NUMBER() OVER (PARTITION BY v.vec_id
       |             ORDER BY list_cosine_similarity(CAST(v.v AS DOUBLE[]), c.c_vec)
       |               DESC, c.c_id DESC) AS rn
       |    FROM iq v CROSS JOIN cent c) WHERE rn = 1),
       |m AS (SELECT a.vec_id, a.c_id, i.v FROM asg a JOIN iq i USING (vec_id)),
       |p AS (SELECT x.c_id, x.vec_id AS ia, y.vec_id AS ib,
       |        CAST(list_sum([x.v[i] * y.v[i] FOR i IN range(1, len(x.v) + 1)]) AS BIGINT) AS dot,
       |        CAST(list_sum([x.v[i] * x.v[i] FOR i IN range(1, len(x.v) + 1)]) AS BIGINT) AS n2a,
       |        CAST(list_sum([y.v[i] * y.v[i] FOR i IN range(1, len(y.v) + 1)]) AS BIGINT) AS n2b
       |      FROM m x JOIN m y ON x.c_id = y.c_id AND x.vec_id < y.vec_id),
       |close AS (SELECT ib, CAST(count(*) AS BIGINT) AS n_close FROM p
       |          WHERE n2a > 0 AND n2b > 0 AND dot >= 0
       |            AND CAST(dot * 20 AS HUGEINT) * (dot * 20)
       |                >= CAST(n2a * 49 AS HUGEINT) * n2b
       |          GROUP BY ib)
       |SELECT m.vec_id, m.c_id, COALESCE(c.n_close, CAST(0 AS BIGINT)) AS n_close,
       |       COALESCE(c.n_close, CAST(0 AS BIGINT)) = 0 AS keep
       |FROM m LEFT JOIN close c ON c.ib = m.vec_id""".stripMargin)(
    (s, d) => {
      val vecs = quantizedVecs(s, d)
      val cent = storedIvfCentroids(s, d)
      val asg = nearestCentroid(s, vecs, cent)
      val m = asg.join(vecs, Seq("vec_id"))
      // fused native kernel: (dot, |a|², |b|²) in ONE codegen loop per
      // pair — the HOF form (aggregate∘zip_with ×3) walked both arrays
      // three times through lambda frames
      val pairs = m.select(col("c_id"), col("vec_id").as("ia"), col("v").as("va"))
        .join(m.select(col("c_id"), col("vec_id").as("ib"), col("v").as("vb")), Seq("c_id"))
        .filter(col("ia") < col("ib"))
        .select(col("ib"),
          VecExpressions.intDotNorms(s, col("va"), col("vb")).as("st"))
        .select(col("ib"), col("st.dot").as("dot"),
          col("st.n2a").as("n2a"), col("st.n2b").as("n2b"))
      def dec(c: org.apache.spark.sql.Column) = c.cast("decimal(19,0)")
      val close = pairs
        .filter(col("n2a") > 0 && col("n2b") > 0 && col("dot") >= 0 &&
          dec(col("dot") * 20) * dec(col("dot") * 20) >=
            dec(col("n2a") * 49) * dec(col("n2b")))
        .groupBy(col("ib").as("vec_id")).agg(count(lit(1)).as("n_close"))
      m.select(col("vec_id"), col("c_id")).join(close, Seq("vec_id"), "left")
        .select(col("vec_id"), col("c_id"),
          coalesce(col("n_close"), lit(0L)).as("n_close"),
          (coalesce(col("n_close"), lit(0L)) === 0).as("keep"))
    })

  /** Cluster-balanced prototype selection (the SSL-prototypes pruning
    * of Sorscher et al. 2022 "Beyond neural scaling laws"): assign every
    * embedding to its nearest stored IVF centroid, rank within each
    * cluster by INTEGER prototypicality — the exact BIGINT dot product
    * against the cluster's sum-centroid (monotone in cosine across a
    * cluster's equal-norm members; exact and portable where the cosine
    * itself is float) — and keep the top 30% per cluster, quota
    * computed in integers: keep ⇔ (rn−1)·10 < n·3 ≡ rn ≤ ⌈0.3n⌉. The
    * per-cluster quota is what makes the cut DIVERSITY-preserving: a
    * global top-30% would empty small clusters into big ones. Scale
    * shape: assignment is a scan against the broadcast codebook (q170's
    * exchange-free argmax); the only data-sized shuffle is the
    * c_id-keyed ranking window carrying (vec_id, c_id, proto BIGINT) —
    * 24 bytes/row, never the vectors — and its partition count is
    * bounded by the codebook size with per-cluster skew bounded by the
    * training balance (mega-cluster handling demonstrated in
    * AqeSkewJoinSpec on q170's identical keying).
    */
  val q182 = QueryDef.oracle("q182_prototype_selection",
    s"""WITH $ivfCentCtes,
       |asg AS (SELECT vec_id, c_id FROM (
       |    SELECT v.vec_id, c.c_id,
       |           ROW_NUMBER() OVER (PARTITION BY v.vec_id
       |             ORDER BY list_cosine_similarity(CAST(v.v AS DOUBLE[]), c.c_vec)
       |               DESC, c.c_id DESC) AS rn
       |    FROM iq v CROSS JOIN cent c) WHERE rn = 1),
       |sc AS (SELECT a.vec_id, a.c_id,
       |        CAST(list_sum([q.v[k] * t.c[k] FOR k IN range(1, len(q.v) + 1)])
       |          AS BIGINT) AS proto
       |       FROM asg a JOIN iq q USING (vec_id)
       |         JOIN ivfcent$KmIters t USING (c_id)),
       |r AS (SELECT vec_id, c_id, proto,
       |        CAST(ROW_NUMBER() OVER (PARTITION BY c_id
       |          ORDER BY proto DESC, vec_id) AS BIGINT) AS rn,
       |        COUNT(*) OVER (PARTITION BY c_id) AS n
       |      FROM sc)
       |SELECT vec_id, c_id, proto, rn, (rn - 1) * 10 < n * 3 AS keep
       |FROM r""".stripMargin)(
    (s, d) => {
      val vecs = quantizedVecs(s, d)
      val cent = storedIvfCentroids(s, d)
      val proto = nearestCentroid(s, vecs, cent)
        .join(vecs, Seq("vec_id"))
        .join(broadcast(cent), Seq("c_id"))
        .select(col("vec_id"), col("c_id"),
          VecExpressions.intDotNorms(s, col("v"), col("c"))
            .getField("dot").as("proto"))
      val w = Window.partitionBy("c_id")
      proto
        .select(col("vec_id"), col("c_id"), col("proto"),
          row_number().over(w.orderBy(col("proto").desc, col("vec_id")))
            .cast("long").as("rn"),
          count(lit(1)).over(w).as("n"))
        .select(col("vec_id"), col("c_id"), col("proto"), col("rn"),
          ((col("rn") - 1) * 10 < col("n") * 3).as("keep"))
    })

  /** Per-DIMENSION embedding statistics — the normalization/whitening
    * prep pass every embedding pipeline runs before indexing or
    * training (mean-centering, per-dim scale, dead-dimension
    * detection): for each of the 64 dimensions, exact integer count /
    * sum / sum-of-squares over the 1e-4-quantized coordinates (the
    * codebook-training convention — no float accumulation anywhere),
    * min/max, and the truncating-integer-division mean in micro-units
    * (both engines truncate toward zero, so negative means agree).
    * Sums ACCUMULATE in DECIMAL(38,0) (Spark) / HUGEINT (DuckDB) —
    * the per-element q and q² fit int64 but the running total is cast
    * 128-bit-wide BEFORE the sum, so production corpus sizes cannot
    * wrap — and SHIP as VARCHAR per q149's wire convention (the
    * driver hasher renders DuckDB DECIMAL as float64 while Spark
    * keeps fixed-point; the digit string is identical on both
    * engines, r9 verdict task 1).
    *
    * Scale shape: ONE corpus scan; posexplode fans each vector into 64
    * (dim, q) rows but partial aggregation collapses them map-side, so
    * the only exchange carries ≤ 64 × n_partitions partial states —
    * the canonical "explode is fine when the agg is map-side-combined"
    * pattern. Output is 64 rows regardless of corpus size.
    * HASH-MATCHED. */
  val q192 = QueryDef.oracle("q192_embedding_dim_stats", {
    s"""WITH $iqCte,
      |e AS (SELECT unnest([{'dim': i - 1, 'q': v[i]}
      |                     FOR i IN range(1, len(v) + 1)], recursive := true)
      |      FROM iq)
      |SELECT dim, CAST(count(*) AS BIGINT) AS n_vecs,
      |       CAST(CAST(SUM(q) AS DECIMAL(38,0)) AS VARCHAR) AS sum_q,
      |       CAST(CAST(SUM(q * q) AS DECIMAL(38,0)) AS VARCHAR) AS sumsq_q,
      |       CAST(min(q) AS BIGINT) AS min_q,
      |       CAST(max(q) AS BIGINT) AS max_q,
      |       CAST((100 * SUM(q)) // count(*) AS BIGINT) AS mean_micro
      |FROM e GROUP BY dim""".stripMargin})(
    (s, d) => {
      val e = quantizedVecs(s, d)
        .select(posexplode(col("v")).as(Seq("dim", "q")))
      e.groupBy("dim")
        .agg(count(lit(1)).as("n_vecs"),
          sum(col("q").cast("decimal(38,0)")).cast("string").as("sum_q"),
          sum((col("q") * col("q")).cast("decimal(38,0)")).cast("string")
            .as("sumsq_q"),
          min("q").as("min_q"), max("q").as("max_q"),
          expr("CAST((100 * sum(cast(q AS decimal(38,0)))) div count(*) AS BIGINT)")
            .as("mean_micro"))
    })

  /** Power-iteration rounds — fixed so the oracle can unroll them (the
    * k-means/PageRank convention). */
  private[graft] val PowIters = 3

  /** Dominant spectral direction of the embedding second-moment matrix
    * via POWER ITERATION — the spectral family next to the k-means
    * codebooks: the top (uncentered-)PCA component every whitening /
    * anisotropy-removal pass starts from ("all-but-the-top" post-
    * processing), computed without ever materializing the 64×64 matrix.
    * [[PowIters]] rounds of v ← C·v in PURE LONGS, each round ONE
    * corpus pass: per vector the dot s' = (q·v) div 10⁶ rides the scan
    * against the 1-row broadcast direction, the mat-vec w_i = Σ q_i·s'
    * is a 64-key map-side-combined aggregate, and renormalization
    * divides by D = max(1, max|w| div 10⁶) — truncating long division
    * both engines define identically, chosen over exact max-scaling
    * because w·10⁶ would overflow int64 while w div D cannot (any
    * per-round scale is valid for power iteration; only determinism
    * and bounded growth matter). v₀ = 10⁶·e₀. Bounds at this corpus:
    * |s'| ≤ 64·q_max, |w| ≤ N·q_max·|s'| ≈ 10¹⁵ — at production N the
    * w sum widens to DECIMAL(38,0) with a pre-max downshift, same
    * plan. Start-vector caveat: e₀ fails only if the dominant
    * eigenvector is exactly ⊥ e₀ in every round — measure-zero, and
    * the oracle replays the identical trajectory regardless. Output:
    * 64 rows (dim, w_raw, comp_scaled). HASH-MATCHED.
    */
  /** The power-iteration CTE chain (`e`, `v0`, `s1..v$PowIters`) —
    * shared verbatim by q197 (the direction itself) and q204 (the
    * whitening apply), so the two cannot disagree on the direction. */
  private def powIterOracleCtes: String = {
    val iters = (1 to PowIters).map { t =>
      s"""s$t AS (SELECT e.vec_id, CAST(SUM(e.q * v.v) AS BIGINT) // 1000000 AS sp
         |        FROM e JOIN v${t - 1} v USING (dim) GROUP BY 1),
         |w$t AS (SELECT e.dim, CAST(SUM(e.q * s.sp) AS BIGINT) AS w
         |        FROM e JOIN s$t s USING (vec_id) GROUP BY 1),
         |n$t AS (SELECT GREATEST(CAST(MAX(ABS(w)) AS BIGINT) // 1000000, 1) AS dd
         |        FROM w$t),
         |v$t AS (SELECT dim, w // dd AS v FROM w$t, n$t)""".stripMargin
    }.mkString(",\n")
    s"""e AS (SELECT vec_id, unnest([{'dim': i - 1, 'q': v[i]}
       |                     FOR i IN range(1, len(v) + 1)], recursive := true)
       |      FROM iq),
       |v0 AS (SELECT DISTINCT dim,
       |              CAST(CASE WHEN dim = 0 THEN 1000000 ELSE 0 END AS BIGINT) AS v
       |       FROM e),
       |$iters""".stripMargin
  }

  /** The Spark power-iteration loop (builder of the `pow_dir` stored
    * artifact): returns the final round's per-dim frame (dim, w, vv),
    * each round's winners localCheckpoint-pinned so the final plan
    * never re-derives earlier rounds. */
  private def powerRounds(s: SparkSession, d: String): DataFrame = {
    val iq = quantizedVecs(s, d)
    // 1-row start direction 1e6·e0, shaped by the data (no collect)
    var vArr = iq.limit(1)
      .select(transform(col("v"), (_, i) =>
        when(i === 0, lit(1000000L)).otherwise(lit(0L))).as("varr"))
      .localCheckpoint(false)
    var out: DataFrame = null
    for (_ <- 1 to PowIters) {
      val scored = iq.crossJoin(broadcast(vArr))
        .select(col("vec_id"), col("v"),
          expr("aggregate(zip_with(v, varr, (a, b) -> a * b), 0L, (a, x) -> a + x)" +
            " div 1000000").as("sp"))
      val w = scored
        .select(posexplode(col("v")).as(Seq("dim", "q")), col("sp"))
        .groupBy("dim").agg(sum(col("q") * col("sp")).as("w"))
      val dd = w.agg(greatest(expr("max(abs(w)) div 1000000"), lit(1L)).as("dd"))
      out = w.crossJoin(broadcast(dd))
        .select(col("dim"), col("w"), expr("w div dd").as("vv"))
      // pin the 1-row direction so the next round's scan does not
      // re-derive this round (the BPE-winner convention)
      vArr = out
        .agg(expr("transform(array_sort(collect_list(struct(dim, vv))), x -> x.vv)")
          .as("varr"))
        .localCheckpoint(false)
    }
    out
  }

  /** The trained spectral direction as a STORED ARTIFACT (the cent_ivf
    * contract at direction scale): the PowIters rounds run once per
    * (JVM, corpus) and every consumer — q197's report, q204's apply,
    * repeated bench runs — reads the 64-row table back. Deterministic
    * content (the integer trajectory), so read-back is oracle-safe. */
  private def storedPowerDirection(s: SparkSession, d: String): DataFrame =
    graft.sources.ArtifactStore.table(s, d, "pow_dir") {
      powerRounds(s, d)
    }

  val q197 = QueryDef.oracle("q197_power_iteration",
    s"""WITH $iqCte,
       |$powIterOracleCtes
       |SELECT w.dim, w.w AS w_raw, v.v AS comp_scaled
       |FROM w$PowIters w JOIN v$PowIters v USING (dim)""".stripMargin)(
    (s, d) => storedPowerDirection(s, d)
      .select(col("dim"), col("w").as("w_raw"), col("vv").as("comp_scaled")))

  /** EMBEDDING-level eval decontamination — the semantic sibling of
    * q118's n-gram gate (the Llama-3 convention: benchmark questions
    * paraphrased into the training pool slip past token overlap but not
    * past embedding similarity). Eval set = vec_id % 20 = 0 (the held
    * benchmark); pool = the rest (training candidates). Both sides go
    * through the ONE shared IVF assignment (trained stored codebook,
    * [[ivfCentCtes]] — drift impossible), the pair stage is
    * cluster-keyed eval×pool (never pool×pool: cost is
    * Σ|cluster∩eval|·|cluster∩pool|, linear in the pool for a
    * bounded eval set — at 100 TB the eval side of every cluster is
    * tiny and the join is effectively a per-cluster broadcast), and a
    * pool vector is CONTAMINATED when its exact-integer cosine against
    * ANY eval member reaches 3/10: over the 1e-4-quantized vectors,
    * cos ≥ 3/10 ⟺ dot ≥ 0 ∧ (10·dot)² ≥ 9·n2a·n2b with the squares in
    * DECIMAL(38,0)/HUGEINT (both exact; 10·dot ≤ ~10¹² so the
    * DECIMAL(19,0) square never saturates), zero-norm vectors guarded
    * out. The fused [[VecExpressions.intDotNorms]] kernel computes
    * (dot, |a|², |b|²) in ONE codegen loop per pair. Cluster-keying is
    * the recall/cost trade the IVF index exists for: a cross-cluster
    * eval twin is missed (nprobe=1), the same contract as q64 —
    * measured, not hidden, by the q195-style audit convention. Output:
    * one row per pool vector (vec_id, c_id, n_eval_close,
    * contaminated). HASH-MATCHED.
    */
  val q198 = QueryDef.oracle("q198_semantic_decontam",
    s"""WITH $ivfCentCtes,
       |asg AS (SELECT vec_id, c_id FROM (
       |    SELECT v.vec_id, c.c_id,
       |           ROW_NUMBER() OVER (PARTITION BY v.vec_id
       |             ORDER BY list_cosine_similarity(CAST(v.v AS DOUBLE[]), c.c_vec)
       |               DESC, c.c_id DESC) AS rn
       |    FROM iq v CROSS JOIN cent c) WHERE rn = 1),
       |m AS (SELECT a.vec_id, a.c_id, i.v FROM asg a JOIN iq i USING (vec_id)),
       |ev AS (SELECT * FROM m WHERE vec_id % 20 = 0),
       |pool AS (SELECT * FROM m WHERE vec_id % 20 <> 0),
       |p AS (SELECT y.vec_id AS ib,
       |        CAST(list_sum([x.v[i] * y.v[i] FOR i IN range(1, len(x.v) + 1)]) AS BIGINT) AS dot,
       |        CAST(list_sum([x.v[i] * x.v[i] FOR i IN range(1, len(x.v) + 1)]) AS BIGINT) AS n2a,
       |        CAST(list_sum([y.v[i] * y.v[i] FOR i IN range(1, len(y.v) + 1)]) AS BIGINT) AS n2b
       |      FROM ev x JOIN pool y ON x.c_id = y.c_id),
       |close AS (SELECT ib, CAST(count(*) AS BIGINT) AS n_eval_close FROM p
       |          WHERE n2a > 0 AND n2b > 0 AND dot >= 0
       |            AND CAST(dot * 10 AS HUGEINT) * (dot * 10)
       |                >= CAST(n2a * 9 AS HUGEINT) * n2b
       |          GROUP BY ib)
       |SELECT pool.vec_id, pool.c_id,
       |       COALESCE(c.n_eval_close, CAST(0 AS BIGINT)) AS n_eval_close,
       |       COALESCE(c.n_eval_close, CAST(0 AS BIGINT)) > 0 AS contaminated
       |FROM pool LEFT JOIN close c ON c.ib = pool.vec_id""".stripMargin)(
    (s, d) => {
      val vecs = quantizedVecs(s, d)
      val cent = storedIvfCentroids(s, d)
      val m = nearestCentroid(s, vecs, cent).join(vecs, Seq("vec_id"))
      val ev = m.filter(col("vec_id") % 20 === 0)
        .select(col("c_id"), col("v").as("va"))
      val pool = m.filter(col("vec_id") % 20 =!= 0)
      val pairs = ev
        .join(pool.select(col("c_id"), col("vec_id").as("ib"), col("v").as("vb")),
          Seq("c_id"))
        .select(col("ib"),
          VecExpressions.intDotNorms(s, col("va"), col("vb")).as("st"))
        .select(col("ib"), col("st.dot").as("dot"),
          col("st.n2a").as("n2a"), col("st.n2b").as("n2b"))
      def dec(c: org.apache.spark.sql.Column) = c.cast("decimal(19,0)")
      val close = pairs
        .filter(col("n2a") > 0 && col("n2b") > 0 && col("dot") >= 0 &&
          dec(col("dot") * 10) * dec(col("dot") * 10) >=
            dec(col("n2a") * 9) * dec(col("n2b")))
        .groupBy(col("ib").as("vec_id")).agg(count(lit(1)).as("n_eval_close"))
      pool.select(col("vec_id"), col("c_id")).join(close, Seq("vec_id"), "left")
        .select(col("vec_id"), col("c_id"),
          coalesce(col("n_eval_close"), lit(0L)).as("n_eval_close"),
          (coalesce(col("n_eval_close"), lit(0L)) > 0).as("contaminated"))
    })

  /** "ALL-BUT-THE-TOP" WHITENING APPLY (Mu & Viswanath 2018) — the pass
    * that consumes q197's dominant direction: remove each embedding's
    * projection onto the top spectral component and report the
    * per-dimension statistics of the residual corpus (q192's report
    * shape, post-whitening). The subtraction is EXACT INTEGER math —
    * no division ever happens: with the direction downscaled once
    * (u = v div 1000, a global constant choice), the residual is
    * scaled by u·u and computed as r_d = q_d·(u·u) − (q·u)·u_d, which
    * is (u·u)·(q − proj_u(q)) exactly, term for term in int64 (bounds:
    * |q|≤~1e4, |u|≤~2e3, u·u≤~2.6e8, all products ≤ ~5e12). The
    * direction comes from the SHARED [[powIterOracleCtes]] /
    * [[powerRounds]] chain — q197 and this query cannot disagree on
    * it. Scale shape: the direction and its norm ride ONE 1-row
    * broadcast; per-vector projections are scan-stage; the only
    * exchange is the 64-key dim rollup (map-side combined, q192's
    * shape). Residual sums/squares promote to DECIMAL(38,0)/HUGEINT
    * BEFORE accumulating (r² ≈ 2.6e25 overflows int64, and even the
    * linear Σr wraps int64 at production corpus counts) and ship as
    * VARCHAR per q149's wire convention — digit strings hash
    * identically on both engines where DECIMAL(38,0) does not. A
    * near-zero
    * residual variance on every dim would mean the corpus is rank-1
    * anisotropic — the condition this post-processing exists to
    * detect and remove. Output: 64 rows. HASH-MATCHED.
    */
  val q204 = QueryDef.oracle("q204_whitening_residuals",
    s"""WITH $iqCte,
       |$powIterOracleCtes,
       |us AS (SELECT dim, v // 1000 AS u FROM v$PowIters),
       |uu AS (SELECT CAST(SUM(u * u) AS BIGINT) AS u2 FROM us),
       |p AS (SELECT e.vec_id, CAST(SUM(e.q * us.u) AS BIGINT) AS pu
       |      FROM e JOIN us USING (dim) GROUP BY 1),
       |r AS (SELECT e.dim, e.q * uu.u2 - p.pu * us.u AS r
       |      FROM e JOIN us USING (dim) JOIN p USING (vec_id), uu)
       |SELECT dim, CAST(count(*) AS BIGINT) AS n_vecs,
       |       CAST(CAST(SUM(r) AS DECIMAL(38,0)) AS VARCHAR) AS sum_r,
       |       CAST(CAST(SUM(CAST(r AS HUGEINT) * r) AS DECIMAL(38,0)) AS VARCHAR)
       |         AS sumsq_r,
       |       CAST(min(r) AS BIGINT) AS min_r,
       |       CAST(max(r) AS BIGINT) AS max_r
       |FROM r GROUP BY dim""".stripMargin)(
    (s, d) => {
      // 1-row direction rebuilt from the stored artifact (64 rows)
      val side = storedPowerDirection(s, d)
        .agg(expr("transform(array_sort(collect_list(struct(dim, vv))), x -> x.vv)")
          .as("varr"))
        .select(expr("transform(varr, x -> x div 1000)").as("us"))
        .select(col("us"), expr("aggregate(us, 0L, (a, x) -> a + x * x)").as("u2"))
      quantizedVecs(s, d).crossJoin(broadcast(side))
        .select(col("u2"),
          expr("aggregate(zip_with(v, us, (a, b) -> a * b), 0L, (a, x) -> a + x)")
            .as("pu"),
          posexplode(zip_with(col("v"), col("us"),
            (q, u) => struct(q.as("q"), u.as("u")))).as(Seq("dim", "x")))
        .select(col("dim"),
          (col("x.q") * col("u2") - col("pu") * col("x.u")).as("r"))
        .groupBy("dim")
        .agg(count(lit(1)).as("n_vecs"),
          sum(col("r").cast("decimal(38,0)")).cast("string").as("sum_r"),
          sum(col("r").cast("decimal(20,0)") * col("r").cast("decimal(20,0)"))
            .cast("string").as("sumsq_r"),
          min("r").as("min_r"), max("r").as("max_r"))
    })

  /** PQ CODEBOOK-UTILIZATION audit — the index-health report a PQ
    * deployment watches: per (subspace, code), how many vectors encode
    * to that centroid, in exact counts and ppm shares. Dead codes are
    * wasted bits (the subspace effectively has < K centroids — retrain
    * or shrink K); a code holding most of a subspace's mass means the
    * ADC distance table can't discriminate there and recall quietly
    * degrades. The encode comes from the ONE shared [[pqEncOracleCtes]]
    * chain (q67's assignment verbatim — the audit cannot drift from the
    * index under audit). Scale: the encode is q67's broadcast-codebook
    * scan; the rollup is a (j, code)-keyed aggregate bounded by m·K
    * (128 groups), map-side combined. Output ≤ m·K rows. HASH-MATCHED.
    */
  val q211 = QueryDef.oracle("q211_pq_code_usage", {
    val melt = (0 until PqM).map(j =>
      s"{'j': $j, 'code': code$j}").mkString(", ")
    s"""$pqEncOracleCtes,
       |u AS (SELECT j, code, CAST(count(*) AS BIGINT) AS n_vecs
       |      FROM (SELECT vec_id, unnest([$melt], recursive := true) FROM enc)
       |      GROUP BY j, code),
       |tot AS (SELECT CAST(count(*) AS BIGINT) AS n FROM enc)
       |SELECT j, code, n_vecs, n_vecs * 1000000 // n AS share_ppm
       |FROM u, tot""".stripMargin})(
    (s, d) => {
      val emb = Tables.embeddings(s, d)
        .select(col("vec_id"), col("embedding"), col("label"))
      val enc = pqEncode(s, d, emb)
      val tot = enc.agg(count(lit(1)).as("n"))
      enc
        .select(posexplode(array((0 until PqM).map(j => col(s"code$j")): _*))
          .as(Seq("j", "code")))
        .groupBy("j", "code").agg(count(lit(1)).as("n_vecs"))
        .crossJoin(broadcast(tot))
        .select(col("j"), col("code"), col("n_vecs"),
          expr("n_vecs * 1000000 div n").as("share_ppm"))
    })

  /** The side data the STREAMING decontam gate closure-captures
    * (`VecStreams.semanticDecontamGate`): the trained IVF codebook and
    * the eval set's quantized vectors grouped by their q198 assignment
    * — both derived through the SAME stored artifact and argmax as the
    * batch query, so the gate's reference side cannot drift from q198.
    * Bounded by construction (IvfK centroids; the eval set is the held
    * benchmark, not the corpus) — in production both ship as
    * broadcasts. */
  private[graft] def decontamEvalSide(s: SparkSession, d: String)
      : (Array[(Int, Array[Long])], Map[Int, Seq[(Long, Array[Long])]]) = {
    val cent = storedIvfCentroids(s, d)
    val centArr = cent.collect().map { r =>
      r.getLong(0).toInt -> r.getSeq[Long](1).toArray }
    val ev = quantizedVecs(s, d).filter(col("vec_id") % 20 === 0)
    val evArr = nearestCentroid(s, ev, cent).join(ev, Seq("vec_id"))
      .collect()
      .map(r => (r.getLong(1).toInt, (r.getLong(0), r.getSeq[Long](2).toArray)))
    (centArr, evArr.groupBy(_._1).map { case (c, xs) =>
      c -> xs.sortBy(_._2._1).map(_._2).toSeq })
  }

  /** Farthest-point selection rounds — fixed so the oracle can unroll
    * them (the PowIters/KmIters convention). */
  private[graft] val SelR = 4

  /** K-CENTER CORESET via farthest-point traversal (Gonzalez 1985 — the
    * 2-approximation every diversity-sampling / data-pruning pass
    * starts from, and the k-means++-style seeding a codebook trainer
    * wants): start from the lowest vec_id, then [[SelR]]−1 times pick
    * the vector FARTHEST from the selected set (exact integer L2² over
    * the 1e-4-quantized coordinates, ties toward the smaller vec_id).
    * The picked distance at round t IS the covering radius of the
    * first t centers, so the output doubles as the radius-decay curve
    * a coverage analysis reads; a final row reports the covering
    * radius of the complete coreset (every corpus vector is within
    * √d2 of some center — the Gonzalez guarantee: ≤ 2× the optimal
    * k-center radius).
    *
    * Scale shape: per round ONE corpus scan against a 1-row broadcast
    * holding all selected centers (≤ SelR × 64 longs); d2min is a
    * scan-stage HOF fold (no shuffle), and the argmax rides
    * TakeOrderedAndProject (no global sort). Selections pin via
    * 1-row localCheckpoints (q174's lesson: unpinned winners re-derive
    * every earlier round). Arithmetic: d2 ≤ 64·(2e4)² ≈ 2.6e10 —
    * int64-exact with 8 orders of headroom. Output: SelR + 1 rows.
    * HASH-MATCHED. */
  val q222 = QueryDef.oracle("q222_kcenter_coreset", {
    val d2 = (a: String, b: String) =>
      s"CAST(list_sum([($a.v[k] - $b.v[k]) * ($a.v[k] - $b.v[k]) " +
        s"FOR k IN range(1, len($a.v) + 1)]) AS BIGINT)"
    val rounds = (1 until SelR).map { t =>
      s"""d$t AS (SELECT i.vec_id, MIN(${d2("i", "s")}) AS d2
         |        FROM iq i, sel${t - 1} s GROUP BY i.vec_id),
         |p$t AS (SELECT CAST($t AS BIGINT) AS rnd, vec_id, d2
         |        FROM d$t ORDER BY d2 DESC, vec_id LIMIT 1),
         |sel$t AS (SELECT * FROM sel${t - 1} UNION ALL
         |          SELECT p.rnd, p.vec_id, iq.v
         |          FROM p$t p JOIN iq ON iq.vec_id = p.vec_id)""".stripMargin
    }.mkString(",\n")
    val pickRows = (1 until SelR)
      .map(t => s"SELECT rnd, vec_id, d2 FROM p$t").mkString("\nUNION ALL ")
    s"""WITH $iqCte,
       |sel0 AS (SELECT CAST(0 AS BIGINT) AS rnd, vec_id, v
       |         FROM iq ORDER BY vec_id LIMIT 1),
       |$rounds,
       |dF AS (SELECT i.vec_id, MIN(${d2("i", "s")}) AS d2
       |       FROM iq i, sel${SelR - 1} s GROUP BY i.vec_id)
       |SELECT rnd AS round, vec_id, d2 FROM (
       |  SELECT rnd, vec_id, CAST(NULL AS BIGINT) AS d2 FROM sel0
       |  UNION ALL $pickRows
       |  UNION ALL SELECT CAST($SelR AS BIGINT), CAST(NULL AS BIGINT),
       |                   (SELECT MAX(d2) FROM dF))""".stripMargin})(
    (s, d) => {
      val iq = quantizedVecs(s, d)
      val d2Expr = "array_min(transform(cents, c -> " +
        "aggregate(zip_with(v, c, (a, b) -> (a - b) * (a - b)), " +
        "CAST(0 AS BIGINT), (acc, x) -> acc + x)))"
      def centsOf(sel: DataFrame): DataFrame =
        sel.agg(expr(
          "transform(array_sort(collect_list(struct(rnd, vec_id, v))), x -> x.v)")
          .as("cents"))
      val s0 = iq.orderBy("vec_id").limit(1)
        .select(lit(0L).as("rnd"), col("vec_id"), col("v"))
        .localCheckpoint(false)
      var sel = s0
      var out = s0.select(col("rnd"), col("vec_id"),
        lit(null).cast("long").as("d2"))
      for (t <- 1 until SelR) {
        val pick = iq.crossJoin(broadcast(centsOf(sel)))
          .select(col("vec_id"), col("v"), expr(d2Expr).as("d2"))
          .orderBy(col("d2").desc, col("vec_id")).limit(1)
          .select(lit(t.toLong).as("rnd"), col("vec_id"), col("v"), col("d2"))
          .localCheckpoint(false)
        out = out.unionByName(pick.select("rnd", "vec_id", "d2"))
        sel = sel.unionByName(pick.select("rnd", "vec_id", "v"))
          .localCheckpoint(false)
      }
      val radius = iq.crossJoin(broadcast(centsOf(sel)))
        .select(expr(d2Expr).as("d2"))
        .agg(max("d2").as("d2"))
        .select(lit(SelR.toLong).as("rnd"), lit(null).cast("long").as("vec_id"),
          col("d2"))
      out.unionByName(radius)
        .select(col("rnd").as("round"), col("vec_id"), col("d2"))
    })

  /** HARD-NEGATIVE MINING — the pair-construction pass metric-learning
    * and contrastive training run against a labeled embedding corpus
    * (q139 mines text triples; this is its embedding-space sibling):
    * for every vector, the CLOSEST vector carrying a DIFFERENT label —
    * the negatives that actually move a contrastive loss, since far
    * negatives are already separated. "Closest" is exact integer L2²
    * over the quantized coordinates (d2 = n2a + n2b − 2·dot from the
    * ONE fused kernel q170's pair stage uses), ties toward the smaller
    * candidate id — a total order both engines replay. Candidates come
    * from the vector's own trained-IVF cell (the SHARED [[ivfCentCtes]]
    * / [[storedIvfCentroids]] assignment — the miner cannot disagree
    * with the index), so the pair stage is CLUSTER-KEYED: at 100 TB the
    * fan-out is Σ|cell|², never corpus², with the same AQE skew-split
    * demonstrated for q170's mega-cell. Vectors whose cell holds no
    * other label emit NULL negatives (visible, not dropped — a
    * single-label cell is itself a curation signal). Output: one row
    * per vector. HASH-MATCHED. */
  val q228 = QueryDef.oracle("q228_hard_negatives",
    s"""WITH $ivfCentCtes,
       |asg AS (SELECT vec_id, c_id FROM (
       |    SELECT v.vec_id, c.c_id,
       |           ROW_NUMBER() OVER (PARTITION BY v.vec_id
       |             ORDER BY list_cosine_similarity(CAST(v.v AS DOUBLE[]), c.c_vec)
       |               DESC, c.c_id DESC) AS rn
       |    FROM iq v CROSS JOIN cent c) WHERE rn = 1),
       |m AS (SELECT a.vec_id, a.c_id, e.label, i.v
       |      FROM asg a JOIN iq i USING (vec_id)
       |                 JOIN embeddings e USING (vec_id)),
       |cand AS (SELECT x.vec_id, x.label, x.c_id, y.vec_id AS neg_id,
       |           y.label AS neg_label,
       |           CAST(list_sum([(x.v[k] - y.v[k]) * (x.v[k] - y.v[k])
       |                          FOR k IN range(1, len(x.v) + 1)]) AS BIGINT) AS d2
       |         FROM m x JOIN m y ON x.c_id = y.c_id AND x.label <> y.label),
       |best AS (SELECT vec_id, label, c_id, neg_id, neg_label, d2 FROM (
       |           SELECT *, ROW_NUMBER() OVER (PARTITION BY vec_id
       |             ORDER BY d2, neg_id) AS rn FROM cand) WHERE rn = 1)
       |SELECT m.vec_id, m.label, m.c_id, b.neg_id, b.neg_label, b.d2
       |FROM m LEFT JOIN best b USING (vec_id)""".stripMargin)(
    (s, d) => {
      val iq = quantizedVecs(s, d)
      val cent = storedIvfCentroids(s, d)
      val m = nearestCentroid(s, iq, cent)
        .join(iq, Seq("vec_id"))
        .join(Tables.embeddings(s, d).select("vec_id", "label"), Seq("vec_id"))
      val cand = m.select(col("c_id"), col("vec_id"), col("label"),
          col("v").as("va"))
        .join(m.select(col("c_id"), col("vec_id").as("neg_id"),
          col("label").as("neg_label"), col("v").as("vb")), Seq("c_id"))
        .filter(col("label") =!= col("neg_label"))
        .select(col("vec_id"), col("label"), col("c_id"), col("neg_id"),
          col("neg_label"),
          VecExpressions.intDotNorms(s, col("va"), col("vb")).as("st"))
        .select(col("vec_id"), col("label"), col("c_id"), col("neg_id"),
          col("neg_label"),
          (col("st.n2a") + col("st.n2b") - lit(2) * col("st.dot")).as("d2"))
      val w = Window.partitionBy("vec_id").orderBy(col("d2"), col("neg_id"))
      val best = cand.withColumn("rn", row_number().over(w))
        .filter(col("rn") === 1)
        .select(col("vec_id"), col("neg_id"), col("neg_label"), col("d2"))
      m.select(col("vec_id"), col("label"), col("c_id"))
        .join(best, Seq("vec_id"), "left")
        .select(col("vec_id"), col("label"), col("c_id"), col("neg_id"),
          col("neg_label"), col("d2"))
    })

  /** HUBNESS histogram — the high-dimensional pathology audit for the
    * ANN/contrastive stack (Radovanović et al. 2010): in high
    * dimensions the nearest-neighbor relation grows HUBS, points that
    * are the closest neighbor of disproportionately many others, and
    * ANTIHUBS that are nobody's neighbor — which silently skews kNN
    * label propagation (q136), hard-negative mining (q228) and
    * retrieval metrics (q154). This measures it: each vector's single
    * nearest SAME-CELL neighbor (any label — q228's chain without the
    * label cut, same exact-int64 d2 from the fused dot/norms kernel,
    * same (d2, id) tie-break), then the in-degree distribution of that
    * relation over ALL vectors — degree 0 counts the antihubs, the
    * right tail IS the hubness. A healthy corpus shows a thin
    * Poisson-ish tail; a heavy tail says distances are concentrating
    * and the embedding/whitening (q197/q204) needs attention before
    * ANN recall pays for it. Reads the STORED [[storedNn1]] relation
    * (built once: centroids broadcast, candidate pairs CLUSTER-KEYED —
    * Σ|cell|², never corpus² — per-vector argmin window), then two
    * bounded rollups. Output: one row per occurring in-degree.
    * HASH-MATCHED. */
  /** STORED 1-NN relation — (vec_id, c_id, nn_id), each vector's single
    * nearest same-IVF-cell neighbor (exact int64 d2, (d2, id)
    * tie-break; nn_id NULL for vectors alone in their cell), built once
    * per corpus (the dedup_clusters/codebook pattern: the relation is a
    * pure function of the corpus + trained codebook). Read back by the
    * nn-relation consumers (q232 hubness, q240 label probe); both
    * oracles replay the FULL live chain, so the artifact builder is
    * hash-verified twice per sweep. */
  private[graft] def storedNn1(s: SparkSession, d: String): DataFrame =
    graft.sources.ArtifactStore.table(s, d, "nn1") {
      val iq = quantizedVecs(s, d)
      val cent = storedIvfCentroids(s, d)
      val m = nearestCentroid(s, iq, cent).join(iq, Seq("vec_id"))
      val cand = m.select(col("c_id"), col("vec_id"), col("v").as("va"))
        .join(m.select(col("c_id"), col("vec_id").as("nn_id"),
          col("v").as("vb")), Seq("c_id"))
        .filter(col("vec_id") =!= col("nn_id"))
        .select(col("c_id"), col("vec_id"), col("nn_id"),
          VecExpressions.intDotNorms(s, col("va"), col("vb")).as("st"))
        .select(col("c_id"), col("vec_id"), col("nn_id"),
          (col("st.n2a") + col("st.n2b") - lit(2) * col("st.dot")).as("d2"))
      val w = Window.partitionBy("vec_id").orderBy(col("d2"), col("nn_id"))
      val best = cand.withColumn("rn", row_number().over(w))
        .filter(col("rn") === 1).select(col("vec_id"), col("nn_id"))
      m.select(col("vec_id"), col("c_id"))
        .join(best, Seq("vec_id"), "left")
    }

  val q232 = QueryDef.oracle("q232_hubness_histogram",
    s"""WITH $ivfCentCtes,
       |asg AS (SELECT vec_id, c_id FROM (
       |    SELECT v.vec_id, c.c_id,
       |           ROW_NUMBER() OVER (PARTITION BY v.vec_id
       |             ORDER BY list_cosine_similarity(CAST(v.v AS DOUBLE[]), c.c_vec)
       |               DESC, c.c_id DESC) AS rn
       |    FROM iq v CROSS JOIN cent c) WHERE rn = 1),
       |m AS (SELECT a.vec_id, a.c_id, i.v
       |      FROM asg a JOIN iq i USING (vec_id)),
       |cand AS (SELECT x.vec_id, y.vec_id AS nn_id,
       |           CAST(list_sum([(x.v[k] - y.v[k]) * (x.v[k] - y.v[k])
       |                          FOR k IN range(1, len(x.v) + 1)]) AS BIGINT) AS d2
       |         FROM m x JOIN m y ON x.c_id = y.c_id
       |                          AND x.vec_id <> y.vec_id),
       |best AS (SELECT vec_id, nn_id FROM (
       |           SELECT *, ROW_NUMBER() OVER (PARTITION BY vec_id
       |             ORDER BY d2, nn_id) AS rn FROM cand) WHERE rn = 1),
       |indeg AS (SELECT nn_id, CAST(count(*) AS BIGINT) AS deg
       |          FROM best GROUP BY 1),
       |alldeg AS (SELECT m.vec_id, COALESCE(i.deg, 0) AS in_degree
       |           FROM m LEFT JOIN indeg i ON m.vec_id = i.nn_id)
       |SELECT in_degree, CAST(count(*) AS BIGINT) AS n_vecs
       |FROM alldeg GROUP BY in_degree""".stripMargin)(
    (s, d) => {
      val nn = storedNn1(s, d)
      val indeg = nn.filter(col("nn_id").isNotNull)
        .groupBy("nn_id").agg(count(lit(1)).as("deg"))
      nn.select("vec_id")
        .join(indeg, col("vec_id") === col("nn_id"), "left")
        .select(coalesce(col("deg"), lit(0L)).as("in_degree"))
        .groupBy("in_degree").agg(count(lit(1)).as("n_vecs"))
    })

  /** 1-NN LABEL-AGREEMENT probe — the standard no-training embedding
    * quality eval (the leave-one-out 1-NN probe): per label, how often
    * a vector's single nearest neighbor CARRIES THE SAME LABEL. This
    * is the number that says whether the embedding space respects the
    * labels at all — read it before trusting q136's kNN propagation,
    * q163's centroid screens or q228's mined negatives, and next to
    * q232 (whose hubness tail is exactly what degrades this probe).
    * Reads the same STORED [[storedNn1]] relation as q232 (trained-IVF
    * cell assignment, exact-int64 d2, (d2, id) tie-break — built once,
    * hash-verified by both consumers' oracles replaying the live
    * chain); agreement joins labels onto BOTH endpoints of the nn
    * relation. Vectors alone in their cell have no neighbor and are
    * reported in n_no_nn, not silently dropped from the denominator.
    * Scale: two id-keyed label joins + label-keyed rollups over the
    * one-row-per-vector relation. Output: one row per label.
    * HASH-MATCHED. */
  val q240 = QueryDef.oracle("q240_knn_label_agreement",
    s"""WITH $ivfCentCtes,
       |asg AS (SELECT vec_id, c_id FROM (
       |    SELECT v.vec_id, c.c_id,
       |           ROW_NUMBER() OVER (PARTITION BY v.vec_id
       |             ORDER BY list_cosine_similarity(CAST(v.v AS DOUBLE[]), c.c_vec)
       |               DESC, c.c_id DESC) AS rn
       |    FROM iq v CROSS JOIN cent c) WHERE rn = 1),
       |m AS (SELECT a.vec_id, a.c_id, e.label, i.v
       |      FROM asg a JOIN iq i USING (vec_id)
       |                 JOIN embeddings e USING (vec_id)),
       |cand AS (SELECT x.vec_id, x.label, y.vec_id AS nn_id,
       |           y.label AS nn_label,
       |           CAST(list_sum([(x.v[k] - y.v[k]) * (x.v[k] - y.v[k])
       |                          FOR k IN range(1, len(x.v) + 1)]) AS BIGINT) AS d2
       |         FROM m x JOIN m y ON x.c_id = y.c_id
       |                          AND x.vec_id <> y.vec_id),
       |best AS (SELECT vec_id, label, nn_label FROM (
       |           SELECT *, ROW_NUMBER() OVER (PARTITION BY vec_id
       |             ORDER BY d2, nn_id) AS rn FROM cand) WHERE rn = 1),
       |agg AS (SELECT label, CAST(count(*) AS BIGINT) AS n_with_nn,
       |          CAST(count(CASE WHEN label = nn_label THEN 1 END) AS BIGINT)
       |            AS n_agree
       |        FROM best GROUP BY 1),
       |lone AS (SELECT m.label, CAST(count(*) AS BIGINT) AS n_no_nn
       |         FROM m LEFT JOIN best b USING (vec_id)
       |         WHERE b.vec_id IS NULL GROUP BY 1),
       |labels AS (SELECT DISTINCT label FROM m)
       |SELECT l.label, COALESCE(a.n_with_nn, 0) AS n_with_nn,
       |       COALESCE(a.n_agree, 0) AS n_agree,
       |       COALESCE(lo.n_no_nn, 0) AS n_no_nn,
       |       CASE WHEN COALESCE(a.n_with_nn, 0) = 0 THEN NULL
       |            ELSE CAST(a.n_agree * 1000000 // a.n_with_nn AS BIGINT)
       |       END AS acc_ppm
       |FROM labels l LEFT JOIN agg a USING (label)
       |              LEFT JOIN lone lo USING (label)""".stripMargin)(
    (s, d) => {
      val lab = Tables.embeddings(s, d).select("vec_id", "label")
      val nn = storedNn1(s, d).join(lab, Seq("vec_id"))
      val best = nn.filter(col("nn_id").isNotNull)
        .join(lab.select(col("vec_id").as("nn_id"),
          col("label").as("nn_label")), Seq("nn_id"))
      val agg = best.groupBy("label")
        .agg(count(lit(1)).as("n_with_nn"),
          count(when(col("label") === col("nn_label"), 1)).as("n_agree"))
      val lone = nn.filter(col("nn_id").isNull)
        .groupBy("label").agg(count(lit(1)).as("n_no_nn"))
      val labels = nn.select("label").distinct()
      labels.join(broadcast(agg), Seq("label"), "left")
        .join(broadcast(lone), Seq("label"), "left")
        .select(col("label"),
          coalesce(col("n_with_nn"), lit(0L)).as("n_with_nn"),
          coalesce(col("n_agree"), lit(0L)).as("n_agree"),
          coalesce(col("n_no_nn"), lit(0L)).as("n_no_nn"),
          when(coalesce(col("n_with_nn"), lit(0L)) === 0,
            lit(null).cast("long"))
            .otherwise(expr(
              "CAST(n_agree * 1000000 div n_with_nn AS BIGINT)"))
            .as("acc_ppm"))
    })

  /** Cross-modal COVERAGE audit — the join-integrity precondition under
    * every documents⋈embeddings operator (q215's gate, q237's drift,
    * q198's decontam): per source, how many documents actually HAVE an
    * embedding row, how many are missing one (an encoder backlog or a
    * failed batch), and — grouped under the `(no_doc)` sentinel — how
    * many vectors point at no document at all (a stale embedding table
    * after deletes). The q135 integrity-audit discipline applied to
    * the modal seam: a FULL OUTER join on the q215 doc_id = vec_id
    * contract, carrying only ids and source, exact counts and
    * coverage in ppm. Silent partial coverage is the failure mode this
    * catches — an inner join downstream would just quietly shrink.
    * Scale shape: one id-keyed full-outer join of two id/source
    * projections + a \|sources\|-row rollup. Output: one row per
    * source (+ the sentinel row when orphans exist). HASH-MATCHED. */
  val q241 = QueryDef.oracle("q241_modal_coverage",
    """WITH dd AS (SELECT doc_id, source FROM documents),
      |ee AS (SELECT vec_id FROM embeddings),
      |j AS (SELECT COALESCE(d.source, '(no_doc)') AS source,
      |        CASE WHEN d.doc_id IS NOT NULL AND e.vec_id IS NOT NULL THEN 1
      |             ELSE 0 END AS both_m,
      |        CASE WHEN e.vec_id IS NULL THEN 1 ELSE 0 END AS doc_only,
      |        CASE WHEN d.doc_id IS NULL THEN 1 ELSE 0 END AS vec_only
      |      FROM dd d FULL OUTER JOIN ee e ON d.doc_id = e.vec_id)
      |SELECT source,
      |       CAST(SUM(both_m + doc_only) AS BIGINT) AS n_docs,
      |       CAST(SUM(both_m) AS BIGINT) AS n_with_vec,
      |       CAST(SUM(doc_only) AS BIGINT) AS n_missing_vec,
      |       CAST(SUM(vec_only) AS BIGINT) AS n_orphan_vecs,
      |       CASE WHEN SUM(both_m + doc_only) = 0 THEN NULL
      |            ELSE CAST(SUM(both_m) * 1000000
      |                      // SUM(both_m + doc_only) AS BIGINT)
      |       END AS coverage_ppm
      |FROM j GROUP BY source""".stripMargin)(
    (s, d) => {
      val dd = Tables.documents(s, d).select(col("doc_id"), col("source"))
      val ee = Tables.embeddings(s, d).select(col("vec_id"))
      val j = dd.join(ee, col("doc_id") === col("vec_id"), "full_outer")
        .select(coalesce(col("source"), lit("(no_doc)")).as("source"),
          when(col("doc_id").isNotNull && col("vec_id").isNotNull, 1L)
            .otherwise(0L).as("both_m"),
          when(col("vec_id").isNull, 1L).otherwise(0L).as("doc_only"),
          when(col("doc_id").isNull, 1L).otherwise(0L).as("vec_only"))
      j.groupBy("source")
        .agg(sum(col("both_m") + col("doc_only")).as("n_docs"),
          sum("both_m").as("n_with_vec"),
          sum("doc_only").as("n_missing_vec"),
          sum("vec_only").as("n_orphan_vecs"))
        .select(col("source"), col("n_docs").cast("long").as("n_docs"),
          col("n_with_vec").cast("long").as("n_with_vec"),
          col("n_missing_vec").cast("long").as("n_missing_vec"),
          col("n_orphan_vecs").cast("long").as("n_orphan_vecs"),
          when(col("n_docs") === 0, lit(null).cast("long"))
            .otherwise(expr(
              "CAST(n_with_vec * 1000000 div n_docs AS BIGINT)"))
            .as("coverage_ppm"))
    })

  /** INT8 SCALAR-QUANTIZATION error profile — the audit that belongs
    * next to q66 (which SEARCHES with the int8 codes) the way q211
    * audits q67's PQ codes: how much does the per-vector symmetric
    * int8 quantizer (scale = max|x|/127, q66's exact convention —
    * replicated term for term, including the 1e-30 floor and the
    * INTEGER cast) actually distort each dimension? Per dim, exact
    * stats of err = round(x·10⁴) − round(x̂·10⁴) where x̂ = qv·scale is
    * the reconstruction — both roundings are the established one-
    * rounding-per-VALUE idiom, after which everything is int64 (|err|
    * is bounded by half a quantization step ≈ scale·10⁴/2 plus one ulp
    * of rounding — a few hundred micro-units). A dimension whose
    * max_abs_err dwarfs the others is dominated by the vectors' outlier
    * coordinates setting the scale — the signal that moves a deployment
    * from per-vector to per-dim scales. Scale shape: ONE corpus scan,
    * posexplode collapsed map-side into a 64-group aggregate (q192's
    * exact shape). Output: 64 rows. HASH-MATCHED. */
  val q226 = QueryDef.oracle("q226_sq8_error_profile",
    """WITH sc AS (
      |  SELECT vec_id, embedding,
      |         greatest(CAST(list_max(list_transform(embedding, y -> abs(y)))
      |                  AS DOUBLE) / 127.0, 1e-30) AS scale
      |  FROM embeddings),
      |r AS (
      |  SELECT vec_id, unnest([{'dim': i - 1,
      |           'err': CAST(round(CAST(embedding[i] AS DOUBLE) * 10000) AS BIGINT)
      |                - CAST(round(CAST(round(CAST(embedding[i] AS DOUBLE) / scale)
      |                             AS INTEGER) * scale * 10000) AS BIGINT)}
      |          FOR i IN range(1, len(embedding) + 1)], recursive := true)
      |  FROM sc)
      |SELECT dim, CAST(count(*) AS BIGINT) AS n_vecs,
      |       CAST(max(abs(err)) AS BIGINT) AS max_abs_err,
      |       CAST(SUM(err) AS BIGINT) AS sum_err,
      |       CAST(SUM(err * err) AS BIGINT) AS sumsq_err
      |FROM r GROUP BY dim""".stripMargin)(
    (s, d) => {
      val scale = greatest(
        array_max(transform(col("embedding"), x => abs(x))).cast("double") / 127.0,
        lit(1e-30))
      Tables.embeddings(s, d)
        .select(col("vec_id"), scale.as("scale"),
          posexplode(col("embedding").cast("array<double>"))
            .as(Seq("dim", "x")))
        .select(col("dim"),
          (round(col("x") * 10000).cast("long")
            - round(round(col("x") / col("scale")).cast("int")
              * col("scale") * 10000).cast("long")).as("err"))
        .groupBy("dim")
        .agg(count(lit(1)).as("n_vecs"),
          max(abs(col("err"))).as("max_abs_err"),
          sum("err").as("sum_err"),
          sum(col("err") * col("err")).as("sumsq_err"))
    })

  /** LABEL-COHERENCE scatter audit — the within-class half of the
    * separability question q163's centroid-overlap matrix asks between
    * classes: per label, the exact within-label scatter
    * Σ‖x−μ‖² computed WITHOUT materializing μ via the moment identity
    * n·Σ‖x‖² − ‖Σx‖² (= n²·avg squared deviation, exact in integers —
    * no per-row subtraction against a rounded centroid, no floats). A
    * label whose mean squared deviation rivals the global spread is
    * incoherent — mislabeled or a catch-all — and a contrastive /
    * classifier training run wants it flagged before it poisons the
    * margin. All math in q192's quantized micro-units: per-(label, dim)
    * sums accumulate in DECIMAL(38,0)/HUGEINT (128-bit-safe per the r9
    * ADVICE convention), the scatter ships as VARCHAR (q149's wire
    * rule) next to BIGINT per-vector means both engines truncate
    * identically. Scale shape: ONE corpus scan → map-side-combined
    * (label, dim) aggregate (≤ |labels|·64 partial states on the
    * exchange) → |labels|-row rollup; the n_vecs side is a second
    * label-keyed count joined broadcast. Output: one row per label.
    * HASH-MATCHED. */
  val q227 = QueryDef.oracle("q227_label_scatter", {
    s"""WITH $iqCte,
       |il AS (SELECT iq.vec_id, e.label, iq.v
       |       FROM iq JOIN embeddings e USING (vec_id)),
       |e AS (SELECT label, unnest([{'dim': i - 1, 'q': v[i]}
       |                     FOR i IN range(1, len(v) + 1)], recursive := true)
       |      FROM il),
       |g1 AS (SELECT label, dim,
       |         SUM(CAST(q AS HUGEINT)) AS s,
       |         SUM(CAST(q AS HUGEINT) * q) AS ss
       |       FROM e GROUP BY 1, 2),
       |g2 AS (SELECT label, SUM(ss) AS total_ss, SUM(s * s) AS sum_s2
       |       FROM g1 GROUP BY 1),
       |n AS (SELECT label, CAST(count(*) AS BIGINT) AS n_vecs FROM il GROUP BY 1)
       |SELECT n.label, n.n_vecs,
       |       CAST(n.n_vecs * g2.total_ss - g2.sum_s2 AS VARCHAR) AS scatter,
       |       CAST((n.n_vecs * g2.total_ss - g2.sum_s2)
       |            // (n.n_vecs * n.n_vecs) AS BIGINT) AS msd_e8
       |FROM n JOIN g2 USING (label)""".stripMargin})(
    (s, d) => {
      val il = Tables.embeddings(s, d).select(col("vec_id"), col("label"),
        transform(col("embedding").cast("array<double>"),
          x => round(x * 10000).cast("long")).as("v"))
      val e = il.select(col("label"), posexplode(col("v")).as(Seq("dim", "q")))
      val g1 = e.groupBy("label", "dim")
        .agg(sum(col("q").cast("decimal(38,0)")).as("s"),
          sum(col("q").cast("decimal(38,0)") * col("q")).as("ss"))
      val g2 = g1.groupBy("label")
        .agg(sum("ss").as("total_ss"), sum(expr("s * s")).as("sum_s2"))
      val n = il.groupBy("label").agg(count(lit(1)).as("n_vecs"))
      n.join(broadcast(g2), Seq("label"))
        .select(col("label"), col("n_vecs"),
          expr("CAST(CAST(n_vecs AS DECIMAL(38,0)) * total_ss - sum_s2" +
            " AS STRING)").as("scatter"),
          expr("CAST((CAST(n_vecs AS DECIMAL(38,0)) * total_ss - sum_s2)" +
            " div (n_vecs * n_vecs) AS BIGINT)").as("msd_e8"))
    })

  /** Per-dimension CLIP-RANGE calibration — the action q226's audit
    * points at: when a dimension's int8 error is dominated by outlier
    * coordinates setting the scale, the fix is clipping to robust
    * bounds before quantizing. This computes those bounds EXACTLY: per
    * dimension, the rank-based p1/p99 of the quantized values (ceil-
    * rank convention, no interpolation — q212's order-statistic
    * family) and how much mass a [p1, p99] clip would saturate, in
    * exact ppm. The scalable shape matters: NOT a per-dim sort of the
    * corpus — values are quantized integers, so the distribution
    * compresses to (dim, value) COUNTS first (map-side combined,
    * bounded by distinct values per dim), the rank scan is a keyed
    * cumsum window over that compressed table, and the clip-mass pass
    * is a 64-row broadcast join back onto the counts. Output: 64 rows.
    * HASH-MATCHED. */
  val q235 = QueryDef.oracle("q235_clip_calibration", {
    s"""WITH $iqCte,
       |e AS (SELECT unnest([{'dim': i - 1, 'q': v[i]}
       |                     FOR i IN range(1, len(v) + 1)], recursive := true)
       |      FROM iq),
       |vc AS (SELECT dim, q, CAST(count(*) AS BIGINT) AS cnt
       |       FROM e GROUP BY 1, 2),
       |cum AS (SELECT dim, q, cnt,
       |          CAST(SUM(cnt) OVER (PARTITION BY dim ORDER BY q
       |            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
       |            AS BIGINT) AS cum,
       |          CAST(SUM(cnt) OVER (PARTITION BY dim) AS BIGINT) AS n
       |        FROM vc),
       |lo AS (SELECT dim, MIN(q) AS p01_q FROM cum
       |       WHERE cum >= (n + 99) // 100 GROUP BY dim),
       |hi AS (SELECT dim, MIN(q) AS p99_q FROM cum
       |       WHERE cum >= (99 * n + 99) // 100 GROUP BY dim),
       |bounds AS (SELECT lo.dim, lo.p01_q, hi.p99_q
       |           FROM lo JOIN hi USING (dim))
       |SELECT b.dim, CAST(SUM(vc.cnt) AS BIGINT) AS n,
       |       b.p01_q, b.p99_q,
       |       CAST(SUM(CASE WHEN vc.q < b.p01_q THEN vc.cnt ELSE 0 END)
       |            AS BIGINT) AS n_below,
       |       CAST(SUM(CASE WHEN vc.q > b.p99_q THEN vc.cnt ELSE 0 END)
       |            AS BIGINT) AS n_above,
       |       CAST((SUM(CASE WHEN vc.q < b.p01_q THEN vc.cnt ELSE 0 END)
       |             + SUM(CASE WHEN vc.q > b.p99_q THEN vc.cnt ELSE 0 END))
       |            * 1000000 // SUM(vc.cnt) AS BIGINT) AS clip_ppm
       |FROM vc JOIN bounds b USING (dim)
       |GROUP BY b.dim, b.p01_q, b.p99_q""".stripMargin})(
    (s, d) => {
      val e = quantizedVecs(s, d)
        .select(posexplode(col("v")).as(Seq("dim", "q")))
      val vc = e.groupBy("dim", "q").agg(count(lit(1)).as("cnt"))
      val wd = Window.partitionBy("dim")
      val cum = vc
        .withColumn("cum", sum("cnt").over(wd.orderBy("q")
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
        .withColumn("n", sum("cnt").over(wd))
      val lo = cum.filter(col("cum") >= expr("(n + 99) div 100"))
        .groupBy("dim").agg(min("q").as("p01_q"))
      val hi = cum.filter(col("cum") >= expr("(99 * n + 99) div 100"))
        .groupBy("dim").agg(min("q").as("p99_q"))
      val bounds = lo.join(hi, Seq("dim"))
      vc.join(broadcast(bounds), Seq("dim"))
        .groupBy("dim", "p01_q", "p99_q")
        .agg(sum("cnt").as("n"),
          sum(when(col("q") < col("p01_q"), col("cnt")).otherwise(0L))
            .as("n_below"),
          sum(when(col("q") > col("p99_q"), col("cnt")).otherwise(0L))
            .as("n_above"))
        .select(col("dim"), col("n").cast("long").as("n"), col("p01_q"),
          col("p99_q"), col("n_below").cast("long").as("n_below"),
          col("n_above").cast("long").as("n_above"),
          expr("CAST((n_below + n_above) * 1000000 div n AS BIGINT)")
            .as("clip_ppm"))
    })

  /** Per-SOURCE embedding drift — the cross-modal intake audit q215's
    * gate needs upstream: is one crawl's embedding distribution
    * SHIFTED relative to the corpus? Shift is measured as the exact
    * squared distance between each source's centroid and the global
    * centroid, computed WITHOUT dividing either centroid into floats:
    * dev = Σ_d (n_g·S_{s,d} − n_s·S_{g,d})² is (n_s·n_g)²·‖μ_s − μ_g‖²
    * in pure integers (q227's moment-identity discipline, source grain,
    * documents⋈embeddings on the q215 doc_id = vec_id contract). The
    * normalized mean-squared shift ships as BIGINT after one
    * truncating division both engines define identically; the raw dev
    * ships VARCHAR (q149's wire rule — it exceeds float64 exactness).
    * A drifted source means its encoder ran with different
    * normalization, a different model version, or genuinely different
    * content — all three things a training run wants flagged before
    * mixing. Scale shape: one documents⋈embeddings join feeding ONE
    * (source, dim) map-side agg (≤ |sources|×64 partials) whose tiny
    * moment table is PINNED (eager localCheckpoint, the q222 pattern)
    * — counts, global sums, and the deviation rollup all derive from
    * it, so the corpus is scanned exactly once. Output: one row per
    * source. HASH-MATCHED. */
  val q237 = QueryDef.oracle("q237_source_embedding_drift", {
    s"""WITH $iqCte,
       |sv AS (SELECT d.source, iq.v FROM iq
       |       JOIN documents d ON iq.vec_id = d.doc_id),
       |e AS (SELECT source, unnest([{'dim': i - 1, 'q': v[i]}
       |                     FOR i IN range(1, len(v) + 1)], recursive := true)
       |      FROM sv),
       |g1 AS (SELECT source, dim, SUM(CAST(q AS HUGEINT)) AS s,
       |         CAST(count(*) AS BIGINT) AS cnt
       |       FROM e GROUP BY 1, 2),
       |ns AS (SELECT source, cnt AS n_vecs FROM g1 WHERE dim = 0),
       |gt AS (SELECT dim, SUM(s) AS sg FROM g1 GROUP BY 1),
       |ng AS (SELECT CAST(SUM(n_vecs) AS BIGINT) AS n_g FROM ns),
       |dev AS (SELECT g1.source,
       |          SUM((ng.n_g * g1.s - ns.n_vecs * gt.sg)
       |              * (ng.n_g * g1.s - ns.n_vecs * gt.sg)) AS dev
       |        FROM g1 JOIN gt USING (dim)
       |                JOIN ns USING (source), ng
       |        GROUP BY 1)
       |SELECT ns.source, ns.n_vecs,
       |       CAST(dev.dev AS VARCHAR) AS dev_scaled,
       |       CAST(dev.dev // (ns.n_vecs * ns.n_vecs)
       |            // (ng.n_g * ng.n_g) AS BIGINT) AS shift_e8
       |FROM ns JOIN dev USING (source), ng""".stripMargin})(
    (s, d) => {
      val sv = quantizedVecs(s, d)
        .join(Tables.documents(s, d)
          .select(col("doc_id").as("vec_id"), col("source")), Seq("vec_id"))
      val e = sv.select(col("source"), posexplode(col("v")).as(Seq("dim", "q")))
      // ONE corpus pass; the 64 x |sources| moment table is pinned
      // (eager localCheckpoint, the q222 pattern) so the four downstream
      // consumers reuse it instead of re-deriving the join + explode
      val g1 = e.groupBy("source", "dim")
        .agg(sum(col("q").cast("decimal(38,0)")).as("s"),
          count(lit(1)).as("cnt"))
        .localCheckpoint(false)
      val ns = g1.filter(col("dim") === 0)
        .select(col("source"), col("cnt").as("n_vecs"))
      val gt = g1.groupBy("dim").agg(sum("s").as("sg"))
      val ng = ns.agg(sum("n_vecs").as("n_g"))
      val dev = g1.join(broadcast(gt), Seq("dim"))
        .join(broadcast(ns), Seq("source"))
        .crossJoin(broadcast(ng))
        .select(col("source"),
          ((col("n_g") * col("s") - col("n_vecs") * col("sg")) *
            (col("n_g") * col("s") - col("n_vecs") * col("sg"))).as("t2"))
        .groupBy("source").agg(sum("t2").as("dev"))
      ns.join(broadcast(dev), Seq("source")).crossJoin(broadcast(ng))
        .select(col("source"), col("n_vecs"),
          col("dev").cast("string").as("dev_scaled"),
          expr("CAST((dev div (n_vecs * n_vecs)) div (n_g * n_g) AS BIGINT)")
            .as("shift_e8"))
    })

  /** IVF CELL-BALANCE audit — the index-health readout under every IVF
    * probe budget (q64/q69): per trained cell, the assigned-vector
    * count, its corpus share in exact ppm, and load_ppm = n·K·10⁶ /
    * total (10⁶ ⇔ perfectly balanced; the MAX row bounds worst-case
    * probe cost and the straggler task at 100 TB — a 5× hot cell means
    * a query probing it scans 5× the average inverted list), plus the
    * empty flag (dead codebook capacity — training that bought
    * nothing). Assignment rides the ONE shared coarse-quantization
    * helper (q64's `ivfAssignMap`, so search and audit cannot disagree
    * on routing) against the drift-pinned trained chain. Scale shape:
    * one broadcast-codebook scan + vec-keyed max + K-row LEFT rollup;
    * K-row output. HASH-MATCHED. */
  val q276 = QueryDef.oracle("q276_ivf_cell_balance",
    s"""WITH emb AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e, label
      |             FROM embeddings),
      |$ivfCentCtes,
      |assign AS (
      |  SELECT vec_id, c_id FROM (
      |    SELECT v.vec_id, c.c_id,
      |           ROW_NUMBER() OVER (PARTITION BY v.vec_id
      |             ORDER BY list_cosine_similarity(v.e, c.c_vec) DESC,
      |                      c.c_id DESC) AS rn
      |    FROM emb v CROSS JOIN cent c) WHERE rn = 1),
      |occ AS (
      |  SELECT c.c_id, CAST(count(a.vec_id) AS BIGINT) AS n
      |  FROM cent c LEFT JOIN assign a ON a.c_id = c.c_id
      |  GROUP BY 1),
      |tot AS (SELECT CAST(SUM(n) AS BIGINT) AS total,
      |               CAST(count(*) AS BIGINT) AS k FROM occ)
      |SELECT o.c_id, o.n,
      |       CAST(o.n * 1000000 // t.total AS BIGINT) AS share_ppm,
      |       CAST(o.n * t.k * 1000000 // t.total AS BIGINT) AS load_ppm,
      |       o.n = 0 AS empty
      |FROM occ o, tot t""".stripMargin)(
    (s, d) => {
      val occ = storedIvfCentroids(s, d).select("c_id")
        .join(ivfAssignMap(s, d), Seq("c_id"), "left_outer")
        .groupBy("c_id").agg(count(col("vec_id")).as("n"))
      val tot = occ.agg(sum("n").as("total"), count(lit(1)).as("k"))
      occ.crossJoin(broadcast(tot))
        .select(col("c_id"), col("n"),
          expr("CAST(n * 1000000 div total AS BIGINT)").as("share_ppm"),
          expr("CAST(n * k * 1000000 div total AS BIGINT)").as("load_ppm"),
          (col("n") === 0).as("empty"))
    })

  /** HYBRID RETRIEVAL FUSION — Reciprocal Rank Fusion (Cormack et al.
    * 2009, the combiner every lexical+vector search engine ships):
    * ONE query asked both ways — the keyword query {vector, stream,
    * window} through the SHARED BM25 chain (q124's scoring verbatim,
    * drift-safe by construction) and doc 0's embedding through q61's
    * exact-cosine convention — each leg ranked top-50 (deterministic
    * (score, doc_id) tiebreaks; doc 0 itself excluded from both legs),
    * then fused by rrf_ppm = Σ_legs 10⁶ // (60 + rank), the k = 60
    * integer floor both engines compute identically: rank-only inputs,
    * so the float cosine never touches the output (q61/q65's
    * robustness argument). A doc present in one leg scores only that
    * leg — RRF's native missing-rank handling, expressed as a FULL
    * OUTER merge of two ≤50-row rank lists. Scale shape: the BM25 leg
    * is q124's rollup chain; the semantic leg is one broadcast-query
    * scan + top-k; the fusion itself touches ≤100 rows. Output: fused
    * top-20 with both source ranks. HASH-MATCHED. */
  val q270 = QueryDef.oracle("q270_hybrid_rrf_fusion",
    s"""WITH ${graft.operators.ModelPrepQueries.bm25Ctes},
       |lex AS (SELECT doc_id, CAST(ROW_NUMBER() OVER (
       |          ORDER BY score_micro DESC, doc_id) AS BIGINT) AS lex_rank
       |        FROM agg WHERE doc_id <> 0
       |        QUALIFY lex_rank <= 50),
       |qv AS (SELECT embedding AS q_vec FROM embeddings WHERE vec_id = 0),
       |sem AS (SELECT vec_id AS doc_id, CAST(ROW_NUMBER() OVER (
       |          ORDER BY list_cosine_similarity(
       |            CAST(e.embedding AS DOUBLE[]),
       |            CAST(qv.q_vec AS DOUBLE[])) DESC, vec_id) AS BIGINT)
       |          AS sem_rank
       |        FROM embeddings e, qv WHERE e.vec_id <> 0
       |        QUALIFY sem_rank <= 50),
       |fused AS (SELECT COALESCE(l.doc_id, s.doc_id) AS doc_id,
       |            l.lex_rank, s.sem_rank,
       |            COALESCE(1000000 // (60 + l.lex_rank), 0)
       |              + COALESCE(1000000 // (60 + s.sem_rank), 0) AS rrf_ppm
       |          FROM lex l FULL OUTER JOIN sem s ON l.doc_id = s.doc_id)
       |SELECT doc_id, lex_rank, sem_rank, CAST(rrf_ppm AS BIGINT) AS rrf_ppm,
       |       CAST(ROW_NUMBER() OVER (ORDER BY rrf_ppm DESC, doc_id)
       |            AS BIGINT) AS fused_rank
       |FROM fused
       |QUALIFY fused_rank <= 20""".stripMargin)(
    (s, d) => {
      // both legs cut to top-50 via distributed TakeOrderedAndProject
      // FIRST; the global rank window only ever sees 50 rows (q124's
      // convention — never a global sort/window over the corpus)
      val lex = graft.operators.ModelPrepQueries.bm25ScoreFrame(s, d)
        .filter(col("doc_id") =!= 0)
        .orderBy(col("score_micro").desc, col("doc_id")).limit(50)
        .withColumn("lex_rank", row_number()
          .over(Window.orderBy(col("score_micro").desc, col("doc_id")))
          .cast("long"))
        .select("doc_id", "lex_rank")
      val qv = Tables.embeddings(s, d).filter(col("vec_id") === 0)
        .select(col("embedding").as("q_vec"))
      val sem = Tables.embeddings(s, d).filter(col("vec_id") =!= 0)
        .crossJoin(broadcast(qv))
        .select(col("vec_id").as("doc_id"),
          VecExpressions.cosineFast(s, col("embedding"), col("q_vec")).as("cos"))
        .orderBy(col("cos").desc, col("doc_id")).limit(50)
        .withColumn("sem_rank", row_number()
          .over(Window.orderBy(col("cos").desc, col("doc_id"))).cast("long"))
        .select("doc_id", "sem_rank")
      val fused = lex.join(sem, Seq("doc_id"), "full_outer")
        .withColumn("rrf_ppm",
          coalesce(expr("1000000 div (60 + lex_rank)"), lit(0L))
            + coalesce(expr("1000000 div (60 + sem_rank)"), lit(0L)))
      fused
        .withColumn("fused_rank",
          row_number().over(Window.orderBy(col("rrf_ppm").desc, col("doc_id")))
            .cast("long"))
        .filter(col("fused_rank") <= 20)
        .select(col("doc_id"), col("lex_rank"), col("sem_rank"),
          col("rrf_ppm").cast("long").as("rrf_ppm"), col("fused_rank"))
    })

  /** EMBEDDING FRESHNESS AUDIT — what the snapshot transition (q190's
    * shared views) means for the VECTOR side of the corpus: per diff
    * status, whether a vector exists (doc_id ≡ vec_id, q241's
    * convention) and the action the index pipeline owes — `changed`
    * docs with a vector need RE-EMBEDDING (their vector encodes the
    * old text — the staleness q241's coverage count cannot see),
    * `added` docs need first embedding, `removed` docs' vectors are
    * deletions owed, `unchanged` vectors keep. The re-embed bill rides
    * along as the affected docs' total characters. Scale shape: the
    * q190 digest-compare full-outer join (never text) + one
    * vec_id-keyed left join + a ≤4×2-row rollup. HASH-MATCHED. */
  val q294 = QueryDef.oracle("q294_embedding_freshness", {
    import graft.operators.ExtensionQueries.{snapshotNewPred, snapshotOldPred, snapshotOldTextSql}
    s"""WITH v_old AS (
       |  SELECT doc_id, md5($snapshotOldTextSql) AS hh
       |  FROM documents WHERE $snapshotOldPred),
       |v_new AS (
       |  SELECT doc_id, md5(text) AS hh, length(text) AS len
       |  FROM documents WHERE $snapshotNewPred),
       |j AS (
       |  SELECT COALESCE(n.doc_id, o.doc_id) AS doc_id,
       |         CASE WHEN o.doc_id IS NULL THEN 'added'
       |              WHEN n.doc_id IS NULL THEN 'removed'
       |              WHEN n.hh IS NOT DISTINCT FROM o.hh THEN 'unchanged'
       |              ELSE 'changed' END AS status,
       |         COALESCE(n.len, 0) AS len
       |  FROM v_new n FULL OUTER JOIN v_old o ON n.doc_id = o.doc_id),
       |w AS (SELECT j.status, j.len,
       |        e.vec_id IS NOT NULL AS has_vec
       |      FROM j LEFT JOIN embeddings e ON e.vec_id = j.doc_id)
       |SELECT status,
       |       CAST(count(*) AS BIGINT) AS n_docs,
       |       CAST(count(CASE WHEN has_vec THEN 1 END) AS BIGINT) AS n_with_vec,
       |       CAST(COALESCE(SUM(CASE WHEN status IN ('added', 'changed')
       |                          THEN len END), 0) AS BIGINT)
       |         AS reembed_chars,
       |       CASE status WHEN 'changed' THEN 'reembed'
       |            WHEN 'added' THEN 'embed_new'
       |            WHEN 'removed' THEN 'delete_vector'
       |            ELSE 'keep' END AS action
       |FROM w GROUP BY status""".stripMargin})(
    (s, d) => {
      import graft.operators.ExtensionQueries.{snapshotNewPred, snapshotOldPred, snapshotOldText}
      val docs = Tables.documents(s, d)
      val vOld = docs.filter(expr(snapshotOldPred))
        .select(col("doc_id").as("o_id"), md5(snapshotOldText).as("o_hh"))
      val vNew = docs.filter(expr(snapshotNewPred))
        .select(col("doc_id").as("n_id"), md5(col("text")).as("n_hh"),
          length(col("text")).as("len"))
      val j = vNew.join(vOld, col("n_id") === col("o_id"), "full_outer")
        .select(coalesce(col("n_id"), col("o_id")).as("doc_id"),
          when(col("o_id").isNull, "added")
            .when(col("n_id").isNull, "removed")
            .when(col("n_hh") <=> col("o_hh"), "unchanged")
            .otherwise("changed").as("status"),
          coalesce(col("len"), lit(0)).as("len"))
      val w = j.join(Tables.embeddings(s, d).select(col("vec_id")),
        col("vec_id") === col("doc_id"), "left")
        .select(col("status"), col("len"), col("vec_id").isNotNull.as("has_vec"))
      w.groupBy("status").agg(
        count(lit(1)).as("n_docs"),
        count(when(col("has_vec"), 1)).as("n_with_vec"),
        coalesce(sum(when(col("status").isin("added", "changed"), col("len"))),
          lit(0L)).cast("long").as("reembed_chars"))
        .withColumn("action",
          when(col("status") === "changed", "reembed")
            .when(col("status") === "added", "embed_new")
            .when(col("status") === "removed", "delete_vector")
            .otherwise("keep"))
    })

  /** RANKER AGREEMENT — the measurement that motivates (or retires)
    * q270's fusion: how much do the lexical and semantic top-50 lists
    * actually disagree? Same two legs as q270 (the shared BM25 chain
    * and the exact broadcast-query cosine ranking, identical rank
    * tiebreaks), then exact list overlap (Jaccard in ppm) and Kendall
    * tau over the COMMON documents — concordant/discordant pairs
    * counted over the ≤ 50² bounded intersection, tau_ppm =
    * (C − D)·10⁶ // pairs. High tau means the legs are redundant and
    * fusion buys nothing; low tau with decent overlap is exactly
    * where reciprocal-rank fusion earns its keep. Scale shape: both
    * legs TakeOrdered to 50 rows; everything after is arithmetic on
    * two 50-row lists. HASH-MATCHED. */
  val q292 = QueryDef.oracle("q292_ranker_agreement",
    s"""WITH ${graft.operators.ModelPrepQueries.bm25Ctes},
       |lex AS (SELECT doc_id, CAST(ROW_NUMBER() OVER (
       |          ORDER BY score_micro DESC, doc_id) AS BIGINT) AS lex_rank
       |        FROM agg WHERE doc_id <> 0
       |        QUALIFY lex_rank <= 50),
       |qv AS (SELECT embedding AS q_vec FROM embeddings WHERE vec_id = 0),
       |sem AS (SELECT vec_id AS doc_id, CAST(ROW_NUMBER() OVER (
       |          ORDER BY list_cosine_similarity(
       |            CAST(e.embedding AS DOUBLE[]),
       |            CAST(qv.q_vec AS DOUBLE[])) DESC, vec_id) AS BIGINT)
       |          AS sem_rank
       |        FROM embeddings e, qv WHERE e.vec_id <> 0
       |        QUALIFY sem_rank <= 50),
       |sizes AS (SELECT (SELECT CAST(count(*) AS BIGINT) FROM lex) AS n_lex,
       |                 (SELECT CAST(count(*) AS BIGINT) FROM sem) AS n_sem),
       |c AS (SELECT l.doc_id, l.lex_rank, s.sem_rank
       |      FROM lex l JOIN sem s ON l.doc_id = s.doc_id),
       |p AS (SELECT CASE WHEN (a.lex_rank < b.lex_rank)
       |                   = (a.sem_rank < b.sem_rank) THEN 1 ELSE 0 END AS conc
       |      FROM c a JOIN c b ON a.doc_id < b.doc_id),
       |agg2 AS (SELECT
       |    (SELECT CAST(count(*) AS BIGINT) FROM c) AS n_common,
       |    (SELECT CAST(count(*) AS BIGINT) FROM p) AS n_pairs,
       |    (SELECT CAST(COALESCE(SUM(conc), 0) AS BIGINT) FROM p) AS concordant)
       |SELECT s.n_lex, s.n_sem, a.n_common,
       |       CAST(CASE WHEN s.n_lex + s.n_sem - a.n_common = 0 THEN NULL
       |            ELSE a.n_common * 1000000
       |                 // (s.n_lex + s.n_sem - a.n_common) END AS BIGINT)
       |         AS jaccard_ppm,
       |       a.concordant,
       |       a.n_pairs - a.concordant AS discordant,
       |       CAST(CASE WHEN a.n_pairs = 0 THEN NULL
       |            ELSE (2 * a.concordant - a.n_pairs) * 1000000 // a.n_pairs
       |            END AS BIGINT) AS tau_ppm
       |FROM sizes s, agg2 a""".stripMargin)(
    (s, d) => {
      val lex = graft.operators.ModelPrepQueries.bm25ScoreFrame(s, d)
        .filter(col("doc_id") =!= 0)
        .orderBy(col("score_micro").desc, col("doc_id")).limit(50)
        .withColumn("lex_rank", row_number()
          .over(Window.orderBy(col("score_micro").desc, col("doc_id")))
          .cast("long"))
        .select("doc_id", "lex_rank")
        .localCheckpoint(false) // 50-row list consumed by sizes + c
      val qv = Tables.embeddings(s, d).filter(col("vec_id") === 0)
        .select(col("embedding").as("q_vec"))
      val sem = Tables.embeddings(s, d).filter(col("vec_id") =!= 0)
        .crossJoin(broadcast(qv))
        .select(col("vec_id").as("doc_id"),
          VecExpressions.cosineFast(s, col("embedding"), col("q_vec")).as("cos"))
        .orderBy(col("cos").desc, col("doc_id")).limit(50)
        .withColumn("sem_rank", row_number()
          .over(Window.orderBy(col("cos").desc, col("doc_id"))).cast("long"))
        .select(col("doc_id").as("s_doc"), col("sem_rank"))
        .localCheckpoint(false)
      val sizes = lex.agg(count(lit(1)).as("n_lex"))
        .crossJoin(sem.agg(count(lit(1)).as("n_sem")))
      val c = lex.join(sem, col("doc_id") === col("s_doc"))
        .select(col("doc_id"), col("lex_rank"), col("sem_rank"))
      val a2 = c.toDF("a_doc", "a_lex", "a_sem")
      val b2 = c.toDF("b_doc", "b_lex", "b_sem")
      val p = a2.join(b2, col("a_doc") < col("b_doc"))
        .select(when((col("a_lex") < col("b_lex")) === (col("a_sem") < col("b_sem")),
          1).otherwise(0).as("conc"))
      val agg2 = c.agg(count(lit(1)).as("n_common"))
        .crossJoin(p.agg(count(lit(1)).as("n_pairs"),
          coalesce(sum("conc"), lit(0L)).cast("long").as("concordant")))
      sizes.crossJoin(agg2)
        .select(col("n_lex"), col("n_sem"), col("n_common"),
          when(col("n_lex") + col("n_sem") - col("n_common") === 0,
            lit(null).cast("long"))
            .otherwise(expr(
              "CAST(n_common * 1000000 div (n_lex + n_sem - n_common) AS BIGINT)"))
            .as("jaccard_ppm"),
          col("concordant"),
          (col("n_pairs") - col("concordant")).as("discordant"),
          when(col("n_pairs") === 0, lit(null).cast("long"))
            .otherwise(expr(
              "CAST((2 * concordant - n_pairs) * 1000000 div n_pairs AS BIGINT)"))
            .as("tau_ppm"))
    })

  /** DIMENSION-TRUNCATION RECALL (the Matryoshka question) — what does
    * serving only the first P coordinates cost? Per prefix width P ∈
    * {8, 16, 32, 64}: brute-force cosine top-10 over the truncated
    * vectors vs the full-width top-10 as ground truth (q61's exact
    * convention: double cosine, rank ties broken by vec_id), recall in
    * exact ppm plus the worst single query. A flat curve licenses
    * truncated storage/transport (4× less index I/O at P=16); a cliff
    * is the measured veto. Scale shape: ONE corpus×|Q| scored pass —
    * the 4 prefix cosines ride a scan-stage explode of the SAME row
    * pair, so the corpus is read once, not once per width — then
    * (dims, q_id)-keyed rank windows and a 4-row rollup.
    * HASH-MATCHED. */
  val q281 = QueryDef.oracle("q281_dim_truncation_recall",
    """WITH qs AS (SELECT vec_id AS q_id, embedding AS qv
      |            FROM embeddings WHERE vec_id % 50 = 0),
      |sc AS (SELECT q.q_id, n.vec_id, u.dims,
      |         list_cosine_similarity(CAST(q.qv[1:u.dims] AS DOUBLE[]),
      |                                CAST(n.embedding[1:u.dims] AS DOUBLE[]))
      |           AS cos
      |       FROM embeddings n JOIN qs q ON n.vec_id <> q.q_id,
      |            (SELECT unnest([8, 16, 32, 64]) AS dims) u),
      |t AS (SELECT dims, q_id, vec_id FROM (
      |        SELECT dims, q_id, vec_id,
      |               ROW_NUMBER() OVER (PARTITION BY dims, q_id
      |                 ORDER BY cos DESC, vec_id) AS rk
      |        FROM sc)
      |      WHERE rk <= 10),
      |mk AS (SELECT q_id, vec_id, list(dims) AS ds,
      |         MAX(CASE WHEN dims = 64 THEN 1 ELSE 0 END) AS tr
      |       FROM t GROUP BY 1, 2),
      |ex AS (SELECT q_id, unnest(ds) AS dims, tr FROM mk),
      |hits AS (SELECT dims, q_id, CAST(SUM(tr) AS BIGINT) AS n_hit
      |         FROM ex GROUP BY 1, 2)
      |SELECT CAST(dims AS BIGINT) AS dims,
      |       CAST(count(*) AS BIGINT) AS n_queries,
      |       CAST(SUM(n_hit) AS BIGINT) AS total_hits,
      |       CAST(SUM(n_hit) * 1000000 // (count(*) * 10) AS BIGINT)
      |         AS recall_ppm,
      |       CAST(MIN(n_hit) AS BIGINT) AS worst_hits
      |FROM hits GROUP BY 1""".stripMargin)(
    (s, d) => {
      val base = Tables.embeddings(s, d).select(col("vec_id"), col("embedding"))
      val q = querySet(s, d)
      val widths = Seq(8, 16, 32, 64)
      val scored = base.crossJoin(broadcast(q))
        .filter(col("vec_id") =!= col("q_id"))
        .select(col("q_id"), col("vec_id"),
          explode(array(widths.map(p => struct(lit(p.toLong).as("dims"),
            VecExpressions.cosineFast(s,
              slice(col("q_vec"), 1, p),
              slice(col("embedding"), 1, p)).as("cos"))): _*)).as("e"))
        .select(col("q_id"), col("vec_id"), col("e.dims").as("dims"),
          col("e.cos").as("cos"))
      val w = Window.partitionBy("dims", "q_id")
        .orderBy(col("cos").desc, col("vec_id"))
      // hit-marking WITHOUT a truth self-join: per (q_id, vec_id) the
      // retrieved widths fold into one row carrying the in-full-width
      // flag, then re-explode — t is consumed ONCE, no second corpus
      // pass, no bounded-set broadcast needed
      val t = scored.withColumn("rk", row_number().over(w))
        .filter(col("rk") <= 10).select("dims", "q_id", "vec_id")
      val mk = t.groupBy("q_id", "vec_id")
        .agg(collect_list("dims").as("ds"),
          max(when(col("dims") === 64L, 1).otherwise(0)).as("tr"))
      val hits = mk.select(col("q_id"), explode(col("ds")).as("dims"), col("tr"))
        .groupBy("dims", "q_id").agg(sum("tr").as("n_hit"))
      hits.groupBy("dims").agg(
        count(lit(1)).as("n_queries"),
        sum("n_hit").cast("long").as("total_hits"),
        expr("CAST(SUM(n_hit) * 1000000 div (count(1) * 10) AS BIGINT)")
          .as("recall_ppm"),
        min("n_hit").cast("long").as("worst_hits"))
        .select(col("dims"), col("n_queries"), col("total_hits"),
          col("recall_ppm"), col("worst_hits"))
    })

  // --- q301: OPQ-style rotation audit ----------------------------------

  /** The balanced dim layout (OPQ's "eigenvalue allocation" init, Ge et
    * al. CVPR'13, on per-dim second moments): dims ranked by energy
    * (Σq², DECIMAL-exact) descending, snake-dealt across the PqM
    * subspaces so each gets one hot dim per round from alternating
    * ends. A permutation IS an orthogonal rotation — the integer one,
    * exactly replayable, which is why it stands in for the float
    * Procrustes refinement here. Returns permuted ORIGINAL dim indices
    * (position p holds old dim perm(p)); bounded 64-row collect. */
  private def opqPermutation(s: SparkSession, d: String): Seq[Int] = {
    val en = quantizedVecs(s, d)
      .select(posexplode(col("v")).as(Seq("dim", "q")))
      .groupBy("dim")
      .agg(sum((col("q") * col("q")).cast("decimal(38,0)")).as("en"))
      .collect().map(r => (r.getInt(0), BigDecimal(r.getDecimal(1))))
    val ranked = en.sortBy { case (dim, e) => (-e, dim) }
    val bySub = Array.fill(PqM)(scala.collection.mutable.ArrayBuffer.empty[Int])
    ranked.zipWithIndex.foreach { case ((dim, _), r) =>
      val round = r / PqM; val p = r % PqM
      val sub = if (round % 2 == 0) p else PqM - 1 - p
      bySub(sub) += dim
    }
    bySub.toSeq.flatten
  }

  /** Permuted quantized vectors under `perm` (literal — the 64-entry
    * permutation is trained bounded side-data, like the codebooks). */
  private def permutedVecs(s: SparkSession, d: String, perm: Seq[Int]): DataFrame =
    quantizedVecs(s, d).select(col("vec_id"),
      array(perm.map(pd => element_at(col("v"), pd + 1)): _*).as("v"))

  /** Per-subspace exact reconstruction stats of one PQ layout: assign
    * every vector's subspace-j slice to its nearest trained centroid
    * (the house max(struct(cos, c_id)) rule), then the mean-
    * reconstruction distortion per subspace WITHOUT materializing any
    * mean — the q227 moment identity per (subspace, cluster):
    * Σ‖x−μ_c‖² = (n_c·ΣΣq² − Σ_dim(Σq)²) / n_c, floor-divided per
    * cluster (both engines `div`), summed over clusters. Exchanges
    * carry (vec_id, j, c_id) assignments and (j, c_id, dim) DECIMAL
    * sums — never vectors. */
  private def layoutStats(s: SparkSession, vecs: DataFrame,
      codebook: DataFrame): DataFrame = {
    // all PqM argmaxes in ONE pass against the broadcast codebook (the
    // pqEncode shape — a first cut unioned 8 per-subspace assignment
    // jobs and measured 2× slower), then one explode keyed back to the
    // owning subspace's code
    val enc = vecs.crossJoin(broadcast(codebook))
      .select(col("vec_id") +: (0 until PqM).map { j =>
        struct(VecExpressions.cosineFast(s,
          slice(col("v"), j * PqSub + 1, PqSub).cast("array<double>"),
          slice(col("c"), j * PqSub + 1, PqSub).cast("array<double>")).as("s"),
          col("c_id")).as(s"sc$j")
      }: _*)
      .groupBy("vec_id")
      .agg(max("sc0").as("b0"), (1 until PqM).map(j => max(s"sc$j").as(s"b$j")): _*)
      .select(col("vec_id") +:
        (0 until PqM).map(j => col(s"b$j.c_id").as(s"code$j")): _*)
    val dims = vecs.join(enc, Seq("vec_id"))
      .select(col("vec_id"), posexplode(col("v")).as(Seq("dim", "q")),
        array((0 until PqM).map(j => col(s"code$j")): _*).as("codes"))
      .select(expr(s"CAST(dim div $PqSub AS BIGINT)").as("sub"),
        element_at(col("codes"), expr(s"CAST(dim div $PqSub AS INT) + 1")).as("c_id"),
        col("vec_id"), col("dim"), col("q"))
    // ONE pass over the exploded dims: per (sub, c_id, dim) both the
    // value sum (→ ssq) and the square sum (Σ_vec Σ_dim q² — summation
    // order is free on exact DECIMAL integers, so the old second
    // explode-and-shuffle per (sub, c_id, vec_id) computed the same
    // s2tot the long way around; r15 optimization, guide §2.4 — the
    // perVec pass re-derived the vecs⋈enc join and re-exploded the
    // corpus just to regroup the identical q² terms)
    val perDim = dims.groupBy("sub", "c_id", "dim")
      .agg(sum(col("q").cast("decimal(38,0)")).as("sq"),
        sum((col("q") * col("q")).cast("decimal(38,0)")).as("sqq"),
        count(lit(1)).as("cnt"))
    // cluster sizes ride the SAME perDim rollup: every assigned vector
    // contributes exactly one row per dim, so count per (sub, c_id, dim)
    // IS n_c for each of the subspace's dims — max() over equal values.
    // (r16 optimization, guide §2.4: the old second enc consumer made
    // the whole broadcast-argmax encode run twice per layout — the enc
    // exchange was NOT reused across the dims join and the n rollup.)
    val ssq = perDim.groupBy("sub", "c_id")
      .agg(sum(col("sq") * col("sq")).cast("decimal(38,0)").as("ssq"),
        sum("sqq").cast("decimal(38,0)").as("s2tot"),
        max("cnt").as("n"))
    val perCluster = ssq
      .select(col("sub"), col("n"), col("s2tot"),
        expr("CAST(n * s2tot - ssq AS DECIMAL(38,0)) div n").as("scatter"))
    perCluster.groupBy("sub")
      .agg(sum("n").cast("long").as("n_vecs"),
        sum("s2tot").cast("decimal(38,0)").cast("string").as("energy"),
        sum("scatter").cast("long").as("distortion"))
  }

  /** The same stats in DuckDB over source `src` and codebook `cb`
    * (both already CTEs), emitting `$out(sub, n_vecs, energy,
    * distortion)`. */
  private def layoutStatsCtes(out: String, src: String, cb: String): String = {
    val asgs = (0 until PqM).map { j =>
      val lo = j * PqSub + 1; val hi = (j + 1) * PqSub
      s"""  SELECT CAST($j AS BIGINT) AS sub, vec_id, c_id, v[$lo:$hi] AS v FROM (
         |    SELECT s.vec_id, c.c_id, s.v,
         |           ROW_NUMBER() OVER (PARTITION BY s.vec_id
         |             ORDER BY list_cosine_similarity(CAST(s.v[$lo:$hi] AS DOUBLE[]),
         |                        CAST(c.c[$lo:$hi] AS DOUBLE[])) DESC, c.c_id DESC) AS rn
         |    FROM $src s CROSS JOIN $cb c) WHERE rn = 1""".stripMargin
    }.mkString("\n  UNION ALL\n")
    s"""${out}asg AS MATERIALIZED (
       |$asgs),
       |${out}dims AS MATERIALIZED (
       |  SELECT sub, c_id, vec_id,
       |         unnest([{'dim': i, 'q': v[i]} FOR i IN range(1, len(v) + 1)],
       |                recursive := true)
       |  FROM ${out}asg),
       |${out}ssq AS (
       |  SELECT sub, c_id, CAST(SUM(CAST(sq AS DECIMAL(38,0)) * sq) AS DECIMAL(38,0)) AS ssq
       |  FROM (SELECT sub, c_id, dim, CAST(SUM(q) AS DECIMAL(38,0)) AS sq
       |        FROM ${out}dims GROUP BY sub, c_id, dim)
       |  GROUP BY sub, c_id),
       |${out}pv AS (
       |  SELECT sub, c_id, vec_id, CAST(SUM(CAST(q AS DECIMAL(38,0)) * q) AS DECIMAL(38,0)) AS s2
       |  FROM ${out}dims GROUP BY sub, c_id, vec_id),
       |${out}cl AS (
       |  SELECT p.sub, p.c_id, CAST(count(*) AS BIGINT) AS n,
       |         CAST(SUM(p.s2) AS DECIMAL(38,0)) AS s2tot
       |  FROM ${out}pv p GROUP BY p.sub, p.c_id),
       |$out AS (
       |  SELECT cl.sub, CAST(SUM(cl.n) AS BIGINT) AS n_vecs,
       |         CAST(CAST(SUM(cl.s2tot) AS DECIMAL(38,0)) AS VARCHAR) AS energy,
       |         -- HUGEINT, not DECIMAL: DuckDB's // on DECIMAL is float
       |         -- division; HUGEINT // truncates toward zero = Spark div
       |         CAST(SUM((CAST(cl.n * cl.s2tot - q.ssq AS HUGEINT)) // cl.n)
       |              AS BIGINT) AS distortion
       |  FROM ${out}cl cl JOIN ${out}ssq q USING (sub, c_id)
       |  GROUP BY cl.sub)""".stripMargin
  }

  /** OPQ-STYLE ROTATION AUDIT (the r12 verdict's task #8 — the missing
    * audit between q226's SQ8 error profile and q211's PQ code usage):
    * per subspace, the PQ mean-reconstruction distortion of the
    * trained codebook under the IDENTITY dim layout vs under the
    * balanced PERMUTATION (OPQ's eigenvalue-allocation init on per-dim
    * second moments — a permutation is the exactly-replayable integer
    * rotation). Both codebooks are trained by the SAME k-means chain
    * (the q67 machinery, second artifact for the rotated layout) and
    * both distortions use the exact moment identity — so the
    * improvement_ppm column is the measured answer to "would OPQ pay
    * here", per subspace, with no floats anywhere. energy ships as
    * VARCHAR (q149's DECIMAL wire rule). Output: PqM rows.
    * HASH-MATCHED. */
  val q301 = QueryDef.oracle("q301_opq_rotation_audit", {
    s"""WITH $iqCte,
       |${pqCentCtes("cent")},
       |en AS (SELECT dim, CAST(SUM(CAST(q AS DECIMAL(38,0)) * q) AS DECIMAL(38,0)) AS en
       |       FROM (SELECT unnest([{'dim': i - 1, 'q': v[i]}
       |                            FOR i IN range(1, len(v) + 1)], recursive := true)
       |             FROM iq)
       |       GROUP BY dim),
       |rk AS (SELECT dim, ROW_NUMBER() OVER (ORDER BY en DESC, dim) - 1 AS r FROM en),
       |pm AS (SELECT dim, r,
       |              CASE WHEN (r // $PqM) % 2 = 0 THEN r % $PqM
       |                   ELSE $PqM - 1 - (r % $PqM) END AS sub
       |       FROM rk),
       |pos AS (SELECT dim,
       |               sub * $PqSub + ROW_NUMBER() OVER (PARTITION BY sub ORDER BY r) - 1
       |                 AS pos
       |        FROM pm),
       |pv AS MATERIALIZED (
       |  SELECT vec_id, list(v[dim + 1] ORDER BY pos) AS v FROM iq, pos GROUP BY vec_id),
       |${pqCentCtesOver("rcent", "pv", "rq")},
       |${layoutStatsCtes("ist", "iq", "cent")},
       |${layoutStatsCtes("rst", "pv", "rcent")}
       |SELECT i.sub AS subspace, i.n_vecs,
       |       i.energy AS energy_identity, r.energy AS energy_rotated,
       |       i.distortion AS distortion_identity, r.distortion AS distortion_rotated,
       |       CASE WHEN i.distortion > 0
       |            THEN CAST(CAST(i.distortion - r.distortion AS HUGEINT)
       |                      * 1000000 // i.distortion AS BIGINT)
       |            ELSE CAST(0 AS BIGINT) END AS improvement_ppm
       |FROM ist i JOIN rst r ON r.sub = i.sub""".stripMargin})(
    (s, d) => {
      val perm = opqPermutation(s, d)
      val identity = layoutStats(s, quantizedVecs(s, d),
        storedPqCodebook(s, d).select(col("c_id"), col("c")))
      val rotCb = storedCentroids(s, d, "pqrot") {
        val src = permutedVecs(s, d, perm)
        (0 until PqM).map { j =>
          trainCentroids(s,
            src.select(col("vec_id"), slice(col("v"), j * PqSub + 1, PqSub).as("v")),
            PqK, KmIters)
            .select(col("c_id"), col("c").as(s"c$j"))
        }.reduce(_.join(_, Seq("c_id")))
          .select(col("c_id"), concat((0 until PqM).map(j => col(s"c$j")): _*).as("c"))
      }
      val rotated = layoutStats(s, permutedVecs(s, d, perm), rotCb)
      identity.alias("i").join(rotated.alias("r"), Seq("sub"))
        .select(col("sub").as("subspace"), col("i.n_vecs").as("n_vecs"),
          col("i.energy").as("energy_identity"), col("r.energy").as("energy_rotated"),
          col("i.distortion").as("distortion_identity"),
          col("r.distortion").as("distortion_rotated"),
          when(col("i.distortion") > 0,
            expr("CAST(CAST(i.distortion - r.distortion AS DECIMAL(38,0))" +
              " * 1000000 div i.distortion AS BIGINT)"))
            .otherwise(lit(0L)).as("improvement_ppm"))
    })

  /** Probe budgets swept by q307 — the shipped IvfNprobe sits inside the
    * grid so the curve prices the production point against its
    * neighbors. */
  private val ProbeBudgets = Seq(1, 2, 4, 8, 16, 24, 32)

  /** IVF PROBE-BUDGET RECALL CURVE — the operating-point table an ANN
    * deployment reads before fixing nprobe (`tools.AnnFrontier` measures
    * this offline; q307 makes it a first-class, hash-matched query):
    * recall@10 against the EXACT brute-force top-10 at every budget in
    * [[ProbeBudgets]], over the house query panel (every 50th
    * vector). The trick that makes the sweep ONE search instead of
    * seven: probe lists are nested in the budget (the nprobe=1 list is
    * the head of the nprobe=32 list), so candidates are generated once
    * at the MAX budget carrying their probe rank `pr`, and a single
    * window sort per query yields, for every budget b, each candidate's
    * rank within the pr≤b sublist as a conditional RUNNING COUNT — a
    * candidate is in the budget-b top-10 iff pr≤b and that count ≤10.
    * Hits then come from a 10-rows-per-query join against the exact
    * set. Scale shape: exact truth + candidates are the two broadcast-
    * panel corpus passes (|panel|=N/50 — the audit's sampling knob);
    * the per-budget accounting adds ZERO corpus passes; exchanges carry
    * (q_id, vec_id, pr, cos) — never vectors. Cosine ordering is the
    * established rank-robust float (q65's ULP argument); every emitted
    * number is an exact integer. Output: |budgets| rows
    * (nprobe, n_queries, hits, recall_ppm). HASH-MATCHED. */
  val q307 = QueryDef.oracle("q307_ivf_recall_curve", {
    val maxB = ProbeBudgets.max
    val cnts = ProbeBudgets.map(b =>
      s"""SUM(CASE WHEN pr <= $b THEN 1 ELSE 0 END) OVER (
         |           PARTITION BY q_id ORDER BY cos DESC, vec_id
         |           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cnt_$b""".stripMargin)
      .mkString(",\n         ")
    val hs = ProbeBudgets.map(b =>
      s"SUM(CASE WHEN pr <= $b AND cnt_$b <= 10 THEN 1 ELSE 0 END) AS h_$b")
      .mkString(",\n       ")
    val rows = ProbeBudgets.map(b =>
      s"SELECT CAST($b AS BIGINT) AS nprobe, COALESCE(h_$b, 0) AS hits FROM h")
      .mkString("\n  UNION ALL ")
    s"""WITH emb AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings),
       |$ivfCentCtes,
       |assign AS (
       |  SELECT vec_id, c_id FROM (
       |    SELECT v.vec_id, c.c_id,
       |           ROW_NUMBER() OVER (PARTITION BY v.vec_id
       |             ORDER BY list_cosine_similarity(v.e, c.c_vec) DESC,
       |                      c.c_id DESC) AS rn
       |    FROM emb v CROSS JOIN cent c) WHERE rn = 1),
       |panel AS (SELECT vec_id AS q_id, e AS q_vec FROM emb WHERE vec_id % 50 = 0),
       |ex10 AS (
       |  SELECT q_id, vec_id FROM (
       |    SELECT p.q_id, n.vec_id,
       |           ROW_NUMBER() OVER (PARTITION BY p.q_id
       |             ORDER BY list_cosine_similarity(p.q_vec, n.e) DESC,
       |                      n.vec_id) AS rk
       |    FROM panel p JOIN emb n ON n.vec_id <> p.q_id) WHERE rk <= 10),
       |probes AS (
       |  SELECT q_id, q_vec, c_id, pr FROM (
       |    SELECT p.q_id, p.q_vec, c.c_id,
       |           ROW_NUMBER() OVER (PARTITION BY p.q_id
       |             ORDER BY list_cosine_similarity(p.q_vec, c.c_vec) DESC,
       |                      c.c_id) AS pr
       |    FROM panel p CROSS JOIN cent c) WHERE pr <= $maxB),
       |cand AS (
       |  SELECT p.q_id, a.vec_id, p.pr,
       |         list_cosine_similarity(p.q_vec, n.e) AS cos
       |  FROM probes p
       |  JOIN assign a ON a.c_id = p.c_id
       |  JOIN emb n ON n.vec_id = a.vec_id
       |  WHERE a.vec_id <> p.q_id),
       |cum AS (SELECT q_id, vec_id, pr,
       |         $cnts
       |        FROM cand),
       |h AS (SELECT $hs
       |      FROM cum JOIN ex10 USING (q_id, vec_id)),
       |nq AS (SELECT CAST(count(*) AS BIGINT) AS n_queries FROM panel),
       |curve AS ($rows)
       |SELECT c.nprobe, nq.n_queries, CAST(c.hits AS BIGINT) AS hits,
       |       CAST(c.hits AS BIGINT) * 1000000 // (10 * nq.n_queries) AS recall_ppm
       |FROM curve c, nq""".stripMargin})(
    (s, d) => {
      val emb = Tables.embeddings(s, d).select(col("vec_id"), col("embedding"))
      val panel = emb.filter(col("vec_id") % 50 === 0)
        .select(col("vec_id").as("q_id"), col("embedding").as("q_vec"))
      val wx = Window.partitionBy("q_id").orderBy(col("cos").desc, col("vec_id"))
      val ex10 = emb.crossJoin(broadcast(panel))
        .filter(col("vec_id") =!= col("q_id"))
        .select(col("q_id"), col("vec_id"),
          VecExpressions.cosineFast(s, col("q_vec"), col("embedding")).as("cos"))
        .withColumn("rk", row_number().over(wx)).filter(col("rk") <= 10)
        .select("q_id", "vec_id")
      val centroids = storedIvfCentroids(s, d)
        .select(col("c_id"), col("c").cast("array<double>").as("c_vec"))
      val wp = Window.partitionBy("q_id").orderBy(col("c_cos").desc, col("c_id"))
      val probes = panel.crossJoin(broadcast(centroids))
        .select(col("q_id"), col("q_vec"), col("c_id"),
          VecExpressions.cosineFast(s, col("q_vec"), col("c_vec")).as("c_cos"))
        .withColumn("pr", row_number().over(wp))
        .filter(col("pr") <= ProbeBudgets.max)
        .select("q_id", "q_vec", "c_id", "pr")
      val assigned = emb.join(ivfAssignMap(s, d), Seq("vec_id"))
      val cand = assigned.join(broadcast(probes), Seq("c_id"))
        .filter(col("vec_id") =!= col("q_id"))
        .select(col("q_id"), col("vec_id"), col("pr"),
          VecExpressions.cosineFast(s, col("q_vec"), col("embedding")).as("cos"))
      val wc = Window.partitionBy("q_id").orderBy(col("cos").desc, col("vec_id"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val flagged = cand.select(
        Seq(col("q_id"), col("vec_id"), col("pr")) ++
          ProbeBudgets.map(b =>
            sum(when(col("pr") <= b, 1L).otherwise(0L)).over(wc).as(s"cnt_$b")): _*)
      val hAggs = ProbeBudgets.map(b =>
        sum(when(col("pr") <= b && col(s"cnt_$b") <= 10, 1L).otherwise(0L))
          .as(s"h_$b"))
      val hits = flagged.join(ex10, Seq("q_id", "vec_id"))
        .agg(hAggs.head, hAggs.tail: _*)
      val nq = panel.agg(count(lit(1)).as("n_queries"))
      val stackExpr = s"stack(${ProbeBudgets.size}, " +
        ProbeBudgets.map(b => s"CAST($b AS BIGINT), coalesce(h_$b, CAST(0 AS BIGINT))")
          .mkString(", ") + ") AS (nprobe, hits)"
      hits.crossJoin(nq)
        .select(expr(stackExpr), col("n_queries"))
        .select(col("nprobe"), col("n_queries"), col("hits"),
          expr("hits * 1000000 div (10 * n_queries)").as("recall_ppm"))
    })

  /** CLUSTER SEPARATION AUDIT — the silhouette/Davies–Bouldin question
    * ("are the trained IVF cells actually separated, or is the codebook
    * slicing one blob?") answered in EXACT integers from per-cluster
    * MOMENTS alone: for clusters i, j, the mean squared distance of i's
    * members to j's mean centroid expands (q227's moment identity,
    * generalized off-diagonal) as
    *   D_ij = (n_j²·Σ‖x‖²_i − 2·n_j·(S_i·S_j) + n_i·‖S_j‖²)/(n_i·n_j²)
    * over the quantized integer sums S_c — so the whole K×K distance
    * matrix needs ONE corpus moment pass (per-(cluster, dim) DECIMAL
    * sums) plus a K²·dims cross of 64-row side tables; no per-vector
    * second pass, no centroid ever materialized, no floats. Per cluster:
    * a = D_ii (cohesion), b = min_{j≠i} D_ij (separation, tie → smaller
    * c_id), and the silhouette-style score (b−a)·10⁶/max(a,b) — negative
    * means members sit closer to ANOTHER cell's mean than their own, the
    * flag that says re-train before trusting q64/q170/q228. Division
    * discipline: D lands on a common micro grid by one floor division
    * per pair; sil_ppm splits on sign so both engines floor-divide a
    * non-negative numerator (Spark `div` truncates, DuckDB `//` floors —
    * they agree only at ≥0). DECIMAL(38,0)/HUGEINT throughout (overflow
    * → null per the r9 convention; bound: n_c²·Σ‖x‖² ≈ 10³⁷ at n_c=10⁹).
    * Clusters grain: non-empty cells of the FINAL stored-codebook
    * assignment (an empty cell has no member mean to audit). Output: ≤K
    * rows. HASH-MATCHED. */
  val q309 = QueryDef.oracle("q309_cluster_separation", {
    s"""WITH emb AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings),
       |$ivfCentCtes,
       |assign AS (
       |  SELECT vec_id, c_id FROM (
       |    SELECT v.vec_id, c.c_id,
       |           ROW_NUMBER() OVER (PARTITION BY v.vec_id
       |             ORDER BY list_cosine_similarity(v.e, c.c_vec) DESC,
       |                      c.c_id DESC) AS rn
       |    FROM emb v CROSS JOIN cent c) WHERE rn = 1),
       |g1 AS (
       |  SELECT c_id, dim, SUM(CAST(q AS HUGEINT)) AS s,
       |         SUM(CAST(q AS HUGEINT) * q) AS ss
       |  FROM (SELECT a.c_id, unnest([{'dim': i - 1, 'q': v[i]}
       |                FOR i IN range(1, len(v) + 1)], recursive := true)
       |        FROM assign a JOIN iq USING (vec_id))
       |  GROUP BY 1, 2),
       |st AS (SELECT c_id, SUM(ss) AS ssq, SUM(s * s) AS s2 FROM g1 GROUP BY 1),
       |nv AS (SELECT c_id, CAST(count(*) AS BIGINT) AS n_vecs FROM assign GROUP BY 1),
       |dots AS (SELECT a.c_id AS ci, b.c_id AS cj, SUM(a.s * b.s) AS dot
       |         FROM g1 a JOIN g1 b USING (dim) GROUP BY 1, 2),
       |dmat AS (
       |  SELECT d.ci, d.cj,
       |         (CAST(nj.n_vecs AS HUGEINT) * nj.n_vecs * si.ssq
       |          - 2 * CAST(nj.n_vecs AS HUGEINT) * d.dot
       |          + CAST(ni.n_vecs AS HUGEINT) * sj.s2) * 1000000
       |         // (CAST(ni.n_vecs AS HUGEINT) * nj.n_vecs * nj.n_vecs) AS d_micro
       |  FROM dots d
       |  JOIN st si ON si.c_id = d.ci JOIN st sj ON sj.c_id = d.cj
       |  JOIN nv ni ON ni.c_id = d.ci JOIN nv nj ON nj.c_id = d.cj),
       |intra AS (SELECT ci AS c_id, d_micro AS a_micro FROM dmat WHERE ci = cj),
       |nn AS (SELECT c_id, nn_c_id, b_micro FROM (
       |  SELECT ci AS c_id, cj AS nn_c_id, d_micro AS b_micro,
       |         ROW_NUMBER() OVER (PARTITION BY ci ORDER BY d_micro, cj) AS rn
       |  FROM dmat WHERE ci <> cj) WHERE rn = 1)
       |SELECT nv.c_id, nv.n_vecs,
       |       CAST(i.a_micro AS BIGINT) AS a_micro,
       |       CAST(nn.b_micro AS BIGINT) AS b_micro,
       |       nn.nn_c_id,
       |       CASE WHEN GREATEST(i.a_micro, nn.b_micro) = 0 THEN CAST(0 AS BIGINT)
       |            WHEN nn.b_micro >= i.a_micro
       |            THEN CAST((nn.b_micro - i.a_micro) * 1000000
       |                      // GREATEST(i.a_micro, nn.b_micro) AS BIGINT)
       |            ELSE -CAST((i.a_micro - nn.b_micro) * 1000000
       |                       // GREATEST(i.a_micro, nn.b_micro) AS BIGINT)
       |       END AS sil_ppm
       |FROM nv JOIN intra i USING (c_id) JOIN nn USING (c_id)""".stripMargin})(
    (s, d) => {
      def dec(c: org.apache.spark.sql.Column) = c.cast("decimal(38,0)")
      val m = quantizedVecs(s, d).join(ivfAssignMap(s, d), Seq("vec_id"))
      val g1 = m.select(col("c_id"), posexplode(col("v")).as(Seq("dim", "q")))
        .groupBy("c_id", "dim")
        .agg(sum(dec(col("q"))).as("s"), sum(dec(col("q")) * col("q")).as("ss"))
      val st = g1.groupBy("c_id")
        .agg(sum("ss").as("ssq"), sum(expr("s * s")).as("s2"))
      val nv = m.groupBy("c_id").agg(count(lit(1)).as("n_vecs"))
      val dots = g1.select(col("c_id").as("ci"), col("dim"), col("s").as("sa"))
        .join(g1.select(col("c_id").as("cj"), col("dim"), col("s").as("sb")),
          Seq("dim"))
        .groupBy("ci", "cj").agg(sum(expr("sa * sb")).as("dot"))
      val dmat = dots
        .join(broadcast(st.select(col("c_id").as("ci"), col("ssq"))), Seq("ci"))
        .join(broadcast(st.select(col("c_id").as("cj"), col("s2"))), Seq("cj"))
        .join(broadcast(nv.select(col("c_id").as("ci"), col("n_vecs").as("ni"))),
          Seq("ci"))
        .join(broadcast(nv.select(col("c_id").as("cj"), col("n_vecs").as("nj"))),
          Seq("cj"))
        .select(col("ci"), col("cj"),
          expr("""(CAST(nj AS DECIMAL(38,0)) * nj * ssq
                 | - 2 * CAST(nj AS DECIMAL(38,0)) * dot
                 | + CAST(ni AS DECIMAL(38,0)) * s2) * 1000000
                 | div (CAST(ni AS DECIMAL(38,0)) * nj * nj)""".stripMargin)
            .as("d_micro"))
      val intra = dmat.filter(col("ci") === col("cj"))
        .select(col("ci").as("c_id"), col("d_micro").as("a_micro"))
      val wnn = Window.partitionBy("ci").orderBy(col("d_micro"), col("cj"))
      val nn = dmat.filter(col("ci") =!= col("cj"))
        .withColumn("rn", row_number().over(wnn)).filter(col("rn") === 1)
        .select(col("ci").as("c_id"), col("cj").as("nn_c_id"),
          col("d_micro").as("b_micro"))
      nv.join(intra, Seq("c_id")).join(nn, Seq("c_id"))
        .select(col("c_id"), col("n_vecs"),
          col("a_micro").cast("long").as("a_micro"),
          col("b_micro").cast("long").as("b_micro"),
          col("nn_c_id"),
          when(greatest(col("a_micro"), col("b_micro")) === 0, lit(0L))
            .when(col("b_micro") >= col("a_micro"),
              expr("CAST(CAST(b_micro - a_micro AS DECIMAL(38,0)) * 1000000" +
                " div greatest(a_micro, b_micro) AS BIGINT)"))
            .otherwise(
              expr("-CAST(CAST(a_micro - b_micro AS DECIMAL(38,0)) * 1000000" +
                " div greatest(a_micro, b_micro) AS BIGINT)"))
            .as("sil_ppm"))
    })

  /** SQ8 NEIGHBOR-OVERLAP AUDIT — the recall-currency complement of
    * q307: q307 prices the ROUTING loss (which lists to probe), this
    * prices the REPRESENTATION loss (searching in the int8-quantized
    * domain, q66's production path, instead of full precision). q226
    * measures the quantizer's per-dimension reconstruction error; the
    * operational question is whether the NEIGHBOR SET changed — per
    * house query (every 50th vector): |exact top-10 ∩ SQ8 top-10|,
    * whether the exact nearest neighbor survives into the SQ8 top-10,
    * and recall in exact ppm. BOTH scores come from ONE panel×corpus
    * pass (each candidate row carries the exact double cosine AND the
    * scale-cancelling quantized cosine; the two rankings are two
    * windows over the SAME q_id exchange — overlap is then a row-local
    * `both ranks ≤ 10` count, no set join). Ranks are the established
    * float-robust ordering (q65/q66); every emitted number is an exact
    * integer. Output: one row per query. HASH-MATCHED. */
  val q314 = QueryDef.oracle("q314_sq8_overlap_audit",
    """WITH quant AS (
      |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e,
      |         list_transform(embedding, x -> CAST(round(
      |           CAST(x AS DOUBLE) /
      |           greatest(CAST(list_max(list_transform(embedding, y -> abs(y)))
      |                    AS DOUBLE) / 127.0, 1e-30)) AS INTEGER)) AS qv
      |  FROM embeddings),
      |n AS (
      |  SELECT vec_id, e, qv,
      |         sqrt(list_dot_product(CAST(qv AS DOUBLE[]), CAST(qv AS DOUBLE[]))) AS qnorm
      |  FROM quant),
      |scored AS (
      |  SELECT q.vec_id AS q_id, c.vec_id,
      |         ROW_NUMBER() OVER (PARTITION BY q.vec_id
      |           ORDER BY list_cosine_similarity(q.e, c.e) DESC,
      |                    c.vec_id) AS rk_ex,
      |         ROW_NUMBER() OVER (PARTITION BY q.vec_id ORDER BY
      |           CASE WHEN q.qnorm = 0 OR c.qnorm = 0 THEN 0.0
      |                ELSE list_dot_product(CAST(q.qv AS DOUBLE[]),
      |                                      CAST(c.qv AS DOUBLE[]))
      |                     / (q.qnorm * c.qnorm) END DESC,
      |           c.vec_id) AS rk_sq
      |  FROM n q JOIN n c ON c.vec_id <> q.vec_id
      |  WHERE q.vec_id % 50 = 0)
      |SELECT q_id,
      |       CAST(count(CASE WHEN rk_ex <= 10 AND rk_sq <= 10 THEN 1 END)
      |            AS BIGINT) AS hits,
      |       CAST(MAX(CASE WHEN rk_ex = 1 AND rk_sq <= 10 THEN 1 ELSE 0 END)
      |            AS BIGINT) AS top1_in_sq10,
      |       CAST(count(CASE WHEN rk_ex <= 10 AND rk_sq <= 10 THEN 1 END)
      |            * 1000000 // 10 AS BIGINT) AS recall_ppm
      |FROM scored GROUP BY 1""".stripMargin)(
    (s, d) => {
      val scale = greatest(
        array_max(transform(col("embedding"), x => abs(x))).cast("double") / 127.0,
        lit(1e-30))
      val quant = Tables.embeddings(s, d)
        .select(col("vec_id"), col("embedding"), scale.as("scale"))
        .select(col("vec_id"), col("embedding").cast("array<double>").as("e"),
          transform(col("embedding"),
            x => round(x.cast("double") / col("scale")).cast("int")).as("qv"))
      val qvd = col("qv").cast("array<double>")
      val n = quant.select(col("vec_id"), col("e"), col("qv"),
        sqrt(VecExpressions.dotFast(s, qvd, qvd)).as("qnorm"))
      val q = n.filter(col("vec_id") % 50 === 0)
        .select(col("vec_id").as("q_id"), col("e").as("q_e"),
          qvd.as("q_qv"), col("qnorm").as("q_norm"))
      val scored = n.crossJoin(broadcast(q))
        .filter(col("vec_id") =!= col("q_id"))
        .select(col("q_id"), col("vec_id"),
          VecExpressions.cosineFast(s, col("q_e"), col("e")).as("cos"),
          when(col("q_norm") === 0 || col("qnorm") === 0, lit(0.0))
            .otherwise(VecExpressions.dotFast(s, col("q_qv"), qvd)
              / (col("q_norm") * col("qnorm"))).as("qcos"))
      val wx = Window.partitionBy("q_id").orderBy(col("cos").desc, col("vec_id"))
      val wq = Window.partitionBy("q_id").orderBy(col("qcos").desc, col("vec_id"))
      scored
        .withColumn("rk_ex", row_number().over(wx))
        .withColumn("rk_sq", row_number().over(wq))
        .groupBy("q_id")
        .agg(count(when(col("rk_ex") <= 10 && col("rk_sq") <= 10, 1)).as("hits"),
          max(when(col("rk_ex") === 1 && col("rk_sq") <= 10, 1L).otherwise(0L))
            .as("top1_in_sq10"),
          expr("CAST(count(CASE WHEN rk_ex <= 10 AND rk_sq <= 10 THEN 1 END)" +
            " * 1000000 div 10 AS BIGINT)").as("recall_ppm"))
    })

  /** LEAVE-ONE-OUT NEAREST-CLASS-MEAN CONFUSION MATRIX — the label
    * -learnability eval between q240's 1-NN probe (instance-grain,
    * noisy) and a trained classifier (which this pipeline doesn't
    * ship): classify every vector to its nearest LABEL centroid by
    * cosine and cross-tab against the given label. Honest by
    * construction: the vector's OWN label centroid is evaluated
    * leave-one-out, algebraically free from the same integer moments —
    * dot(v, S−v) = dot(v,S) − ‖v‖², ‖S−v‖² = ‖S‖² − 2·dot + ‖v‖² — so
    * no second training pass and no self-match inflation. Off-diagonal
    * mass says which label PAIRS the embedding can't separate (the
    * confusion q163's centroid-cosine only hints at); a diagonal-weak
    * row is a label to relabel or drop before it poisons a margin.
    * Centroid state is the SHARED [[quantStatsCtes]] sums (one
    * centroid definition across q149/q163/q215/q315); scores are
    * num/√denom doubles used ONLY for the per-vector argmax
    * (macroscopic class gaps — the q64 rank-robustness convention,
    * ties → smaller label), every emitted number an exact integer.
    * Scale shape: the (label, dim) sums collapse to L dim-ordered
    * arrays (the codebook pattern, broadcast) and ONE corpus scan
    * evaluates all three moments per label through the fused
    * intDotNorms kernel → per-vec argmax → L² confusion rollup. The
    * long-domain kernel bounds |S_l| ≲ 5·10⁸ per coordinate; past
    * that, train the centroids on a sample (the trainCentroids note).
    * Output: ≤ L² rows. HASH-MATCHED. */
  val q315 = QueryDef.oracle("q315_ncm_confusion",
    s"""$quantStatsCtes,
       |n2l AS (SELECT label, SUM(CAST(s AS HUGEINT) * s) AS n2
       |        FROM stats GROUP BY 1),
       |vd AS (SELECT vec_id, label AS true_label, dim, qv FROM qd),
       |vn AS (SELECT vec_id, SUM(CAST(qv AS HUGEINT) * qv) AS n2v
       |       FROM vd GROUP BY 1),
       |dots AS (SELECT v.vec_id, v.true_label, st.label,
       |           SUM(CAST(v.qv AS HUGEINT) * st.s) AS dot
       |         FROM vd v JOIN stats st USING (dim) GROUP BY 1, 2, 3),
       |sc AS (SELECT d.vec_id, d.true_label, d.label,
       |         CASE WHEN d.label = d.true_label
       |              THEN CAST(d.dot - vn.n2v AS DOUBLE)
       |              ELSE CAST(d.dot AS DOUBLE) END
       |         / sqrt(CAST(CASE WHEN d.label = d.true_label
       |                 THEN l.n2 - 2 * d.dot + vn.n2v
       |                 ELSE l.n2 END AS DOUBLE)) AS score
       |       FROM dots d JOIN n2l l ON l.label = d.label
       |            JOIN vn ON vn.vec_id = d.vec_id
       |       WHERE CASE WHEN d.label = d.true_label
       |               THEN l.n2 - 2 * d.dot + vn.n2v
       |               ELSE l.n2 END > 0),
       |pred AS (SELECT vec_id, true_label, label AS pred_label FROM (
       |           SELECT *, ROW_NUMBER() OVER (PARTITION BY vec_id
       |             ORDER BY score DESC, label) AS rn FROM sc) WHERE rn = 1),
       |cm AS (SELECT true_label, pred_label, CAST(count(*) AS BIGINT) AS n
       |       FROM pred GROUP BY 1, 2),
       |tot AS (SELECT true_label, CAST(SUM(n) AS BIGINT) AS row_total
       |        FROM cm GROUP BY 1)
       |SELECT cm.true_label, cm.pred_label, cm.n, tot.row_total,
       |       CAST(cm.n * 1000000 // tot.row_total AS BIGINT) AS p_ppm
       |FROM cm JOIN tot USING (true_label)""".stripMargin)(
    (s, d) => {
      // fused shape: the (label, dim) sums collapse to L dim-ordered
      // arrays (the codebook pattern) and each corpus row evaluates all
      // three moments per label through ONE codegen'd intDotNorms call —
      // a first cut exploded to (vec, dim, label) rows through a dim
      // join and measured 1.8 s at sf0.1 vs ~0.6 s for this plan
      val ilq = Tables.embeddings(s, d).select(col("vec_id"), col("label"),
        transform(col("embedding").cast("array<double>"),
          x => round(x * 10000).cast("long")).as("v"))
      val ls = quantDims(s, d).groupBy("label", "dim").agg(sum("qv").as("s"))
        .groupBy("label")
        .agg(array_sort(collect_list(struct(col("dim"), col("s")))).as("l"))
        .select(col("label").as("cand_label"),
          transform(col("l"), x => x.getField("s")).as("sv"))
      val sc = ilq.crossJoin(broadcast(ls))
        .select(col("vec_id"), col("label").as("true_label"), col("cand_label"),
          VecExpressions.intDotNorms(s, col("v"), col("sv")).as("st"))
        .withColumn("denom", expr(
          "CASE WHEN cand_label = true_label" +
            " THEN st.n2b - 2 * st.dot + st.n2a ELSE st.n2b END"))
        .filter(col("denom") > 0)
        .select(col("vec_id"), col("true_label"), col("cand_label"),
          (expr("CAST(CASE WHEN cand_label = true_label THEN st.dot - st.n2a" +
            " ELSE st.dot END AS DOUBLE)")
            / sqrt(col("denom").cast("double"))).as("score"))
      val wp = Window.partitionBy("vec_id")
        .orderBy(col("score").desc, col("cand_label"))
      val pred = sc.withColumn("rn", row_number().over(wp)).filter(col("rn") === 1)
        .select(col("vec_id"), col("true_label"),
          col("cand_label").as("pred_label"))
      val cm = pred.groupBy("true_label", "pred_label").agg(count(lit(1)).as("n"))
      val tot = cm.groupBy("true_label").agg(sum("n").as("row_total"))
      cm.join(broadcast(tot), Seq("true_label"))
        .select(col("true_label"), col("pred_label"), col("n"), col("row_total"),
          expr("CAST(n * 1000000 div row_total AS BIGINT)").as("p_ppm"))
    })

  /** MUTUAL-NEAREST-NEIGHBOR PAIRS — the high-precision end of the
    * semantic-dup spectrum (the reciprocal-NN criterion agglomerative
    * dedup and translation-pair mining both build on): pairs where
    * each vector is the OTHER's single nearest same-cell neighbor,
    * read straight off the stored [[storedNn1]] relation (one
    * self-join on the reversed edge — no distance computation at all;
    * the relation is built once per corpus). A mutual pair is the
    * strongest instance-level "these two are the same thing" signal
    * the embedding gives; a mutual pair with DIFFERENT labels is a
    * labeling contradiction worth queueing for review (the
    * instance-grain complement of q315's class-grain confusion).
    * Oracle replays the full live nn1 chain (trained codebook +
    * same-cell argmin) verbatim, so the stored artifact is
    * hash-verified a third time per sweep (after q232/q240). Scale
    * shape: one keyed self-join of an (id, id) relation + a broadcast
    * label attach. Output: one row per mutual pair (vec_a < vec_b).
    * HASH-MATCHED. */
  val q316 = QueryDef.oracle("q316_mutual_nn_pairs",
    s"""WITH $ivfCentCtes,
       |asg AS (SELECT vec_id, c_id FROM (
       |    SELECT v.vec_id, c.c_id,
       |           ROW_NUMBER() OVER (PARTITION BY v.vec_id
       |             ORDER BY list_cosine_similarity(CAST(v.v AS DOUBLE[]), c.c_vec)
       |               DESC, c.c_id DESC) AS rn
       |    FROM iq v CROSS JOIN cent c) WHERE rn = 1),
       |m AS (SELECT a.vec_id, a.c_id, i.v
       |      FROM asg a JOIN iq i USING (vec_id)),
       |cand AS (SELECT x.vec_id, y.vec_id AS nn_id,
       |           CAST(list_sum([(x.v[k] - y.v[k]) * (x.v[k] - y.v[k])
       |                          FOR k IN range(1, len(x.v) + 1)]) AS BIGINT) AS d2
       |         FROM m x JOIN m y ON x.c_id = y.c_id
       |                          AND x.vec_id <> y.vec_id),
       |best AS (SELECT vec_id, nn_id FROM (
       |           SELECT *, ROW_NUMBER() OVER (PARTITION BY vec_id
       |             ORDER BY d2, nn_id) AS rn FROM cand) WHERE rn = 1),
       |mut AS (SELECT a.vec_id AS vec_a, a.nn_id AS vec_b
       |        FROM best a JOIN best b
       |          ON a.nn_id = b.vec_id AND b.nn_id = a.vec_id
       |        WHERE a.vec_id < a.nn_id)
       |SELECT mut.vec_a, mut.vec_b,
       |       ea.label AS label_a, eb.label AS label_b,
       |       ea.label = eb.label AS same_label
       |FROM mut
       |JOIN embeddings ea ON ea.vec_id = mut.vec_a
       |JOIN embeddings eb ON eb.vec_id = mut.vec_b""".stripMargin)(
    (s, d) => {
      val nn = storedNn1(s, d).filter(col("nn_id").isNotNull)
        .select(col("vec_id"), col("nn_id"))
      val mut = nn.alias("a")
        .join(nn.alias("b"),
          col("a.nn_id") === col("b.vec_id") && col("b.nn_id") === col("a.vec_id"))
        .filter(col("a.vec_id") < col("a.nn_id"))
        .select(col("a.vec_id").as("vec_a"), col("a.nn_id").as("vec_b"))
      val lab = Tables.embeddings(s, d).select(col("vec_id"), col("label"))
      // unhinted: `lab` is a bare corpus projection, which PlanAudit.boundedBroadcasts
      // forbids forcing into a broadcast
      mut
        .join(lab.select(col("vec_id").as("vec_a"), col("label").as("label_a")), Seq("vec_a"))
        .join(lab.select(col("vec_id").as("vec_b"), col("label").as("label_b")), Seq("vec_b"))
        .select(col("vec_a"), col("vec_b"), col("label_a"), col("label_b"),
          (col("label_a") === col("label_b")).as("same_label"))
    })

  /** INTRINSIC DIMENSIONALITY (TwoNN, Facco et al. 2017) — the
    * embedding audit q192/q281 gesture at, answered with an estimator:
    * do these 128 stored dimensions carry 128 dimensions of structure,
    * or does the data live on a much lower-dimensional manifold (in
    * which case PQ/truncation budgets in the ANN stack are over-
    * provisioned)? TwoNN needs only each point's two nearest neighbors:
    * under a locally-uniform density, μ = r₂/r₁ is Pareto(id), and the
    * MLE is id = n / Σ ln μ. Distances are EXACT integers (the q149
    * 1e-4 quantization; d² = n2a − 2·dot + n2b via the fused
    * intDotNorms kernel), log₂ μ = ½·log₂(d²₂/d²₁) in the q123 micro
    * convention, and the single ln 2 constant folds in as the 693147
    * ppm literal — so both engines replay the estimator exactly.
    * Estimated on the q61-convention deterministic sample
    * (vec_id % 50 = 0 — TwoNN is a sample statistic by design);
    * duplicate-distance points (r₁ = 0, no dimensional information)
    * are excluded and counted. Scale shape: sample × corpus pass
    * through the fused integer kernel (the q61 exchange), top-2 via a
    * q_id-keyed window, then one global rollup. Output: ONE row.
    * HASH-MATCHED. */
  val q333 = QueryDef.oracle("q333_intrinsic_dim",
    """WITH emb AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e
      |             FROM embeddings),
      |qd AS (SELECT vec_id,
      |         [CAST(round(e[i] * 10000) AS BIGINT)
      |          FOR i IN range(1, len(e) + 1)] AS v
      |       FROM emb),
      |sc AS (SELECT q.vec_id AS q_id, n.vec_id AS vec_id,
      |         list_sum([(n.v[i] - q.v[i]) * (n.v[i] - q.v[i])
      |                   FOR i IN range(1, len(n.v) + 1)]) AS d2
      |       FROM qd n JOIN qd q
      |         ON q.vec_id % 50 = 0 AND n.vec_id <> q.vec_id),
      |rk AS (SELECT q_id, d2,
      |         ROW_NUMBER() OVER (PARTITION BY q_id ORDER BY d2, vec_id) AS r
      |       FROM sc),
      |two AS (SELECT q_id,
      |          MAX(CASE WHEN r = 1 THEN d2 END) AS d1,
      |          MAX(CASE WHEN r = 2 THEN d2 END) AS d2_
      |        FROM rk WHERE r <= 2 GROUP BY 1),
      |mu AS (SELECT q_id,
      |         CAST(round(log2(CAST(d2_ AS DOUBLE) / d1) * 500000) AS BIGINT)
      |           AS m
      |       FROM two WHERE d1 > 0),
      |agg AS (SELECT CAST(count(*) AS BIGINT) AS n_used,
      |          CAST(SUM(m) AS BIGINT) AS s_micro
      |        FROM mu),
      |ex AS (SELECT CAST(count(*) AS BIGINT) AS n_excluded
      |       FROM two WHERE d1 = 0)
      |SELECT agg.n_used, ex.n_excluded, agg.s_micro,
      |       CASE WHEN agg.s_micro <= 0 THEN NULL
      |            ELSE CAST(CAST(agg.n_used AS HUGEINT) * 1000000000000000
      |                      // (693147 * CAST(agg.s_micro AS HUGEINT))
      |                      AS BIGINT) END AS id_milli
      |FROM agg, ex""".stripMargin)(
    (s, d) => {
      val qv = Tables.embeddings(s, d).select(col("vec_id"),
        transform(col("embedding").cast("array<double>"),
          x => round(x * 10000).cast("long")).as("v"))
      val qs = qv.filter(col("vec_id") % 50 === 0)
        .select(col("vec_id").as("q_id"), col("v").as("qvec"))
      val sc = qv.crossJoin(broadcast(qs))
        .filter(col("vec_id") =!= col("q_id"))
        .select(col("q_id"), col("vec_id"),
          VecExpressions.intDotNorms(s, col("v"), col("qvec")).as("dn"))
        .select(col("q_id"), col("vec_id"),
          (col("dn.n2a") - lit(2) * col("dn.dot") + col("dn.n2b")).as("d2"))
      val w = Window.partitionBy("q_id").orderBy("d2", "vec_id")
      val two = sc.withColumn("r", row_number().over(w)).filter(col("r") <= 2)
        .groupBy("q_id")
        .agg(max(when(col("r") === 1, col("d2"))).as("d1"),
          max(when(col("r") === 2, col("d2"))).as("d2_")) // estimator + excluded count
      val agg = two.filter(col("d1") > 0)
        .agg(count(lit(1)).as("n_used"),
          sum(round(log2(col("d2_").cast("double") / col("d1")) * 500000)
            .cast("long")).as("s_micro"))
      val ex = two.filter(col("d1") === 0)
        .agg(count(lit(1)).as("n_excluded"))
      agg.crossJoin(broadcast(ex))
        .select(col("n_used"), col("n_excluded"), col("s_micro"),
          expr("CASE WHEN s_micro <= 0 THEN NULL" +
            " ELSE CAST(CAST(n_used AS DECIMAL(38,0)) * 1000000000000000" +
            " div (693147 * CAST(s_micro AS DECIMAL(38,0))) AS BIGINT)" +
            " END").as("id_milli"))
    })

  /** RANDOM-PROJECTION (JL) DISTORTION AUDIT — measures what the
    * Johnson–Lindenstrauss shortcut would actually do to THIS corpus
    * before anyone ships it: project the integer-quantized embeddings
    * (the q149/q192 canon) from 64 to 16 dims through a deterministic
    * ±1 sign matrix (engine-portable affine hash per (dim, j) cell,
    * bit-3 extraction so the sign stream is mix-decorrelated from the
    * dim/j lattice), and for the N/2 disjoint consecutive-id pairs
    * compare the projected squared distance (unbiased after the /d'
    * scaling: E‖Py‖² = d'·‖y‖²) against the exact full-width distance —
    * the per-pair ratio in exact ppm, histogrammed in 20% buckets.
    * The answer on this corpus is the audit's point: the MEAN sits at
    * ~0.99·10⁶ (unbiased, as JL promises) while the per-pair spread is
    * huge at d' = 16 — the measured reason the ANN stack (q62/q64)
    * buckets with LSH/IVF instead of trusting a 4× projection per
    * pair. All arithmetic exact: ±q sums are ints, squared distances
    * int64 (|y_j| ≤ 64·10⁴ keeps e² < 2⁴⁵ at ANY corpus size — the
    * bound is per-vector, not per-corpus), ratios DECIMAL(38,0)/
    * HUGEINT. Scale shape: one (vec, dim) explode → 16-bounded
    * projection rollup → disjoint-pair keyed joins → ≤17-row report.
    * HASH-MATCHED. */
  val q366 = QueryDef.oracle("q366_jl_projection_audit",
    s"""WITH $iqCte,
      |ex AS (SELECT vec_id, t.i AS dim, v[t.i] AS q FROM iq, range(1, 65) t(i)),
      |proj AS (SELECT vec_id, r.j AS j,
      |        CAST(SUM(CASE WHEN (((dim * 784090497 + r.j * 331871417)
      |                 % 1000000007) >> 3) % 2 = 0
      |                 THEN q ELSE -q END) AS BIGINT) AS y
      |      FROM ex, range(0, 16) r(j) GROUP BY 1, 2),
      |pairs AS (SELECT a.vec_id AS ia, b.vec_id AS ib
      |      FROM iq a JOIN iq b ON b.vec_id = a.vec_id + 1
      |      WHERE a.vec_id % 2 = 0),
      |f2 AS (SELECT p.ia, p.ib,
      |        CAST(SUM((ea.q - eb.q) * (ea.q - eb.q)) AS BIGINT) AS d2
      |      FROM pairs p JOIN ex ea ON ea.vec_id = p.ia
      |      JOIN ex eb ON eb.vec_id = p.ib AND eb.dim = ea.dim
      |      GROUP BY 1, 2),
      |p2 AS (SELECT p.ia, p.ib,
      |        CAST(SUM((pa.y - pb.y) * (pa.y - pb.y)) AS BIGINT) AS e2
      |      FROM pairs p JOIN proj pa ON pa.vec_id = p.ia
      |      JOIN proj pb ON pb.vec_id = p.ib AND pb.j = pa.j
      |      GROUP BY 1, 2),
      |rt AS (SELECT f2.ia,
      |        CASE WHEN f2.d2 = 0 THEN NULL
      |             ELSE CAST(CAST(p2.e2 AS HUGEINT) * 1000000 // (16 * f2.d2)
      |                  AS BIGINT) END AS ratio_ppm
      |      FROM f2 JOIN p2 ON p2.ia = f2.ia AND p2.ib = f2.ib)
      |SELECT CASE WHEN ratio_ppm IS NULL THEN CAST(-1 AS BIGINT)
      |            ELSE LEAST(ratio_ppm // 200000, 15) END AS bucket_20pct,
      |       CAST(count(*) AS BIGINT) AS n_pairs,
      |       CAST(min(ratio_ppm) AS BIGINT) AS min_ppm,
      |       CAST(max(ratio_ppm) AS BIGINT) AS max_ppm
      |FROM rt GROUP BY 1""".stripMargin)(
    (s, d) => {
      val iq = Tables.embeddings(s, d).select(col("vec_id"),
        transform(col("embedding").cast("array<double>"),
          x => round(x * 10000).cast("long")).as("v"))
        .localCheckpoint(false) // feeds ex, proj, and the pair table
      val ex = iq.select(col("vec_id"), posexplode(col("v")))
        .select(col("vec_id"), (col("pos") + 1).as("dim"), col("col").as("q"))
        .localCheckpoint(false) // feeds the projection AND both f2 legs
      val proj = ex
        .select(col("vec_id"), col("dim"), col("q"),
          explode(sequence(lit(0L), lit(15L))).as("j"))
        .groupBy("vec_id", "j")
        .agg(sum(when(expr("shiftright((dim * 784090497L + j * 331871417L)" +
          " % 1000000007L, 3) % 2 = 0"), col("q")).otherwise(-col("q")))
          .as("y"))
        .localCheckpoint(false) // both p2 legs
      // the pin stays: unpinned, q366 ran a median 1.09x its pinned time
      // over nine sf0.1 windows
      val pairs = iq.select(col("vec_id").as("ia"))
        .filter(col("ia") % 2 === 0)
        .join(iq.select(col("vec_id").as("ib")), col("ib") === col("ia") + 1)
        .localCheckpoint(false) // f2 and p2
      val f2 = pairs
        .join(ex.select(col("vec_id").as("ia"), col("dim"), col("q").as("qa")),
          Seq("ia"))
        .join(ex.select(col("vec_id").as("ib"), col("dim"), col("q").as("qb")),
          Seq("ib", "dim"))
        .groupBy("ia", "ib")
        .agg(sum((col("qa") - col("qb")) * (col("qa") - col("qb"))).as("d2"))
      val p2 = pairs
        .join(proj.select(col("vec_id").as("ia"), col("j"), col("y").as("ya")),
          Seq("ia"))
        .join(proj.select(col("vec_id").as("ib"), col("j"), col("y").as("yb")),
          Seq("ib", "j"))
        .groupBy("ia", "ib")
        .agg(sum((col("ya") - col("yb")) * (col("ya") - col("yb"))).as("e2"))
      f2.join(p2, Seq("ia", "ib"))
        .select(when(col("d2") === 0, lit(null).cast("long"))
          .otherwise(expr("CAST(CAST(e2 AS DECIMAL(38,0)) * 1000000" +
            " div (16 * d2) AS BIGINT)")).as("ratio_ppm"))
        .select(when(col("ratio_ppm").isNull, lit(-1L))
          .otherwise(least(expr("ratio_ppm div 200000"), lit(15L)))
          .as("bucket_20pct"), col("ratio_ppm"))
        .groupBy("bucket_20pct")
        .agg(count(lit(1)).as("n_pairs"), min("ratio_ppm").as("min_ppm"),
          max("ratio_ppm").as("max_ppm"))
    })

  val defs: Seq[QueryDef] =
    Seq(q60, q61, q62, q63, q64, q65, q66, q67, q68, q69, q136, q149, q154,
      q163, q170, q182, q192, q197, q198, q204, q211, q215, q222, q226, q227,
      q228, q232, q235, q237, q240, q241, q270, q276, q281, q292, q294, q301,
      q307, q309, q314, q315, q316, q333, q366)
}
