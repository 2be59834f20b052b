package graft.functions

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** The PORTABLE HyperLogLog (Flajolet et al., "HyperLogLog", AofA 2007):
  * every decision of the sketch, in the three forms the engine needs —
  * a DuckDB oracle fragment, its DataFrame twin, and a Scala register
  * fold for the streaming gates. Every bit is exact integer arithmetic
  * over [[PortableHashKernels]] streams, so DuckDB replays the estimate
  * bit for bit and the driver hash-checks the ESTIMATE, not a row count.
  *
  * The kernel, from a base hash th in [0, P):
  *   - quadratic mix tm = (th² + 3·th + 7) mod P — structured inputs
  *     (surrogate keys, epoch seconds) are arithmetic progressions, and
  *     an affine map alone keeps an AP an AP;
  *   - two affine streams h1, h2 of tm (the caller's stream pair);
  *   - bucket = h2 mod 128 (h2's low bits);
  *   - w = u1·2²³ + u2 with u_i = (h_i·2²³) // P: uniform on the EXACT
  *     power-of-two range [0, 2⁴⁶), so rank tails carry no framing bias;
  *   - rank ρ = 47 − bit_count(smear(w)): the MSB position in pure
  *     integer ops (no log2 to disagree on at a power-of-two boundary);
  *     ρ ∈ [1, 47], w = 0 gives 47.
  *
  * The estimator, per register set (m = 128, mx = a bucket's max ρ):
  * Σ 2^(47−mx) over occupied buckets plus (m − occupied)·2⁴⁷ — empty
  * buckets fold in algebraically, no bucket grid — then
  * raw = α·m²·2⁴⁷ // Σ with α₁₂₈ = 715271 ppm (the numerator widens to
  * HUGEINT / DECIMAL(38,0) internally only). Below 2.5m with empty
  * buckets, linear counting m·ln(m/V) takes over; with m = 128 it has
  * only 128 values, precomputed here and embedded as the SAME integer
  * literal table in both engines, so no float is evaluated at query time.
  * A NULL base hash yields a NULL bucket and rank: its rows group apart
  * and occupy no register.
  */
object PortableHll {
  import PortableHashKernels.{P, a, b}

  val M = 128
  private val Frame = 47
  private val Scale = 1L << 23
  private val Empty = 1L << Frame // 140737488355328
  private val AlphaPpm = 715271L
  private val LcBound = 320 // 2.5·m

  /** The bit-smear: w | w>>1 | … | w>>32 fills every bit below the MSB. */
  val SmearShifts: Seq[Int] = Seq(1, 2, 4, 8, 16, 32)

  /** linear counting: V empty buckets -> round(m·ln(m/V)), V in 1..m */
  val lcTable: IndexedSeq[(Long, Long)] =
    (1 to M).map(v => (v.toLong, math.round(M * math.log(M.toDouble / v))))

  /** The two affine streams of the kernel: PortableHashKernels streams
    * `i1` and `i2`. */
  final case class Streams(i1: Int, i2: Int) {
    val (a1, b1, a2, b2) = (a(i1), b(i1), a(i2), b(i2))
  }

  // ---- Scala form (the streaming gates) ----

  def smear(w: Long): Long = SmearShifts.foldLeft(w)((x, k) => x | (x >> k))

  def rank(w: Long): Long = Frame - java.lang.Long.bitCount(smear(w))

  /** (bucket, ρ) of base hash `th`. */
  def register(th: Long, s: Streams): (Int, Long) = {
    val tm = (th * th + 3L * th + 7L) % P
    val h1 = (tm * s.a1 + s.b1) % P
    val h2 = (tm * s.a2 + s.b2) % P
    ((h2 % M).toInt, rank((h1 * Scale) / P * Scale + (h2 * Scale) / P))
  }

  /** Folds base hash `th` into `regs` (m longs, 0 = empty). */
  def update(regs: Array[Long], th: Long, s: Streams): Unit = {
    val (bucket, rho) = register(th, s)
    if (rho > regs(bucket)) regs(bucket) = rho
  }

  /** (empty buckets, estimate) of a register set. */
  def estimate(regs: Array[Long]): (Long, Long) = {
    val nEmpty = regs.count(_ == 0L).toLong
    val zs = regs.map(mx => 1L << (Frame - mx)).sum
    val raw = (BigInt(AlphaPpm) * M * M * Empty / zs / 1000000).toLong
    (nEmpty, if (nEmpty > 0 && raw <= LcBound) lcTable(nEmpty.toInt - 1)._2 else raw)
  }

  // ---- DataFrame form ----

  /** `df` with column `c` bit-smeared, one projection per shift. */
  def smear(df: DataFrame, c: String): DataFrame =
    SmearShifts.foldLeft(df)((d, k) => d.withColumn(c, expr(s"$c | shiftright($c, $k)")))

  /** `df` (base hash column `th`, any others) plus `bucket` and `rho`. */
  def registers(df: DataFrame, s: Streams): DataFrame = {
    val bw = df
      .withColumn("tm", expr(s"(th * th + 3L * th + 7L) % ${P}L"))
      .withColumn("h1", expr(s"(tm * ${s.a1}L + ${s.b1}L) % ${P}L"))
      .withColumn("h2", expr(s"(tm * ${s.a2}L + ${s.b2}L) % ${P}L"))
      .withColumn("bucket", expr(s"h2 % ${M}L"))
      .withColumn("w", expr(
        s"((h1 * ${Scale}L) div ${P}L) * ${Scale}L + (h2 * ${Scale}L) div ${P}L"))
    smear(bw, "w").withColumn("rho", expr(s"${Frame}L - CAST(bit_count(w) AS BIGINT)"))
      .drop("th", "tm", "h1", "h2", "w")
  }

  /** The estimate per `keys` group of register rows (`keys`, `bucket`,
    * a bucket's max rank `mx`): `keys`, the `extra` aggregates over the
    * same rows, `n_empty` and `est`. */
  def estimate(regs: DataFrame, keys: Seq[String], extra: Column*): DataFrame = {
    val nEmpty = lit(M.toLong) - count(col("mx"))
    val z = regs.groupBy(keys.map(col): _*).agg(nEmpty.as("n_empty"), (extra :+
      (coalesce(sum(expr(s"shiftleft(CAST(1 AS BIGINT), CAST($Frame - mx AS INT))")), lit(0L))
        + nEmpty * Empty).as("zs")): _*)
    val lc = regs.sparkSession.createDataFrame(lcTable).toDF("v", "lc_est")
    // one division, by zs·10⁶ (= ⌊⌊x/zs⌋/10⁶⌋): `div` returns a long, and
    // x/zs alone overflows it once every register holds a rank ≳ 40
    z.withColumn("raw_est", expr(s"CAST(CAST($AlphaPpm AS DECIMAL(38,0)) * ${M * M} * $Empty" +
        " div (CAST(zs AS DECIMAL(38,0)) * 1000000) AS BIGINT)"))
      .join(broadcast(lc), col("n_empty") === col("v"), "left")
      .withColumn("est", expr(
        s"CAST(CASE WHEN n_empty > 0 AND raw_est <= $LcBound THEN lc_est ELSE raw_est END AS BIGINT)"))
      .drop("zs", "raw_est", "v", "lc_est")
  }

  // ---- DuckDB oracle form ----

  /** DuckDB's nested spelling of [[smear]] over expression `e`. */
  def smearSql(e: String): String =
    SmearShifts.foldLeft(e)((acc, k) => s"(($acc) | (($acc) >> $k))")

  /** Spark SQL's nested spelling of [[smear]] over expression `e`. */
  def smearSparkSql(e: String): String =
    SmearShifts.foldLeft(e)((acc, k) => s"(($acc) | (shiftright(($acc), $k)))")

  /** CTE chain from `hll_in` (base hash `th`, any other columns) to
    * `hll_rank` (the other columns plus `bucket` and `rho`). */
  def registerCtes(s: Streams): String = {
    val smears = SmearShifts.zipWithIndex.map { case (k, i) =>
      s"hll_m${i + 1} AS (SELECT * REPLACE (w | (w >> $k) AS w) FROM hll_m$i)"
    }
    s"""hll_m0 AS (SELECT * EXCLUDE (tm, h1, h2), h2 % $M AS bucket,
       |             ((h1 * $Scale) // $P) * $Scale + (h2 * $Scale) // $P AS w
       |           FROM (SELECT * EXCLUDE (th), (tm * ${s.a1} + ${s.b1}) % $P AS h1,
       |                   (tm * ${s.a2} + ${s.b2}) % $P AS h2
       |                 FROM (SELECT *, (th * th + 3 * th + 7) % $P AS tm FROM hll_in))),
       |${smears.mkString(",\n")},
       |hll_rank AS (SELECT * EXCLUDE (w), $Frame - CAST(bit_count(w) AS BIGINT) AS rho
       |             FROM hll_m${SmearShifts.size})""".stripMargin
  }

  /** The register fold's select items over rows carrying a bucket's
    * max rank `mx`: `n_empty` and the harmonic sum `zs`. */
  val foldSql: String =
    s"""CAST($M - count(mx) AS BIGINT) AS n_empty,
       |CAST(COALESCE(SUM(CAST(1 AS BIGINT) << CAST($Frame - mx AS INTEGER)), 0)
       |     + ($M - count(mx)) * $Empty AS BIGINT) AS zs""".stripMargin

  /** The estimator over relation `hll_z` (a [[foldSql]] result): its
    * columns minus `zs`, plus `est`. */
  val estimateSql: String =
    s"""SELECT * EXCLUDE (zs, raw_est, hll_v, hll_lc_est),
       |  CAST(CASE WHEN n_empty > 0 AND raw_est <= $LcBound
       |       THEN hll_lc_est ELSE raw_est END AS BIGINT) AS est
       |FROM (SELECT *, CAST(CAST($AlphaPpm AS HUGEINT) * ${M * M} * $Empty
       |                     // zs // 1000000 AS BIGINT) AS raw_est
       |      FROM hll_z)
       |LEFT JOIN (VALUES ${lcTable.map { case (v, e) => s"($v, $e)" }.mkString(", ")})
       |  AS hll_lc(hll_v, hll_lc_est) ON n_empty = hll_v""".stripMargin

  /** CTE `name`: the twin of [[estimate]] over register relation `regs`. */
  def estimateCte(name: String, regs: String, keys: Seq[String], extra: String*): String = {
    val k = keys.mkString(", ")
    s"""$name AS (WITH hll_z AS (
       |  SELECT $k, ${(extra :+ foldSql).mkString(",\n")}
       |  FROM $regs GROUP BY $k)
       |$estimateSql)""".stripMargin
  }
}
