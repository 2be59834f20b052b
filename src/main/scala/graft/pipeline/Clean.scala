package graft.pipeline

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StringType

/** Row-level cleaning operators (SURVEY.md §2.2). All scalar, all
  * codegen'd — they run in the scan stage at any scale.
  */
object Clean {

  /** Digits-only extract with null on no-match, then cast — the dirty
    * "34 glasses" → 34 cleaner (ref: build_database.py:86-87). The
    * null-guard matters under Spark 4 ANSI mode, where casting '' throws.
    */
  def extractInt(c: Column): Column = {
    val digits = regexp_extract(c, "(\\d+)", 1)
    when(digits === "", lit(null)).otherwise(digits).cast("int")
  }

  /** Lowercase every string column — the reference applies this to every
    * table before load and both join keys depend on it (ref:
    * build_database.py:88-90,168,220-222; SURVEY.md §1.2).
    */
  def lowercaseStrings(df: DataFrame): DataFrame =
    df.select(df.schema.fields.toSeq.map { f =>
      if (f.dataType == StringType) lower(col(f.name)).as(f.name) else col(f.name)
    }: _*)

  /** Deterministic 0-based surrogate keys in `sortCols` order — the
    * oracle-stable form of pandas reset_index (ref:
    * build_database.py:82-85,165-166; SURVEY.md §2.2 P4).
    *
    * Scale note: row_number over an empty partitionBy is a single-task
    * window — acceptable ONLY for bounded dimensions. Facts use
    * [[keyedOrderedId]] (same deterministic ordered semantics, keyed
    * windows only).
    */
  def orderedId(df: DataFrame, name: String, sortCols: Seq[Column]): DataFrame =
    df.withColumn(name, row_number().over(Window.orderBy(sortCols: _*)).cast("long") - 1)

  /** Deterministic 0-based surrogate keys in `(partCols, orderCols)`
    * lexicographic order WITHOUT a data-sized single-partition window —
    * the fact-scale form of [[orderedId]]. Two-level distributed prefix
    * sum: row_number within a window KEYED on `partCols`, per-key counts
    * prefix-summed on the tiny key table (bounded side data — its
    * single-partition window sits above the aggregate, never the fact),
    * offsets broadcast back. Produces ids identical to
    * `orderedId(df, name, partCols ++ orderCols)` whenever `partCols` is
    * a sort-prefix of the intended total order (e.g. `to_date(ts)` under
    * a `ts` order) — the caller's contract. Null keys join null-safely
    * and sort first, matching Spark's asc_nulls_first window default.
    *
    * Ties caveat: if `(partCols ++ orderCols)` does NOT totally order
    * the rows up to full-row duplicates, each side's row_number breaks
    * ties in arbitrary partition-dependent order, so only the MULTISET
    * of ids — not the row↔id binding — is guaranteed identical to
    * [[orderedId]]'s. Callers needing the binding must pass a
    * tie-free order (current call sites include the per-feed `idx`).
    * Empty `partCols` delegates to [[orderedId]] (the keyed form's
    * offset join has no key columns to equate in that case).
    */
  def keyedOrderedId(df: DataFrame, name: String,
      partCols: Seq[Column], orderCols: Seq[Column]): DataFrame = {
    if (partCols.isEmpty) return orderedId(df, name, orderCols)
    val pk = partCols.indices.map(i => s"__pk$i")
    val withPk = pk.zip(partCols).foldLeft(df) { case (d, (n, c)) => d.withColumn(n, c) }
    val wLocal = Window.partitionBy(pk.map(col): _*).orderBy(orderCols: _*)
    val keyed = withPk.withColumn("__local", row_number().over(wLocal).cast("long"))
    val wKeys = Window.orderBy(pk.map(col): _*)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val ok = partCols.indices.map(i => s"__ok$i")
    val offsets = pk.zip(ok).foldLeft(
        withPk.groupBy(pk.map(col): _*).agg(count(lit(1)).as("__cnt"))
          .withColumn("__off", sum("__cnt").over(wKeys) - col("__cnt"))
      ) { case (d, (p, o)) => d.withColumnRenamed(p, o) }
      .select(ok.map(col) :+ col("__off"): _*)
    val cond = pk.zip(ok).map { case (p, o) => keyed(p) <=> offsets(o) }.reduce(_ && _)
    keyed.join(broadcast(offsets), cond)
      .withColumn(name, col("__off") + col("__local") - 1)
      .drop(pk ++ ok ++ Seq("__local", "__off"): _*)
  }

  /** EQUALITY-ONLY keyed numbering — the cheapest two-level form, for
    * renumbers that never consume rank ORDER (q329/q339's prefix
    * doubling tests only pair equality): bucket each distinct key row
    * by hash, dense_rank WITHIN buckets (keyed window — its exchange is
    * the only shuffle), and compose the injective id
    * `bucket · 2⁴² + local_rank`. Equal keys hash to one bucket and get
    * one local rank, so equal ⇔ equal-id; different buckets occupy
    * disjoint id ranges, so the map is injective with NO range-sampling
    * pass and NO driver action ([[keyedPrefixRank]] pays both to buy
    * order-consistency — use it when downstream sorts by the id).
    * Capacity: bucket < 2²¹, per-bucket ranks < 2⁴² — at 100 TB a
    * partition would hold trillions of distinct keys before overflow.
    */
  def hashBucketRank(distinctKeys: DataFrame, keys: Seq[String], out: String): DataFrame = {
    val parts = distinctKeys.sparkSession.sessionState.conf.numShufflePartitions
    distinctKeys
      .withColumn("__b", pmod(hash(keys.map(col): _*), lit(parts)).cast("long"))
      .withColumn(out, (col("__b") * (1L << 42)) + dense_rank().over(
        Window.partitionBy("__b").orderBy(keys.map(col): _*)).cast("long"))
      .drop("__b")
  }

  /** Keyed global ROW numbering + running sum — [[hashBucketRank]]'s
    * order-consistent sibling for rank/cumsum workloads (Zipf tables,
    * quantile scoring) whose input GROWS with the data (vocab-, user-sized): global
    * `row_number` (and optionally a prefix sum of one column) over a
    * total order, with NO zero-key window. Requires the sort columns to
    * be a UNIQUE total order (callers add a tiebreak key — same
    * contract as every deterministic rank in this repo). Same
    * two-level shape: range-partition on the sort expressions, keyed
    * row_number/cumsum within partitions, P-bounded (count, sum)
    * per-partition rollup prefix-summed on the driver and broadcast
    * back. Callers whose running sum can exceed int64 pass the cum
    * column as DECIMAL(38,0) — the window sum, driver accumulation and
    * offsets then stay decimal end to end (exact at any corpus size);
    * a LONG cum column keeps the cheap native-long path.
    * `totalCol` optionally attaches the exact global row count
    * (known for free from the same rollup) as a literal column, which
    * quantile/NTILE arithmetic downstream needs.
    */
  def keyedPrefixRank(df: DataFrame, sortCols: Seq[Column], outRank: String,
      cumOf: Option[(String, String)] = None,
      totalCol: Option[String] = None): DataFrame = {
    val spark = df.sparkSession
    val parts = spark.sessionState.conf.numShufflePartitions
    val w = Window.partitionBy("__pid").orderBy(sortCols: _*)
    val base = df.repartitionByRange(parts, sortCols: _*)
      .withColumn("__pid", spark_partition_id().cast("long"))
      .withColumn("__lr", row_number().over(w).cast("long"))
    val ranked = cumOf.fold(base) { case (c, _) =>
      base.withColumn("__lc", sum(col(c)).over(
        w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
    }.localCheckpoint(false)
    // A DECIMAL cum column keeps the WHOLE prefix-sum pipeline exact past
    // int64 (the r14 advisor's q350 finding: Σ of the summed column can
    // exceed 9.2e18 long before 100 TB) — the per-partition window sum,
    // the driver-side offset accumulation, and the broadcast offsets all
    // stay DECIMAL(38,0); a LONG cum column keeps the original cheap path.
    val cumIsDecimal = cumOf.exists { case (c, _) =>
      df.schema(c).dataType.isInstanceOf[org.apache.spark.sql.types.DecimalType] }
    val aggCols = Seq(max(col("__lr")).as("__cnt")) ++
      cumOf.map { case (c, _) => sum(col(c)).as("__s") }
    val perPart = ranked.groupBy("__pid").agg(aggCols.head, aggCols.tail: _*)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1),
        if (!cumOf.isDefined) BigDecimal(0)
        else r.get(2) match { // exact in both representations
          case d: java.math.BigDecimal => BigDecimal(d)
          case n: Number => BigDecimal(n.longValue)
        }))
      .sortBy(_._1)
    var nAcc = 0L; var sAcc = BigDecimal(0)
    val offs = perPart.map { case (p, n, sm) =>
      val row = (p, nAcc, sAcc); nAcc += n; sAcc += sm; row }.toSeq
    import spark.implicits._
    val offDf =
      if (cumIsDecimal) {
        import org.apache.spark.sql.types._
        val rows = offs.map { case (p, ro, so) =>
          org.apache.spark.sql.Row(p, ro, so.setScale(0).bigDecimal) }
        spark.createDataFrame(spark.sparkContext.parallelize(rows, 1),
          StructType(Seq(StructField("__opid", LongType),
            StructField("__roff", LongType),
            StructField("__soff", DecimalType(38, 0)))))
      } else offs.map { case (p, ro, so) => (p, ro, so.toLongExact) }
        .toDF("__opid", "__roff", "__soff")
    val joined = ranked.join(broadcast(offDf), col("__pid") === col("__opid"))
      .withColumn(outRank, col("__roff") + col("__lr"))
    val withCum = cumOf.fold(joined) { case (_, out) =>
      joined.withColumn(out, col("__soff") + col("__lc")) }
    totalCol.fold(withCum)(t => withCum.withColumn(t, lit(nAcc)))
      .drop("__pid", "__opid", "__lr", "__lc", "__roff", "__soff")
  }

  /** Keep-newest-per-key dedup — deterministic window formulation of the
    * reference's sort-desc + drop_duplicates-keep-first (ref:
    * build_database.py:207-219; SURVEY.md §2.3 A4). Ties and null
    * timestamps break toward the larger tiebreaker column, nulls last,
    * so re-runs are bit-stable.
    */
  def keepNewest(df: DataFrame, keys: Seq[String], ts: String, tiebreak: String): DataFrame =
    df.withColumn("__rn", row_number().over(
        Window.partitionBy(keys.map(col): _*)
          .orderBy(col(ts).desc_nulls_last, col(tiebreak).desc)))
      .filter(col("__rn") === 1)
      .drop("__rn")
}
