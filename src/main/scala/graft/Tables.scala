package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Loaders for the driver-provided parquet tables (TESTDATA.md).
  *
  * All schemas are declared by the parquet footers; we read them as-is.
  * Filters/projections applied downstream reach the scan via Catalyst
  * pushdown (verify with `.explain("formatted")` → `PushedFilters`,
  * `ReadSchema`).
  */
object Tables {
  val all: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  /** Single place the path convention lives: load() and the *Parallel
    * loaders derive from the same helper so a convention change cannot
    * silently diverge between them. */
  private def tablePath(sfDir: String, name: String): String =
    s"$sfDir/$name.parquet"

  def load(spark: SparkSession, sfDir: String, name: String): DataFrame =
    spark.read.parquet(tablePath(sfDir, name))

  def lineitem(spark: SparkSession, sfDir: String): DataFrame = load(spark, sfDir, "lineitem")
  def orders(spark: SparkSession, sfDir: String): DataFrame = load(spark, sfDir, "orders")
  def customer(spark: SparkSession, sfDir: String): DataFrame = load(spark, sfDir, "customer")
  def supplier(spark: SparkSession, sfDir: String): DataFrame = load(spark, sfDir, "supplier")
  def part(spark: SparkSession, sfDir: String): DataFrame = load(spark, sfDir, "part")
  def nation(spark: SparkSession, sfDir: String): DataFrame = load(spark, sfDir, "nation")
  def region(spark: SparkSession, sfDir: String): DataFrame = load(spark, sfDir, "region")
  /** `events.ts` has shipped in two parquet encodings across testdata
    * generations: INT64 TIMESTAMP(NANOS) (read as plain long via
    * legacy.parquet.nanosAsLong, since Spark 4 refuses nanos timestamps)
    * and INT64 TIMESTAMP_MICROS with isAdjustedToUTC=false (read as
    * TIMESTAMP_NTZ). Dispatch on the type the scan actually produced so
    * either generation loads; downstream always sees session-TZ
    * TimestampType (session TZ is UTC, so the NTZ cast is value-preserving
    * and matches DuckDB's naive TIMESTAMP reading).
    */
  def events(spark: SparkSession, sfDir: String): DataFrame = {
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    normalizeEventTs(load(spark, sfDir, "events"))
  }

  /** Normalize an events frame's `ts` to TimestampType whatever the scan
    * produced. Shared by the batch loader and the streaming specs (a file
    * stream over the same parquet hits the same encoding drift).
    */
  def normalizeEventTs(df: DataFrame): DataFrame = df.schema("ts").dataType match {
    case org.apache.spark.sql.types.LongType =>
      // nanos-as-long: FLOOR division, not DIV (truncation) — a pre-epoch
      // nanos value must round toward -inf to match DuckDB's TIMESTAMP_NS
      // reading; integer math because doubles lose precision at 1e18.
      df.withColumn("ts", timestamp_micros(
        expr("(ts - ((ts % 1000 + 1000) % 1000)) DIV 1000")))
    case _: org.apache.spark.sql.types.TimestampNTZType =>
      df.withColumn("ts", col("ts").cast(org.apache.spark.sql.types.TimestampType))
    case _ => df
  }
  /** Scan-parallelism floor (guide §2.5, "input skew: one huge
    * unsplittable file ... otherwise repartition immediately after the
    * read"): the driver's corpus ships as ONE single-row-group parquet
    * file per table, so a scan stage is ONE task and every scan-stage
    * expression (tokenization, hashing, n-gram explodes — where most of
    * this suite's CPU lives) runs single-threaded regardless of cores
    * (measured: q219's 6.1 s of scan-stage CPU in one task at sf0.1 on
    * local[32]). When — and only when — the file layout cannot feed the
    * session's parallelism (fewer bytes than one split per core), add
    * ONE deterministic doc_id-keyed exchange right after the read. The
    * condition is derived from input size vs `maxPartitionBytes`
    * (scale-adaptive, not a local constant): any production layout —
    * multi-file or multi-row-group, splits ≥ cores — fails the
    * condition and the repartition NEVER fires there, so no
    * corpus-sized text shuffle is ever added at scale. Keyed (not
    * round-robin) so row placement is a pure function of the data
    * (partition-invariance, retry-safety — guide §2.5 on rand-derived
    * keys), and by doc_id so AQE/downstream keyed ops see a real
    * clustering. Sized by `spark.sql.shuffle.partitions`, not by the
    * core count: a downstream join or aggregate on the same key then
    * reuses the floor's partitioning, while a floor of another count
    * would be shuffled again (one more exchange and sort per consumer
    * when the two counts differ, as on a cluster). */
  private[graft] def parallelScan(spark: SparkSession, path: String,
      df: DataFrame, key: String): DataFrame = {
    val cores = spark.sparkContext.defaultParallelism
    // single REGULAR file no bigger than one split ⟺ the scan is one
    // task; a directory layout (production: many files) or a file above
    // the split size never takes the repartition branch. Resolved via
    // the Hadoop FileSystem of the path's own scheme so the floor also
    // fires for a remote (hdfs://, s3a://) single-file layout, and any
    // failure anywhere — conf in a form we can't parse, filesystem
    // unreachable — degrades to "not single-split" (no repartition),
    // never to a crash at query construction.
    val singleSplit = try {
      // maxPartitionBytes accepts any Spark byte string ("128MB", "64m",
      // "134217728b"); JavaUtils is the parser Spark itself uses
      val splitBytes = org.apache.spark.network.util.JavaUtils.byteStringAsBytes(
        spark.conf.get("spark.sql.files.maxPartitionBytes"))
      val p = new org.apache.hadoop.fs.Path(path)
      val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
      val st = fs.getFileStatus(p)
      st.isFile && st.getLen <= splitBytes
    } catch { case _: Throwable => false }
    if (cores > 1 && singleSplit)
      df.repartition(spark.sessionState.conf.numShufflePartitions, col(key))
    else df
  }

  def documents(spark: SparkSession, sfDir: String): DataFrame = load(spark, sfDir, "documents")

  /** [[documents]] behind the [[parallelScan]] floor — for consumers
    * whose SCAN-STAGE expression work (tokenize + explode + hash over
    * every token/gram) dominates their runtime. Opt-in per call site,
    * not the default: the floor's exchange carries text, which costs a
    * light aggregate-only consumer more than its whole query (measured
    * at sf0.1: q57 0.26→0.70 s under a blanket floor, while q219 went
    * 2.89→1.30 — same window), so only measured-heavy consumers take
    * it. */
  def documentsParallel(spark: SparkSession, sfDir: String): DataFrame = {
    val p = tablePath(sfDir, "documents")
    parallelScan(spark, p, spark.read.parquet(p), "doc_id")
  }
  def embeddings(spark: SparkSession, sfDir: String): DataFrame = load(spark, sfDir, "embeddings")

  /** [[embeddings]] behind the [[parallelScan]] floor — the vector
    * suite's scan-stage work (64-dim integer dot/norm kernels, PQ
    * encode argmins, dim explodes) is the same single-task story as the
    * token streams; the exchanged rows are (vec_id + 64 longs), far
    * cheaper than text, so the vector family takes the floor at its
    * shared quantization helper rather than per call site. */
  def embeddingsParallel(spark: SparkSession, sfDir: String): DataFrame = {
    val p = tablePath(sfDir, "embeddings")
    parallelScan(spark, p, spark.read.parquet(p), "vec_id")
  }
}
