package graft

import org.apache.spark.sql.SparkSession

/** Session factory for the graft engine.
  *
  * Defaults chosen for the driver harness (single JVM, `local[32]`) but the
  * same settings are what we'd ship on a real cluster:
  *   - AQE on: runtime partition coalescing, skew-join splitting, and
  *     dynamic broadcast conversion — the knobs that keep a plan healthy
  *     when the data is 1000x bigger than what it was tuned on.
  *   - UTC session timezone: oracle (DuckDB) parity for all timestamp math.
  *   - shuffle.partitions sized to the local core count; on a real cluster
  *     this would be ~2-3x total executor cores (AQE coalesces down).
  *   - [[warmPassConf]]: a rerun of a plan reuses its generated classes
  *     instead of compiling them again (see there).
  */
object GraftSession {
  /** Spark's codegen cache (`CodeGenerator.cache`) is keyed by (class loader,
    * code) and holds 100 entries by default. Both defeat it on the engine's
    * warm passes, which rerun the same plans: `CocktailPipeline.run` (q70)
    * per daily batch, q17/q56/q147 per analytics pass.
    *   - A cold pass of q17, q56, q147 and q70 compiles about 260 classes
    *     (21 + 77 + 114 + 46 at sf0.01), so a 100-entry LRU evicts a pass
    *     before it repeats. 1000 entries hold several passes.
    *   - Each stream start runs in a cloned session; with artifact isolation
    *     on, that clone gets its own executor class loader, so q147's stream
    *     classes, byte-identical from run to run, miss on every start. The
    *     engine adds no session artifacts (nothing calls `addArtifact` or
    *     `addJar`), so isolation buys nothing here.
    * Classes compiled by the second pass (q17/q56/q147/q70, sf0.01, local[4]):
    * 17/43/121/102 with Spark's defaults, 0/0/79/0 with the larger cache only,
    * 17/43/115/96 with isolation off only, 0/0/0/0 with both. AQE numbers
    * codegen stages in the order their inputs finish, so a rerun can name the
    * same stage code differently: q17 and q56 then compile 4 classes once per
    * order not seen before. The cache size is a static conf: it must be set
    * before the first session of the JVM generates code.
    */
  val warmPassConf: Map[String, String] = Map(
    "spark.sql.codegen.cache.maxEntries" -> "1000",
    "spark.sql.artifact.isolation.enabled" -> "false")

  def builder(cores: String = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")): SparkSession.Builder = {
    // cores doubles as the shuffle-partition count, which must be numeric
    // — "*" (all cores) is a valid master spec but not a partition count
    val partitions = cores.toIntOption.getOrElse(
      Runtime.getRuntime.availableProcessors).toString
    SparkSession.builder()
      .master(s"local[$cores]")
      .appName("graft")
      .config("spark.sql.shuffle.partitions", partitions)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
      .config("spark.sql.adaptive.skewJoin.enabled", "true")
      .config("spark.sql.extensions", "graft.GraftExtensions")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config(warmPassConf)
  }

  def get(): SparkSession = {
    val s = builder().getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
}
