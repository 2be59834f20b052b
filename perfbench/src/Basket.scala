package perfbench

import java.nio.file.{Files, Path, Paths}
import java.sql.Timestamp
import java.time.LocalDate

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import graft.SparkEntry
import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.types._

import Main.{Env, Pipeline, Run, median}

/** Seeded generator of the TPC-H-shaped `lineitem` and `part` tables and
  * the `documents` corpus the basket queries read, written as parquet in
  * the layout `graft.Tables` loads (`<dir>/<table>.parquet`).
  */
object BasketGen {
  val Orders = 1500
  val Parts = 200
  val Docs = 500
  val Tables: Seq[String] = Seq("lineitem", "part", "documents")

  private val Words = Seq("the", "a", "data", "table", "query", "scan", "join", "agg",
    "sort", "hash", "key", "value", "row", "column", "part", "order", "line",
    "customer", "stream", "batch", "window", "group", "filter", "merge", "spark",
    "fast", "slow", "big", "small", "vector", "index", "shard", "cache", "plan",
    "stage", "task", "node", "page", "block", "file")
  private val Langs = Seq("en", "en", "en", "en", "de", "fr", "es", "zh")
  private val Types = Seq("STANDARD ANODIZED TIN", "SMALL PLATED COPPER",
    "MEDIUM BURNISHED BRASS", "LARGE BRUSHED STEEL", "ECONOMY POLISHED NICKEL",
    "PROMO ANODIZED STEEL")

  private val lineitemSchema = StructType(Seq(
    StructField("l_orderkey", LongType), StructField("l_partkey", LongType),
    StructField("l_suppkey", LongType), StructField("l_linenumber", IntegerType),
    StructField("l_quantity", DoubleType), StructField("l_extendedprice", DoubleType),
    StructField("l_discount", DoubleType), StructField("l_tax", DoubleType),
    StructField("l_returnflag", StringType), StructField("l_linestatus", StringType),
    StructField("l_shipdate", TimestampType)))
  private val partSchema = StructType(Seq(
    StructField("p_partkey", LongType), StructField("p_name", StringType),
    StructField("p_brand", StringType), StructField("p_type", StringType),
    StructField("p_size", IntegerType), StructField("p_retailprice", DoubleType)))
  private val documentsSchema = StructType(Seq(
    StructField("doc_id", LongType), StructField("text", StringType),
    StructField("lang", StringType), StructField("source", StringType),
    StructField("n_chars", LongType)))

  /** Writes the three tables under `dir` and returns their bytes on disk. */
  def write(spark: SparkSession, seed: Long, dir: Path): Long = {
    val rng = new java.util.SplittableRandom(seed ^ 0xba5cL)
    def pick[A](xs: Seq[A]): A = xs(rng.nextInt(xs.size))

    val prices = Array.tabulate(Parts)(i => 900.0 + (i + 1) % 200 + rng.nextInt(100) / 100.0)
    val part = (1 to Parts).map { k =>
      Row(k.toLong, Seq.fill(3)(pick(Words)).mkString(" "),
        s"Brand#${1 + rng.nextInt(5)}${1 + rng.nextInt(5)}", pick(Types),
        1 + rng.nextInt(50), prices(k - 1))
    }

    val cutoff = LocalDate.of(1995, 6, 17)
    val lineitem = (1 to Orders).flatMap { o =>
      val ordered = LocalDate.of(1992, 1, 1).plusDays(rng.nextInt(2405).toLong)
      (1 to 1 + rng.nextInt(7)).map { ln =>
        val pk = 1 + rng.nextInt(Parts)
        val qty = (1 + rng.nextInt(50)).toDouble
        val ship = ordered.plusDays(1L + rng.nextInt(121))
        val shipped = ship.isBefore(cutoff)
        Row(o.toLong, pk.toLong, (1 + rng.nextInt(10)).toLong, ln, qty,
          qty * prices(pk - 1), rng.nextInt(11) / 100.0, rng.nextInt(9) / 100.0,
          if (!shipped) "N" else if (rng.nextBoolean()) "R" else "A",
          if (shipped) "F" else "O", Timestamp.valueOf(ship.atStartOfDay()))
      }
    }

    // a quarter of the documents are near-copies of an earlier one with
    // one to three words replaced: the dedup queries' clusters
    val texts = mutable.ArrayBuffer.empty[Array[String]]
    for (i <- 0 until Docs) {
      texts += (
        if (i > 0 && rng.nextInt(4) == 0) {
          val t = texts(rng.nextInt(i)).clone()
          (0 until 1 + rng.nextInt(3)).foreach(_ => t(rng.nextInt(t.length)) = pick(Words))
          t
        } else Array.fill(20 + rng.nextInt(61))(pick(Words)))
    }
    val documents = texts.zipWithIndex.map { case (t, i) =>
      val text = t.mkString(" ")
      Row(i.toLong, text, pick(Langs), s"src${rng.nextInt(20)}", text.length.toLong)
    }

    for ((name, schema, rows) <- Seq(("lineitem", lineitemSchema, lineitem),
        ("part", partSchema, part), ("documents", documentsSchema, documents.toSeq)))
      writeParquet(spark, spark.createDataFrame(rows.asJava, schema), dir.resolve(s"$name.parquet"))
    Main.treeBytes(dir)
  }

  /** One parquet file, timestamps as plain microseconds for every reader. */
  def writeParquet(spark: SparkSession, df: org.apache.spark.sql.DataFrame, path: Path): Unit = {
    val key = "spark.sql.parquet.outputTimestampType"
    val before = spark.conf.get(key)
    spark.conf.set(key, "TIMESTAMP_MICROS")
    try df.coalesce(1).write.parquet(path.toString)
    finally spark.conf.set(key, before)
  }
}

/** Three registered queries, run warm and in sequence over the generated
  * tables: the poc join and aggregate (q17), the barrier-bound near-dup
  * clustering that reads back ArtifactStore tables (q56) and the streaming
  * poc (q147, over the program's own fixture feeds). One operation is one
  * pass over all of them. The first pass runs once before the loop: it
  * builds the `ArtifactStore` tables q56 reads back, and its results are
  * kept for the DuckDB oracle check `run.py` makes after the JVM exits.
  * Every later pass must return the same rows.
  */
final class Basket(run: Run, spark: SparkSession, dir: Path) extends Env {
  import Basket._

  private val sf = dir.resolve("sf")
  private val inputBytes = run.spans("generate.tables") { BasketGen.write(spark, run.seed, sf) }
  private val fingerprints = mutable.Map.empty[String, String]
  private val times = Queries.map(_ -> mutable.ArrayBuffer.empty[Double]).toMap

  override def prepare(spark: SparkSession): Unit = {
    val results = dir.resolve("results")
    for (q <- Queries) {
      run.attempted += 1
      val ok = try {
        val df = SparkEntry.queries(q)(spark, sf.toString)
        val rows = df.collect()
        fingerprints(q) = fingerprint(rows)
        BasketGen.writeParquet(spark, spark.createDataFrame(rows.toSeq.asJava, df.schema),
          results.resolve(q))
        true
      } catch { case scala.util.control.NonFatal(e) =>
        run.failures += s"$q threw ${e.getClass.getName}: ${e.getMessage}"; false }
      if (!ok) run.failed += 1
    }
    if (run.traced) {
      // ArtifactStore builds are the cold pass's writes of graft_* tables
      Pipeline.drain(spark, run)
      val builds = run.jobs.all.filter { case (j, _) => run.jobs.phase(j).startsWith("write.graft_") }
      run.sample("artifacts.build_s", JobTrace.wall(builds.map(_._1)))
      run.jobs.clear()
    }
    def str(s: String) = "\"" + s.replace("\\", "\\\\").replace("\"", "\\\"")
      .replace("\n", "\\n").replace("\t", "\\t") + "\""
    def obj(kv: Seq[(String, String)]) = kv.map { case (k, v) => s"${str(k)}: ${str(v)}" }.mkString("{", ", ", "}")
    Files.writeString(dir.getParent.resolve(CheckFile),
      s"""{"tables": ${obj(BasketGen.Tables.map(t => t -> sf.resolve(s"$t.parquet").toString))},
         | "results": ${obj(Queries.map(q => q -> results.resolve(q).toString))},
         | "oracle": ${obj(Queries.map(q => q -> SparkEntry.oracleSql(q)))}}
         |""".stripMargin)
  }

  def hasNext = true

  def op(spark: SparkSession, run: Run, i: Int, traced: Boolean): Boolean = {
    val sc = spark.sparkContext
    if (traced) {
      // only this pass's jobs
      Pipeline.drain(spark, run)
      run.jobs.clear()
    }
    var ok = true
    var pass = 0.0
    val perQuery = mutable.ArrayBuffer.empty[String]
    for (q <- Queries) {
      if (traced) sc.setJobGroup(q, q)
      val streams = if (traced && q == StreamQuery) Some(new StreamTrace) else None
      streams.foreach(spark.streams.addListener)
      val t0 = System.nanoTime()
      val df = run.spans(s"$q.construct") { SparkEntry.queries(q)(spark, sf.toString) }
      val t1 = System.nanoTime()
      run.spans(s"$q.plan") { df.queryExecution.executedPlan }
      val t2 = System.nanoTime()
      val rows = run.spans(s"$q.exec") { df.collect() }
      val t3 = System.nanoTime()
      if (traced) sc.clearJobGroup()
      ok &= run.check(s"$q result", fingerprint(rows) == fingerprints(q), s"${rows.length} rows differ")
      if (traced) {
        run.sample(s"$q.construct_s", (t1 - t0) / 1e9)
        run.sample(s"$q.plan_s", (t2 - t1) / 1e9)
        run.sample(s"$q.exec_s", (t3 - t2) / 1e9)
        streams.foreach { st =>
          streamMetrics(st.drain(1), (t1 - t0) / 1e9)
          spark.streams.removeListener(st)
        }
      } else times(q) += (t3 - t0) / 1e9
      pass += (t3 - t0) / 1e9
      perQuery += f"${q.takeWhile(_ != '_')}=${(t3 - t0) / 1e9}%.3f"
    }
    System.err.println(s"[perfbench] pass $i ${perQuery.mkString(" ")}")
    run.sample(if (traced) "traced_op_s" else "op_s", pass)
    if (traced) {
      Pipeline.drain(spark, run)
      Pipeline.sparkTotals(run, run.jobs.all.filterNot(_._1.group == "marker"))
      run.jobs.clear()
    }
    ok
  }

  /** Trigger times of q147's stream. Its whole lifecycle runs while the
    * query is constructed; the idle time is that wall minus the triggers.
    */
  private def streamMetrics(ps: Seq[Map[String, Long]], lifecycleS: Double): Unit = {
    def sum(k: String) = ps.map(_.getOrElse(k, 0L)).sum / 1e3
    run.sample("stream.triggers", ps.size.toDouble)
    run.sample("stream.addBatch_s", sum("addBatch"))
    run.sample("stream.walCommit_s", sum("walCommit"))
    run.sample("stream.queryPlanning_s", sum("queryPlanning"))
    run.sample("stream.idle_s", lifecycleS - sum("triggerExecution"))
  }

  /** The sum of the per-query medians. */
  override def opP50(run: Run): Double = Queries.map(q => median(times(q).toSeq)).sum
  /** The poc read of the basket: q17's median. */
  override def readP50(run: Run): Double = median(times(PocQuery).toSeq)

  /** Bytes the ArtifactStore holds per byte of generated tables. */
  def bytesRatio(): Double = {
    val ls = Files.list(Paths.get(System.getProperty("java.io.tmpdir")))
    val stored = try ls.iterator().asScala.filter(_.getFileName.toString.startsWith("graft-artifacts-"))
      .map(Main.treeBytes).sum finally ls.close()
    stored.toDouble / inputBytes
  }
}

object Basket {
  val PocQuery = "q17_poc_analysis"
  val StreamQuery = "q147_streaming_poc"
  val Queries: Seq[String] = Seq(PocQuery, "q56_dedup_clusters", StreamQuery)
  /** Written into the work directory for `run.py`'s oracle check. */
  val CheckFile = "basket-check.json"

  /** Order-independent digest of a result's rows. */
  def fingerprint(rows: Array[Row]): String = {
    val md = java.security.MessageDigest.getInstance("MD5")
    rows.map(_.toSeq.map(String.valueOf).mkString("\u0001")).sorted
      .foreach(r => md.update((r + "\n").getBytes("UTF-8")))
    md.digest().map("%02x".format(_)).mkString
  }
}
