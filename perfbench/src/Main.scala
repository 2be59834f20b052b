package perfbench

import java.nio.file.{Files, Path, Paths, StandardCopyOption}
import java.time.LocalDate

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import graft.GraftSession
import graft.pipeline.{CocktailPipeline, FixtureCocktailSource, Watermarks}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** One benchmark run in one JVM: set up several times (session start,
  * seeded inputs), prepare once (warm-up, preload or cold pass), then a
  * single-threaded closed loop of operations until the time is up, checking
  * every output. Prints the checked operation counts and the metric values
  * as one JSON object on the last line of stdout.
  *
  * Args: --workload W --seed N --seconds S --trace 0|1 --work DIR --trace-out FILE
  */
object Main {

  /** `etl_daily`: days of preloaded history and rows per day-file. */
  val HistoryDays = 30
  val DailyRows = 800
  /** The loop times at least this many operations. */
  val MinOps = 3
  val SetupReps = 3
  /** The owner reads the refreshed poc_analysis this many times per batch. */
  val Reads = 6

  final class Run(val seed: Long, val workload: String, val traced: Boolean) {
    val spans = new Spans
    val jobs = new JobTrace
    var attempted = 0
    var failed = 0
    val failures = mutable.ArrayBuffer.empty[String]
    val samples = mutable.LinkedHashMap.empty[String, mutable.ArrayBuffer[Double]]
    def sample(k: String, v: Double): Unit = samples.getOrElseUpdate(k, mutable.ArrayBuffer.empty) += v
    def check(what: String, ok: Boolean, detail: => String): Boolean = {
      if (!ok) failures += s"$what: $detail"
      ok
    }
  }

  def main(args: Array[String]): Unit = {
    val a = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = a("workload")
    require(Seq("etl_daily", "analytics_basket").contains(workload),
      s"unknown workload $workload")
    val run = new Run(a("seed").toLong, workload, a("trace") == "1")
    val work = Paths.get(a("work")).toAbsolutePath
    val heap = new HeapWatch
    val setupTimes = mutable.ArrayBuffer.empty[Double]
    var spark = run.spans("session.start") { startSession(work) }
    var env: Env = null
    for (rep <- 0 until SetupReps) {
      spark.stop()
      val t0 = System.nanoTime()
      spark = run.spans("session.start") { startSession(work) }
      run.sample("session.start_s", (System.nanoTime() - t0) / 1e9)
      val dir = work.resolve(s"setup$rep")
      env = run.spans("setup") { setup(run, spark, dir) }
      setupTimes += (System.nanoTime() - t0) / 1e9
      if (rep > 0) deleteTree(work.resolve(s"setup${rep - 1}"))
    }
    if (run.traced) spark.sparkContext.addSparkListener(run.jobs)
    run.spans("prepare") { env.prepare(spark) }
    heap.sample()
    run.jobs.clear()

    val deadline = System.nanoTime() + (a("seconds").toDouble * 1e9).toLong
    var op = 0
    def timed = Seq("op_s", "traced_op_s").map(run.samples.get(_).fold(0)(_.size)).sum
    while ((System.nanoTime() < deadline || timed < MinOps) && env.hasNext) {
      // traced and untraced operations alternate so the difference of
      // their medians is the tracing overhead
      val traceOp = run.traced && op % 2 == 1
      run.attempted += 1
      val ok =
        try run.spans(s"op$op") { env.op(spark, run, op, traceOp) }
        catch { case scala.util.control.NonFatal(e) =>
          run.failures += s"op$op threw ${e.getClass.getName}: ${e.getMessage}"; false }
      if (!ok) run.failed += 1
      heap.sample()
      op += 1
    }
    val wbpib = env.bytesRatio()
    val (opP50, readP50) = (env.opP50(run), env.readP50(run))
    spark.stop()

    Option(a.getOrElse("trace-out", null)).foreach { p =>
      Files.createDirectories(Paths.get(p).getParent)
      Files.writeString(Paths.get(p), run.spans.toJson)
    }
    run.failures.take(20).foreach(f => System.err.println(s"[perfbench] CHECK FAILED $f"))
    val metrics: Seq[(String, Double)] =
      if (!run.traced) Seq(
        "setup_s" -> median(setupTimes.toSeq),
        "op_p50_s" -> opP50,
        "read_p50_s" -> readP50,
        "warehouse_bytes_per_input_byte" -> wbpib,
        "peak_heap_mb" -> heap.peakMb)
      else layerMetrics(run)
    def list(k: String) = run.samples.get(k).fold("")(_.map(x => f"$x%.3f").mkString(","))
    System.err.println(s"[perfbench] $workload seed=${run.seed} ops=${run.attempted} " +
      s"op_s=${list("op_s")} setup_s=${setupTimes.map(x => f"$x%.2f").mkString(",")} " +
      s"run.cpu_s=${list("run.cpu_s")}")
    val ms = metrics.map { case (k, v) => s""""$k": $v""" }
    println(s"""{"attempted": ${run.attempted}, "failed": ${run.failed}, """ +
      s""""values": {${ms.mkString(", ")}}}""")
  }

  def startSession(work: Path): SparkSession = {
    val cores = Runtime.getRuntime.availableProcessors.toString
    val s = GraftSession.builder(cores)
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", work.resolve("spark-warehouse").toString)
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  // --- workloads -------------------------------------------------------------

  /** A prepared workload: the closed loop calls `op` until time is up. */
  trait Env {
    /** One-time work after the timed set-ups. */
    def prepare(spark: SparkSession): Unit = ()
    def hasNext: Boolean
    def op(spark: SparkSession, run: Run, i: Int, traced: Boolean): Boolean
    /** Median time of one operation. */
    def opP50(run: Run): Double = median(run.samples("op_s").toSeq)
    /** Median time of the owner's read of poc_analysis. */
    def readP50(run: Run): Double = median(run.samples("read_s").toSeq)
    def bytesRatio(): Double
  }

  final class Inputs(val dir: Path, val gen: Gen) {
    val feedDirs: Map[String, Path] = Gen.Cities.map(c =>
      c -> Files.createDirectories(dir.resolve("feeds").resolve(c.replace(' ', '_')))).toMap
    val (stockPath, catalogPath, staticBytes) = gen.writeStatic(dir)
    def pipeline(wm: Path): CocktailPipeline = new CocktailPipeline(stockPath,
      feedDirs("budapest").toString, feedDirs("london").toString, feedDirs("new york").toString,
      wm.toString, new FixtureCocktailSource(catalogPath))
    def dayFile(base: Path, city: String, day: LocalDate): Path =
      base.resolve(city.replace(' ', '_')).resolve(s"$day.csv.gz")
    /** Writes the first `days` days of every city's feed. */
    def writeFeeds(days: Int, expected: Expected): Unit =
      for (d <- 0 until days; c <- Gen.Cities) {
        val day = Gen.Start.plusDays(d)
        expected.land(gen.writeDay(dayFile(dir.resolve("feeds"), c, day), c, day))
      }
  }

  def setup(run: Run, spark: SparkSession, dir: Path): Env = {
    run.workload match {
      case "etl_daily" =>
        val in = run.spans("generate") {
          new Inputs(Files.createDirectories(dir), new Gen(run.seed, DailyRows))
        }
        new Daily(run, in, HistoryDays)
      case "analytics_basket" => new Basket(run, spark, Files.createDirectories(dir))
    }
  }

  /** Day batches over a warehouse preloaded with `historyDays` of sales.
    * The first batch brings no file at all and is not timed: it must
    * append nothing. After it, every third batch leaves one city (a seeded
    * choice) without a file.
    */
  final class Daily(run: Run, in: Inputs, historyDays: Int) extends Env {
    private val expected = new Expected(in.gen)
    private val pristine = in.dir.resolve("pristine")
    private val wh = in.dir.resolve("warehouse")
    private val wm = in.dir.resolve("last_update.txt")
    private val pending = in.dir.resolve("pending")
    private val MaxBatches = 30
    run.spans("generate.feeds") { in.writeFeeds(historyDays, expected) }
    private val batches: IndexedSeq[Seq[Gen.DayFile]] = run.spans("generate.batches") {
      val rng = new java.util.SplittableRandom(run.seed ^ 0x5eedL)
      (0 until MaxBatches).map { b =>
        val day = Gen.Start.plusDays(historyDays.toLong + b)
        val skip = if (b % 3 == 0) Some(Gen.Cities(rng.nextInt(3))) else None
        if (b == 0) Nil
        else Gen.Cities.filterNot(skip.contains).map { c =>
          val f = in.dayFile(pending, c, day)
          Files.createDirectories(f.getParent)
          in.gen.writeDay(f, c, day)
        }
      }
    }
    private var b = 0

    /** The preload: the history as one cold run (a backfill into an empty
      * warehouse), checked and kept as a pristine copy. The measured batches
      * start from a byte-identical copy.
      */
    override def prepare(spark: SparkSession): Unit = {
      val (pWh, pWm) = (pristine.resolve("warehouse"), pristine.resolve("last_update.txt"))
      Files.createDirectories(pristine)
      run.attempted += 1
      val (ok, runS) = run.spans("preload") {
        Pipeline.batch(spark, run, in, in.pipeline(pWm), pWh, pWm, expected, 0L,
          traced = false, timed = false)
      }
      run.sample("preload.run_s", runS)
      if (!ok) run.failed += 1
      copyTree(pWh, wh)
      Files.copy(pWm, wm)
    }

    def hasNext: Boolean = b < MaxBatches
    def op(spark: SparkSession, run: Run, i: Int, traced: Boolean): Boolean = {
      val files = batches(b)
      val rowsBefore = expected.rows
      // landing: the day's files appear in the feed directories
      files.foreach { f =>
        Files.move(in.dayFile(pending, f.city, f.day), in.dayFile(in.dir.resolve("feeds"), f.city, f.day))
        expected.land(f)
      }
      b += 1
      Pipeline.batch(spark, run, in, in.pipeline(wm), wh, wm, expected, rowsBefore, traced,
        timed = files.nonEmpty)._1
    }
    def bytesRatio(): Double = treeBytes(wh).toDouble / (expected.inputBytes + in.staticBytes)
  }

  // --- one pipeline batch, its read and its checks ----------------------------

  object Pipeline {
    /** One `CocktailPipeline.run`, the owner's reads and the checks: whether
      * they passed, and the run's wall time.
      */
    def batch(spark: SparkSession, run: Run, in: Inputs, p: CocktailPipeline, wh: Path,
        wm: Path, expected: Expected, rowsBefore: Long, traced: Boolean,
        timed: Boolean): (Boolean, Double) = {
      val sc = spark.sparkContext
      val filesBefore = if (traced) dataFiles(wh) else Set.empty[Path]
      if (traced) {
        // a probe of the program's watermark state I/O, outside `run`
        val t = System.nanoTime()
        val w = Watermarks.read(wm.toString)
        Watermarks.write(in.dir.resolve("wm.probe").toString, w)
        run.sample("watermarks.io_s", (System.nanoTime() - t) / 1e9)
        sc.setJobGroup("run", "CocktailPipeline.run")
      }
      val c0 = cpuNanos()
      val w0 = System.currentTimeMillis()
      val t0 = System.nanoTime()
      val counts = run.spans("CocktailPipeline.run") { p.run(spark, wh.toString) }
      val runS = (System.nanoTime() - t0) / 1e9
      val runWindow = (w0, System.currentTimeMillis())
      val runCpuS = (cpuNanos() - c0) / 1e9
      if (traced) sc.setJobGroup("read", "owner read")
      val reads = (1 to Reads).map { _ =>
        val t1 = System.nanoTime()
        val read = run.spans("owner.read") { ownerRead(spark, wh, expected.today) }
        (read, (System.nanoTime() - t1) / 1e9)
      }
      val readS = median(reads.map(_._2))
      if (traced) sc.clearJobGroup()
      val ok = check(spark, run, wh, wm, expected, counts, reads.head._1) &&
        run.check("owner reads agree", reads.forall(_._1 == reads.head._1), reads.map(_._1).toString)
      if (timed) {
        run.sample(if (traced) "traced_op_s" else "op_s", runS)
        if (!traced) run.sample("run.cpu_s", runCpuS)
        if (!traced) reads.foreach(r => run.sample("read_s", r._2))
      }
      if (traced && timed)
        attribute(spark, run, wh, expected, counts, rowsBefore, filesBefore, runWindow, runS, readS)
      (ok, runS)
    }

    /** The owner's view: POTENTIAL ISSUE rows of the last seven days, per bar. */
    def ownerRead(spark: SparkSession, wh: Path, today: LocalDate): Map[String, Long] =
      spark.read.parquet(wh.resolve("poc_analysis").toString)
        .filter(col("comment") === "POTENTIAL ISSUE" &&
          col("dayOfSale") >= lit(java.sql.Date.valueOf(today.minusDays(6))))
        .groupBy("bar").count().collect()
        .map(r => r.getString(0) -> r.getLong(1)).toMap

    def check(spark: SparkSession, run: Run, wh: Path, wm: Path, e: Expected,
        counts: Map[String, Long], read: Map[String, Long]): Boolean = {
      val gs = spark.read.parquet(wh.resolve("global_sales").toString)
      val r = gs.agg(count(lit(1)), countDistinct("saleID"), min("saleID"), max("saleID")).first()
      val (n, distinct) = (r.getLong(0), r.getLong(1))
      val poc = spark.read.parquet(wh.resolve("poc_analysis").toString)
        .agg(sum("drinkCount")).first().get(0)
      Seq(
        run.check("global_sales rows", n == e.rows && counts("global_sales") == e.rows,
          s"$n stored, ${counts("global_sales")} reported, ${e.rows} expected"),
        run.check("saleID unique and contiguous", distinct == n &&
          (n == 0 || (r.getLong(2) == 0L && r.getLong(3) == n - 1)),
          s"$distinct distinct of $n, range ${r.get(2)}..${r.get(3)}"),
        run.check("watermarks", Watermarks.read(wm.toString) == e.watermarks,
          s"${Watermarks.read(wm.toString)} vs ${e.watermarks}"),
        run.check("poc drinkCount sum", poc == e.rows, s"$poc vs ${e.rows}"),
        run.check("cocktails rows", counts("cocktails") == e.dimensionRows,
          s"${counts("cocktails")} vs ${e.dimensionRows}"),
        run.check("owner read", read == e.ownerRead, s"$read vs ${e.ownerRead}")
      ).forall(identity)
    }

    /** Per-layer counters of one traced batch, from its Spark jobs. */
    def attribute(spark: SparkSession, run: Run, wh: Path, expected: Expected,
        counts: Map[String, Long], rowsBefore: Long, filesBefore: Set[Path],
        runWindow: (Long, Long), runS: Double, readS: Double): Unit = {
      drain(spark, run)
      val runJobs = run.jobs.group("run")
      val byPhase = runJobs.groupBy { case (j, _) => run.jobs.phase(j) }
      def phase(ps: String*) = ps.flatMap(p => byPhase.getOrElse(p, Nil))
      def tot(ps: String*) = JobTrace.totals(phase(ps: _*))
      val sales = tot("sales")
      val scanStages = phase("sales").flatMap(_._2).distinctBy(_.id).filter(_.m("input_records") > 0)
      val rowsKept = (counts("global_sales") - rowsBefore).toDouble
      // Spark's CSV scan counts only the rows that pass the pushed
      // watermark filter, so the rows parsed are the generated rows in the
      // share of feed bytes the scan read
      val bytesRead = scanStages.map(_.m("input_bytes")).sum
      val rowsParsed = expected.rows * bytesRead / expected.inputBytes
      val enrich = tot("enrich", "write.cocktails")
      val write = tot("write.bar_stock", "history", "readback", "schema")
      val written = tot("write.global_sales", "write.bar_stock", "write.cocktails", "write.poc_analysis")
      val poc = tot("write.poc_analysis")
      def sqlMetric(metric: String)(node: org.apache.spark.sql.execution.SparkPlanInfo => Boolean) =
        run.jobs.sqlMetric(runWindow._1, runWindow._2, metric)(node)
      // the search broadcasts the distinct sold terms as they are and joins
      // the catalog to them on a substring condition, the run's one
      // non-equi join
      val terms = sqlMetric("number of output rows")(n =>
        n.nodeName == "BroadcastExchange" && n.simpleString.contains("IdentityBroadcastMode"))
      val hits = sqlMetric("number of output rows")(_.nodeName == "BroadcastNestedLoopJoin")
      // the feed scans (the only CSV scans with a dateOfSale column)
      val filesRead = sqlMetric("number of files read")(n =>
        n.simpleString.startsWith("FileScan csv") && n.simpleString.contains("dateOfSale"))
      val m = Seq(
        "run.s" -> runS,
        "run.driver_s" -> (runS - JobTrace.totals(runJobs)("wall_s")),
        "read.s" -> readS,
        "sources.parse_s" -> scanStages.map(_.wallMs / 1e3).sum,
        "sources.files_read" -> filesRead,
        "sources.rows_parsed" -> rowsParsed,
        "sources.bytes_read" -> bytesRead,
        "watermarks.rows_kept" -> rowsKept,
        "watermarks.useful_ratio" -> (if (rowsParsed > 0) rowsKept / rowsParsed else 0.0),
        "sales.construct_s" -> sales("wall_s"),
        "sales.exec_s" -> tot("write.global_sales")("wall_s"),
        "sales.jobs" -> (sales("jobs") + tot("write.global_sales")("jobs")),
        "sales.task_cpu_s" -> (sales("task_cpu_s") + tot("write.global_sales")("task_cpu_s")),
        "enrich.s" -> enrich("wall_s"),
        "enrich.jobs" -> enrich("jobs"),
        "enrich.terms" -> terms,
        "enrich.hits" -> hits,
        "enrich.useful_ratio" -> (if (hits > 0) counts("cocktails") / hits else 0.0),
        "enrich.sales_rows_scanned" -> enrich("input_records"),
        "write.s" -> write("wall_s"),
        "write.jobs" -> write("jobs"),
        "write.bytes" -> written("output_bytes"),
        "write.files" -> (dataFiles(wh) -- filesBefore).size.toDouble,
        "write.readback_jobs" -> tot("readback")("jobs"),
        "write.schema_jobs" -> tot("schema")("jobs"),
        "write.history_rows_read" ->
          (JobTrace.totals(runJobs)("input_records") - scanStages.map(_.m("input_records")).sum),
        "poc.s" -> poc("wall_s"),
        "poc.jobs" -> poc("jobs"),
        "poc.rows_in" -> poc("input_records"),
        "poc.rows_out" -> counts("poc_analysis").toDouble)
      m.foreach { case (k, v) => run.sample(k, v); run.spans.count(k, v) }
      sparkTotals(run, runJobs ++ run.jobs.group("read"))
      run.jobs.clear()
    }

    /** Waits until the listener has seen every event posted so far: a
      * marker job's end arrives after them.
      */
    def drain(spark: SparkSession, run: Run): Unit = {
      spark.sparkContext.setJobGroup("marker", "marker")
      spark.sparkContext.parallelize(Seq(1), 1).count()
      spark.sparkContext.clearJobGroup()
      val deadline = System.nanoTime() + 10e9.toLong
      while (run.jobs.group("marker").forall(_._1.end == 0L) && System.nanoTime() < deadline)
        Thread.sleep(5)
      Thread.sleep(50)
    }

    /** Spark execution totals of one operation. */
    def sparkTotals(run: Run, js: Seq[(JobTrace#Job, Seq[JobTrace#Stage])]): Unit = {
      val all = JobTrace.totals(js)
      Seq(
        "spark.jobs" -> all("jobs"),
        "spark.stages" -> all("stages"),
        "spark.tasks" -> all("tasks"),
        "spark.task_run_s" -> all("task_run_s"),
        "spark.task_cpu_s" -> all("task_cpu_s"),
        "spark.cpu_ratio" -> (if (all("task_run_s") > 0) all("task_cpu_s") / all("task_run_s") else 0.0),
        "spark.shuffle_write_bytes" -> all("shuffle_write_bytes"),
        "spark.shuffle_read_bytes" -> all("shuffle_read_bytes"),
        "spark.spill_bytes" -> all("spill_bytes"),
        "spark.input_bytes" -> all("input_bytes"),
        "spark.output_bytes" -> all("output_bytes"),
        "spark.gc_s" -> all("gc_s")
      ).foreach { case (k, v) => run.sample(k, v); run.spans.count(k, v) }
    }
  }

  /** Medians of the per-layer samples and the tracing overhead. Layers a
    * workload does not exercise are left out here and reported as 0.
    */
  def layerMetrics(run: Run): Seq[(String, Double)] = {
    def med(k: String) = median(run.samples.getOrElse(k, mutable.ArrayBuffer.empty[Double]).toSeq)
    val layer = run.samples.keys.toSeq.filterNot(Set("op_s", "traced_op_s", "read_s"))
    layer.map(k => k -> med(k)) :+ ("trace.overhead_s" -> (med("traced_op_s") - med("op_s")))
  }

  // --- helpers ---------------------------------------------------------------

  /** CPU time of the whole JVM: driver, executor threads, JIT and GC. */
  def cpuNanos(): Long = java.lang.management.ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean].getProcessCpuTime

  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) Double.NaN
    else if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  def dataFiles(dir: Path): Set[Path] =
    if (!Files.exists(dir)) Set.empty
    else {
      val w = Files.walk(dir)
      try w.iterator().asScala.filter { p =>
        val n = p.getFileName.toString
        Files.isRegularFile(p) && !n.startsWith(".") && !n.startsWith("_")
      }.toSet finally w.close()
    }

  def treeBytes(dir: Path): Long = {
    val w = Files.walk(dir)
    try w.iterator().asScala.filter(Files.isRegularFile(_)).map(Files.size).sum finally w.close()
  }

  def copyTree(from: Path, to: Path): Unit = {
    val w = Files.walk(from)
    try w.iterator().asScala.foreach { p =>
      val t = to.resolve(from.relativize(p).toString)
      if (Files.isDirectory(p)) Files.createDirectories(t)
      else Files.copy(p, t, StandardCopyOption.COPY_ATTRIBUTES)
    } finally w.close()
  }

  def deleteTree(dir: Path): Unit = if (Files.exists(dir)) {
    val w = Files.walk(dir)
    try w.sorted(java.util.Comparator.reverseOrder()).forEach(p => Files.delete(p))
    finally w.close()
  }
}

/** Peak heap the JVM still holds after a full collection, sampled after
  * every operation (outside its timing). Heap seen after the collector's
  * own young collections depends on when they happen to run, so it is not
  * used. It is also sampled once after the one-time preparation, so every
  * timed operation starts after the same full collections.
  */
final class HeapWatch {
  private val mem = java.lang.management.ManagementFactory.getMemoryMXBean
  private var peak = 0L

  def sample(): Unit = {
    // the second collection frees the blocks Spark's cleaner released
    // after the first one made their RDDs unreachable
    System.gc()
    Thread.sleep(100)
    System.gc()
    peak = math.max(peak, mem.getHeapMemoryUsage.getUsed)
  }
  def peakMb: Double = peak / (1024.0 * 1024.0)
}
