package graft

import java.nio.file.Files

import graft.tools.Inspect

class InspectSpec extends SparkSpec {
  private val d = "/root/testdata/sf0.001"

  private def captured(body: => Unit): String = {
    val buf = new java.io.ByteArrayOutputStream
    Console.withOut(buf)(body)
    buf.toString("UTF-8")
  }

  test("plan --out writes the formatted plan, the plan shape and the broadcast audit") {
    val dir = Files.createTempDirectory("graft-inspect")
    Inspect.plan(spark, d, Seq("q17_poc_analysis"), Some(dir))
    val txt = Files.readString(dir.resolve("q17_poc_analysis.txt"))
    assert(txt.startsWith("== Physical Plan =="))
    assert(txt.contains("=== plan shape ===\n"))
    // the shape is read after EnsureRequirements, so q17's exchanges show
    assert(txt.contains("exchange broadcast "))
    assert(txt.contains("\nscan lineitem.parquet pushed="))
    assert(txt.contains("=== unbounded corpus broadcasts ===\n"))
  }

  test("time prints three construct/plan/exec reps and the reps' job counts") {
    val out = captured(Inspect.time(spark, d, Seq("q17_poc_analysis")))
    val reps = """TIME q17_poc_analysis rep(\d) construct=\S+ plan=\S+ exec=\S+""".r
      .findAllMatchIn(out).map(_.group(1)).toSeq
    assert(reps == Seq("1", "2", "3"), out)
    val jobs = """COUNTS q17_poc_analysis reps=3 jobs=(\d+) stages=(\d+) tasks=(\d+)""".r
      .findFirstMatchIn(out).getOrElse(fail(out))
    assert(jobs.group(1).toInt >= 3 && jobs.group(3).toInt >= jobs.group(2).toInt, out)
    assert(out.contains("  STAGE "), out)
  }

  test("collect counts the jobs and per-trigger progress of a stream started inside it") {
    val (_, c) = Inspect.collect(spark)(
      SparkEntry.queries("q147_streaming_poc")(spark, d).queryExecution.toRdd.count())
    // q147 runs its data trigger and the no-data trigger that emits the closed days
    assert(c.triggers == 2, c)
    assert(Seq("addBatch", "walCommit", "triggerExecution").forall(c.streamMs.contains), c)
    assert(c.jobs > 0 && c.tasks > 0 && c.taskCpuS > 0, c)
    // micro-batch stages carry the call site of the stream's start()
    assert(c.stages.exists(_.name.startsWith("start at ")), c.stages.map(_.name))
  }

  test("a second pass of q17, q56 and q147 compiles no generated class") {
    // the counter is live: a fresh literal is fresh generated code
    val (_, fresh) = Inspect.collect(spark)(spark.range(4).selectExpr(s"id + ${System.nanoTime}").collect())
    assert(fresh.compiles > 0, fresh)
    // AQE numbers codegen stages in the order their inputs finish, which varies from run
    // to run, so the same stage code can come back under another class name (q17 and q56
    // then compile 4 classes again, once per new order); without AQE a pass repeats its code
    val aqe = "spark.sql.adaptive.enabled"
    val prev = spark.conf.get(aqe)
    spark.conf.set(aqe, "false")
    try {
      def pass() = Seq("q17_poc_analysis", "q56_dedup_clusters", "q147_streaming_poc").map { q =>
        q -> Inspect.collect(spark)(SparkEntry.queries(q)(spark, d).collect())._2.compiles
      }
      pass()
      // with Spark's defaults in place of GraftSession.warmPassConf, the second pass
      // compiled 21, 52 and 120 classes
      val warm = pass()
      assert(warm.forall(_._2 == 0), warm)
    } finally spark.conf.set(aqe, prev)
  }

  test("a warm build of a checkpoint-free query launches only its footer-inference jobs") {
    // one query per operator file whose rollup localCheckpoints were deleted, and q129,
    // whose min-label rounds lost theirs: under AQE a checkpoint runs its input's shuffle
    // stages while the query is built, so putting one back adds a construction job here;
    // the footer reads are Tables.load's schema inference
    val qs = Seq("q282_curriculum_mixture", "q345_label_propagation", "q369_cusum_drift",
      "q357_shuffle_partition_advisor", "q359_repetition_budget", "q333_intrinsic_dim",
      "q363_entropy_rate", "q129_cluster_canonical")
    val warm = qs.map { q =>
      def build() = Inspect.collect(spark)(SparkEntry.queries(q)(spark, d))._2
      build()
      q -> build()
    }
    val extra = warm.collect {
      case (q, c) if c.jobs != c.stages.size ||
          !c.stages.forall(_.name.startsWith("parquet at Tables.scala")) => q -> c.stages.map(_.name)
    }
    assert(extra.isEmpty, extra)
  }

  test("a warm run of q147 and q56 launches no job that rebuilds what the first run holds") {
    def jobs(q: String) = Inspect.collect(spark)(SparkEntry.queries(q)(spark, d).collect())._2.jobs
    val warm = Seq("q147_streaming_poc", "q56_dedup_clusters").map { q => jobs(q); q -> jobs(q) }
    // the parent of the pinned snapshots and the contraction ran 17 and 22: q147 rebuilt
    // bar_stock and cocktails inside its first micro-batch, and q56 ran a potential job
    // and 3 min-label rounds instead of 2
    assert(warm == Seq("q147_streaming_poc" -> 7, "q56_dedup_clusters" -> 16), warm)
  }

  test("repeated q147 runs leave no memory-sink view in the session catalog") {
    val rows = (1 to 3).map(_ => SparkEntry.queries("q147_streaming_poc")(spark, d).count())
    // the resolved result keeps its rows after its view is dropped
    assert(rows.forall(_ > 0) && rows.distinct.size == 1, rows)
    val sinks = spark.catalog.listTables().collect().map(_.name).filter(_.startsWith("poc_stream_"))
    assert(sinks.isEmpty, sinks.toSeq)
  }
}
