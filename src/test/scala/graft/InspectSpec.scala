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
    // q147 runs at least a data trigger and a sentinel trigger
    assert(c.triggers >= 2, c)
    assert(Seq("addBatch", "walCommit", "triggerExecution").forall(c.streamMs.contains), c)
    assert(c.jobs > 0 && c.tasks > 0 && c.taskCpuS > 0, c)
    // micro-batch stages carry the call site of the stream's start()
    assert(c.stages.exists(_.name.startsWith("start at ")), c.stages.map(_.name))
  }
}
