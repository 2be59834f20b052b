package graft.tools

import java.nio.file.{Files, Path, Paths}
import java.util.UUID
import java.util.concurrent.{ConcurrentHashMap, CountDownLatch, Phaser, TimeUnit}
import java.util.concurrent.atomic.AtomicInteger

import scala.jdk.CollectionConverters._

import graft.{GraftSession, PlanAudit, PlanShape, SparkEntry}
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerTaskEnd}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.FormattedMode
import org.apache.spark.sql.streaming.StreamingQueryListener

/** Diagnostics for registered queries over `SPARK_GRAFT_SF_DIR` (default sf0.1):
  *
  *   plan — the `FormattedMode` plan, its `PlanShape` (one `fact<TAB>count` line each),
  *          and every broadcast build side that `PlanAudit.unboundedCorpusBroadcasts`
  *          flags; `--out <dir>` writes `<dir>/<q>.txt`.
  *   time — one warm-up, then three reps split into construct (driver jobs the query fn
  *          runs), plan and exec seconds; then the three reps' jobs, stages, tasks, task
  *          run and CPU seconds, the top 5 stages by CPU, and the per-trigger
  *          `durationMs`, summed per key, of every stream the query starts.
  *
  * Usage: runMain graft.tools.Inspect <plan|time> <q…> [--out <dir>]
  */
object Inspect {

  final case class Stage(id: Int, name: String, tasks: Int, runMs: Long, cpuNs: Long)

  /** What the jobs of one `collect` scope ran. `streamMs` sums
    * `StreamingQueryProgress.durationMs` per key over `triggers`. */
  final case class Counts(jobs: Int, stages: Seq[Stage], streamMs: Map[String, Long], triggers: Int) {
    def tasks: Int = stages.map(_.tasks).sum
    def taskRunS: Double = stages.map(_.runMs).sum / 1e3
    def taskCpuS: Double = stages.map(_.cpuNs).sum / 1e9
  }

  private val ScopeKey = "graft.inspect.scope"

  /** Runs `body`, counting the jobs it launches, their tasks and the progress of every
    * stream started inside it. The scope is a local property, not the job group, which a
    * stream swaps for its run id while keeping the rest. The listener bus delivers events
    * in order, so once a marker job launched after `body` is seen, every job of `body`
    * was counted; a stream's progress is complete once its termination arrives. */
  def collect[A](spark: SparkSession)(body: => A): (A, Counts) = {
    val sc = spark.sparkContext
    val scope = s"inspect-${UUID.randomUUID()}"
    val stages = new ConcurrentHashMap[Int, Stage]
    val streamMs = new ConcurrentHashMap[String, Long]
    val runIds = ConcurrentHashMap.newKeySet[UUID]
    val jobs = new AtomicInteger; val triggers = new AtomicInteger
    val markerSeen = new CountDownLatch(1); val streamsOpen = new Phaser(1)
    val jobListener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        Option(e.properties).map(_.getProperty(ScopeKey)).orNull match {
          case `scope` =>
            jobs.incrementAndGet()
            e.stageInfos.foreach(i => stages.putIfAbsent(i.stageId, Stage(i.stageId, i.name, 0, 0, 0)))
          case s if s == scope + "-marker" => markerSeen.countDown()
          case _ =>
        }
      override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
        if (e.taskMetrics != null) stages.computeIfPresent(e.stageId, (_, s) =>
          s.copy(tasks = s.tasks + 1, runMs = s.runMs + e.taskMetrics.executorRunTime,
            cpuNs = s.cpuNs + e.taskMetrics.executorCpuTime))
    }
    val streamListener = new StreamingQueryListener {
      // delivered synchronously on the stream's own thread, before its first job
      override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit =
        if (sc.getLocalProperty(ScopeKey) == scope) { streamsOpen.register(); runIds.add(e.runId) }
      override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
        if (runIds.contains(e.progress.runId)) {
          triggers.incrementAndGet()
          e.progress.durationMs.forEach((k, v) => streamMs.merge(k, v, _ + _))
        }
      override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit =
        if (runIds.remove(e.runId)) streamsOpen.arriveAndDeregister()
    }
    sc.addSparkListener(jobListener); spark.streams.addListener(streamListener)
    try {
      sc.setLocalProperty(ScopeKey, scope)
      val out = try body finally sc.setLocalProperty(ScopeKey, null)
      sc.setLocalProperty(ScopeKey, scope + "-marker")
      try sc.parallelize(Seq(1), 1).count() finally sc.setLocalProperty(ScopeKey, null)
      require(markerSeen.await(30, TimeUnit.SECONDS), "listener bus did not drain in 30 s")
      streamsOpen.awaitAdvanceInterruptibly(streamsOpen.arrive(), 30, TimeUnit.SECONDS)
      // a job's skipped stages (shuffle output reused) run no tasks
      (out, Counts(jobs.get, stages.values.asScala.toSeq.filter(_.tasks > 0).sortBy(_.id),
        streamMs.asScala.toMap, triggers.get))
    } finally { sc.removeSparkListener(jobListener); spark.streams.removeListener(streamListener) }
  }

  def plan(spark: SparkSession, sfDir: String, names: Seq[String], out: Option[Path]): Unit =
    names.foreach { n =>
      val qe = SparkEntry.queries(n)(spark, sfDir).queryExecution
      val sb = new StringBuilder(qe.explainString(FormattedMode))
      sb ++= "\n=== plan shape ===\n"
      PlanShape.of(qe.executedPlan).foreach { case (f, c) => sb ++= s"$f\t$c\n" }
      sb ++= "=== unbounded corpus broadcasts ===\n"
      PlanAudit.unboundedCorpusBroadcasts(qe.optimizedPlan).foreach { b =>
        sb ++= b.treeString.linesIterator.take(12).mkString("", "\n", "\n-----\n")
      }
      out.fold(println(s"===== $n =====\n${sb.result()}")) { dir =>
        val f = Files.writeString(Files.createDirectories(dir).resolve(s"$n.txt"), sb)
        println(s"[inspect] wrote $f")
      }
    }

  def time(spark: SparkSession, sfDir: String, names: Seq[String]): Unit =
    names.foreach { n =>
      val fn = SparkEntry.queries(n)
      fn(spark, sfDir).queryExecution.toRdd.count() // warm-up: artifact builds, codegen
      val (_, c) = collect(spark) {
        (1 to 3).foreach { i =>
          val t0 = System.nanoTime(); val qe = fn(spark, sfDir).queryExecution
          val t1 = System.nanoTime(); qe.executedPlan // analysis + optimization + physical planning
          val t2 = System.nanoTime(); qe.toRdd.count()
          val t3 = System.nanoTime()
          println(f"TIME $n rep$i construct=${(t1 - t0) / 1e9}%.3f plan=${(t2 - t1) / 1e9}%.3f " +
            f"exec=${(t3 - t2) / 1e9}%.3f")
        }
      }
      println(f"COUNTS $n reps=3 jobs=${c.jobs} stages=${c.stages.size} tasks=${c.tasks} " +
        f"task_run_s=${c.taskRunS}%.3f task_cpu_s=${c.taskCpuS}%.3f")
      c.stages.sortBy(-_.cpuNs).take(5).foreach { s =>
        println(f"  STAGE ${s.id}%5d tasks=${s.tasks}%4d cpu_s=${s.cpuNs / 1e9}%7.3f " +
          f"run_s=${s.runMs / 1e3}%7.3f  ${s.name.take(80)}")
      }
      if (c.triggers > 0) println(s"STREAM $n triggers=${c.triggers} " +
        c.streamMs.toSeq.sorted.map { case (k, v) => s"${k}_ms=$v" }.mkString(" "))
    }

  def main(args: Array[String]): Unit = {
    val (pre, post) = args.toSeq.span(_ != "--out")
    val names = pre.drop(1)
    val unknown = names.filterNot(SparkEntry.queries.contains)
    if (!pre.headOption.exists(Set("plan", "time")) || names.isEmpty || unknown.nonEmpty ||
        !Set(0, 2)(post.size)) {
      System.err.println(s"usage: Inspect <plan|time> <q…> [--out <dir>]\nunknown: " +
        s"${unknown.mkString(" ")}\nqueries: ${SparkEntry.queries.keys.toSeq.sorted.mkString(" ")}")
      sys.exit(2)
    }
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = GraftSession.get()
    try {
      if (pre.head == "plan") plan(spark, sfDir, names, post.drop(1).headOption.map(Paths.get(_)))
      else time(spark, sfDir, names)
    } finally spark.stop()
  }
}
