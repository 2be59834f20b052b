package perfbench

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.SparkPlanInfo
import org.apache.spark.sql.execution.ui.{SparkListenerDriverAccumUpdates,
  SparkListenerSQLAdaptiveExecutionUpdate, SparkListenerSQLExecutionStart}
import org.apache.spark.sql.streaming.StreamingQueryListener

/** Spans recorded around the benchmark's calls into the program, kept in
  * memory and written once at exit.
  */
final class Spans {
  final case class Span(id: Int, name: String, parent: Int, start: Long, var end: Long,
      counters: mutable.LinkedHashMap[String, Double])
  private val spans = mutable.ArrayBuffer.empty[Span]
  private var stack: List[Int] = Nil

  def apply[A](name: String)(body: => A): A = {
    val s = Span(spans.size, name, stack.headOption.getOrElse(-1), System.nanoTime(), 0L,
      mutable.LinkedHashMap.empty)
    spans += s
    stack = s.id :: stack
    try body finally { s.end = System.nanoTime(); stack = stack.tail }
  }

  def count(name: String, v: Double): Unit =
    stack.headOption.foreach(i => spans(i).counters(name) = v)

  def toJson: String = spans.map { s =>
    val cs = s.counters.map { case (k, v) => s""""$k":$v""" }.mkString(",")
    s"""{"id":${s.id},"name":"${s.name}","parent":${s.parent},"start_ns":${s.start},""" +
      s""""end_ns":${s.end},"counters":{$cs}}"""
  }.mkString("[\n", ",\n", "\n]\n")
}

/** Spark's own job, stage and task metrics, keyed on the job group the
  * benchmark sets around each call. Within a call, a job is attributed to a
  * pipeline phase by the table its SQL execution writes, or else by the
  * methods on its call site. It also keeps the SQL metrics of every plan
  * node (rows out, files read), from the plans the executions announce and
  * the accumulator values their stages and the driver report.
  */
final class JobTrace extends SparkListener {
  final case class Stage(id: Int, tasks: Int, wallMs: Long, m: Map[String, Double])
  final case class Job(id: Int, group: String, execId: Long, site: String,
      start: Long, var end: Long, stageIds: Seq[Int])

  private val jobs = mutable.LinkedHashMap.empty[Int, Job]
  private val stages = mutable.HashMap.empty[Int, Stage]
  /** SQL execution id -> (action call site, physical plan). */
  private val plans = mutable.HashMap.empty[Long, (String, String)]
  /** SQL execution id -> start time (ms). */
  private val execStart = mutable.HashMap.empty[Long, Long]
  /** SQL metric accumulator id -> (execution id, plan node, metric name). */
  private val sqlMetrics = mutable.HashMap.empty[Long, (Long, SparkPlanInfo, String)]
  /** Accumulator id -> value summed over the stages and driver updates. */
  private val accums = mutable.HashMap.empty[Long, Double].withDefaultValue(0.0)

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val p = e.properties
    def prop(k: String) = Option(p).flatMap(x => Option(x.getProperty(k)))
    val site = e.stageInfos.map(_.details).mkString("\n")
    jobs(e.jobId) = Job(e.jobId, prop("spark.jobGroup.id").getOrElse(""),
      prop("spark.sql.execution.id").map(_.toLong).getOrElse(-1L), site, e.time, e.time,
      e.stageInfos.map(_.stageId))
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobs.get(e.jobId).foreach(_.end = e.time)
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    val i = e.stageInfo
    i.accumulables.values.foreach { a =>
      a.value.collect { case v: java.lang.Long => accums(a.id) += v.doubleValue }
    }
    val t = i.taskMetrics
    if (t != null) {
      val wall = (for (s <- i.submissionTime; c <- i.completionTime) yield c - s).getOrElse(0L)
      stages(i.stageId) = Stage(i.stageId, i.numTasks, wall, Map(
        "task_run_s" -> t.executorRunTime / 1e3,
        "task_cpu_s" -> t.executorCpuTime / 1e9,
        "gc_s" -> t.jvmGCTime / 1e3,
        "input_bytes" -> t.inputMetrics.bytesRead.toDouble,
        "input_records" -> t.inputMetrics.recordsRead.toDouble,
        "output_bytes" -> t.outputMetrics.bytesWritten.toDouble,
        "output_records" -> t.outputMetrics.recordsWritten.toDouble,
        "shuffle_read_bytes" -> t.shuffleReadMetrics.totalBytesRead.toDouble,
        "shuffle_write_bytes" -> t.shuffleWriteMetrics.bytesWritten.toDouble,
        "spill_bytes" -> (t.memoryBytesSpilled + t.diskBytesSpilled).toDouble))
    }
  }

  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case s: SparkListenerSQLExecutionStart => synchronized {
      plans(s.executionId) = (s.details, s.physicalPlanDescription)
      execStart(s.executionId) = s.time
      addNodes(s.executionId, s.sparkPlanInfo)
    }
    case u: SparkListenerSQLAdaptiveExecutionUpdate =>
      synchronized { addNodes(u.executionId, u.sparkPlanInfo) }
    case d: SparkListenerDriverAccumUpdates =>
      synchronized { d.accumUpdates.foreach { case (id, v) => accums(id) += v.toDouble } }
    case _ =>
  }

  private def addNodes(exec: Long, n: SparkPlanInfo): Unit = {
    n.metrics.foreach(m => sqlMetrics(m.accumulatorId) = (exec, n, m.name))
    n.children.foreach(addNodes(exec, _))
  }

  /** Sum of one SQL metric over the plan nodes that `node` accepts, in the
    * executions started between `from` and `until` (epoch ms). Some
    * executions, such as a checkpoint's scan, run jobs that carry no
    * execution id of their own, so executions are chosen by time.
    */
  def sqlMetric(from: Long, until: Long, metric: String)(node: SparkPlanInfo => Boolean): Double =
    synchronized {
      def in(e: Long) = execStart.get(e).exists(t => t >= from && t <= until)
      sqlMetrics.collect { case (id, (e, n, m)) if m == metric && in(e) && node(n) => accums(id) }.sum
    }

  /** Phase of one job inside a `CocktailPipeline.run` call. Adaptive
    * execution submits a query's jobs from its own threads, so a SQL job's
    * call site is the one its execution recorded for the action.
    */
  def phase(j: Job): String = {
    val (site, plan) = synchronized { plans.getOrElse(j.execId, (j.site, "")) }
    JobTrace.Insert.findFirstMatchIn(plan) match {
      case Some(m) => "write." + m.group(1)
      case None =>
        if (site.contains("CocktailSource")) "enrich"
        else if (site.contains("CocktailPipeline.sales")) "sales"
        else if (plan.contains("max(saleID")) "history"
        else if (j.execId < 0) "schema" // footer reads behind spark.read.parquet
        else "readback"
    }
  }

  /** Jobs of one group, with their stages. */
  def group(g: String): Seq[(Job, Seq[Stage])] = synchronized {
    jobs.values.filter(_.group == g).toSeq.map(j => j -> j.stageIds.flatMap(stages.get))
  }

  /** Every job seen since the last `clear`, with its stages. */
  def all: Seq[(Job, Seq[Stage])] = synchronized {
    jobs.values.toSeq.map(j => j -> j.stageIds.flatMap(stages.get))
  }

  def clear(): Unit = synchronized {
    jobs.clear(); stages.clear(); plans.clear(); execStart.clear(); sqlMetrics.clear()
    accums.clear()
  }
}

object JobTrace {
  /** The table an insert writes: the last segment of its output path. */
  private val Insert = """(?s)InsertIntoHadoopFsRelationCommand.*?Arguments: [^,\s]*/(\w+),""".r

  /** Sums of stage metrics plus job, stage and task counts. */
  def totals(js: Seq[(JobTrace#Job, Seq[JobTrace#Stage])]): Map[String, Double] = {
    val ss = js.flatMap(_._2).distinctBy(_.id)
    val keys = Seq("task_run_s", "task_cpu_s", "gc_s", "input_bytes", "input_records",
      "output_bytes", "output_records", "shuffle_read_bytes", "shuffle_write_bytes",
      "spill_bytes")
    keys.map(k => k -> ss.map(_.m(k)).sum).toMap ++ Map(
      "jobs" -> js.size.toDouble,
      "stages" -> ss.size.toDouble,
      "tasks" -> ss.map(_.tasks).sum.toDouble,
      "wall_s" -> wall(js.map(_._1)))
  }

  /** Wall time the jobs cover: the union of their intervals, since a
    * query's broadcast jobs run beside its main job.
    */
  def wall(js: Seq[JobTrace#Job]): Double = {
    var covered = 0L; var until = Long.MinValue
    for (j <- js.sortBy(_.start)) {
      if (j.end > until) { covered += j.end - math.max(j.start, until); until = j.end }
    }
    covered / 1e3
  }
}

/** Trigger durations of streaming queries, from their progress events. */
final class StreamTrace extends StreamingQueryListener {
  private val progress = mutable.ArrayBuffer.empty[Map[String, Long]]
  private var terminated = 0

  override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
  override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = synchronized {
    progress += e.progress.durationMs.asScala.map { case (k, v) => k -> v.longValue }.toMap
  }
  override def onQueryIdle(e: StreamingQueryListener.QueryIdleEvent): Unit = ()
  override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit =
    synchronized { terminated += 1 }

  /** Waits until `n` queries have ended (their progress events arrive
    * before the end), then returns the trigger durations and clears them.
    */
  def drain(n: Int): Seq[Map[String, Long]] = {
    val deadline = System.nanoTime() + 10e9.toLong
    while (synchronized(terminated) < n && System.nanoTime() < deadline) Thread.sleep(5)
    synchronized {
      val out = progress.toSeq
      progress.clear(); terminated = 0
      out
    }
  }
}
