package perfbench

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong
import scala.jdk.CollectionConverters._
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.exchange.{BroadcastExchangeLike, ShuffleExchangeLike}
import org.apache.spark.sql.util.QueryExecutionListener

/** One timed interval around a harness call into a layer. Times are epoch
  * milliseconds with a fractional part, so spans line up with the Spark
  * listener's job and task times. */
final case class Span(
    id: Long, parent: Long, name: String, qid: String,
    startMs: Double, endMs: Double) {
  def durMs: Double = endMs - startMs
}

/** In-memory span recorder. With `enabled` false, [[span]] only runs the
  * body, so the untraced pass pays nothing for it. */
final class Tracer(val enabled: Boolean) {
  private val ids = new AtomicLong(0)
  private val done = new ConcurrentLinkedQueue[Span]()
  private val stack = ThreadLocal.withInitial[List[Long]](() => Nil)
  // wall-clock anchor for nanoTime, so spans are monotonic yet comparable
  // with listener timestamps
  private val epochMs0 = System.currentTimeMillis().toDouble
  private val nano0 = System.nanoTime()

  def nowMs: Double = epochMs0 + (System.nanoTime() - nano0) / 1e6

  def span[T](name: String, qid: String)(body: => T): T =
    if (!enabled) body
    else {
      val id = ids.incrementAndGet()
      val parents = stack.get()
      stack.set(id :: parents)
      val t0 = nowMs
      try body
      finally {
        done.add(Span(id, parents.headOption.getOrElse(0L), name, qid, t0, nowMs))
        stack.set(parents)
      }
    }

  /** Record an interval measured elsewhere (for example on a client thread). */
  def record(name: String, qid: String, startMs: Double, endMs: Double, parent: Long = 0L): Unit =
    if (enabled) done.add(Span(ids.incrementAndGet(), parent, name, qid, startMs, endMs))

  def spans: Seq[Span] = done.asScala.toSeq.sortBy(s => (s.startMs, s.id))
}

object Trace {

  /** Length of the union of intervals, each clipped to [lo, hi]. */
  def covered(intervals: Seq[(Double, Double)], lo: Double, hi: Double): Double = {
    val clipped = intervals
      .map { case (a, b) => (math.max(a, lo), math.min(b, hi)) }
      .filter { case (a, b) => b > a }
      .sortBy(_._1)
    var total = 0.0
    var curA = Double.NaN
    var curB = Double.NaN
    clipped.foreach { case (a, b) =>
      if (curA.isNaN) { curA = a; curB = b }
      else if (a <= curB) curB = math.max(curB, b)
      else { total += curB - curA; curA = a; curB = b }
    }
    if (!curA.isNaN) total += curB - curA
    total
  }

  /** Self time of each span: its duration minus the part of it that its
    * child spans cover. */
  def selfTimes(spans: Seq[Span]): Map[Long, Double] = {
    val children = spans.groupBy(_.parent)
    spans.map { s =>
      val kids = children.getOrElse(s.id, Nil).map(c => (c.startMs, c.endMs))
      s.id -> (s.durMs - covered(kids, s.startMs, s.endMs))
    }.toMap
  }

  /** Median duration of the spans named `name`, as a `<name>_ms` metric. */
  def medianMs(spans: Seq[Span], name: String): Metric = {
    val d = spans.filter(_.name == name).map(_.durMs)
    Metric(name + "_ms", if (d.isEmpty) 0.0 else Stats.median(d), "ms", d.size)
  }

  def json(spans: Seq[Span]): String = {
    val self = selfTimes(spans)
    spans.map { s =>
      Fmt.obj(Seq(
        "id" -> s.id.toString, "parent" -> s.parent.toString,
        "name" -> Fmt.str(s.name), "qid" -> Fmt.str(s.qid),
        "start_ms" -> Fmt.num(s.startMs), "end_ms" -> Fmt.num(s.endMs),
        "self_ms" -> Fmt.num(self(s.id))))
    }.mkString("[\n", ",\n", "\n]")
  }
}

final case class JobRec(
    id: Int, group: String, callSite: String,
    startMs: Double, var endMs: Double = Double.NaN, var failed: Boolean = false,
    stages: Seq[Int] = Nil)

final case class TaskRec(
    stageId: Int, durMs: Double, runMs: Double, cpuMs: Double, gcMs: Double,
    shuffleRead: Long, shuffleWrite: Long, spill: Long, input: Long,
    outputBytes: Long, outputRecords: Long)

final case class PlanRec(
    analysisMs: Double, optimizationMs: Double, planningMs: Double, exchanges: Int)

/** Spark-side recorder: jobs, stages and tasks from a SparkListener, and
  * planning phases and exchange counts from a QueryExecutionListener. */
final class SparkRecorder extends SparkListener with QueryExecutionListener {
  val jobs = new java.util.concurrent.ConcurrentHashMap[Int, JobRec]()
  val tasks = new ConcurrentLinkedQueue[TaskRec]()
  val plans = new ConcurrentLinkedQueue[PlanRec]()

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val props = Option(e.properties)
    def prop(k: String) = props.flatMap(p => Option(p.getProperty(k)))
    jobs.put(e.jobId, JobRec(
      e.jobId, prop("spark.jobGroup.id").getOrElse(""),
      prop("callSite.short").getOrElse("?"), e.time.toDouble, stages = e.stageIds))
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    Option(jobs.get(e.jobId)).foreach { j =>
      j.endMs = e.time.toDouble
      j.failed = e.jobResult != JobSucceeded
    }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val m = e.taskMetrics
    if (m != null) tasks.add(TaskRec(
      e.stageId, e.taskInfo.duration.toDouble,
      m.executorRunTime.toDouble, m.executorCpuTime / 1e6, m.jvmGCTime.toDouble,
      m.shuffleReadMetrics.totalBytesRead, m.shuffleWriteMetrics.bytesWritten,
      m.memoryBytesSpilled + m.diskBytesSpilled, m.inputMetrics.bytesRead,
      m.outputMetrics.bytesWritten, m.outputMetrics.recordsWritten))
  }

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    plans.add(SparkRecorder.planRec(qe))

  override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = ()

  def jobList: Seq[JobRec] = jobs.values().asScala.toSeq.sortBy(_.id)

}

object SparkRecorder {
  private def walk(p: SparkPlan)(f: SparkPlan => Unit): Unit = p match {
    case a: AdaptiveSparkPlanExec => walk(a.executedPlan)(f)
    case s: QueryStageExec => walk(s.plan)(f)
    case node => f(node); node.children.foreach(walk(_)(f))
  }

  def exchanges(qe: QueryExecution): Int = {
    var n = 0
    try walk(qe.executedPlan) {
      case _: ShuffleExchangeLike | _: BroadcastExchangeLike => n += 1
      case _ => ()
    } catch { case _: Throwable => () }
    n
  }

  def phases(qe: QueryExecution): Map[String, Double] =
    qe.tracker.phases.map { case (k, v) => k -> v.durationMs.toDouble }

  def planRec(qe: QueryExecution): PlanRec = {
    val ph = phases(qe)
    PlanRec(ph.getOrElse("analysis", 0.0),
      ph.getOrElse("optimization", 0.0), ph.getOrElse("planning", 0.0), exchanges(qe))
  }

  /** Attach the recorder to a session. The listener bus delivers events
    * asynchronously; [[drain]] waits until everything before it arrived. */
  def attach(spark: SparkSession): SparkRecorder = {
    val r = new SparkRecorder
    spark.sparkContext.addSparkListener(r)
    spark.listenerManager.register(r)
    r
  }

  def detach(spark: SparkSession, r: SparkRecorder): Unit = {
    spark.sparkContext.removeSparkListener(r)
    spark.listenerManager.unregister(r)
  }

  /** Run a marker job and wait until the recorder has seen it end: events
    * are delivered in order, so every earlier event has then arrived. */
  def drain(spark: SparkSession, r: SparkRecorder): Unit = {
    val sc = spark.sparkContext
    val group = s"perfbench-drain-${System.nanoTime()}"
    sc.setJobGroup(group, "drain")
    try sc.parallelize(Seq(1), 1).count()
    finally sc.clearJobGroup()
    val deadline = System.currentTimeMillis() + 10000
    def seen = r.jobList.exists(j => j.group == group && !j.endMs.isNaN)
    while (!seen && System.currentTimeMillis() < deadline) Thread.sleep(5)
    // the marker itself is not part of the workload
    r.jobList.filter(_.group == group).foreach { j =>
      r.jobs.remove(j.id)
      r.tasks.removeIf(t => j.stages.contains(t.stageId))
    }
  }
}

/** Execution-, planning- and sink-layer figures of one traced pass, from
  * the recorder. */
object ExecLayer {
  def metrics(r: SparkRecorder, wallMs: Double, cores: Int): Seq[Metric] = {
    val jobs = r.jobList
    val tasks = r.tasks.asScala.toSeq
    val byStage = tasks.groupBy(_.stageId)
    val singleTaskJobs = jobs.count(j => j.stages.map(s => byStage.get(s).fold(0)(_.size)).sum <= 1)
    val skews = byStage.values.filter(_.size >= 2).map { ts =>
      val d = ts.map(_.durMs)
      d.max / math.max(Stats.median(d), 1.0)
    }.toSeq
    val runMs = tasks.map(_.runMs).sum
    Seq(
      Metric("exec.jobs", jobs.size.toDouble, "count"),
      Metric("exec.stages", byStage.size.toDouble, "count"),
      Metric("exec.tasks", tasks.size.toDouble, "count"),
      Metric("exec.single_task_job_ratio",
        if (jobs.isEmpty) 0.0 else singleTaskJobs.toDouble / jobs.size, "ratio", jobs.size),
      Metric("exec.executor_run_ms", runMs, "ms"),
      Metric("exec.executor_cpu_ms", tasks.map(_.cpuMs).sum, "ms"),
      Metric("exec.gc_ms", tasks.map(_.gcMs).sum, "ms"),
      Metric("exec.shuffle_read_bytes", tasks.map(_.shuffleRead).sum.toDouble, "bytes"),
      Metric("exec.shuffle_write_bytes", tasks.map(_.shuffleWrite).sum.toDouble, "bytes"),
      Metric("exec.spill_bytes", tasks.map(_.spill).sum.toDouble, "bytes"),
      Metric("exec.input_bytes", tasks.map(_.input).sum.toDouble, "bytes"),
      Metric("exec.task_skew", if (skews.isEmpty) 1.0 else Stats.median(skews), "ratio", skews.size),
      Metric("exec.core_busy_ratio", runMs / math.max(wallMs * cores, 1.0), "ratio"))
  }

  def catalyst(plans: Seq[PlanRec]): Seq[Metric] = Seq(
    Metric("catalyst.analysis_ms", plans.map(_.analysisMs).sum, "ms", plans.size),
    Metric("catalyst.optimization_ms", plans.map(_.optimizationMs).sum, "ms", plans.size),
    Metric("catalyst.planning_ms", plans.map(_.planningMs).sum, "ms", plans.size),
    Metric("catalyst.exchange_nodes", plans.map(_.exchanges).sum.toDouble, "count", plans.size))

  /** Tasks that wrote output rows: sink writes, lifecycle writes included. */
  def sinks(r: SparkRecorder): Seq[Metric] = {
    val w = r.tasks.asScala.toSeq.filter(_.outputRecords > 0)
    Seq(
      Metric("sinks.write_task_ms", w.map(_.runMs).sum, "ms"),
      Metric("sinks.bytes_written", w.map(_.outputBytes).sum.toDouble, "bytes"),
      Metric("sinks.files_written", w.size.toDouble, "count"))
  }

  /** Every recorder-derived layer metric of a traced pass. */
  def all(r: SparkRecorder, wallMs: Double, cores: Int): Seq[Metric] =
    catalyst(r.plans.asScala.toSeq) ++ metrics(r, wallMs, cores) ++ sinks(r)

  /** File name of a Spark call site such as `count at Graph.scala:412`. */
  def callSiteFile(site: String): String = {
    val at = site.lastIndexOf(" at ")
    val tail = if (at >= 0) site.substring(at + 4) else site
    tail.takeWhile(_ != ':')
  }
}
