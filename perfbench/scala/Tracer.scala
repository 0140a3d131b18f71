package graft.perfbench

import scala.collection.mutable

import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** Spark substrate observer for traced ops. Registered as both a
  * `SparkListener` (jobs, stages, tasks) and a `QueryExecutionListener`
  * (planning phases). While `enabled` is false every callback returns at
  * once, so untraced ops run with the same listeners attached.
  *
  * The harness drains the listener bus after each op and calls [[take]],
  * which hands over everything observed since the previous call: ops
  * run one at a time, so all of it belongs to that op.
  */
final class Tracer extends SparkListener with QueryExecutionListener {
  @volatile var enabled = false

  final class Stage(val id: Int, val name: String) {
    var submitMs = -1L
    var firstLaunchMs = -1L
    var endMs = -1L
    var tasks = 0
    var failedTasks = 0
    var taskMs = 0L
    var cpuNs = 0L
    var gcMs = 0L
    var inputBytes = 0L
    var inputRecords = 0L
    var shuffleWrite = 0L
    var shuffleRead = 0L
    var spill = 0L
  }

  final case class Job(id: Int, group: String, callSite: String,
      startMs: Long, stageIds: Seq[Int]) {
    var endMs = -1L
  }

  final case class Observed(jobs: Seq[Job], stages: Seq[Stage], planMs: Long,
      plans: Int)

  private val jobs = mutable.LinkedHashMap.empty[Int, Job]
  private val stages = mutable.LinkedHashMap.empty[Int, Stage]
  private var planMs = 0L
  private var plans = 0

  def take(): Observed = synchronized {
    val o = Observed(jobs.values.toSeq, stages.values.toSeq, planMs, plans)
    jobs.clear(); stages.clear(); planMs = 0L; plans = 0
    o
  }

  private def stage(info: StageInfo): Stage =
    stages.getOrElseUpdate(info.stageId, new Stage(info.stageId, info.name))

  override def onJobStart(e: SparkListenerJobStart): Unit = if (enabled)
    synchronized {
      val p = e.properties
      def prop(k: String) = Option(p).flatMap(x => Option(x.getProperty(k)))
        .getOrElse("")
      // the final stage is named after the job's call site
      val site = e.stageInfos.sortBy(_.stageId).lastOption.map(_.name)
        .getOrElse("")
      jobs(e.jobId) = Job(e.jobId, prop("spark.jobGroup.id"), site, e.time,
        e.stageIds)
    }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = if (enabled)
    synchronized { jobs.get(e.jobId).foreach(_.endMs = e.time) }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
    if (enabled) synchronized {
      stage(e.stageInfo).submitMs =
        e.stageInfo.submissionTime.getOrElse(System.currentTimeMillis())
    }

  override def onTaskStart(e: SparkListenerTaskStart): Unit = if (enabled)
    synchronized {
      val s = stages.getOrElseUpdate(e.stageId, new Stage(e.stageId, ""))
      val t = e.taskInfo.launchTime
      if (s.firstLaunchMs < 0 || t < s.firstLaunchMs) s.firstLaunchMs = t
    }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = if (enabled)
    synchronized {
      val s = stages.getOrElseUpdate(e.stageId, new Stage(e.stageId, ""))
      s.tasks += 1
      if (!e.taskInfo.successful) s.failedTasks += 1
      val m = e.taskMetrics
      if (m != null) {
        s.taskMs += m.executorRunTime
        s.cpuNs += m.executorCpuTime
        s.gcMs += m.jvmGCTime
        s.inputBytes += m.inputMetrics.bytesRead
        s.inputRecords += m.inputMetrics.recordsRead
        s.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
        s.shuffleRead += m.shuffleReadMetrics.totalBytesRead
        s.spill += m.memoryBytesSpilled + m.diskBytesSpilled
      }
    }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    if (enabled) synchronized {
      val info = e.stageInfo
      val s = stage(info)
      s.endMs = info.completionTime.getOrElse(System.currentTimeMillis())
      if (s.submitMs < 0) s.submitMs = info.submissionTime.getOrElse(s.endMs)
    }

  override def onSuccess(funcName: String, qe: QueryExecution,
      durationNs: Long): Unit = if (enabled) synchronized {
    planMs += qe.tracker.phases.values.map(_.durationMs).sum
    plans += 1
  }

  override def onFailure(funcName: String, qe: QueryExecution,
      exception: Exception): Unit = if (enabled) synchronized {
    planMs += qe.tracker.phases.values.map(_.durationMs).sum
    plans += 1
  }
}

/** One traced interval: op → call/action/gather → job → stage. */
final case class Span(id: String, parent: String, kind: String, name: String,
    startMs: Long, endMs: Long) {
  def ms: Long = math.max(0L, endMs - startMs)
}

object Span {
  /** Length of the union of `xs` clipped to [lo, hi]. */
  def covered(xs: Seq[(Long, Long)], lo: Long, hi: Long): Long = {
    val clipped = xs.map { case (a, b) => (math.max(a, lo), math.min(b, hi)) }
      .filter { case (a, b) => b > a }.sortBy(_._1)
    var total = 0L
    var curA = -1L
    var curB = -1L
    clipped.foreach { case (a, b) =>
      if (curB < 0 || a > curB) {
        if (curB >= 0) total += curB - curA
        curA = a; curB = b
      } else curB = math.max(curB, b)
    }
    if (curB >= 0) total += curB - curA
    total
  }

  /** Self time per span: its length minus the part its children cover. */
  def selfMs(spans: Seq[Span]): Map[String, Long] = {
    val kids = spans.groupBy(_.parent)
    spans.map { s =>
      val c = kids.getOrElse(s.id, Nil).map(k => (k.startMs, k.endMs))
      s.id -> (s.ms - covered(c, s.startMs, s.endMs))
    }.toMap
  }
}
