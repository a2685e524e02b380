package perfbench

import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

import scala.collection.mutable

/** Executor-side totals of the Spark jobs run under one job group. */
final class ExecTotals {
  val jobIntervals = mutable.ArrayBuffer[(Long, Long)]()
  var jobs = 0L
  var stages = 0L
  var tasks = 0L
  var taskRunMs = 0L
  var taskCpuNs = 0L
  var gcMs = 0L
  var inputBytes = 0L
  var inputRecords = 0L
  var shuffleReadBytes = 0L
  var shuffleWriteBytes = 0L
  var spillBytes = 0L

  /** Wall time during which at least one of the group's jobs ran. */
  def jobMs: Long = Stats.unionLength(jobIntervals.toSeq)
}

/** Collects task metrics per job group. The benchmark gives each operation
  * its own group, so [[take]] returns exactly the work that operation
  * caused. Jobs started without a group land under [[Unscoped]]. */
final class GroupListener extends SparkListener {
  private val jobStart = mutable.Map[Int, (String, Long)]()
  private val stageGroup = mutable.Map[Int, String]()
  private val totals = mutable.Map[String, ExecTotals]()

  private def acc(g: String) = totals.getOrElseUpdate(g, new ExecTotals)

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val g = Option(e.properties)
      .flatMap(p => Option(p.getProperty(GroupListener.GroupKey)))
      .getOrElse(GroupListener.Unscoped)
    jobStart(e.jobId) = (g, e.time)
    e.stageIds.foreach(stageGroup(_) = g)
    acc(g).jobs += 1
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobStart.remove(e.jobId).foreach { case (g, t0) =>
      acc(g).jobIntervals += ((t0, e.time))
    }
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    acc(stageGroup.getOrElse(e.stageInfo.stageId, GroupListener.Unscoped)).stages += 1
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val m = e.taskMetrics
    if (m != null) {
      val a = acc(stageGroup.getOrElse(e.stageId, GroupListener.Unscoped))
      a.tasks += 1
      a.taskRunMs += m.executorRunTime
      a.taskCpuNs += m.executorCpuTime
      a.gcMs += m.jvmGCTime
      a.inputBytes += m.inputMetrics.bytesRead
      a.inputRecords += m.inputMetrics.recordsRead
      a.shuffleReadBytes += m.shuffleReadMetrics.totalBytesRead
      a.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
      a.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
    }
  }

  /** Removes and returns the totals recorded for `group`. Call after the
    * listener bus has drained ([[org.apache.spark.PerfbenchBus.drain]]). */
  def take(group: String): ExecTotals = synchronized {
    totals.remove(group).getOrElse(new ExecTotals)
  }
}

object GroupListener {
  /** Local property SparkContext.setJobGroup sets on every job it launches. */
  val GroupKey = "spark.jobGroup.id"
  val Unscoped = "<none>"
}

/** Catalyst phase times of every query execution that finished since the
  * last [[take]] (analysis, optimization and physical planning, from each
  * execution's QueryPlanningTracker). */
final class PhaseListener extends QueryExecutionListener {
  private val phases = mutable.Map[String, Long]().withDefaultValue(0L)

  private def record(qe: QueryExecution): Unit = synchronized {
    qe.tracker.phases.foreach { case (k, v) => phases(k) += v.durationMs }
  }

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    record(qe)
  override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit =
    record(qe)

  /** Phase -> milliseconds since the previous call. */
  def take(): Map[String, Long] = synchronized {
    val r = phases.toMap
    phases.clear()
    r
  }
}
