package perfbench

import org.apache.spark.Success
import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener
import scala.collection.mutable.ArrayBuffer

/** Cumulative Spark counters; a span's share is the difference of two
  * snapshots taken at its boundaries. */
final case class Counters(
    jobs: Long = 0, stages: Long = 0, tasks: Long = 0, failedTasks: Long = 0,
    executorRunMs: Long = 0, executorCpuMs: Double = 0, gcMs: Long = 0,
    resultBytes: Long = 0, shuffleWriteBytes: Long = 0, shuffleReadBytes: Long = 0,
    spillBytes: Long = 0, planningMs: Double = 0) {
  def -(o: Counters): Counters = Counters(
    jobs - o.jobs, stages - o.stages, tasks - o.tasks, failedTasks - o.failedTasks,
    executorRunMs - o.executorRunMs, executorCpuMs - o.executorCpuMs, gcMs - o.gcMs,
    resultBytes - o.resultBytes, shuffleWriteBytes - o.shuffleWriteBytes,
    shuffleReadBytes - o.shuffleReadBytes, spillBytes - o.spillBytes,
    planningMs - o.planningMs)
}

/** One SparkListener plus one QueryExecutionListener. Besides the counters it
  * keeps every finished task's [launch, finish] interval, so the time in a
  * window with no task running (driver-only time) can be computed. */
final class Recorder extends SparkListener with QueryExecutionListener {
  private var c = Counters()
  private val intervals = ArrayBuffer.empty[(Long, Long)]

  def snapshot: Counters = synchronized(c)

  /** Milliseconds of [t0, t1] (epoch ms) during which at least one task ran. */
  def busyMs(t0: Long, t1: Long): Long = {
    val clipped = synchronized(intervals.toArray)
      .map { case (a, b) => (math.max(a, t0), math.min(b, t1)) }
      .filter { case (a, b) => b > a }
      .sortBy(_._1)
    var busy = 0L; var curA = -1L; var curB = -1L
    clipped.foreach { case (a, b) =>
      if (a > curB) { if (curB > curA) busy += curB - curA; curA = a; curB = b }
      else curB = math.max(curB, b)
    }
    if (curB > curA) busy += curB - curA
    busy
  }

  override def onJobStart(e: SparkListenerJobStart): Unit =
    synchronized { c = c.copy(jobs = c.jobs + 1) }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
    synchronized { c = c.copy(stages = c.stages + 1) }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    intervals += ((e.taskInfo.launchTime, e.taskInfo.finishTime))
    val m = e.taskMetrics
    val failed = if (e.reason == Success) 0 else 1
    c = if (m == null) c.copy(tasks = c.tasks + 1, failedTasks = c.failedTasks + failed)
    else c.copy(
      tasks = c.tasks + 1, failedTasks = c.failedTasks + failed,
      executorRunMs = c.executorRunMs + m.executorRunTime,
      executorCpuMs = c.executorCpuMs + m.executorCpuTime / 1e6,
      gcMs = c.gcMs + m.jvmGCTime, resultBytes = c.resultBytes + m.resultSize,
      shuffleWriteBytes = c.shuffleWriteBytes + m.shuffleWriteMetrics.bytesWritten,
      shuffleReadBytes = c.shuffleReadBytes + m.shuffleReadMetrics.totalBytesRead,
      spillBytes = c.spillBytes + m.memoryBytesSpilled + m.diskBytesSpilled)
  }

  private def planned(qe: QueryExecution): Unit = {
    val ms = qe.tracker.phases.values.map(_.durationMs).sum
    synchronized { c = c.copy(planningMs = c.planningMs + ms) }
  }

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = planned(qe)
  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = planned(qe)
}
