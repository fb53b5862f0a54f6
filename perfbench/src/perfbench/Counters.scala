package perfbench

import java.util.concurrent.atomic.AtomicLong

import org.apache.spark.perfbench.ListenerBus
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart,
  SparkListenerStageCompleted, SparkListenerTaskEnd}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{FileSourceScanExec, QueryExecution,
  RangeExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.util.QueryExecutionListener

/** Scheduler and plan counts at one instant. `sourceRows` is the number of
  * rows that leaf generator sources (ranges and file scans) emitted in
  * finished DataFrame actions. */
final case class Counts(jobs: Long = 0, stages: Long = 0, tasks: Long = 0,
    taskMs: Long = 0, shuffleWriteBytes: Long = 0, spillBytes: Long = 0,
    tasksFailed: Long = 0, sourceRows: Long = 0) {
  def -(o: Counts): Counts = Counts(jobs - o.jobs, stages - o.stages,
    tasks - o.tasks, taskMs - o.taskMs, shuffleWriteBytes - o.shuffleWriteBytes,
    spillBytes - o.spillBytes, tasksFailed - o.tasksFailed,
    sourceRows - o.sourceRows)
  def taskS: Double = taskMs / 1000.0
}

/** A `SparkListener` plus a `QueryExecutionListener` that the harness
  * registers on the session it measures. Every read drains the listener
  * bus first, so a count never depends on how far event delivery lagged. */
final class Counters(spark: SparkSession) extends SparkListener
    with QueryExecutionListener {
  private val jobs, stages, tasks, taskMs, shuffleWrite, spill, failed,
    sourceRows = new AtomicLong

  spark.sparkContext.addSparkListener(this)
  spark.listenerManager.register(this)

  override def onJobStart(e: SparkListenerJobStart): Unit = jobs.incrementAndGet()

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    stages.incrementAndGet()

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    tasks.incrementAndGet()
    if (e.taskInfo != null && e.taskInfo.failed) failed.incrementAndGet()
    val m = e.taskMetrics
    if (m != null) {
      taskMs.addAndGet(m.executorRunTime)
      shuffleWrite.addAndGet(m.shuffleWriteMetrics.bytesWritten)
      spill.addAndGet(m.memoryBytesSpilled + m.diskBytesSpilled)
    }
  }

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    sourceRows.addAndGet(Counters.sourceRows(qe.executedPlan))

  override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = ()

  def snapshot(): Counts = {
    ListenerBus.drain(spark.sparkContext)
    Counts(jobs.get, stages.get, tasks.get, taskMs.get, shuffleWrite.get,
      spill.get, failed.get, sourceRows.get)
  }

  def close(): Unit = {
    spark.sparkContext.removeSparkListener(this)
    spark.listenerManager.unregister(this)
  }
}

object Counters extends AdaptiveSparkPlanHelper {
  /** Rows emitted by the leaf sources of an executed plan, walking into
    * adaptive query stages; a reused exchange is counted once. */
  def sourceRows(plan: SparkPlan): Long = {
    val seen = java.util.Collections.newSetFromMap(
      new java.util.IdentityHashMap[SparkPlan, java.lang.Boolean])
    collectWithSubqueries(plan) {
      case p @ (_: RangeExec | _: FileSourceScanExec) if seen.add(p) =>
        p.metrics.get("numOutputRows").map(_.value).getOrElse(0L)
    }.sum
  }
}
