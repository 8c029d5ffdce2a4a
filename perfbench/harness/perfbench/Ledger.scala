package perfbench

import java.util.concurrent.ConcurrentHashMap

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart,
  SparkListenerStageCompleted, SparkListenerTaskEnd}
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan,
  WholeStageCodegenExec}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.exchange.{BroadcastExchangeLike,
  ShuffleExchangeLike}
import org.apache.spark.sql.execution.joins.{BroadcastHashJoinExec,
  SortMergeJoinExec}
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** Counters fed by Spark's public listener interfaces. Listener events
  * arrive on the listener bus thread; the harness drains the bus at each
  * phase boundary and reads the totals with [[snapshot]], so a phase's
  * counts are the difference of two snapshots.
  */
final class Ledger extends SparkListener with QueryExecutionListener {
  private val sums = new ConcurrentHashMap[String, java.lang.Double]()

  private def add(key: String, v: Double): Unit =
    if (v != 0) sums.merge(key, v, (a, b) => a + b)

  def snapshot(): Map[String, Double] =
    sums.asScala.map { case (k, v) => k -> v.doubleValue }.toMap

  // --- scheduler: jobs, stages, tasks and their metrics ---------------
  override def onJobStart(e: SparkListenerJobStart): Unit = add("jobs", 1)

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    add("stages", 1)

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    add("tasks", 1)
    val m = e.taskMetrics
    if (m != null) {
      add("task_run_s", m.executorRunTime / 1e3)
      add("task_cpu_s", m.executorCpuTime / 1e9)
      add("gc_task_s", m.jvmGCTime / 1e3)
      add("input_rows", m.inputMetrics.recordsRead.toDouble)
      add("input_bytes", m.inputMetrics.bytesRead.toDouble)
      add("output_bytes", m.outputMetrics.bytesWritten.toDouble)
      add("shuffle_write_bytes", m.shuffleWriteMetrics.bytesWritten.toDouble)
      add("shuffle_records", m.shuffleWriteMetrics.recordsWritten.toDouble)
      add("shuffle_read_bytes", m.shuffleReadMetrics.totalBytesRead.toDouble)
      add("fetch_wait_s", m.shuffleReadMetrics.fetchWaitTime / 1e3)
      add("spill_mem_bytes", m.memoryBytesSpilled.toDouble)
      add("spill_disk_bytes", m.diskBytesSpilled.toDouble)
    }
  }

  // --- Catalyst: operator counts in each executed (final AQE) plan ----
  override def onSuccess(funcName: String, qe: QueryExecution,
                         durationNs: Long): Unit =
    Ledger.planCounts(qe.executedPlan).foreach { case (k, v) => add(k, v.toDouble) }

  override def onFailure(funcName: String, qe: QueryExecution,
                         exception: Exception): Unit = ()

  // --- structured streaming: micro-batch progress ---------------------
  val streaming: StreamingQueryListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
      val p = e.progress
      add("stream_batches", 1)
      val d = p.durationMs
      if (d.containsKey("addBatch")) add("stream_add_batch_s", d.get("addBatch") / 1e3)
      if (d.containsKey("walCommit")) add("stream_wal_commit_s", d.get("walCommit") / 1e3)
      add("stream_state_rows", p.stateOperators.map(_.numRowsTotal).sum.toDouble)
    }
  }
}

object Ledger extends AdaptiveSparkPlanHelper {
  /** Exchange, sort-merge join, broadcast hash join and whole-stage
    * codegen nodes, counted through AQE query stages and subqueries.
    */
  def planCounts(plan: SparkPlan): Map[String, Int] = {
    val kinds = collectWithSubqueries(plan) {
      case _: ShuffleExchangeLike | _: BroadcastExchangeLike => "plan_exchanges"
      case _: SortMergeJoinExec => "plan_smj"
      case _: BroadcastHashJoinExec => "plan_bhj"
      case _: WholeStageCodegenExec => "plan_wscg"
    }
    kinds.groupBy(identity).map { case (k, v) => k -> v.size }
  }
}
