package perfbench

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.DoubleAdder

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.{CommandResultExec, SparkPlan}
import org.apache.spark.sql.execution.command.DataWritingCommandExec
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.exchange.{BroadcastExchangeLike, ShuffleExchangeLike}
import org.apache.spark.sql.streaming.StreamingQueryListener.QueryProgressEvent
import org.apache.spark.sql.util.QueryExecutionListener

/** Process-wide counters fed by the listeners below. Values only grow;
  * callers take snapshots and difference them. */
object Counters {
  private val m = new ConcurrentHashMap[String, DoubleAdder]()

  def add(k: String, v: Double): Unit =
    m.computeIfAbsent(k, _ => new DoubleAdder).add(v)

  def snapshot(): Map[String, Double] =
    m.asScala.map { case (k, v) => k -> v.sum() }.toMap

  def delta(before: Map[String, Double], after: Map[String, Double]): Map[String, Double] =
    after.map { case (k, v) => k -> (v - before.getOrElse(k, 0.0)) }

  /** Streaming progress, kept per batch so medians can be taken. */
  val streamBatches = new java.util.concurrent.ConcurrentLinkedQueue[Map[String, Double]]()
}

/** Task, stage and job counters (the `exec` layer) plus streaming progress
  * events, which every session posts to the shared listener bus. */
class ExecListener(withTasks: Boolean) extends SparkListener {
  import Counters.add

  override def onJobStart(e: SparkListenerJobStart): Unit =
    if (withTasks) add("exec.jobs", 1)

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    if (withTasks) add("exec.stages", 1)

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = if (withTasks) {
    add("exec.tasks", 1)
    val m = e.taskMetrics
    if (m != null) {
      val dur = e.taskInfo.duration.toDouble
      add("exec.task_run_ms", m.executorRunTime.toDouble)
      add("exec.task_cpu_ms", m.executorCpuTime / 1e6)
      add("exec.task_wait_ms", math.max(0.0, dur - m.executorRunTime))
      add("exec.shuffle_write_bytes", m.shuffleWriteMetrics.bytesWritten.toDouble)
      add("exec.shuffle_read_bytes", m.shuffleReadMetrics.totalBytesRead.toDouble)
      add("exec.spill_bytes", (m.memoryBytesSpilled + m.diskBytesSpilled).toDouble)
      add("exec.scan_rows", m.inputMetrics.recordsRead.toDouble)
      add("exec.scan_bytes", m.inputMetrics.bytesRead.toDouble)
      add("store.bytes_written", m.outputMetrics.bytesWritten.toDouble)
    }
  }

  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case p: QueryProgressEvent =>
      val pr = p.progress
      val d = pr.durationMs.asScala.map { case (k, v) => k -> v.doubleValue }
      val ops = pr.stateOperators.toSeq
      Counters.streamBatches.add(Map(
        "trigger_ms" -> d.getOrElse("triggerExecution", 0.0),
        "add_batch_ms" -> d.getOrElse("addBatch", 0.0),
        "query_planning_ms" -> d.getOrElse("queryPlanning", 0.0),
        "wal_commit_ms" -> d.getOrElse("walCommit", 0.0),
        "input_rows" -> pr.numInputRows.toDouble,
        "state_commit_ms" -> ops.map(_.commitTimeMs.toDouble).sum,
        "state_update_ms" -> ops.map(_.allUpdatesTimeMs.toDouble).sum,
        "state_rows" -> ops.map(_.numRowsTotal.toDouble).sum,
        "state_mem_bytes" -> ops.map(_.memoryUsedBytes.toDouble).sum,
        "watermark_dropped_rows" -> ops.map(_.numRowsDroppedByWatermark.toDouble).sum))
    case _ => ()
  }
}

/** Catalyst phase times (the `catalyst` layer), plus the exchanges and
  * files written of each executed plan. Registered for every session
  * through `spark.sql.queryExecutionListeners`. */
class PhaseListener extends QueryExecutionListener with AdaptiveSparkPlanHelper {
  import Counters.add

  override def onSuccess(funcName: String, qe: org.apache.spark.sql.execution.QueryExecution,
                         durationNs: Long): Unit = record(qe, durationNs)

  override def onFailure(funcName: String, qe: org.apache.spark.sql.execution.QueryExecution,
                         exception: Exception): Unit = record(qe, 0L)

  private def record(qe: org.apache.spark.sql.execution.QueryExecution, durationNs: Long): Unit = {
    val ph = qe.tracker.phases
    def ms(p: String) = ph.get(p).map(_.durationMs.toDouble).getOrElse(0.0)
    add("catalyst.analyze_ms", ms("analysis"))
    add("catalyst.optimize_ms", ms("optimization"))
    add("catalyst.plan_ms", ms("planning"))
    add("exec.action_ms", durationNs / 1e6)
    add("exec.executions", 1)
    val plan: SparkPlan = qe.executedPlan
    add("exec.exchanges", collectWithSubqueries(plan) {
      case _: ShuffleExchangeLike | _: BroadcastExchangeLike => 1
    }.size.toDouble)
    writes(plan).foreach { w =>
      w.cmd.metrics.get("numFiles").foreach(m => add("store.files_written", m.value.toDouble))
    }
  }

  private def writes(p: SparkPlan): Seq[DataWritingCommandExec] = p match {
    case w: DataWritingCommandExec => Seq(w)
    case c: CommandResultExec => writes(c.commandPhysicalPlan)
    case other => other.children.flatMap(writes)
  }
}
