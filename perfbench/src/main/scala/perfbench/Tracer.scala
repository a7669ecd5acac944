package perfbench

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{FileSourceScanExec, QueryExecution}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.ui.{SparkListenerSQLExecutionEnd, SparkListenerSQLExecutionStart}
import org.apache.spark.sql.streaming.{StreamingQueryListener, StreamingQueryProgress}
import org.apache.spark.sql.util.QueryExecutionListener

import scala.collection.mutable

/** Per-op counters read from Spark's public listeners. */
final class OpCounters {
  var jobs, stages, tasks, failedTasks, executions = 0L
  var taskMs, cpuNs, gcMs, fetchWaitMs = 0L
  var shuffleWriteB, shuffleReadB, spillB = 0L
  var inputB, inputRows, outputB, outputRows = 0L
  var analysisMs, optimizationMs, planningMs, scanMs = 0L
  var batches, addBatchMs, walCommitMs, stateRows, stateB = 0L
  val jobSpans = mutable.ArrayBuffer.empty[(Int, Long, Long)] // (job id, start ms, end ms)
  val batchSpans = mutable.ArrayBuffer.empty[(Long, Long, Long)] // (batch id, start ms, end ms)
}

/** Attributes listener events to the op that caused them, by the op's tag.
  *
  * Every op runs on its own thread with the local property [[Tracer.OpKey]]
  * and a job tag set to the op's id. Spark copies local properties into
  * threads the op starts, so jobs submitted by a streaming query's execution
  * thread carry the same tag. Jobs are attributed by the property, SQL
  * executions by the tag, streaming progress by its query id. */
final class Tracer(spark: SparkSession) extends SparkListener
    with QueryExecutionListener with AdaptiveSparkPlanHelper {
  import Tracer._

  private val ops = mutable.Map.empty[String, OpCounters]
  private val stageOp = mutable.Map.empty[Int, String]
  private val jobOp = mutable.Map.empty[Int, String]
  private val jobStart = mutable.Map.empty[Int, Long]
  private val execOp = mutable.Map.empty[Long, String]
  private val queryOp = mutable.Map.empty[java.util.UUID, String]
  private val started, ended = mutable.Map.empty[String, Int].withDefaultValue(0)

  private def counters(op: String): OpCounters = ops.getOrElseUpdate(op, new OpCounters)

  // ---- SparkListener (listener-bus thread) ----
  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    Option(e.properties).flatMap(p => Option(p.getProperty(OpKey))).foreach { op =>
      jobOp(e.jobId) = op
      jobStart(e.jobId) = e.time
      Option(e.properties.getProperty(StreamQueryIdKey))
        .foreach(q => queryOp.getOrElseUpdate(java.util.UUID.fromString(q), op))
      e.stageIds.foreach(stageOp(_) = op)
      started(op) += 1
      counters(op).jobs += 1
    }
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobOp.remove(e.jobId).foreach { op =>
      counters(op).jobSpans += ((e.jobId, jobStart.remove(e.jobId).get, e.time))
      ended(op) += 1
    }
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    stageOp.get(e.stageInfo.stageId).foreach(counters(_).stages += 1)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    stageOp.get(e.stageId).foreach { op =>
      val c = counters(op)
      c.tasks += 1
      if (!e.taskInfo.successful) c.failedTasks += 1
      Option(e.taskMetrics).foreach { m =>
        c.taskMs += m.executorRunTime
        c.cpuNs += m.executorCpuTime
        c.gcMs += m.jvmGCTime
        c.spillB += m.diskBytesSpilled
        c.shuffleWriteB += m.shuffleWriteMetrics.bytesWritten
        c.shuffleReadB += m.shuffleReadMetrics.totalBytesRead
        c.fetchWaitMs += m.shuffleReadMetrics.fetchWaitTime
        c.inputB += m.inputMetrics.bytesRead
        c.inputRows += m.inputMetrics.recordsRead
        c.outputB += m.outputMetrics.bytesWritten
        c.outputRows += m.outputMetrics.recordsWritten
      }
    }
  }

  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case s: SparkListenerSQLExecutionStart => synchronized {
      s.jobTags.find(_.startsWith(TagPrefix)).foreach { tag =>
        val op = tag.stripPrefix(TagPrefix)
        execOp(s.executionId) = op
        counters(op).executions += 1
      }
    }
    case end: SparkListenerSQLExecutionEnd => synchronized {
      for (qe <- finished; op <- execOp.remove(end.executionId)) planCounters(counters(op), qe)
      finished = None
    }
    case p: StreamingQueryListener.QueryProgressEvent => synchronized {
      queryOp.get(p.progress.id).foreach(op => progress(counters(op), p.progress))
    }
    case _ =>
  }

  /** Streaming progress arrives on the context's listener bus. That bus (not a
    * session's StreamingQueryManager) is where it is read, because the engine
    * runs stateful streams in child sessions with their own query managers. A
    * query belongs to the op whose tagged job first ran for it. */
  private def progress(c: OpCounters, p: StreamingQueryProgress): Unit = {
    def ms(k: String) = Option(p.durationMs.get(k)).map(_.longValue).getOrElse(0L)
    val start = java.time.Instant.parse(p.timestamp).toEpochMilli
    c.batches += 1
    c.batchSpans += ((p.batchId, start, start + ms("triggerExecution")))
    c.addBatchMs += ms("addBatch")
    c.walCommitMs += ms("walCommit")
    p.stateOperators.foreach { s =>
      c.stateRows = math.max(c.stateRows, s.numRowsTotal)
      c.stateB = math.max(c.stateB, s.memoryUsedBytes)
    }
  }

  // ---- QueryExecutionListener ----
  // Spark calls onSuccess while dispatching a SQL execution's end event on
  // the shared listener queue, just before this listener's onOtherEvent sees
  // the same event (the session registered its listener bus first). The
  // QueryExecution is held until that event names its execution id.
  private var finished: Option[QueryExecution] = None

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    synchronized { finished = Some(qe) }

  private def planCounters(c: OpCounters, qe: QueryExecution): Unit = {
    val phases = qe.tracker.phases
    def ms(p: String) = phases.get(p).map(_.durationMs).getOrElse(0L)
    c.analysisMs += ms("analysis")
    c.optimizationMs += ms("optimization")
    c.planningMs += ms("planning")
    c.scanMs += collect(qe.executedPlan) { case s: FileSourceScanExec =>
      s.metrics.get("scanTime").map(_.value).getOrElse(0L)
    }.sum
  }
  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()

  private var fences = 0

  /** Waits until every event the op caused has been delivered. A fence job
    * runs after the op under its own op property; the shared listener queue delivers
    * in order, so once the fence's end is seen, every earlier job, task, SQL
    * and streaming event has been too; the op's job ends must then equal its
    * job starts. Returns the op's counters, or None when that state is not
    * reached within `timeoutMs` (the counters would be partial). */
  def settle(op: String, timeoutMs: Long = 10000): Option[OpCounters] = {
    val sc = spark.sparkContext
    fences += 1
    val fence = s"fence-$fences"
    sc.setLocalProperty(OpKey, fence)
    try sc.parallelize(Seq(1), 1).count() finally sc.setLocalProperty(OpKey, null)
    val deadline = System.currentTimeMillis() + timeoutMs
    def settled = synchronized {
      ended(fence) == 1 && started(op) == ended(op)
    }
    while (!settled && System.currentTimeMillis() < deadline) Thread.sleep(1)
    synchronized {
      ops.remove(fence)
      if (settled) Some(counters(op)) else None
    }
  }
}

object Tracer {
  /** Local property naming the op a job belongs to. */
  val OpKey = "perfbench.op"
  /** Job-tag prefix; the tag also serves `cancelJobsWithTag`. */
  val TagPrefix = "perfbench-"
  /** Local property a streaming query sets on the jobs of its micro-batches. */
  val StreamQueryIdKey = "sql.streaming.queryId"
}
