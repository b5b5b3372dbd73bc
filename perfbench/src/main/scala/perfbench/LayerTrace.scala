package perfbench

import org.apache.spark.PerfbenchBus
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{QueryExecution, SparkPlanInfo}
import org.apache.spark.sql.execution.ui.{SparkListenerSQLExecutionEnd, SparkListenerSQLExecutionStart}
import org.apache.spark.sql.util.QueryExecutionListener
import scala.collection.mutable

/** Per-key layer counters, gathered from outside the program: a
  * SparkListener for jobs, stages and task metrics, and a
  * QueryExecutionListener for Catalyst's phase times of every query the
  * key executes (its eager construction-time actions included). The
  * harness runs one key at a time and drains the listener bus at each key
  * boundary, so every event lands in the key that caused it. Task time is
  * also kept per SQL execution, so the tasks of executions whose plan
  * writes a table (V1 or V2) count as write tasks. */
final class LayerTrace(spark: SparkSession) extends SparkListener
    with QueryExecutionListener {

  final class Acc {
    var jobs = 0L
    var stages = 0L
    val taskSpans = mutable.ArrayBuffer.empty[(Long, Long)]
    var taskRunMs, taskCpuNs, taskOverheadMs = 0L
    var scanTasks, inputBytes = 0L
    var maxScanShare = 0.0
    var shuffleWrite, shuffleRead, fetchWaitMs, reduceTasks, spill = 0L
    var writeTaskMs, outputBytes, outputRows = 0L
    var peakExecMem = 0L
    var maxStageSkew = 0.0
    var analysisMs, optimizationMs, planningMs = 0L
    val stageTaskMs = mutable.Map.empty[Int, mutable.ArrayBuffer[Long]]
    val stageInput = mutable.Map.empty[Int, mutable.ArrayBuffer[Long]]
  }

  @volatile private var cur = new Acc
  // Touched on the listener bus thread only.
  private val stageExecution = mutable.Map.empty[Int, Long]
  private val executionRunMs = mutable.Map.empty[Long, Long]
  private val writeExecutions = mutable.Set.empty[Long]
  private val WriteNode =
    "^(AppendData|OverwriteByExpression|OverwritePartitionsDynamic|ReplaceData|WriteDelta|WriteToDataSourceV2|WriteFiles|Execute .*(Insert|AsSelect).*)$".r

  private def writes(p: SparkPlanInfo): Boolean =
    WriteNode.matches(p.nodeName) || p.children.exists(writes)

  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case s: SparkListenerSQLExecutionStart =>
      if (writes(s.sparkPlanInfo)) writeExecutions += s.executionId
    case x: SparkListenerSQLExecutionEnd =>
      val run = executionRunMs.remove(x.executionId).getOrElse(0L)
      if (writeExecutions.remove(x.executionId)) cur.writeTaskMs += run
    case _ =>
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    cur.jobs += 1
    Option(e.properties).flatMap(p => Option(p.getProperty("spark.sql.execution.id")))
      .foreach(id => e.stageIds.foreach(stageExecution(_) = id.toLong))
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
    val a = cur
    val id = e.stageInfo.stageId
    stageExecution.remove(id)
    a.stages += 1
    a.stageTaskMs.remove(id).filter(_.size >= 2).foreach { ds =>
      val sorted = ds.sorted
      val median = math.max(sorted(sorted.size / 2), 1L)
      a.maxStageSkew = math.max(a.maxStageSkew, sorted.last.toDouble / median)
    }
    a.stageInput.remove(id).foreach { in =>
      val total = in.sum
      if (total > 0) a.maxScanShare = math.max(a.maxScanShare, in.max.toDouble / total)
    }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val a = cur
    val info = e.taskInfo
    a.taskSpans += ((info.launchTime, info.finishTime))
    val m = e.taskMetrics
    if (m == null) return
    val run = m.executorRunTime
    a.taskRunMs += run
    a.taskCpuNs += m.executorCpuTime
    a.taskOverheadMs += math.max(info.duration - run, 0L)
    stageExecution.get(e.stageId).foreach { x =>
      executionRunMs(x) = executionRunMs.getOrElse(x, 0L) + run
    }
    a.stageTaskMs.getOrElseUpdate(e.stageId, mutable.ArrayBuffer.empty) += info.duration
    val in = m.inputMetrics.bytesRead
    if (in > 0 || m.inputMetrics.recordsRead > 0) {
      a.scanTasks += 1
      a.inputBytes += in
      a.stageInput.getOrElseUpdate(e.stageId, mutable.ArrayBuffer.empty) += in
    }
    val sr = m.shuffleReadMetrics
    if (sr.totalBlocksFetched > 0) a.reduceTasks += 1
    a.shuffleRead += sr.totalBytesRead
    a.fetchWaitMs += sr.fetchWaitTime
    a.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
    a.spill += m.diskBytesSpilled
    val out = m.outputMetrics
    a.outputBytes += out.bytesWritten
    a.outputRows += out.recordsWritten
    a.peakExecMem = math.max(a.peakExecMem, m.peakExecutionMemory)
  }

  private def phases(qe: QueryExecution): Unit = {
    val a = cur
    val p = qe.tracker.phases
    a.analysisMs += p.get("analysis").map(_.durationMs).getOrElse(0L)
    a.optimizationMs += p.get("optimization").map(_.durationMs).getOrElse(0L)
    a.planningMs += p.get("planning").map(_.durationMs).getOrElse(0L)
  }
  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    phases(qe)
  override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit =
    phases(qe)

  /** Jobs started so far by the current key, once delivered. */
  def jobsSoFar(): Long = { PerfbenchBus.drain(spark.sparkContext); cur.jobs }

  /** Ends the current key: waits for its events and starts a new bucket. */
  def take(): Acc = {
    PerfbenchBus.drain(spark.sparkContext)
    val a = cur
    cur = new Acc
    a
  }

  def install(): this.type = {
    spark.sparkContext.addSparkListener(this)
    spark.listenerManager.register(this)
    this
  }
}
