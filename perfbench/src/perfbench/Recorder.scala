package perfbench

import scala.collection.mutable

import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.ui.SparkListenerSQLAdaptiveExecutionUpdate

/** Scheduler-side counts of one (execution, phase) pair. */
final class PhaseCounts {
  var jobs, stages, tasks = 0L
  var taskWaitMs, runMs, cpuNs, deserMs, gcMs, peakMemBytes = 0L
  var inputBytes, inputRows, shuffleWriteBytes, shuffleReadBytes = 0L
  var fetchWaitMs, shuffleWriteNs, spillMemBytes, spillDiskBytes = 0L

  def toMap: Map[String, Any] = Map(
    "jobs" -> jobs, "stages" -> stages, "tasks" -> tasks,
    "task_wait_ms" -> taskWaitMs, "run_ms" -> runMs, "cpu_ms" -> cpuNs / 1e6,
    "deser_ms" -> deserMs, "gc_ms" -> gcMs, "peak_mem_bytes" -> peakMemBytes,
    "input_bytes" -> inputBytes, "input_rows" -> inputRows,
    "shuffle_write_bytes" -> shuffleWriteBytes, "shuffle_read_bytes" -> shuffleReadBytes,
    "fetch_wait_ms" -> fetchWaitMs, "shuffle_write_ms" -> shuffleWriteNs / 1e6,
    "spill_mem_bytes" -> spillMemBytes, "spill_disk_bytes" -> spillDiskBytes)
}

/** A timed interval; `parent` links it into the run's span tree. Times
  * are epoch nanoseconds so harness spans and scheduler spans share a
  * clock. */
final case class Span(id: String, parent: String, name: String, startNs: Long, endNs: Long) {
  def toMap: Map[String, Any] =
    Map("id" -> id, "parent" -> parent, "name" -> name, "start_ns" -> startNs, "end_ns" -> endNs)
}

/** Passive listener for the traced run. Jobs are attributed to the
  * benchmark execution and phase named by the local properties the
  * harness sets before each call ([[Recorder.ExecKey]], [[Recorder.PhaseKey]]);
  * stream jobs inherit them from the thread that started the query.
  * Every callback runs on the listener-bus thread, so readers drain the
  * bus (PerfbenchBus.drain) before reading. */
class Recorder extends SparkListener {
  import Recorder._

  private val counts = mutable.Map.empty[(String, String), PhaseCounts]
  val spans = mutable.ArrayBuffer.empty[Span]
  private val replans = mutable.Map.empty[Long, Int].withDefaultValue(0)
  private val jobOwner = mutable.Map.empty[Int, (String, String)]
  private val jobStartMs = mutable.Map.empty[Int, Long]
  private val stageJob = mutable.Map.empty[Int, Int]
  private val stageSubmitMs = mutable.Map.empty[(Int, Int), Long]
  private val sqlExecOwner = mutable.Map.empty[Long, String]

  private def bucket(owner: (String, String)) = counts.getOrElseUpdate(owner, new PhaseCounts)

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val props = Option(e.properties)
    val exec = props.flatMap(p => Option(p.getProperty(ExecKey))).getOrElse("")
    val batch = props.flatMap(p => Option(p.getProperty("streaming.sql.batchId")))
    val phase = batch.map("batch" + _)
      .orElse(props.flatMap(p => Option(p.getProperty(PhaseKey)))).getOrElse("")
    if (exec.nonEmpty) {
      jobOwner(e.jobId) = (exec, phase)
      jobStartMs(e.jobId) = e.time
      e.stageIds.foreach(s => stageJob(s) = e.jobId)
      bucket((exec, phase)).jobs += 1
      props.flatMap(p => Option(p.getProperty("spark.sql.execution.id")))
        .foreach(id => sqlExecOwner(id.toLong) = exec)
    }
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    jobOwner.get(e.jobId).foreach { case (exec, phase) =>
      spans += Span(s"j${e.jobId}", s"$exec.$phase", "job",
        jobStartMs(e.jobId) * MsNs, e.time * MsNs)
    }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = {
    val i = e.stageInfo
    stageSubmitMs((i.stageId, i.attemptNumber())) =
      i.submissionTime.getOrElse(System.currentTimeMillis())
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
    val i = e.stageInfo
    for (job <- stageJob.get(i.stageId); owner <- jobOwner.get(job)) {
      val c = bucket(owner)
      c.stages += 1
      val start = stageSubmitMs.getOrElse((i.stageId, i.attemptNumber()), 0L)
      spans += Span(s"s${i.stageId}.${i.attemptNumber()}", s"j$job", "stage",
        start * MsNs, i.completionTime.getOrElse(start) * MsNs)
    }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
    for (job <- stageJob.get(e.stageId); owner <- jobOwner.get(job)) {
      val c = bucket(owner)
      c.tasks += 1
      stageSubmitMs.get((e.stageId, e.stageAttemptId))
        .foreach(s => c.taskWaitMs += math.max(0L, e.taskInfo.launchTime - s))
      val m = e.taskMetrics
      if (m != null) {
        c.runMs += m.executorRunTime
        c.cpuNs += m.executorCpuTime
        c.deserMs += m.executorDeserializeTime
        c.gcMs += m.jvmGCTime
        c.peakMemBytes = math.max(c.peakMemBytes, m.peakExecutionMemory)
        c.inputBytes += m.inputMetrics.bytesRead
        c.inputRows += m.inputMetrics.recordsRead
        c.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
        c.shuffleWriteNs += m.shuffleWriteMetrics.writeTime
        c.shuffleReadBytes += m.shuffleReadMetrics.totalBytesRead
        c.fetchWaitMs += m.shuffleReadMetrics.fetchWaitTime
        c.spillMemBytes += m.memoryBytesSpilled
        c.spillDiskBytes += m.diskBytesSpilled
      }
    }

  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case u: SparkListenerSQLAdaptiveExecutionUpdate =>
      replans(u.executionId) += 1
    case _ =>
  }

  /** Re-plans AQE announced for the SQL executions whose jobs belong to `exec`. */
  def replansOf(exec: String): Int =
    sqlExecOwner.collect { case (id, `exec`) => replans(id) }.sum

  /** Scheduler counts of `exec`, keyed by phase. */
  def countsOf(exec: String): Map[String, Map[String, Any]] =
    counts.collect { case ((`exec`, phase), c) => phase -> c.toMap }.toMap
}

object Recorder {
  val ExecKey = "perfbench.exec"
  val PhaseKey = "perfbench.phase"
  private val MsNs = 1000000L
}
