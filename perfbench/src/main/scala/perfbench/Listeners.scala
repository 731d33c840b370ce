package perfbench

import scala.collection.mutable

import org.apache.spark.scheduler.{SparkListener,
  SparkListenerJobEnd, SparkListenerJobStart, SparkListenerTaskEnd}
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** Wall clock in epoch milliseconds with sub-millisecond resolution, on
  * the same time base as Spark's listener event times. */
object Clock {
  private val baseMs = System.currentTimeMillis()
  private val baseNs = System.nanoTime()
  def now(): Double = baseMs + (System.nanoTime() - baseNs) / 1e6
}

/** One Spark job and the summed metrics of its tasks. */
final class JobRec(val id: Int, val start: Double, val stages: Int) {
  var end: Double = Double.NaN
  var tasks = 0L
  var failedTasks = 0L
  var runMs = 0L
  var cpuNs = 0L
  var gcMs = 0L
  var shuffleWrite = 0L
  var shuffleRead = 0L
  var spill = 0L
  var readBytes = 0L
  var readRows = 0L
  var writeBytes = 0L
  var writeRows = 0L

  def toJson: Map[String, Any] = Map(
    "id" -> id, "start" -> start, "end" -> Some(end).filterNot(_.isNaN),
    "stages" -> stages, "tasks" -> tasks, "failed_tasks" -> failedTasks,
    "run_ms" -> runMs, "cpu_ns" -> cpuNs, "gc_ms" -> gcMs,
    "shuffle_write" -> shuffleWrite, "shuffle_read" -> shuffleRead,
    "spill" -> spill, "read_bytes" -> readBytes, "read_rows" -> readRows,
    "write_bytes" -> writeBytes, "write_rows" -> writeRows)
}

/** Jobs, stages and task metrics, keyed by job. Spark delivers these
  * events on one listener-bus thread; readers drain the bus first. */
final class ExecListener extends SparkListener {
  private val jobs = mutable.LinkedHashMap[Int, JobRec]()
  private val stageToJob = mutable.HashMap[Int, Int]()

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    jobs(e.jobId) = new JobRec(e.jobId, e.time.toDouble, e.stageIds.size)
    e.stageIds.foreach(stageToJob(_) = e.jobId)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobs.get(e.jobId).foreach(_.end = e.time.toDouble)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    for (jid <- stageToJob.get(e.stageId); j <- jobs.get(jid)) {
      j.tasks += 1
      if (e.taskInfo.failed) j.failedTasks += 1
      val m = e.taskMetrics
      if (m != null) {
        j.runMs += m.executorRunTime
        j.cpuNs += m.executorCpuTime
        j.gcMs += m.jvmGCTime
        j.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
        j.shuffleRead += m.shuffleReadMetrics.totalBytesRead
        j.spill += m.memoryBytesSpilled + m.diskBytesSpilled
        j.readBytes += m.inputMetrics.bytesRead
        j.readRows += m.inputMetrics.recordsRead
        j.writeBytes += m.outputMetrics.bytesWritten
        j.writeRows += m.outputMetrics.recordsWritten
      }
    }
  }

  def snapshot(): Seq[Map[String, Any]] = synchronized {
    jobs.values.map(_.toJson).toSeq
  }
}

/** Planning phases of every query execution, from its
  * `QueryExecution.tracker`. */
final class PlanListener extends QueryExecutionListener {
  private val recs = mutable.ArrayBuffer[Map[String, Any]]()

  private def record(qe: QueryExecution, ok: Boolean): Unit = {
    val ph = qe.tracker.phases
    def ms(p: String): Long = ph.get(p).map(_.durationMs).getOrElse(0L)
    val start = if (ph.isEmpty) Clock.now() else ph.values.map(_.startTimeMs).min
    synchronized {
      recs += Map("start" -> start.toDouble, "ok" -> ok,
        "analysis_ms" -> ms("analysis"),
        "optimization_ms" -> ms("optimization"),
        "planning_ms" -> ms("planning"))
    }
  }

  override def onSuccess(funcName: String, qe: QueryExecution,
      durationNs: Long): Unit = record(qe, ok = true)
  override def onFailure(funcName: String, qe: QueryExecution,
      exception: Exception): Unit = record(qe, ok = false)

  def snapshot(): Seq[Map[String, Any]] = synchronized(recs.toList)
}

/** Progress of every micro-batch of every streaming query. */
final class StreamListener extends StreamingQueryListener {
  private val recs = mutable.ArrayBuffer[Map[String, Any]]()

  override def onQueryStarted(
      e: StreamingQueryListener.QueryStartedEvent): Unit = ()
  override def onQueryTerminated(
      e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  override def onQueryIdle(
      e: StreamingQueryListener.QueryIdleEvent): Unit = ()

  override def onQueryProgress(
      e: StreamingQueryListener.QueryProgressEvent): Unit = {
    val p = e.progress
    val d = p.durationMs
    def ms(k: String): Long = Option(d.get(k)).map(_.longValue).getOrElse(0L)
    val rec = Map[String, Any](
      "start" -> java.time.Instant.parse(p.timestamp).toEpochMilli.toDouble,
      "query" -> p.id.toString, "batch" -> p.batchId,
      "input_rows" -> p.numInputRows,
      "trigger_ms" -> ms("triggerExecution"),
      "add_batch_ms" -> ms("addBatch"),
      "query_planning_ms" -> ms("queryPlanning"),
      "wal_commit_ms" -> ms("walCommit"),
      "latest_offset_ms" -> ms("latestOffset"))
    synchronized { recs += rec }
  }

  def snapshot(): Seq[Map[String, Any]] = synchronized(recs.toList)
}
