package perfbench

import scala.collection.mutable

import org.apache.spark.TaskFailedReason
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart,
  SparkListenerStageCompleted, SparkListenerTaskEnd}
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, InsertIntoHadoopFsRelationCommand,
  LogicalRelation}
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** The traced run's listeners. They are registered from the benchmark's
  * own code and only aggregate; nothing is traced inside the program.
  * Listener callbacks arrive on Spark's listener-bus thread, so every
  * read goes through `snapshot` after the bus is drained. */

final case class Job(id: Int, startMs: Long, endMs: Long, group: String)

/** Spark job and task counters, plus each finished job's interval. */
final class JobListener extends SparkListener {

  private val counters = mutable.LinkedHashMap[String, Double](
    "jobs" -> 0, "stages" -> 0, "tasks" -> 0, "task_failures" -> 0,
    "executor_run_s" -> 0, "executor_cpu_s" -> 0, "gc_s" -> 0, "sched_delay_s" -> 0,
    "shuffle_write_mb" -> 0, "shuffle_read_mb" -> 0, "spill_mb" -> 0, "input_mb" -> 0)
  private val started = mutable.Map.empty[Int, (Long, String)]
  private val finished = mutable.ArrayBuffer.empty[Job]
  private val MB = 1024.0 * 1024.0

  private def add(k: String, v: Double): Unit = counters(k) = counters(k) + v

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    add("jobs", 1)
    val group = Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
    started(e.jobId) = (e.time, group.getOrElse(""))
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    started.remove(e.jobId).foreach { case (t, g) => finished += Job(e.jobId, t, e.time, g) }
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    add("stages", 1)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    add("tasks", 1)
    e.reason match {
      case _: TaskFailedReason => add("task_failures", 1)
      case _ =>
    }
    val m = e.taskMetrics
    if (m != null) {
      add("executor_run_s", m.executorRunTime / 1e3)
      add("executor_cpu_s", m.executorCpuTime / 1e9)
      add("gc_s", m.jvmGCTime / 1e3)
      add("shuffle_write_mb", m.shuffleWriteMetrics.bytesWritten / MB)
      add("shuffle_read_mb", m.shuffleReadMetrics.totalBytesRead / MB)
      add("spill_mb", m.diskBytesSpilled / MB)
      add("input_mb", m.inputMetrics.bytesRead / MB)
      val i = e.taskInfo
      val busy = m.executorDeserializeTime + m.executorRunTime + m.resultSerializationTime
      add("sched_delay_s", math.max(0L, i.finishTime - i.launchTime - busy) / 1e3)
    }
  }

  def snapshot: Map[String, Double] = synchronized { counters.toMap }

  /** Jobs finished since the last call. */
  def drainJobs(): Seq[Job] = synchronized {
    val out = finished.toList
    finished.clear()
    out
  }
}

/** Per-action counters from `QueryExecutionListener`: pin writes (file
  * writes under the scratch root's `pins/`), trunk writes (under
  * `pins-keyed/` or a `<family>-<session token>-*` directory) and
  * trunk reads (scans rooted at a trunk path). */
final class ActionListener(isTrunkPath: String => Boolean) extends QueryExecutionListener {
  private val counters = mutable.LinkedHashMap[String, Double](
    "actions" -> 0, "pin_writes" -> 0, "pin_write_s" -> 0, "pin_mb" -> 0,
    "keyed_pin_builds" -> 0, "keyed_pin_reads" -> 0)

  private def add(k: String, v: Double): Unit = counters(k) = counters(k) + v

  /** Bytes under `path` when the listener sees the write. */
  private def bytesAt(path: String): Double = {
    def size(f: java.io.File): Long =
      if (f.isDirectory) Option(f.listFiles()).toSeq.flatten.map(size).sum else f.length()
    size(new java.io.File(new java.net.URI(path).getPath)).toDouble
  }

  private def scannedRoots(qe: QueryExecution): Seq[String] =
    qe.analyzed.collectWithSubqueries { case lr: LogicalRelation => lr.relation }
      .collect { case h: HadoopFsRelation => h.location.rootPaths.map(_.toString) }
      .flatten

  private def record(qe: QueryExecution, durationNs: Long): Unit = synchronized {
    add("actions", 1)
    qe.logical.collectFirst { case c: InsertIntoHadoopFsRelationCommand => c.outputPath.toString }
      .foreach { path =>
        if (isTrunkPath(path)) add("keyed_pin_builds", 1)
        if (path.contains("/pins/") || isTrunkPath(path)) {
          add("pin_writes", 1)
          add("pin_write_s", durationNs / 1e9)
          add("pin_mb", bytesAt(path) / (1024.0 * 1024.0))
        }
      }
    add("keyed_pin_reads", scannedRoots(qe).count(isTrunkPath).toDouble)
  }

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    record(qe, durationNs)

  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
    record(qe, 0L)

  def snapshot: Map[String, Double] = synchronized { counters.toMap }
}

/** Every micro-batch's progress report. */
final class StreamListener extends StreamingQueryListener {
  private val progress = mutable.ArrayBuffer.empty[Map[String, Any]]

  override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
  override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()

  override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = synchronized {
    val p = e.progress
    val d = p.durationMs
    def ms(k: String): Double = Option(d.get(k)).map(_.doubleValue).getOrElse(0.0)
    val ops = p.stateOperators.toSeq
    progress += Map(
      "name" -> Option(p.name).getOrElse(""),
      "batch" -> p.batchId,
      "input_rows" -> p.numInputRows,
      "trigger_ms" -> ms("triggerExecution"),
      "add_batch_ms" -> ms("addBatch"),
      "query_planning_ms" -> ms("queryPlanning"),
      "wal_commit_ms" -> ms("walCommit"),
      "commit_ms" -> ms("commitOffsets"),
      "state_rows" -> ops.map(_.numRowsTotal).sum,
      "state_mem_mb" -> ops.map(_.memoryUsedBytes).sum / (1024.0 * 1024.0),
      "state_commit_ms" -> ops.map(_.commitTimeMs).sum)
  }

  def drain(): Seq[Map[String, Any]] = synchronized {
    val out = progress.toList
    progress.clear()
    out
  }
}
