package org.apache.spark.apmbench

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener
import scala.collection.mutable

/** The traced pass's instruments, all registered from outside the
  * program: a SparkListener (jobs, stages, tasks), a
  * QueryExecutionListener (QueryExecution.tracker phase times) and a
  * StreamingQueryListener (micro-batch progress). Every event is kept in
  * memory as a span or counter record and written out when the run ends.
  *
  * Jobs and tasks are attributed to the benchmark operation named by the
  * `apmbench.op` local property, which the driver sets before each
  * operation (streaming query threads inherit it from the thread that
  * starts them). Lives in an `org.apache.spark` package only to reach
  * `listenerBus.waitUntilEmpty`, so counters are complete when read.
  */
final class Tracer(spark: SparkSession) {
  import Tracer._

  private val lock = new Object
  private val jobs = mutable.LinkedHashMap.empty[Int, JobSpan]
  private val stageOp = mutable.Map.empty[Int, String]
  private val tasks = mutable.Map.empty[String, TaskTotals]
  private val phases = mutable.ArrayBuffer.empty[PhaseSpan]
  private val progress = mutable.ArrayBuffer.empty[Map[String, Any]]

  private val sparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = lock.synchronized {
      val op = Option(e.properties).flatMap(p => Option(p.getProperty(OpKey)))
        .getOrElse("")
      jobs(e.jobId) = JobSpan(e.jobId, op, e.time, -1L)
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = lock.synchronized {
      jobs.get(e.jobId).foreach(j => jobs(e.jobId) = j.copy(endMs = e.time))
    }
    override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
      lock.synchronized {
        val op = Option(e.properties).flatMap(p => Option(p.getProperty(OpKey)))
          .getOrElse("")
        stageOp(e.stageInfo.stageId) = op
      }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = lock.synchronized {
      val op = stageOp.getOrElse(e.stageId, "")
      val t = tasks.getOrElseUpdate(op, new TaskTotals)
      t.tasks += 1
      Option(e.taskMetrics).foreach { m =>
        t.shuffleBytes += m.shuffleWriteMetrics.bytesWritten +
          m.shuffleReadMetrics.remoteBytesRead + m.shuffleReadMetrics.localBytesRead
        t.gcMs += m.jvmGCTime
        t.runMs += m.executorRunTime
        t.cpuNs += m.executorCpuTime
      }
    }
  }

  private val qeListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
      record(qe)
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
      record(qe)
    private def record(qe: QueryExecution): Unit = {
      val ps = qe.tracker.phases
      if (ps.nonEmpty) lock.synchronized {
        phases += PhaseSpan(ps.values.map(_.startTimeMs).min,
          ps.values.map(_.endTimeMs).max,
          ps.map { case (k, v) => k -> (v.endTimeMs - v.startTimeMs) }.toMap)
      }
    }
  }

  private val streamListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
      val p = e.progress
      val d = p.durationMs
      def ms(k: String): Long = if (d.containsKey(k)) d.get(k).longValue else 0L
      val rec = Map[String, Any](
        "source" -> p.sources.headOption.map(_.description).getOrElse(""),
        "sink" -> Option(p.sink).map(_.description).getOrElse(""),
        "batch_id" -> p.batchId,
        "timestamp" -> p.timestamp,
        "input_rows" -> p.numInputRows,
        "add_batch_ms" -> ms("addBatch"),
        "offsets_ms" -> (ms("latestOffset") + ms("getBatch")),
        "commit_ms" -> (ms("walCommit") + ms("commitOffsets")),
        "trigger_ms" -> ms("triggerExecution"),
        "state_commit_ms" -> p.stateOperators.map(_.commitTimeMs).sum,
        "state_rows" -> p.stateOperators.map(_.numRowsTotal).sum,
        "dropped_rows" -> p.stateOperators.map(_.numRowsDroppedByWatermark).sum)
      lock.synchronized(progress += rec)
    }
  }

  def start(): Unit = {
    spark.sparkContext.addSparkListener(sparkListener)
    spark.listenerManager.register(qeListener)
    spark.streams.addListener(streamListener)
  }

  /** Waits for queued events, then detaches every listener. */
  def stop(): Unit = {
    flush()
    spark.sparkContext.removeSparkListener(sparkListener)
    spark.listenerManager.unregister(qeListener)
    spark.streams.removeListener(streamListener)
  }

  def flush(): Unit = {
    spark.sparkContext.listenerBus.waitUntilEmpty()
  }

  /** Counters of one operation: its job spans clipped to
    * [startMs, endMs], task totals, and tracker phases that began inside it.
    */
  def opSummary(op: String, startMs: Long, endMs: Long): Map[String, Any] =
    lock.synchronized {
      val spans = jobs.values.filter(j => j.op == op && j.endMs >= 0)
        .map(j => (math.max(j.startMs, startMs), math.min(j.endMs, endMs)))
        .filter { case (a, b) => b > a }.toSeq
      val t = tasks.getOrElse(op, new TaskTotals)
      val planMs = phases.filter(p => p.startMs >= startMs && p.startMs <= endMs)
        .map(_.phaseMs.values.sum).sum
      Map("jobs_ms" -> unionMs(spans), "jobs" -> spans.size, "tasks" -> t.tasks,
        "shuffle_bytes" -> t.shuffleBytes, "gc_ms" -> t.gcMs,
        "task_run_ms" -> t.runMs, "task_cpu_ms" -> t.cpuNs / 1000000L,
        "planning_ms" -> planMs)
    }

  def progressRecords: Seq[Map[String, Any]] = lock.synchronized(progress.toList)

  def spans: Seq[Map[String, Any]] = lock.synchronized {
    jobs.values.map(j => Map[String, Any]("kind" -> "job", "id" -> j.jobId,
      "parent" -> j.op, "start_ms" -> j.startMs, "end_ms" -> j.endMs)).toList ++
      phases.map(p => Map[String, Any]("kind" -> "planning", "start_ms" -> p.startMs,
        "end_ms" -> p.endMs, "phases_ms" -> p.phaseMs)).toList
  }
}

object Tracer {
  val OpKey = "apmbench.op"

  final case class JobSpan(jobId: Int, op: String, startMs: Long, endMs: Long)
  final case class PhaseSpan(startMs: Long, endMs: Long, phaseMs: Map[String, Long])
  final class TaskTotals {
    var tasks = 0L; var shuffleBytes = 0L; var gcMs = 0L; var runMs = 0L; var cpuNs = 0L
  }

  /** Length of the union of half-open intervals. */
  def unionMs(spans: Seq[(Long, Long)]): Long = {
    var total = 0L
    var curStart = Long.MinValue
    var curEnd = Long.MinValue
    spans.sortBy(_._1).foreach { case (a, b) =>
      if (a > curEnd) {
        if (curEnd > curStart) total += curEnd - curStart
        curStart = a; curEnd = b
      } else if (b > curEnd) curEnd = b
    }
    if (curEnd > curStart) total += curEnd - curStart
    total
  }
}
