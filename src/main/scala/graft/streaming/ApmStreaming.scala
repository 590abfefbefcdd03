package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
import graft.functions.RefStats
import graft.operators.{Alerts, ZScore}

/** Structured Streaming realization of the reference pipeline (SURVEY.md
  * §2.8): the same column expressions and fold rules as the batch
  * operators, driven by `readStream` sources with watermarks, windowed
  * aggregation, and keyed state. Each keyed fold keeps its own state
  * shape but calls the batch operator's rule for every row, so a rule
  * has one implementation in main code.
  *
  * Reference mapping:
  *  - S1 file-tail source -> `spark.readStream` (file/kafka source); here
  *    any streaming DataFrame with (server, service, end_ts, elapsed).
  *  - A1-A5 window stats -> watermarked sliding `window()` aggregation;
  *    the 6-bucket lateness buffer (stream_calc_stats.js:103-113) is the
  *    watermark delay; exact percentiles via sort_array(collect_list).
  *  - Z2 z-score -> flatMapGroupsWithState keyed on (server, service,
  *    lag), bounded per-key list state — the faithful influence-feedback
  *    recurrence (stream_calc_z_score.js:232-307), stepped by the batch
  *    fold's `ZScore.MetricWindow`.
  *  - R3/R4 alert folds -> flatMapGroupsWithState: leaky-bucket counter
  *    keyed (server, service, lag); cooldown keyed (service). Both call
  *    `Alerts.nextCount`/`fires`/`coolsDown`, like `Alerts.alerts`.
  *  - S6 buffered DB sink -> `foreachBatch` micro-batch writer (count/
  *    time flush becomes the trigger interval; exactly-once via
  *    checkpoint + idempotent write).
  *  - S7 resume files -> checkpointLocation.
  *
  * Scale notes: state per key is O(lag) doubles (bounded, like the
  * reference's shifted lists); RocksDB state store handles key counts in
  * the hundreds of millions; the window agg shuffles on (key, window)
  * with partial aggregation upstream.
  */
object ApmStreaming {

  private[streaming] val log =
    org.slf4j.LoggerFactory.getLogger(getClass)

  /** The RocksDB state store provider. The keyed folds here run on it
    * or on Spark's default HDFS-backed store; a session selects it with
    * `spark.sql.streaming.stateStore.providerClass` (plus
    * `...rocksdb.changelogCheckpointing.enabled=true`).
    */
  val RocksDbProvider =
    "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider"

  /** A1-A5: sliding `windowLen`/`slide` window stats over a streaming tx
    * frame with event-time column `end_ts` (TimestampType) — emits per
    * closed window once the `lateness` watermark passes (A4 lateness
    * buffer). The graph runs [[ApmGraph.WindowLen]], [[ApmGraph.Slide]]
    * and [[ApmGraph.Lateness]] (60 s / 10 s / 10 s).
    */
  def slidingStatsStream(tx: DataFrame, windowLen: String, slide: String,
      lateness: String): DataFrame = {
    // tpm denominator = the actual window length in minutes (the
    // reference's fixed-denominator semantics, stream_calc_stats.js:186)
    val winSec = windowLen.trim.split("\\s+")(0).toDouble *
      (if (windowLen.contains("minute")) 60.0 else 1.0)
    val winMin = winSec / 60.0
    tx.withWatermark("end_ts", lateness)
      .groupBy(col("server"), col("service"),
        window(col("end_ts"), windowLen, slide))
      .agg(count(lit(1)).as("n"),
        sort_array(collect_list(col("elapsed"))).as("sorted"))
      .select(col("server"), col("service"),
        unix_millis(col("window.end")).as("ts_ms"),
        col("n"),
        (col("n") / lit(winMin)).as("tpm"),
        RefStats.arrayMean(col("sorted")).as("average"),
        RefStats.refPercentile(col("sorted"), 0.75).as("per75"),
        RefStats.refPercentile(col("sorted"), 0.95).as("per95"))
  }

  // ------------------------------------------------------------- z-score

  case class ZKey(server: String, service: String, lag: Int,
      threshold: Double, influence: Double)
  case class ZIn(server: String, service: String, lag: Int,
      threshold: Double, influence: Double, ts_ms: Long, tpm: Double,
      average: Double, per75: Double, per95: Double) // NaN = undefined
  /** Bounded per-key z-score state: the three influenced-value lists
    * (NaN encodes the reference's `undefined` entries).
    *
    * The lists are primitive arrays, not `Seq`s. A `Seq`'s encoder
    * converts it element by element in a `MapObjects` loop whose
    * generated variable names carry a JVM-wide counter, so each query's
    * state projection would have new source and miss the codegen cache.
    * The stored schema (`array<double>` without nulls) is the same either
    * way, so checkpoints written with `Seq` lists resume.
    */
  case class ZState(avgL: Array[Double], p75L: Array[Double],
      p95L: Array[Double])
  case class ZOut(server: String, service: String, ts_ms: Long, lag: Int,
      tpm: Double, average: Double, per75: Double, per95: Double,
      average_avg: Double, average_lb: Double, average_ub: Double, average_signal: Int,
      per75_avg: Double, per75_lb: Double, per75_ub: Double, per75_signal: Int,
      per95_avg: Double, per95_lb: Double, per95_ub: Double, per95_signal: Int)

  /** One keyed group's z-score fold: each metric's window is a
    * [[ZScore.MetricWindow]], the step the batch [[ZScore.zScoreFold]]
    * runs, loaded from and saved back to `st`'s arrays.
    */
  def zScoreStep(rows: Iterator[ZIn], st: ZState, key: ZKey): (Iterator[ZOut], ZState) = {
    val wins = Array(st.avgL, st.p75L, st.p95L)
      .map(new ZScore.MetricWindow(key.lag).load(_))
    val out = rows.toArray.sortBy(_.ts_ms).map { r =>
      val zs = Array(r.average, r.per75, r.per95).zip(wins).map { case (m, w) =>
        val (avg, lb, ub, sig) = w.stepAndPush(key.lag, key.threshold,
          key.influence, Some(m).filterNot(_.isNaN))
        (avg.getOrElse(Double.NaN), lb.getOrElse(Double.NaN),
          ub.getOrElse(Double.NaN), sig)
      }
      ZOut(r.server, r.service, r.ts_ms, r.lag, r.tpm, r.average, r.per75, r.per95,
        zs(0)._1, zs(0)._2, zs(0)._3, zs(0)._4,
        zs(1)._1, zs(1)._2, zs(1)._3, zs(1)._4,
        zs(2)._1, zs(2)._2, zs(2)._3, zs(2)._4)
    }
    (out.iterator, ZState(wins(0).saved, wins(1).saved, wins(2).saved))
  }

  /** Z1-Z5 as a stateful streaming transform. Input: a streaming stats
    * frame already fanned out per lag config (columns of [[ZIn]]).
    */
  def zScoreStream(stats: Dataset[ZIn]): Dataset[ZOut] = {
    import stats.sparkSession.implicits._
    stats.groupByKey(r => ZKey(r.server, r.service, r.lag, r.threshold, r.influence))
      .flatMapGroupsWithState[ZState, ZOut](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (key: ZKey, rows: Iterator[ZIn], state: GroupState[ZState]) =>
          val st = state.getOption.getOrElse(
            ZState(Array.empty, Array.empty, Array.empty))
          val (out, st2) = zScoreStep(rows, st, key)
          state.update(st2)
          out
      }
  }

  // ------------------------------------------------------------- alerts

  case class VoteIn(server: String, service: String, lag: Int, ts_ms: Long,
      bad: Int, causes: String)
  case class VoteOut(server: String, service: String, lag: Int, ts_ms: Long,
      causes: String)

  /** R3 leaky-bucket vote counter as keyed streaming state. */
  def voteStream(cand: Dataset[VoteIn], cfg: Alerts.AlertCfg): Dataset[VoteOut] = {
    import cand.sparkSession.implicits._
    cand.groupByKey(r => (r.server, r.service, r.lag))
      .flatMapGroupsWithState[Int, VoteOut](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (key: (String, String, Int), rows: Iterator[VoteIn], state: GroupState[Int]) =>
          var c = state.getOption.getOrElse(0)
          val out = rows.toArray.sortBy(_.ts_ms).flatMap { r =>
            c = Alerts.nextCount(c, r.bad == 1, cfg)
            if (Alerts.fires(c, r.bad == 1, cfg))
              Some(VoteOut(r.server, r.service, r.lag, r.ts_ms, r.causes))
            else None
          }
          state.update(c)
          out.iterator
      }
  }

  /** R4 per-service cooldown dedup as keyed streaming state.
    *
    * Ordering caveat (reference-faithful): the SERVICE key is coarser
    * than the upstream per-(server,service,lag) vote keys, so when two
    * servers fire the same service near-simultaneously, which one wins
    * the cooldown window depends on micro-batch arrival order — exactly
    * as in the reference, whose cooldown folds bus ARRIVAL order
    * (stream_process_alerts.js:436-467). Rows are sorted by
    * (ts_ms, server, lag) WITHIN a batch, so same-batch ties are
    * deterministic; cross-batch merge order across different upstream
    * keys is not a guarantee any per-key ordering contract can give
    * (ApmGraph's per-key epoch atomicity covers each key chain, not
    * their interleave). A batch formulation imposes global ts order —
    * strictly stronger; MultiProcessGraphSpec checks that each emitted
    * server is one the batch fired set admits at that window.
    */
  def cooldownStream(fired: Dataset[VoteOut], cfg: Alerts.AlertCfg): Dataset[VoteOut] = {
    import fired.sparkSession.implicits._
    fired.groupByKey(_.service)
      .flatMapGroupsWithState[Long, VoteOut](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (svc: String, rows: Iterator[VoteOut], state: GroupState[Long]) =>
          var last = state.getOption.getOrElse(Long.MinValue)
          val out = rows.toArray.sortBy(r => (r.ts_ms, r.server, r.lag)).flatMap { r =>
            if (Alerts.coolsDown(r.ts_ms, last, cfg)) { last = r.ts_ms; Some(r) }
            else None
          }
          state.update(last)
          out.iterator
      }
  }

  /** S6/A7 — the buffered batch sink: micro-batch parquet/JDBC writer.
    * `foreachBatch` gives exactly-once with the checkpoint; the
    * reference's 1000-row/5-s flush policy maps to the trigger interval.
    * A7 (the reference's min-heap watermark-ordered emission,
    * stream_calc_stats.js:136-155 + binary_heap.js): rows are sorted by
    * event time within each emitted batch — Spark's watermark already
    * bounds what a batch contains, so a per-batch local sort reproduces
    * the ordered-emission guarantee without any heap.
    *
    * Exactly-once: a `foreachBatch` writer is only exactly-once if it is
    * IDEMPOTENT per batchId — a crash between the data write and the
    * checkpoint commit replays the batch on restart. Writing
    * mode=overwrite into a per-batchId directory makes the replay land
    * on the same path with the same (deterministically recomputed)
    * rows, so the crash window cannot duplicate. `afterBatch` is a
    * fault-injection point: it runs after the data write but BEFORE the
    * epoch commits, i.e. inside that exact window (GraphFaultSpec
    * crashes there and asserts the resume is loss- and dup-free);
    * production callers leave it a no-op.
    */
  def sinkToParquet(df: DataFrame, outDir: String, checkpoint: String,
      trigger: String = "5 seconds", orderCol: Option[String] = None,
      availableNow: Boolean = false,
      afterBatch: Long => Unit = _ => ())
      : org.apache.spark.sql.streaming.StreamingQuery =
    df.writeStream
      .outputMode(OutputMode.Append)
      .option("checkpointLocation", checkpoint)
      .trigger(
        if (availableNow) org.apache.spark.sql.streaming.Trigger.AvailableNow()
        else org.apache.spark.sql.streaming.Trigger.ProcessingTime(trigger))
      .foreachBatch { (batch: Dataset[org.apache.spark.sql.Row], batchId: Long) =>
        val ordered = orderCol.fold(batch)(c => batch.sortWithinPartitions(c))
        ordered.write.mode("overwrite").parquet(s"$outDir/batch_$batchId")
        afterBatch(batchId)
      }
      .start()

  /** S6 failed-batch re-queue (stream_insert_db.js:326-353): when the DB
    * insert throws, the reference unshifts the drained buffer back to the
    * FRONT of the queue, so failed records retry — in original order —
    * at the next flush, and nothing is dropped while the sink is down.
    *
    * Spark-native mapping: the in-memory buffer becomes a durable park
    * directory. Each micro-batch (1) retries parked batches in batch-id
    * order, deleting each on success, then (2) attempts the current
    * batch, parking it as parquet on failure. Parking with
    * mode=overwrite keyed on batchId keeps the park step idempotent
    * under checkpoint replay; the retry path is at-least-once across a
    * crash between write-success and park-delete — the same contract as
    * the reference (a re-consumed message after an un-acked insert).
    *
    * Order is STRICT, like the reference's queue: the first parked
    * batch that still fails BLOCKS the line — later parked batches are
    * not attempted and the current batch parks behind them without a
    * write attempt. A flaky sink that recovers mid-window can therefore
    * never insert batch N+1 before a still-stuck batch N (the
    * overtaking a per-batch try/ignore loop would allow).
    *
    * The park is BOUNDED the way the reference bounds its queues
    * (alarm thresholds at 10⁶ msgs / 150 MB per queue,
    * config/apm_config.json:41-42): every park updates a
    * batches/bytes [[ParkGauge]]; crossing `alarmBatches` OR
    * `alarmBytes` fires `onAlarm` (default: a log WARN) on every
    * subsequent park, and crossing `maxParkedBatches` — the optional
    * hard stop — throws AFTER the batch has parked durably, halting
    * the query with the backlog intact for replay on restart (data
    * safety first, then operator attention; silently parking forever
    * would fill the disk instead of a pager).
    */
  final case class ParkGauge(batches: Int, bytes: Long)

  class RequeueWriter(parkDir: String,
      write: (DataFrame, Long) => Unit,
      alarmBatches: Int = 64,
      alarmBytes: Long = 150L * 1024 * 1024,
      onAlarm: ParkGauge => Unit = ApmStreaming.warnParkAlarm,
      maxParkedBatches: Int = Int.MaxValue) extends Serializable {
    private def deleteRec(f: java.io.File): Unit = {
      Option(f.listFiles()).getOrElse(Array.empty[java.io.File]).foreach(deleteRec)
      f.delete(); ()
    }
    def parkedBatches(): Seq[java.io.File] =
      Option(new java.io.File(parkDir).listFiles())
        .getOrElse(Array.empty[java.io.File])
        .filter(f => f.isDirectory && f.getName.startsWith("park_"))
        .sortBy(_.getName).toSeq
    private def dirBytes(f: java.io.File): Long =
      if (f.isFile) f.length()
      else Option(f.listFiles()).getOrElse(Array.empty[java.io.File])
        .map(dirBytes).sum
    /** Current park backlog — the queue-depth gauge a deployment
      * monitors (mirrors the reference's per-queue size/bytes alarm).
      */
    def gauge(): ParkGauge = {
      val ds = parkedBatches()
      ParkGauge(ds.size, ds.map(dirBytes).sum)
    }
    private def afterPark(): Unit = {
      val g = gauge()
      if (g.batches >= alarmBatches || g.bytes >= alarmBytes) onAlarm(g)
      if (g.batches > maxParkedBatches)
        throw new IllegalStateException(
          s"requeue park exceeded maxParkedBatches=$maxParkedBatches " +
            s"(${g.batches} batches, ${g.bytes} bytes): the head batch " +
            s"keeps failing; backlog is parked durably under $parkDir " +
            "and replays in order on restart")
    }
    def apply(batch: Dataset[org.apache.spark.sql.Row], batchId: Long): Unit = {
      val spark = batch.sparkSession
      var blocked = false
      parkedBatches().foreach { d =>
        if (!blocked) {
          val replay = spark.read.parquet(d.getPath)
          try { write(replay, batchId); deleteRec(d) }
          catch { case e: Exception => // head of line stuck
            blocked = true
            // name the CAUSE, not just the backlog: the park gauge says
            // how much is stuck, this says why (a silent catch left
            // operators diagnosing a growing park dir blind)
            ApmStreaming.log.warn(s"requeue head batch ${d.getName} " +
              s"still failing: ${e.getClass.getSimpleName}: ${e.getMessage}")
          }
        }
      }
      if (blocked) {
        batch.write.mode("overwrite").parquet(f"$parkDir/park_$batchId%012d")
        afterPark()
      } else
        try write(batch.toDF(), batchId)
        catch { case e: Exception =>
          ApmStreaming.log.warn(s"sink write failed for batch $batchId, " +
            s"parking: ${e.getClass.getSimpleName}: ${e.getMessage}")
          batch.write.mode("overwrite").parquet(f"$parkDir/park_$batchId%012d")
          afterPark()
        }
    }
  }

  /** Default park alarm: one WARN per park past the threshold. */
  private def warnParkAlarm(g: ParkGauge): Unit =
    org.slf4j.LoggerFactory.getLogger(classOf[RequeueWriter]).warn(
      s"requeue park backlog past alarm threshold: ${g.batches} batches, " +
        s"${g.bytes} bytes — the head batch is failing and everything " +
        "behind it is parking (reference analogue: queue alarm at 1e6 " +
        "msgs / 150 MB)")

  /** [[sinkToParquet]] with the re-queue wrapper around an arbitrary
    * batch writer (parquet append here; JDBC `df.write.jdbc` on a real
    * deployment — the writer is injected precisely so the flaky-sink
    * path is testable without a database).
    */
  def sinkWithRequeue(df: DataFrame, checkpoint: String, parkDir: String,
      write: (DataFrame, Long) => Unit,
      availableNow: Boolean = true, trigger: String = "5 seconds")
      : org.apache.spark.sql.streaming.StreamingQuery = {
    val w = new RequeueWriter(parkDir, write)
    df.writeStream
      .outputMode(OutputMode.Append)
      .option("checkpointLocation", checkpoint)
      .trigger(
        if (availableNow) org.apache.spark.sql.streaming.Trigger.AvailableNow()
        else org.apache.spark.sql.streaming.Trigger.ProcessingTime(trigger))
      .foreachBatch { (batch: Dataset[org.apache.spark.sql.Row], batchId: Long) =>
        w(batch, batchId)
      }
      .start()
  }
}
