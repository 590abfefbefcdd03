package graft.streaming

import org.apache.spark.sql.{Dataset, Encoders}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming._
import graft.operators.Alerts
import ApmStreaming._

/** The keyed streaming folds that need the `transformWithState` API
  * (Spark 4's StatefulProcessor) rather than `flatMapGroupsWithState`:
  *
  *  - the DETERMINISTIC R4 cooldown ([[OrderedCooldownProcessor]]),
  *    which `ApmGraph` stage 4 runs under `orderedCooldown`: per-service
  *    ListState buffers plus first-class event-time timers, which the
  *    single GroupStateTimeout slot cannot express;
  *  - the bounded-state histogram sliding quantile (A10,
  *    [[HistQuantileProcessor]]), a ring of bucket histograms per key.
  *
  * Both record the rows they drop in the [[LateDrops]] ledger. The
  * arrival-order folds of the core chain (z-score, votes, cooldown) exist
  * once, in [[ApmStreaming]]; they run on either state store provider
  * (StreamingSpec pins both).
  *
  * transformWithState requires the RocksDB state store; the cluster
  * config this targets (set in the session that runs these folds):
  * {{{
  *   spark.sql.streaming.stateStore.providerClass=
  *     org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider
  *   spark.sql.streaming.stateStore.rocksdb.changelogCheckpointing.enabled=true
  * }}}
  */
object ApmStateV2 {

  val RocksDbProvider =
    "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider"

  /** Observability for the rows the folds here drop by design: a row at
    * or below [[OrderedCooldownProcessor]]'s flushed watermark, or a
    * bucket at or below [[HistQuantileProcessor]]'s last folded one. A
    * DATA-carrying drop means the stream result has diverged from what a
    * batch run over the full input would say. Every drop bumps a counter
    * and a data-carrying drop logs a WARN naming key/bucket/payload, so an
    * operator can see the divergence (per-executor on a cluster: the
    * counters are JVM-local, the log lines land in executor logs).
    * `ApmGraph` stage 4 publishes the counters' deltas on `t_ops`;
    * OrderedCooldownSpec pins them.
    */
  object LateDrops {
    import java.util.concurrent.atomic.AtomicLong
    private val log = org.slf4j.LoggerFactory.getLogger(getClass)
    /** All dropped buckets (duplicates AND late). */
    val dropped = new AtomicLong(0L)
    /** Dropped buckets that carried non-empty data — the divergence
      * signal. An exact-duplicate replay of a non-empty bucket also
      * counts (the fold keeps only running sums, so "same bucket, same
      * payload" is indistinguishable from "same bucket, new payload" —
      * over-reporting is the safe side for a divergence alarm).
      */
    val droppedWithData = new AtomicLong(0L)
    private[streaming] def record(op: String, key: (String, String),
        bucket: Long, last: Long, payload: String, hasData: Boolean): Unit = {
      dropped.incrementAndGet()
      if (hasData) {
        droppedWithData.incrementAndGet()
        log.warn(s"$op: dropping late/duplicate DATA bucket $bucket " +
          s"(last folded $last) for key $key payload=$payload — stream " +
          "result may diverge from batch over the same full input")
      }
    }
    /** Test hook: zero both counters. */
    def reset(): Unit = { dropped.set(0L); droppedWithData.set(0L) }
  }

  // ------------------------------- R4 ordered (deterministic) cooldown

  /** VoteOut plus the event-time column the watermark rides on. */
  private type OrdRow = (String, String, Int, Long, String, java.sql.Timestamp)

  /** R4 cooldown, DETERMINISTIC opt-in variant: folds fired candidates
    * in EVENT-TIME order across keys instead of arrival order.
    *
    * The arrival-order cooldown ([[ApmStreaming.cooldownStream]]) is
    * reference-faithful — the reference folds bus ARRIVAL order
    * (stream_process_alerts.js:420-447), so when two servers fire the
    * same service near-simultaneously the winner depends on which
    * upstream per-(server,service,lag) chain reaches the consumer
    * first. Per-key ordering contracts cannot fix that: the service key
    * is coarser than the upstream keys, and no broker orders ACROSS
    * partitions. This processor offers what the reference cannot: it
    * buffers fired rows per service and folds them only once the
    * event-time watermark has passed them, sorted by
    * (ts_ms, server, lag) — exactly the batch oracle's global order
    * ([[graft.operators.Alerts.alertsRef]]) — so multi-server firings
    * are reproducible and stream == batch bit-for-bit.
    *
    * Determinism contract (the standard watermark trade): the output is
    * a pure function of the input SET provided every row arrives before
    * the watermark passes its event time (within the `withWatermark`
    * delay of the max event time seen). A row later than that is
    * DROPPED — never folded, deterministically — and observably:
    * Spark's stateful-operator late-record filter discards it BEFORE
    * this processor runs (counted in the query progress's
    * `numRowsDroppedByWatermark` — the primary channel,
    * OrderedCooldownSpec pins it); the in-processor [[LateDrops]]
    * ledger guards only the residual boundary band (a row the late
    * filter admits — `watermarkForLateEvents` LAGS ONE BATCH behind
    * the eviction watermark, so a row arriving in the batch right
    * after the one that advanced the watermark is still admitted,
    * buffered, and folded at its event-time position; the ring-buffer
    * exactness spec pins this admit-then-fold case — but whose ts is
    * at or below the watermark of the last flush). The arrival-order
    * mode would instead have folded such a row at whatever position
    * it happened to arrive.
    *
    * TAIL HOLDBACK (the flip side of the same trade): rows within
    * `delay` of the max event time seen are still in the `buf`
    * ListState when an AvailableNow drain finishes — the watermark
    * never passes them, so the final tail of a bounded run is withheld
    * (a batch fold over the same input would include it). Harness
    * comparisons must either advance the watermark past the last real
    * event with a far-future sentinel row (OrderedCooldownSpec and the
    * topology spec's firing sentinel do this) or compare only up to
    * `max_event_time - delay`. On a live unbounded stream the holdback
    * is just the normal watermark lag.
    *
    * State per service: the not-yet-ripe buffered rows (bounded by
    * alert volume within one watermark delay — R3 fires at most one row
    * per upstream key per stats window), the last-emit timestamp, the
    * flushed-watermark high-water mark, and a single registered
    * event-time timer at the earliest buffered ts (re-aimed as earlier
    * rows arrive; the flush itself re-arms for whatever stays held).
    */
  class OrderedCooldownProcessor(cfg: Alerts.AlertCfg)
      extends StatefulProcessor[String, OrdRow, VoteOut] {
    @transient private var buf: ListState[VoteOut] = _
    @transient private var lastSt: ValueState[Long] = _  // last emit ts
    @transient private var wmSt: ValueState[Long] = _    // flushed watermark
    @transient private var timerSt: ValueState[Long] = _ // armed timer (0 = none)
    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit = {
      buf = getHandle.getListState[VoteOut]("buf",
        Encoders.product[VoteOut], TTLConfig.NONE)
      lastSt = getHandle.getValueState[Long]("lastFired",
        Encoders.scalaLong, TTLConfig.NONE)
      wmSt = getHandle.getValueState[Long]("flushedWm",
        Encoders.scalaLong, TTLConfig.NONE)
      timerSt = getHandle.getValueState[Long]("timerAt",
        Encoders.scalaLong, TTLConfig.NONE)
    }
    override def handleInputRows(svc: String, rows: Iterator[OrdRow],
        tv: TimerValues): Iterator[VoteOut] = {
      val flushedWm = if (wmSt.exists()) wmSt.get() else Long.MinValue
      val (late, fresh) = rows
        .map(r => VoteOut(r._1, r._2, r._3, r._4, r._5)).toArray
        .partition(_.ts_ms <= flushedWm)
      late.foreach(r => LateDrops.record("orderedCooldown",
        (r.server, svc), r.ts_ms, flushedWm, r.causes, hasData = true))
      if (fresh.nonEmpty) {
        buf.appendList(fresh)
        val minTs = fresh.map(_.ts_ms).min
        val prev = if (timerSt.exists()) timerSt.get() else 0L
        if (prev == 0L || minTs < prev) {
          if (prev != 0L) getHandle.deleteTimer(prev)
          getHandle.registerTimer(minTs)
          timerSt.update(minTs)
        }
      }
      Iterator.empty
    }
    override def handleExpiredTimer(svc: String, tv: TimerValues,
        info: ExpiredTimerInfo): Iterator[VoteOut] = {
      val wm = tv.getCurrentWatermarkInMs()
      val (ripe, hold) = buf.get().toArray.partition(_.ts_ms <= wm)
      var last = if (lastSt.exists()) lastSt.get() else Long.MinValue
      val out = ripe.sortBy(r => (r.ts_ms, r.server, r.lag)).flatMap { r =>
        val emit = last == Long.MinValue ||
          (r.ts_ms - last) / 1000.0 > cfg.cooldownMs / 1000.0
        if (emit) { last = r.ts_ms; Some(r) } else None
      }
      lastSt.update(last)
      wmSt.update(wm)
      buf.clear()
      if (hold.nonEmpty) {
        buf.appendList(hold)
        val minTs = hold.map(_.ts_ms).min // > wm: a future re-arm
        getHandle.registerTimer(minTs)
        timerSt.update(minTs)
      } else timerSt.update(0L)
      out.iterator
    }
  }

  /** The watermark delay is the determinism budget: cross-chain skew up
    * to `delay` behind the max fired event time is reordered correctly;
    * anything later is dropped-and-counted (see processor scaladoc).
    */
  def cooldownStreamOrdered(fired: Dataset[VoteOut], cfg: Alerts.AlertCfg,
      delay: String = "10 seconds"): Dataset[VoteOut] = {
    import fired.sparkSession.implicits._
    fired
      .withColumn("ev_ts", timestamp_millis(col("ts_ms")))
      .withWatermark("ev_ts", delay)
      .as[OrdRow]
      .groupByKey(_._2)
      .transformWithState(new OrderedCooldownProcessor(cfg),
        TimeMode.EventTime(), OutputMode.Append())
  }

  // --------------------------- A10 histogram sliding quantile at ingest

  /** One (bucket, bin) histogram cell of a key — the stats stage's
    * per-interval output unit (all cells of a bucket arrive in one
    * micro-batch, the watermark-close contract).
    */
  case class HistIn(server: String, service: String, bucket: Long,
      bin: Long, cnt: Long)
  case class HistOut(server: String, service: String, bucket: Long,
      n: Long, approx75: Double, approx95: Double)
  case class HistBucket(bucket: Long, bins: List[(Long, Long)])
  case class HistState(ring: List[HistBucket], last: Long)

  /** Streaming twin of [[graft.operators.ApmStats.slidingHistQuantileFrom]]
    * (a10) — the BOUNDED-STATE sliding percentile at ingest: per-key
    * state is a ring of the trailing `windowN` bucket histograms
    * (windowN × non-empty bins longs — independent of event volume,
    * unlike the exact stats stage's sorted value lists). Each arriving
    * bucket emits the window ending at it: merge the ring by bin
    * addition, approx(p) = midpoint of the first bin whose cumulative
    * count reaches p·n — float-for-float the batch expression, so
    * stream == batch exactly (StateV2Spec pins it).
    *
    * Bucket discipline across micro-batches: a bucket at or below the
    * last folded one (duplicate / late arrival) is DROPPED, observably
    * ([[LateDrops]]: counter + WARN when it carried data); gaps are
    * filled with empty histograms (an all-empty window emits nothing,
    * exactly the batch fan-out's absence).
    * Batch-only divergence at the SEAM: the batch scaffold fans trailing
    * windows out to the GLOBAL max bucket, so a key silent at corpus end
    * gets trailing rows there that the stream only emits once that key's
    * next bucket arrives — inherent to unclosed streaming windows.
    */
  class HistQuantileProcessor(windowN: Int, binW: Double, step: Long = 1L)
      extends StatefulProcessor[(String, String), HistIn, HistOut] {
    @transient private var st: ValueState[HistState] = _
    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      st = getHandle.getValueState[HistState]("hist",
        Encoders.product[HistState], TTLConfig.NONE)
    override def handleInputRows(key: (String, String), rows: Iterator[HistIn],
        tv: TimerValues): Iterator[HistOut] = {
      var s = if (st.exists()) st.get() else HistState(Nil, Long.MinValue)
      def push(bucket: Long, cells: List[(Long, Long)]): Option[HistOut] = {
        s = HistState(
          (s.ring :+ HistBucket(bucket, cells)).takeRight(windowN), bucket)
        val merged = scala.collection.mutable.Map.empty[Long, Long]
        s.ring.foreach(_.bins.foreach { case (b, c) =>
          merged(b) = merged.getOrElse(b, 0L) + c })
        val n = merged.valuesIterator.sum
        if (n == 0L) None
        else {
          val sorted = merged.toSeq.sortBy(_._1)
          def approx(p: Double): Double = {
            var cum = 0L
            val bin = sorted.find { case (_, c) =>
              cum += c; cum.toDouble >= p * n.toDouble }.get._1
            (bin.toDouble + 0.5) * binW
          }
          Some(HistOut(key._1, key._2, bucket, n, approx(0.75), approx(0.95)))
        }
      }
      val byBucket = rows.toArray.groupBy(_.bucket).toSeq.sortBy(_._1)
      val out = byBucket.flatMap { case (b, cells) =>
        if (s.last != Long.MinValue && b <= s.last) { // dup/late: drop
          LateDrops.record("HistQuantileProcessor", key, b, s.last,
            s"cells=${cells.length}", hasData = cells.exists(_.cnt != 0L))
          Nil
        } else {
          val gaps =
            if (s.last == Long.MinValue) Seq.empty[Long]
            else (s.last + step) until b by step
          // only the first windowN fills can still see ring mass (the
          // windowN-th drains it); the rest of a LONGER gap is jumped in
          // O(1) — the skipped positions provably emit nothing, so a key
          // quiet for a month costs windowN steps, not gap-length steps
          val jumped = gaps.length > windowN
          val walked = if (jumped) gaps.take(windowN) else gaps
          val fillOut = walked.flatMap(push(_, Nil))
          // after windowN empty fills the ring is all-empty: reposition
          // `last` past the skipped stretch with an empty ring
          if (jumped) s = HistState(Nil, b - step)
          val binned = cells.groupBy(_.bin).view
            .mapValues(_.map(_.cnt).sum).toList.sortBy(_._1)
          fillOut ++ push(b, binned)
        }
      }
      st.update(s)
      out.iterator
    }
  }

  def histQuantileStreamV2(in: Dataset[HistIn], windowN: Int,
      binW: Double, step: Long = 1L): Dataset[HistOut] = {
    import in.sparkSession.implicits._
    in.groupByKey(r => (r.server, r.service))
      .transformWithState(new HistQuantileProcessor(windowN, binW, step),
        TimeMode.None(), OutputMode.Append())
  }
}
