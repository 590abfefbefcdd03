package graft

import scala.collection.mutable
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.streaming.OutputMode
import org.scalatest.funsuite.AnyFunSuite
import graft.operators.Alerts
import graft.streaming.{ApmStateV2, ApmStreaming}

/** The DETERMINISTIC (event-time-ordered) R4 cooldown
  * ([[ApmStateV2.OrderedCooldownProcessor]]): the opt-in variant must
  * reproduce the batch oracle's global-ts-order cooldown fold
  * ([[Alerts.alertsRef]]) bit-exactly even when fired candidates arrive
  * server-interleaved and OUT of event-time order (within the watermark
  * delay) across micro-batches — the exact scenario where the
  * reference-faithful arrival-order mode is nondeterministic (its winner
  * depends on which upstream per-(server,service,lag) chain lands
  * first; reference folds bus order, stream_process_alerts.js:420-447).
  */
class OrderedCooldownSpec extends AnyFunSuite with TestSession with RocksDbSupport {

  /** [[Alerts.firedRef]] mapped to the streaming row type — the exact
    * input the oracle's cooldown stage consumed.
    */
  private def firedRef(
      rows: Seq[(String, String, Int, Long, Boolean, String)],
      cfg: Alerts.AlertCfg): Seq[ApmStreaming.VoteOut] =
    Alerts.firedRef(rows, cfg).map { case (ts, srv, svc, lag, causes) =>
      ApmStreaming.VoteOut(srv, svc, lag, ts, causes)
    }

  test("ordered cooldown == batch alertsRef bit-exact with " +
      "server-interleaved, out-of-event-time-order arrival") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    withRocksDb {
      val cfg = Alerts.AlertCfg(windowSz = 5, voteThreshold = 2,
        cooldownMs = 8000L)
      val rnd = new scala.util.Random(29)
      // two servers, same service, near-simultaneous candidates: srvB's
      // ts is offset 137 ms from srvA's so cross-server firings are
      // sub-second apart — the regime where arrival order and event-time
      // order genuinely disagree
      val cand = for {
        i <- 0 until 150; srv <- Seq("srvA", "srvB")
      } yield (srv, "svc", 6,
        i * 1000L + (if (srv == "srvB") 137L else 0L),
        rnd.nextDouble() < 0.7, s"cause-$srv-$i")
      val exp = Alerts.alertsRef(cand, cfg)
      val fired = firedRef(cand, cfg)
      // the scenario must actually exercise the contested case
      assert(exp.map(_._2).toSet == Set("srvA", "srvB"),
        "oracle alerts must come from both servers")
      assert(fired.sliding(2).exists(p =>
        p.head.server != p.last.server && p.last.ts_ms - p.head.ts_ms < 1000L),
        "no near-simultaneous cross-server firing in the fixture")

      // arrival order: event order +-2 s jitter (inside the 10 s
      // watermark delay, so nothing is dropped as late), fed in small
      // micro-batches so buffering/flush crosses batch boundaries
      val arrival = fired.sortBy(r => r.ts_ms + (rnd.nextInt(4001) - 2000))
      val maxTs = fired.map(_.ts_ms).max
      val in = MemoryStream[ApmStreaming.VoteOut]
      val out = ApmStateV2.cooldownStreamOrdered(in.toDS(), cfg)
      val q = out.writeStream.outputMode(OutputMode.Append)
        .format("memory").queryName("ord_out").start()
      try {
        arrival.grouped(12).foreach { chunk =>
          in.addData(chunk); q.processAllAvailable()
        }
        // a far-future sentinel on its own service advances the
        // watermark past every real event, releasing the tail holdback
        // (the sentinel itself stays held — filtered defensively below)
        in.addData(ApmStreaming.VoteOut("zz", "zz_sentinel", 0,
          maxTs + 1000000L, ""))
        q.processAllAvailable()
        val got = spark.table("ord_out").as[ApmStreaming.VoteOut].collect()
          .filter(_.service != "zz_sentinel")
          .map(o => (o.ts_ms, o.server, o.service, o.lag, o.causes))
          .sortBy(r => (r._1, r._2, r._4)).toList
        val expL = exp.sortBy(r => (r._1, r._2, r._4)).toList
        assert(got.size == expL.size,
          s"alert count ${got.size} != oracle ${expL.size}\n" +
            s"got=${got.take(5)}...\nexp=${expL.take(5)}...")
        assert(got == expL, "ordered cooldown diverges from alertsRef")
      } finally q.stop()
    }
  }

  test("t_ops alarm channel: ledger deltas publish once, zero-delta " +
      "drains stay silent, wm drops publish without the ledger") {
    import graft.streaming.{ApmGraph, ContractConsumer, QueueRegistry}
    val qdir = java.nio.file.Files.createTempDirectory("graft_ops").toString
    val topic = QueueRegistry.topic("t_ops", qdir, 1)
    val c = new ContractConsumer(topic, "spec_ops_unit")
    ApmStateV2.LateDrops.reset()
    // sync the delta baseline to the current counters (earlier suites/
    // tests in this JVM may have published)
    ApmGraph.publishDropMetrics(0L, "sync", qdir, includeLedger = true)
    c.poll(1000) // discard anything pending
    // a drain that saw only LEDGER drops (boundary band) publishes them
    ApmStateV2.LateDrops.dropped.incrementAndGet()
    ApmStateV2.LateDrops.droppedWithData.incrementAndGet()
    ApmGraph.publishDropMetrics(0L, "stage4", qdir, includeLedger = true)
    val r1 = c.poll(1000)
    assert(r1.size == 1 && r1.head.value ==
      """{"stage":"stage4","wm_dropped":0,"ledger_dropped":1,""" +
        """"ledger_dropped_with_data":1}""", s"got $r1")
    // same counters, next drain: delta is zero -> SILENT (alarm, not
    // heartbeat)
    ApmGraph.publishDropMetrics(0L, "stage4", qdir, includeLedger = true)
    assert(c.poll(1000).isEmpty, "zero-delta drain published")
    // a wm-only drop publishes without touching the ledger fields
    ApmGraph.publishDropMetrics(3L, "stage1", qdir)
    val r3 = c.poll(1000)
    assert(r3.size == 1 && r3.head.value ==
      """{"stage":"stage1","wm_dropped":3,"ledger_dropped":0,""" +
        """"ledger_dropped_with_data":0}""", s"got $r3")
  }

  test("drop accounting stays EXACT past the recentProgress ring: a " +
      ">100-micro-batch drain with all drops in the early batches still " +
      "publishes the full count on t_ops") {
    import java.nio.file.{Files, Paths}
    import graft.streaming.{ApmGraph, ContractConsumer, FileTopic}
    withRocksDb {
      val base = Files.createTempDirectory("graft_dropx").toString
      val qdir = s"$base/q"
      Files.createDirectories(Paths.get(qdir))
      val t = new FileTopic(Paths.get(qdir, "t_fired"), 1)
      def fired(ts: Long): String =
        s"""{"server":"s0","service":"svc","lag":3,"ts_ms":$ts,"causes":"c"}"""
      // batch 1 advances the watermark to 1_000_000 - 10_000; batches
      // 2-31 each deliver ONE old-timestamped row; batches 32+ are
      // ~150 fresh rows. Spark's late-event filter LAGS ONE BATCH
      // (watermarkForLateEvents = the previous batch's eviction wm),
      // so the FIRST old row — batch 2, filter wm still 0 — is
      // ADMITTED, buffered, and deterministically folded first in
      // event-time order; the remaining 29 are dropped. With maxpoll=1
      // the single drain runs >180 micro-batches, so the 100-entry
      // recentProgress ring has long evicted the dropping batches by
      // termination — summing it (the old implementation) would report
      // 0; the listener must report exactly 29.
      t.produce("k", fired(1000000L))
      (0 until 30).foreach(i => t.produce("k", fired(1000L + i)))
      (0 until 150).foreach(i => t.produce("k", fired(2000000L + i * 20000L)))
      val cfg = ApmGraph.GraphCfg(orderedCooldown = true)
      ApmGraph.runStage4Queued(spark, s"$base/work", cfg,
        ApmGraph.Topic("t_fired", qdir), maxPoll = Some(1))
      val alarms = new ContractConsumer(
        new FileTopic(Paths.get(qdir, "t_ops")), "spec_dropx")
        .poll(1000).map(_.value)
      assert(alarms.exists(_.contains("\"wm_dropped\":29")),
        s"exact drop count missing (ring-buffer undercount?): $alarms")
      // the one-batch-lag-admitted row folded deterministically FIRST
      // (event-time order), not at its arrival position
      val alerts = spark.read.option("recursiveFileLookup", "true")
        .parquet(s"$base/work/alerts")
        .select("ts_ms").collect().map(_.getLong(0)).sorted
      assert(alerts.headOption.contains(1000L),
        s"admitted late row missing or misordered: ${alerts.take(3).toSeq}")
    }
  }

  test("ordered cooldown: a genuinely-late row is dropped " +
      "deterministically and observably, never folded") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    withRocksDb {
      val cfg = Alerts.AlertCfg(windowSz = 5, voteThreshold = 2,
        cooldownMs = 5000L)
      val in = MemoryStream[ApmStreaming.VoteOut]
      val out = ApmStateV2.cooldownStreamOrdered(in.toDS(), cfg)
      val q = out.writeStream.outputMode(OutputMode.Append)
        .format("memory").queryName("ord_late_out").start()
      try {
        ApmStateV2.LateDrops.reset()
        val rows = Seq(10000L, 20000L, 30000L, 40000L).map(ts =>
          ApmStreaming.VoteOut("srvA", "svc", 6, ts, s"c$ts"))
        in.addData(rows); q.processAllAvailable()
        // sentinel advances the watermark far past every real row and
        // fires the flush timer
        in.addData(ApmStreaming.VoteOut("zz", "zz_sentinel", 0, 500000L, ""))
        q.processAllAvailable()
        val before = spark.table("ord_late_out")
          .as[ApmStreaming.VoteOut].collect()
          .filter(_.service != "zz_sentinel")
          .map(_.ts_ms).sorted.toList
        // cooldown 5 s over 10 s spacing: every row emits
        assert(before == List(10000L, 20000L, 30000L, 40000L),
          s"pre-late fold wrong: $before")
        // now a row from the flushed past arrives (ts 25 000 << watermark)
        in.addData(ApmStreaming.VoteOut("srvB", "svc", 6, 25000L, "late"))
        q.processAllAvailable()
        // one more sentinel so any (wrongly) buffered late row would be
        // forced out if it were going to be
        in.addData(ApmStreaming.VoteOut("zz", "zz_sentinel", 0, 900000L, ""))
        q.processAllAvailable()
        val after = spark.table("ord_late_out")
          .as[ApmStreaming.VoteOut].collect()
          .filter(_.service != "zz_sentinel")
          .map(_.ts_ms).sorted.toList
        assert(after == before,
          s"late row leaked into the fold: $after vs $before")
        // the drop is OBSERVABLE: either the processor's ledger saw it
        // (in-band late: flushedWm < spark's late-filter wm edge) or
        // Spark's own watermark filter did (numRowsDroppedByWatermark)
        val sparkDropped = q.recentProgress
          .flatMap(_.stateOperators).map(_.numRowsDroppedByWatermark).sum
        val ledgerDropped = ApmStateV2.LateDrops.droppedWithData.get()
        info(s"sparkDropped=$sparkDropped ledgerDropped=$ledgerDropped")
        assert(sparkDropped + ledgerDropped >= 1L,
          "late row vanished with no observable drop record")
      } finally q.stop()
    }
  }

  test("parquet handoff honours orderedCooldown: both servers fire the " +
      "same service at identical window ends, stage 4 runs the " +
      "transformWithState fold and == the batch oracle") {
    import java.nio.file.{Files, Paths}
    import java.time.{Instant, ZoneOffset}
    import java.time.format.DateTimeFormatter
    import org.apache.spark.sql.execution.streaming.runtime.StreamingQueryWrapper
    import org.apache.spark.sql.functions.col
    import graft.streaming.ApmGraph
    withRocksDb {
      val base = Files.createTempDirectory("graft_ordparq").toString
      val (logs, work) = (s"$base/logs", s"$base/work")
      val glob = s"$logs/net/*/*"
      val fmt = DateTimeFormatter.ofPattern("yyyy-MM-dd HH:mm:ss,SSS")
        .withZone(ZoneOffset.UTC)
      val t0 = 1578391200000L
      def writeLog(server: String, lines: Seq[(Int, Long, Long)]): Unit = {
        val p = Paths.get(logs, "net", server, "server.log")
        Files.createDirectories(p.getParent)
        Files.writeString(p, lines.map { case (id, ms, elapsed) =>
          s"[$id] ${fmt.format(Instant.ofEpochMilli(ms))} [a:b:42] INFO " +
            s"CommonTiming::Stop S:checkout handled in time $elapsed"
        }.mkString("", "\n", "\n"))
        ()
      }
      // both hosts turn slow at the same interval: every firing window
      // is a cross-server tie only event-time order (ts, server, lag)
      // resolves like the oracle
      Seq("hostA", "hostB").foreach(srv => writeLog(srv, (0 until 19).map(i =>
        (i, t0 + i * 10000L, if (i < 10) 100L else 300L + (i % 5) * 7))))
      // the firing sentinel (zzf) fires the same service far in the
      // future, so its fired rows move stage 4's watermark past every
      // real row; the quiet zz2 closes zzf's stats windows
      writeLog("zzf", (0 until 9).map(i =>
        (900 + i, t0 + 200000000L + i * 10000L, 300L)))
      writeLog("zz2", Seq((999, t0 + 300000000L, 1L)))
      val cfg = ApmGraph.GraphCfg(orderedCooldown = true)
      ApmGraph.runStage1(spark, glob, work, cfg)
      ApmGraph.runStage1(spark, glob, work, cfg) // window-close pass
      ApmGraph.runStage2(spark, work, cfg)
      ApmGraph.runStage3(spark, work, cfg)
      val q = ApmGraph.startStage4(spark, work, cfg)
      q.awaitTermination()
      val plan = q.asInstanceOf[StreamingQueryWrapper].streamingQuery
        .lastExecution.executedPlan.toString
      assert(plan.contains("TransformWithState") &&
        !plan.contains("FlatMapGroupsWithState"),
        s"stage 4 did not run the event-time cooldown:\n$plan")
      ApmGraph.runStage4(spark, work, cfg) // timer-firing pass

      val cand = TopologyOracle.candidates(spark, glob, cfg)
      val badTs = cand.filter(_._5).groupBy(_._1)
        .view.mapValues(_.map(_._4).toSet).toMap
      assert(badTs.getOrElse("hostA", Set.empty).nonEmpty &&
        badTs.getOrElse("hostA", Set.empty) == badTs.getOrElse("hostB", Set.empty),
        s"no cross-server ties: ${badTs.view.mapValues(_.size).toMap}")
      val exp = Alerts.alertsRef(cand.toIndexedSeq, cfg.alert)
        .map(a => (a._1, a._2, a._3, a._4)).sorted.toList
      val got = spark.read.option("recursiveFileLookup", "true")
        .parquet(s"$work/alerts")
        .filter(!col("server").isin(TopologyOracle.sentinelServers: _*))
        .select("ts_ms", "server", "service", "lag").collect()
        .map(r => (r.getLong(0), r.getString(1), r.getString(2), r.getInt(3)))
        .sorted.toList
      assert(exp.nonEmpty, "oracle produced no alerts")
      assert(got == exp, s"alerts mismatch: got=$got exp=$exp")
    }
  }
}
