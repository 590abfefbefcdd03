package graft

import java.nio.file.{Files, Paths}
import java.time.format.DateTimeFormatter
import java.time.{Instant, ZoneOffset}
import java.util.concurrent.atomic.AtomicBoolean
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQueryException
import org.scalatest.funsuite.AnyFunSuite
import graft.operators.{Alerts, Parsing, ZScore}
import graft.sources.LogFileSource
import graft.streaming.{ApmGraph, ApmStreaming}

/** Kill-and-resume fault injection over the full four-stage streaming
  * graph (ApmGraph) — the end-to-end proof of the exactly-once claim
  * that upgrades the reference's ack-before-process queue semantics
  * (queue.js:277-283): kill queries mid-drain, crash the terminal sink
  * in the exact window between its data write and its epoch commit,
  * restart everything from the same checkpoints, and assert the sink
  * equals the batch chain over the same logs EXACTLY (no loss, no dup).
  *
  * Two injection points per scenario:
  *  - stage 2 (stateful z-score) is stopped mid-drain while epochs
  *    remain (maxFilesPerTrigger=1 splits the drain into one epoch per
  *    stats file), then resumed from its checkpoint;
  *  - stage 4's foreachBatch sink throws AFTER batch 0's parquet lands
  *    but BEFORE the epoch commits — the replay-window where a
  *    non-idempotent writer would duplicate. The resume replays batch 0
  *    onto the same per-batchId path (mode=overwrite), so the final
  *    alert set must still match the oracle bit-exactly.
  *
  * The whole scenario runs twice: once on the default HDFS-backed state
  * store and once on RocksDB with changelog checkpointing — the
  * provider a production deployment would run — proving resume
  * semantics don't depend on the state store backend.
  */
class GraphFaultSpec extends AnyFunSuite with GraphSuite {

  private val fmt = DateTimeFormatter
    .ofPattern("yyyy-MM-dd HH:mm:ss,SSS").withZone(ZoneOffset.UTC)
  private def lt(ms: Long): String = fmt.format(Instant.ofEpochMilli(ms))
  private val t0 = 1578391200000L // 2020-01-07T10:00:00Z

  private def writeLog(dir: String, server: String, name: String,
      lines: Seq[String]): Unit =
    StreamCorpus.publish(Paths.get(dir, "net", server, name),
      lines.mkString("", "\n", "\n"))

  private def exitLine(id: Int, ms: Long, svc: String, elapsed: Long): String =
    s"[$id] ${lt(ms)} [a:b:42] INFO CommonTiming::Stop $svc handled in time $elapsed"

  /** The full scenario: generate logs, drain the graph with two injected
    * faults + resumes, then assert stage-2 output and the final alerts
    * both equal the batch chain exactly.
    */
  private def killResumeScenario(tag: String): Unit = {
    val base = Files.createTempDirectory(s"graft_fault_$tag").toString
    val logs = s"$base/logs"
    val work = s"$base/work"
    val cfg = ApmGraph.GraphCfg()

    // 2 servers x 19 intervals; elapsed jumps 100 -> 300 halfway so later
    // windows trip the hard-max and z-score thresholds (same data shape
    // GraphSpec pins against the batch chain).
    Seq("hostA", "hostB").foreach { srv =>
      val lines = (0 until 19).map { i =>
        exitLine(i, t0 + i * 10000L, "S:checkout", if (i < 10) 100L else 300L)
      }
      writeLog(logs, srv, "server.log", lines)
    }
    // stage 1: drain, then a far-future sentinel closes every real
    // window, then drain twice more (the last call finds nothing new)
    ApmGraph.runStage1(spark, s"$logs/net/*/*", work, cfg)
    writeLog(logs, "zz", "server.log",
      Seq(exitLine(999, t0 + 100000000L, "S:checkout", 1L)))
    ApmGraph.runStage1(spark, s"$logs/net/*/*", work, cfg)
    ApmGraph.runStage1(spark, s"$logs/net/*/*", work, cfg)
    ApmGraph.stop(spark, work)

    // ---- fault 1: stop stage 2 mid-drain, then resume from checkpoint.
    // One stats file per epoch; stop as soon as the first epoch commits,
    // so later epochs are still pending at the kill.
    val statsFiles = Option(new java.io.File(s"$work/stats")
      .listFiles()).getOrElse(Array.empty)
      .count(f => f.getName.endsWith(".parquet"))
    assert(statsFiles > 1, s"need >1 stats files for a mid-drain kill, got $statsFiles")
    val q2 = ApmGraph.startStage2(spark, work, cfg, maxFilesPerTrigger = Some(1))
    val deadline = System.nanoTime() + 60L * 1000 * 1000 * 1000
    while (q2.isActive && q2.recentProgress.isEmpty &&
        System.nanoTime() < deadline) Thread.sleep(5)
    assert(q2.recentProgress.nonEmpty || !q2.isActive,
      "stage 2 made no progress within 60 s — cannot stage the kill")
    q2.stop()
    q2.awaitTermination()
    val zRowsAtKill = spark.read.parquet(s"$work/zscore").count()
    info(s"[$tag] stage-2 killed after ${q2.recentProgress.length} epoch(s), " +
      s"$zRowsAtKill rows committed of $statsFiles files")
    ApmGraph.runStage2(spark, work, cfg) // resume: drains the remainder

    ApmGraph.runStage3(spark, work, cfg)

    // ---- fault 2: crash stage 4 between batch 0's data write and its
    // epoch commit (the non-idempotent-writer dup window), then resume.
    val crashed = new AtomicBoolean(false)
    val q4 = ApmGraph.startStage4(spark, work, cfg, afterBatch = { _ =>
      if (crashed.compareAndSet(false, true))
        throw new RuntimeException("injected crash: post-write, pre-commit")
    })
    intercept[StreamingQueryException] { q4.awaitTermination() }
    assert(crashed.get, "injection point never reached")
    // the window is real: batch 0's data is on disk, its epoch is not
    // committed, so the resume WILL replay it
    assert(Files.exists(Paths.get(s"$work/alerts/batch_0")),
      "crash landed before the data write — wrong injection point")
    assert(!Files.exists(Paths.get(s"$work/ckpt_alerts/commits/0")),
      "epoch 0 committed despite the injected crash")
    ApmGraph.runStage4(spark, work, cfg) // resume: replays batch 0 + rest

    // ---- batch chain over the same lines (sentinel filtered)
    val parsedB = Parsing.extractStdExit(
        LogFileSource.batch(spark, s"$logs/net/*/*")
          .filter(col("log_type") === "server_log"))
      .select(col("server"), col("service"),
        timestamp_millis(col("end_ms")).as("end_ts"), col("elapsed"))
    val statsB = ApmStreaming.slidingStatsStream(
        parsedB, ApmGraph.WindowLen, ApmGraph.Slide, ApmGraph.Lateness)
      .filter(col("server") =!= "zz")

    // stage-2 no-loss/no-dup: full sorted row lists (keys + signals)
    val zCols = Seq("server", "service", "lag", "ts_ms",
      "average_signal", "per75_signal", "per95_signal")
    def zList(df: org.apache.spark.sql.DataFrame): List[Seq[Any]] =
      df.select(zCols.map(col): _*).collect().map(_.toSeq)
        .toList.sortBy(_.mkString("|"))
    val zStream = zList(spark.read.parquet(s"$work/zscore"))
    val zBatch = zList(ZScore.zScoreFold(
      statsB.select("server", "service", "ts_ms", "tpm",
        "average", "per75", "per95"),
      Seq(ApmGraph.Lag)))
    assert(zRowsAtKill < zBatch.size,
      s"kill was not mid-drain: $zRowsAtKill rows already committed " +
        s"of ${zBatch.size} — the resume leg had nothing to prove")
    assert(zStream == zBatch,
      s"z rows diverge after kill+resume: stream=${zStream.size} batch=${zBatch.size}")

    // end-to-end alerts == reference fold over batch candidates
    val candB = Alerts.candidates(ZScore.zScoreFold(
        statsB.select("server", "service", "ts_ms", "tpm",
          "average", "per75", "per95"), Seq(ApmGraph.Lag)), ApmGraph.Alert)
      .select("server", "service", "lag", "ts_ms", "bad", "causes")
      .collect()
      .map(r => (r.getString(0), r.getString(1), r.getInt(2), r.getLong(3),
        r.getInt(4) == 1, r.getString(5)))
    val expAlerts = Alerts.alertsRef(candB.toIndexedSeq, ApmGraph.Alert)
      .map(a => (a._1, a._2, a._3, a._4)).sorted.toList
    val gotAlerts = spark.read.option("recursiveFileLookup", "true")
      .parquet(s"$work/alerts")
      .select("ts_ms", "server", "service", "lag").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2), r.getInt(3)))
      .sorted.toList
    assert(gotAlerts.nonEmpty, "graph produced no alerts")
    assert(gotAlerts == expAlerts,
      s"alerts diverge after kill+resume: got=$gotAlerts exp=$expAlerts")
  }

  test("kill mid-drain + crash in the sink's write/commit window; " +
      "resume from checkpoints == batch chain (HDFS state store)") {
    killResumeScenario("hdfs")
  }

  test("same kill/crash/resume scenario under the RocksDB state store") {
    val key = "spark.sql.streaming.stateStore.providerClass"
    val changelog =
      "spark.sql.streaming.stateStore.rocksdb.changelogCheckpointing.enabled"
    val prev = spark.conf.getOption(key)
    spark.conf.set(key, ApmStreaming.RocksDbProvider)
    spark.conf.set(changelog, "true")
    try killResumeScenario("rocks")
    finally {
      prev match {
        case Some(v) => spark.conf.set(key, v)
        case None => spark.conf.unset(key)
      }
      spark.conf.unset(changelog)
    }
  }
}
