package graft

import java.nio.file.{Files, Paths}
import java.time.format.DateTimeFormatter
import java.time.{Instant, ZoneOffset}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.operators.{Alerts, Parsing, ZScore}
import graft.sources.LogFileSource
import graft.streaming.{ApmGraph, ApmStreaming}

/** End-to-end streaming graph test: raw log FILES -> route -> parse ->
  * sliding stats -> z-score state -> vote/cooldown folds -> ordered sink,
  * as four chained streaming queries (ApmGraph), asserted equal to the
  * batch chain over the same lines. Also the unit test for
  * LogFileSource.route (S1) and the R6 tee / A7 ordering assertions.
  */
class GraphSpec extends AnyFunSuite with TestSession {

  private val fmt = DateTimeFormatter
    .ofPattern("yyyy-MM-dd HH:mm:ss,SSS").withZone(ZoneOffset.UTC)
  private def lt(ms: Long): String = fmt.format(Instant.ofEpochMilli(ms))
  private val t0 = 1578391200000L // 2020-01-07T10:00:00Z

  private def writeLog(dir: String, server: String, name: String,
      lines: Seq[String]): Unit = {
    val p = Paths.get(dir, "net", server, name)
    Files.createDirectories(p.getParent)
    Files.writeString(p, lines.mkString("", "\n", "\n"))
    ()
  }

  test("LogFileSource.route: server + log-type classification") {
    val dir = Files.createTempDirectory("graft_route").toString
    writeLog(dir, "hostA", "server.log", Seq("l1"))
    writeLog(dir, "hostA", "soap_io.log", Seq("l2"))
    writeLog(dir, "hostB", "bafapp.log", Seq("l3"))
    val got = LogFileSource.batch(spark, s"$dir/net/*/*")
      .select("server", "log_type", "line").collect()
      .map(r => (r.getString(0), r.getString(1), r.getString(2))).toSet
    assert(got == Set(
      ("hostA", "server_log", "l1"),
      ("hostA", "soap_io", "l2"),
      ("hostB", "app", "l3")))
  }

  test("streaming graph end-to-end == batch chain on the same logs") {
    val base = Files.createTempDirectory("graft_graph").toString
    val logs = s"$base/logs"
    val work = s"$base/work"
    val cfg = ApmGraph.GraphCfg()

    def exitLine(id: Int, ms: Long, svc: String, elapsed: Long): String =
      s"[$id] ${lt(ms)} [a:b:42] INFO CommonTiming::Stop $svc handled in time $elapsed"

    // 2 servers x 19 intervals of 10 s; elapsed steps 100 -> 300 halfway,
    // so later windows trip the 150 ms hard-max (and z-score signals).
    val servers = Seq("hostA", "hostB")
    servers.foreach { srv =>
      val lines = (0 until 19).map { i =>
        exitLine(i, t0 + i * 10000L, "S:checkout",
          if (i < 10) 100L else 300L)
      } :+ "2020-01-07 10:03:20 unrelated noise line"
      writeLog(logs, srv, "server.log", lines)
    }

    // drain round 1 (data), then the far-future sentinel advances the
    // watermark so every real window closes, then drain twice more (the
    // second run re-emits nothing; the third flushes no-data batches).
    ApmGraph.runStage1(spark, s"$logs/net/*/*", work, cfg)
    writeLog(logs, "zz", "server.log",
      Seq(exitLine(999, t0 + 100000000L, "S:checkout", 1L)))
    ApmGraph.runStage1(spark, s"$logs/net/*/*", work, cfg)
    ApmGraph.runStage1(spark, s"$logs/net/*/*", work, cfg)
    ApmGraph.runStage2(spark, work, cfg)
    ApmGraph.runStage3(spark, work, cfg)
    ApmGraph.runStage4(spark, work, cfg)

    // ---- batch chain over the same lines (sentinel filtered at the end)
    val parsedB = Parsing.extractStdExit(
        LogFileSource.batch(spark, s"$logs/net/*/*")
          .filter(col("log_type") === "server_log"))
      .select(col("server"), col("service"),
        timestamp_millis(col("end_ms")).as("end_ts"), col("elapsed"))
    val statsB = ApmStreaming.slidingStatsStream(
        parsedB, cfg.windowLen, cfg.slide, cfg.lateness)
      .filter(col("server") =!= "zz")

    // R6 tee carries exactly the parsed rows
    val teeCnt = spark.read.parquet(s"$work/tee").count()
    assert(teeCnt == parsedB.count(), "tee row count")

    // stage-1 stats == batch windowed stats (bit-exact rows)
    val statsS = spark.read.parquet(s"$work/stats")
    val sKey = Seq("server", "service", "ts_ms")
    val bRows = statsB.collect().map(_.toSeq).toSet
    val sRows = statsS.select(statsB.columns.map(col): _*)
      .collect().map(_.toSeq).toSet
    assert(sRows == bRows,
      s"stats mismatch: onlyStream=${(sRows -- bRows).take(3)} onlyBatch=${(bRows -- sRows).take(3)}")

    // z-score + candidates + reference alert fold on the batch side
    val zB = ZScore.zScoreFold(
      statsB.select("server", "service", "ts_ms", "tpm",
        "average", "per75", "per95"),
      Seq(cfg.lag))
    val candB = Alerts.candidates(zB, cfg.alert)
      .select("server", "service", "lag", "ts_ms", "bad", "causes")
      .collect()
      .map(r => (r.getString(0), r.getString(1), r.getInt(2), r.getLong(3),
        r.getInt(4) == 1, r.getString(5)))
    val expAlerts = Alerts.alertsRef(candB.toIndexedSeq, cfg.alert)
      .map(a => (a._1, a._2, a._3, a._4)).sorted.toList

    val gotAlerts = spark.read.option("recursiveFileLookup", "true")
      .parquet(s"$work/alerts")
      .select("ts_ms", "server", "service", "lag").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2), r.getInt(3)))
      .sorted.toList
    assert(gotAlerts.nonEmpty, "graph produced no alerts")
    assert(gotAlerts == expAlerts,
      s"alerts mismatch: got=$gotAlerts exp=$expAlerts")

    // A7: within every emitted alert batch file, rows are ts-ordered
    val perFile = spark.read.option("recursiveFileLookup", "true")
      .parquet(s"$work/alerts")
      .select(input_file_name().as("f"), col("ts_ms"))
      .collect().groupBy(_.getString(0))
      .view.mapValues(_.map(_.getLong(1)).toList).toMap
    perFile.foreach { case (f, ts) =>
      assert(ts == ts.sorted, s"unordered sink batch in $f: $ts")
    }
  }
}
