package graft

import java.nio.file.{Files, Paths}
import java.time.format.DateTimeFormatter
import java.time.{Instant, ZoneOffset}
import scala.jdk.CollectionConverters._
import jdk.jfr.Recording
import jdk.jfr.consumer.RecordingFile
import org.apache.hadoop.util.NativeCodeLoader
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.operators.{Alerts, Parsing, ZScore}
import graft.sources.LogFileSource
import graft.streaming.{ApmGraph, ApmStreaming, LocalCheckpointFileManager}

/** End-to-end streaming graph test: raw log FILES -> route -> parse ->
  * sliding stats -> z-score state -> vote/cooldown folds -> ordered sink,
  * as four chained streaming queries (ApmGraph), asserted equal to the
  * batch chain over the same lines. Also the unit test for
  * LogFileSource.route (S1), the R6 tee / A7 ordering assertions, and
  * the guards that the graph's checkpoint manager
  * ([[LocalCheckpointFileManager]]) writes what Spark's default writes
  * and forks no process doing it, and that a warm drain reuses the
  * generated code that an earlier drain compiled.
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

  private def exitLine(id: Int, ms: Long, svc: String, elapsed: Long): String =
    s"[$id] ${lt(ms)} [a:b:42] INFO CommonTiming::Stop $svc handled in time $elapsed"

  /** 2 servers x the 10 s `intervals` into each server's log `name`;
    * elapsed steps 100 -> 300 at interval 10, so later windows trip the
    * 150 ms hard-max (and z-score signals).
    */
  private def writeCorpus(logs: String, name: String,
      intervals: Range): Unit =
    Seq("hostA", "hostB").foreach { srv =>
      val lines = intervals.map { i =>
        exitLine(i, t0 + i * 10000L, "S:checkout",
          if (i < 10) 100L else 300L)
      } :+ "2020-01-07 10:03:20 unrelated noise line"
      writeLog(logs, srv, name, lines)
    }

  /** Drain round 1 (data), then the far-future sentinel advances the
    * watermark so every real window closes, then drain twice more (the
    * second run re-emits nothing; the third flushes no-data batches),
    * then stages 2-4.
    */
  private def drainWithSentinel(logs: String, work: String,
      cfg: ApmGraph.GraphCfg): Unit = {
    ApmGraph.runStage1(spark, s"$logs/net/*/*", work, cfg)
    writeLog(logs, "zz", "server.log",
      Seq(exitLine(999, t0 + 100000000L, "S:checkout", 1L)))
    ApmGraph.runStage1(spark, s"$logs/net/*/*", work, cfg)
    ApmGraph.runStage1(spark, s"$logs/net/*/*", work, cfg)
    ApmGraph.runStage2(spark, work, cfg)
    ApmGraph.runStage3(spark, work, cfg)
    ApmGraph.runStage4(spark, work, cfg)
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
    writeCorpus(logs, "server.log", 0 until 19)
    drainWithSentinel(logs, work, cfg)

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

  // ------------------------------------------- the checkpoint manager

  private val sparkDefaultManager = "org.apache.spark.sql.execution." +
    "streaming.checkpointing.FileContextBasedCheckpointFileManager"

  /** Run `body` with the session's checkpoint manager class set to `cls`
    * (None: unset, so the graph installs its own), then restore it.
    */
  private def withCheckpointManager[T](cls: Option[String])(body: => T): T = {
    val key = LocalCheckpointFileManager.ClassKey
    def set(v: Option[String]): Unit =
      v.fold(spark.conf.unset(key))(spark.conf.set(key, _))
    val prev = spark.conf.getOption(key)
    set(cls)
    try body finally set(prev)
  }

  /** Relative path -> mode of every file and directory of the work
    * dir's checkpoints and of each file sink's `_spark_metadata` log.
    */
  private def checkpointTree(work: String): Map[String, String] = {
    val root = Paths.get(work)
    Files.walk(root).iterator().asScala.map(root.relativize(_).toString)
      .filter(r => r.startsWith("ckpt_") || r.contains("_spark_metadata"))
      .map(r => r -> java.nio.file.attribute.PosixFilePermissions.toString(
        Files.getPosixFilePermissions(root.resolve(r))))
      .toMap
  }

  /** The stats and alert sinks' rows, sorted. */
  private def sinkRows(work: String): (List[String], List[String]) = {
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(_.toSeq.mkString("|")).toList.sorted
    (rows(spark.read.parquet(s"$work/stats")),
      rows(spark.read.option("recursiveFileLookup", "true")
        .parquet(s"$work/alerts")))
  }

  test("the graph's checkpoint manager writes Spark's default checkpoint " +
      "tree: same file names, modes and rows") {
    val base = Files.createTempDirectory("graft_ckpt_tree").toString
    val cfg = ApmGraph.GraphCfg()
    def drain(tag: String, cls: Option[String]): String = {
      writeCorpus(s"$base/$tag/logs", "server.log", 0 until 19)
      withCheckpointManager(cls)(drainWithSentinel(s"$base/$tag/logs",
        s"$base/$tag/work", cfg))
      s"$base/$tag/work"
    }
    val default = drain("default", Some(sparkDefaultManager))
    val local = drain("local", None)
    val (dTree, lTree) = (checkpointTree(default), checkpointTree(local))
    assert(dTree.keySet.exists(_.endsWith(".delta.crc")),
      "no state-file checksum written")
    assert(dTree.keySet.exists(_.endsWith(".crc")) &&
      dTree.keySet.exists(r => r.contains("/commits/") && r.endsWith(".crc")),
      "no Hadoop .crc sidecar written")
    assert(lTree == dTree,
      s"only default: ${(dTree.toSet -- lTree.toSet).take(5)} " +
        s"only local: ${(lTree.toSet -- dTree.toSet).take(5)}")
    val (dRows, lRows) = (sinkRows(default), sinkRows(local))
    assert(dRows._2.nonEmpty, "graph produced no alerts")
    assert(lRows == dRows)
  }

  test("a checkpoint drained with Spark's default manager resumes under " +
      "the graph's, bit-exact") {
    val base = Files.createTempDirectory("graft_ckpt_resume").toString
    val cfg = ApmGraph.GraphCfg()
    def drain(tag: String, resumeWith: Option[String]): String = {
      val (logs, work) = (s"$base/$tag/logs", s"$base/$tag/work")
      writeCorpus(logs, "server.log", 0 until 10)
      withCheckpointManager(Some(sparkDefaultManager)) {
        ApmGraph.runAll(spark, s"$logs/net/*/*", work, cfg)
      }
      writeCorpus(logs, "server.log.1", 10 until 19)
      withCheckpointManager(resumeWith)(drainWithSentinel(logs, work, cfg))
      work
    }
    val reference = sinkRows(drain("default", Some(sparkDefaultManager)))
    assert(reference._2.nonEmpty, "graph produced no alerts")
    assert(sinkRows(drain("resumed", None)) == reference)
  }

  test("a drain forks no process from a checkpoint manager") {
    val base = Files.createTempDirectory("graft_ckpt_forks").toString
    writeCorpus(s"$base/logs", "server.log", 0 until 19)
    val rec = new Recording()
    rec.enable("jdk.ProcessStart").withStackTrace()
    rec.start()
    try withCheckpointManager(None) {
      drainWithSentinel(s"$base/logs", s"$base/work", ApmGraph.GraphCfg())
    } finally rec.stop()
    val jfr = Paths.get(s"$base/drain.jfr")
    rec.dump(jfr)
    rec.close()
    val starts = RecordingFile.readAllEvents(jfr).asScala.toList
    val viaManager = starts.filter(e => Option(e.getStackTrace).exists(
      _.getFrames.asScala.exists(
        _.getMethod.getType.getName.contains("CheckpointFileManager"))))
    info(s"${starts.size} process starts in the drain, " +
      s"${viaManager.size} under a checkpoint manager")
    // Without libhadoop, Hadoop forks chmod for every parquet data file,
    // so an empty recording means the recording itself saw nothing.
    assert(starts.nonEmpty || NativeCodeLoader.isNativeCodeLoaded,
      "the recording captured no process start at all")
    assert(viaManager.isEmpty, viaManager.take(1).map(_.getStackTrace))
  }

  // ------------------------------------------------ the codegen cache

  test("a warm drain reuses the generated code: at most 5 compiles") {
    val base = Files.createTempDirectory("graft_codegen").toString
    def drain(tag: String): Unit = {
      writeCorpus(s"$base/$tag/logs", "server.log", 0 until 19)
      drainWithSentinel(s"$base/$tag/logs", s"$base/$tag/work",
        ApmGraph.GraphCfg())
    }
    drain("cold")
    // counts Janino compiles, that is misses of the codegen cache
    val compiles = CodegenMetrics.METRIC_COMPILATION_TIME
    val before = compiles.getCount
    drain("warm")
    val n = compiles.getCount - before
    info(s"$n classes compiled in the warm drain")
    assert(n <= 5, s"the warm drain compiled $n classes")
  }
}
