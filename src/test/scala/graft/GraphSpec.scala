package graft

import java.nio.file.{Files, Paths}
import java.time.format.DateTimeFormatter
import java.time.{Instant, ZoneOffset}
import scala.jdk.CollectionConverters._
import jdk.jfr.Recording
import jdk.jfr.consumer.RecordingFile
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.operators.{Alerts, Parsing, ZScore}
import graft.sources.LogFileSource
import graft.streaming.{ApmGraph, ApmStreaming, NioLocalFileSystem}

/** End-to-end streaming graph test: raw log FILES -> route -> parse ->
  * sliding stats -> z-score state -> vote/cooldown folds -> ordered sink,
  * as four chained streaming queries (ApmGraph), asserted equal to the
  * batch chain over the same lines. Also the unit test for
  * LogFileSource.route (S1), the R6 tee / A7 ordering assertions, and
  * the guards that the graph's file system ([[NioLocalFileSystem]]) and
  * checkpoint manager write what Hadoop's and Spark's defaults write and
  * fork no `chmod` or `readlink` doing it, and that a warm drain reuses
  * the generated code that an earlier drain compiled.
  */
class GraphSpec extends AnyFunSuite with GraphSuite {

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
    * third call finds nothing new), then stages 2-4, and stop the graph.
    * `conf` is the stream conf the session names (see
    * [[withStreamConf]]).
    */
  private def drainWithSentinel(logs: String, work: String,
      cfg: ApmGraph.GraphCfg, conf: Map[String, String] = Map.empty): Unit =
    withStreamConf(conf) {
      ApmGraph.runStage1(spark, s"$logs/net/*/*", work, cfg)
      writeLog(logs, "zz", "server.log",
        Seq(exitLine(999, t0 + 100000000L, "S:checkout", 1L)))
      ApmGraph.runStage1(spark, s"$logs/net/*/*", work, cfg)
      ApmGraph.runStage1(spark, s"$logs/net/*/*", work, cfg)
      ApmGraph.runStage2(spark, work, cfg)
      ApmGraph.runStage3(spark, work, cfg)
      ApmGraph.runStage4(spark, work, cfg)
      ApmGraph.stop(spark, work)
    }

  /** The batch windowed stats over the logs under `logs`, sentinel host
    * left out.
    */
  private def batchStats(logs: String): org.apache.spark.sql.DataFrame =
    ApmStreaming.slidingStatsStream(
        Parsing.extractStdExit(
            LogFileSource.batch(spark, s"$logs/net/*/*")
              .filter(col("log_type") === "server_log"))
          .select(col("server"), col("service"),
            timestamp_millis(col("end_ms")).as("end_ts"), col("elapsed")),
        ApmGraph.WindowLen, ApmGraph.Slide, ApmGraph.Lateness)
      .filter(col("server") =!= "zz")

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
        parsedB, ApmGraph.WindowLen, ApmGraph.Slide, ApmGraph.Lateness)
      .filter(col("server") =!= "zz")

    // R6 tee carries exactly the parsed rows
    val teeCnt = spark.read.parquet(s"$work/tee").count()
    assert(teeCnt == parsedB.count(), "tee row count")

    // stage-1 stats == batch windowed stats (bit-exact rows, compared as
    // multisets row -> count: a row the sink writes twice fails)
    val statsS = spark.read.parquet(s"$work/stats")
    val bRows = statsB.collect().map(_.toSeq).groupMapReduce(identity)(_ => 1)(_ + _)
    val sRows = statsS.select(statsB.columns.map(col): _*)
      .collect().map(_.toSeq).groupMapReduce(identity)(_ => 1)(_ + _)
    assert(sRows == bRows, "stats mismatch: " +
      s"onlyStream=${(sRows.toSet -- bRows.toSet).take(3)} " +
      s"onlyBatch=${(bRows.toSet -- sRows.toSet).take(3)}")

    // z-score + candidates + reference alert fold on the batch side
    val zB = ZScore.zScoreFold(
      statsB.select("server", "service", "ts_ms", "tpm",
        "average", "per75", "per95"),
      Seq(ApmGraph.Lag))
    val candB = Alerts.candidates(zB, ApmGraph.Alert)
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

  // ----------------------------------- the file system and checkpoints

  private val managerKey = "spark.sql.streaming.checkpointFileManagerClass"

  /** Hadoop's and Spark's defaults, named so that
    * [[ApmGraph.prepareStreams]] keeps them.
    */
  private val defaults = Map(
    "fs.file.impl" -> "org.apache.hadoop.fs.LocalFileSystem",
    managerKey -> ("org.apache.spark.sql.execution.streaming." +
      "checkpointing.FileContextBasedCheckpointFileManager"))

  /** Run `body` with the session keys that [[ApmGraph.prepareStreams]]
    * sets unset, except for those in `conf`, then restore every one of
    * them, so the shared session leaks no setting into later suites.
    */
  private def withStreamConf[T](conf: Map[String, String])(body: => T): T = {
    val keys = Seq("fs.file.impl", "fs.file.impl.disable.cache", managerKey,
      "spark.sql.artifact.isolation.enabled")
    def set(k: String, v: Option[String]): Unit =
      v.fold(spark.conf.unset(k))(spark.conf.set(k, _))
    val prev = keys.map(k => k -> spark.conf.getOption(k))
    keys.foreach(k => set(k, conf.get(k)))
    try body finally prev.foreach { case (k, v) => set(k, v) }
  }

  private val uuid =
    "[0-9a-f]{8}-[0-9a-f]{4}-[0-9a-f]{4}-[0-9a-f]{4}-[0-9a-f]{12}".r

  /** `path mode` -> how many there are, over every file and directory of
    * the work dir: the checkpoints, each file sink's `_spark_metadata`
    * log, and the sinks' part files and `.crc` sidecars, with the
    * part-file UUIDs masked.
    */
  private def workTree(work: String): Map[String, Int] = {
    val root = Paths.get(work)
    Files.walk(root).iterator().asScala.drop(1).map { p =>
      uuid.replaceAllIn(root.relativize(p).toString, "*") + " " +
        java.nio.file.attribute.PosixFilePermissions.toString(
          Files.getPosixFilePermissions(p))
    }.toSeq.groupBy(identity).view.mapValues(_.size).toMap
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
    def drain(tag: String, conf: Map[String, String]): String = {
      writeCorpus(s"$base/$tag/logs", "server.log", 0 until 19)
      drainWithSentinel(s"$base/$tag/logs", s"$base/$tag/work", cfg, conf)
      s"$base/$tag/work"
    }
    val default = drain("default", defaults)
    val graph = drain("graph", Map.empty)
    val (dTree, gTree) = (workTree(default), workTree(graph))
    def has(what: String)(p: String => Boolean): Unit =
      assert(dTree.keySet.exists(k => p(k.split(' ').head)), s"no $what")
    has("state-file checksum")(_.endsWith(".delta.crc"))
    has("commit-log .crc sidecar")(r =>
      r.contains("/commits/") && r.endsWith(".crc"))
    Seq("stats", "tee", "alerts/batch_0").foreach(d =>
      has(s"part-file .crc sidecar in $d")(r =>
        r.startsWith(s"$d/.part-") && r.endsWith(".parquet.crc")))
    assert(gTree == dTree,
      s"only default: ${(dTree.toSet -- gTree.toSet).take(5)} " +
        s"only graph: ${(gTree.toSet -- dTree.toSet).take(5)}")
    val (dRows, gRows) = (sinkRows(default), sinkRows(graph))
    assert(dRows._2.nonEmpty, "graph produced no alerts")
    assert(gRows == dRows)
  }

  test("a checkpoint drained with Spark's default manager resumes under " +
      "the graph's, bit-exact") {
    val base = Files.createTempDirectory("graft_ckpt_resume").toString
    val cfg = ApmGraph.GraphCfg()
    def drain(tag: String, resumeWith: Map[String, String]): String = {
      val (logs, work) = (s"$base/$tag/logs", s"$base/$tag/work")
      writeCorpus(logs, "server.log", 0 until 10)
      withStreamConf(defaults) {
        ApmGraph.runStage1(spark, s"$logs/net/*/*", work, cfg)
        ApmGraph.runStage2(spark, work, cfg)
        ApmGraph.runStage3(spark, work, cfg)
        ApmGraph.runStage4(spark, work, cfg)
        // the stats query then resumes from this checkpoint too
        ApmGraph.stop(spark, work)
      }
      writeCorpus(logs, "server.log.1", 10 until 19)
      drainWithSentinel(logs, work, cfg, resumeWith)
      work
    }
    val reference = sinkRows(drain("default", defaults))
    assert(reference._2.nonEmpty, "graph produced no alerts")
    assert(sinkRows(drain("resumed", Map.empty)) == reference)
  }

  test("prepareStreams keeps a file system or checkpoint manager that " +
      "the session names") {
    val ours = Map("fs.file.impl" -> classOf[NioLocalFileSystem].getName,
      managerKey -> ("org.apache.spark.sql.execution.streaming." +
        "checkpointing.FileSystemBasedCheckpointFileManager"))
    defaults.foreach { own =>
      withStreamConf(Map(own)) {
        ApmGraph.prepareStreams(spark)
        val expected = ours + own
        expected.foreach { case (k, v) =>
          assert(spark.conf.getOption(k).contains(v), s"$k with $own")
        }
        assert(spark.conf.getOption("fs.file.impl.disable.cache") ==
          Option.when(own._1 != "fs.file.impl")("true"), own)
      }
    }
  }

  test("a drain forks no process from a checkpoint manager") {
    val base = Files.createTempDirectory("graft_ckpt_forks").toString
    writeCorpus(s"$base/logs", "server.log", 0 until 19)
    val rec = new Recording()
    rec.enable("jdk.ProcessStart").withStackTrace()
    rec.start()
    try {
      // a known process start, so an empty recording cannot pass
      new ProcessBuilder("/bin/true").start().waitFor()
      drainWithSentinel(s"$base/logs", s"$base/work", ApmGraph.GraphCfg())
    } finally rec.stop()
    val jfr = Paths.get(s"$base/drain.jfr")
    rec.dump(jfr)
    rec.close()
    val starts = RecordingFile.readAllEvents(jfr).asScala.toList
    def command(e: jdk.jfr.consumer.RecordedEvent): String =
      Paths.get(e.getString("command").split(' ').head).getFileName.toString
    /** The first event's command and calling frames outside the JDK. */
    def first(es: List[jdk.jfr.consumer.RecordedEvent]): String =
      es.take(1).map(e => e.getString("command") + " at " +
        Option(e.getStackTrace).toSeq.flatMap(_.getFrames.asScala)
          .map(f => f.getMethod.getType.getName + "." + f.getMethod.getName)
          .filterNot(_.startsWith("java.")).take(8).mkString(" < ")).mkString
    val viaManager = starts.filter(e => Option(e.getStackTrace).exists(
      _.getFrames.asScala.exists(
        _.getMethod.getType.getName.contains("CheckpointFileManager"))))
    val hadoopForks = starts.filter(e =>
      Set("chmod", "readlink").contains(command(e)))
    info(s"${starts.size} process starts in the drain: " +
      starts.groupBy(command).view.mapValues(_.size).toMap.mkString(", "))
    assert(starts.exists(command(_) == "true"),
      "the recording did not capture the control process")
    val (nHadoop, nManager) = (hadoopForks.size, viaManager.size)
    assert(nHadoop == 0, first(hadoopForks))
    assert(nManager == 0, first(viaManager))
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

  // ------------------------------------- stage 1 between calls

  private def active(work: String): Seq[org.apache.spark.sql.streaming.StreamingQuery] =
    spark.streams.active.toSeq.filter(_.name.endsWith(s"@$work"))

  private def statsRunId(work: String): java.util.UUID = {
    val q = spark.streams.active.find(_.name == s"stats@$work")
    assert(q.nonEmpty, s"no stats query running for $work")
    q.get.runId
  }

  test("stage 1's stats query runs between calls, one work dir at a time, " +
      "until stop") {
    val base = Files.createTempDirectory("graft_lifecycle").toString
    val cfg = ApmGraph.GraphCfg()
    def dir(tag: String) = (s"$base/$tag/logs", s"$base/$tag/work")
    val (logsA, workA) = dir("a")
    val (logsB, workB) = dir("b")
    writeCorpus(logsA, "server.log", 0 until 10)
    writeCorpus(logsB, "server.log", 0 until 10)
    ApmGraph.runStage1(spark, s"$logsA/net/*/*", workA, cfg)
    val run = statsRunId(workA)
    writeCorpus(logsA, "server.log.1", 10 until 19)
    ApmGraph.runStage1(spark, s"$logsA/net/*/*", workA, cfg)
    assert(statsRunId(workA) == run, "the second call restarted the query")

    ApmGraph.runStage1(spark, s"$logsB/net/*/*", workB, cfg)
    assert(active(workA).isEmpty,
      s"left active: ${active(workA).map(_.name)}")
    statsRunId(workB)

    ApmGraph.stop(spark, workB)
    assert(active(workB).isEmpty, s"left active: ${active(workB).map(_.name)}")
  }

  test("a stats query stopped outside a call restarts from its checkpoint " +
      "on the next call, bit-exact") {
    val base = Files.createTempDirectory("graft_restart").toString
    val (logs, work) = (s"$base/logs", s"$base/work")
    val cfg = ApmGraph.GraphCfg()
    writeCorpus(logs, "server.log", 0 until 10)
    ApmGraph.runStage1(spark, s"$logs/net/*/*", work, cfg)
    val run = statsRunId(work)
    spark.streams.active.filter(_.runId == run).foreach(_.stop())
    writeCorpus(logs, "server.log.1", 10 until 19)
    writeLog(logs, "zz", "server.log",
      Seq(exitLine(999, t0 + 100000000L, "S:checkout", 1L)))
    ApmGraph.runStage1(spark, s"$logs/net/*/*", work, cfg)
    assert(statsRunId(work) != run, "the stopped query was not restarted")
    ApmGraph.stop(spark, work)

    val statsB = batchStats(logs)
    def rows(df: org.apache.spark.sql.DataFrame) = df.select(
      statsB.columns.map(col).toSeq: _*).collect().map(_.toSeq)
      .groupMapReduce(identity)(_ => 1)(_ + _)
    val expected = rows(statsB)
    assert(expected.nonEmpty)
    assert(rows(spark.read.parquet(s"$work/stats")) == expected)
  }

  test("a call whose stats query dies throws its error; the next call " +
      "restarts it") {
    val base = Files.createTempDirectory("graft_died").toString
    val (logs, work) = (s"$base/logs", s"$base/work")
    val cfg = ApmGraph.GraphCfg()
    writeCorpus(logs, "server.log", 0 until 10)
    ApmGraph.runStage1(spark, s"$logs/net/*/*", work, cfg)
    val run = statsRunId(work)
    // a file the line reader cannot decode: its batch fails on every run
    writeLog(logs, "hostA", "server.log.gz", Seq("not gzip"))
    intercept[org.apache.spark.sql.streaming.StreamingQueryException](
      ApmGraph.runStage1(spark, s"$logs/net/*/*", work, cfg))
    assert(spark.streams.active.forall(_.runId != run))
    intercept[org.apache.spark.sql.streaming.StreamingQueryException](
      ApmGraph.runStage1(spark, s"$logs/net/*/*", work, cfg))
    ApmGraph.stop(spark, work)
    assert(active(work).isEmpty)
  }
}
