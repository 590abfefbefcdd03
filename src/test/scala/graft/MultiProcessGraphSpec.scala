package graft

import java.nio.file.{Files, Paths}
import java.time.format.DateTimeFormatter
import java.time.{Instant, ZoneOffset}
import org.apache.spark.sql.{Encoders, SparkSession}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.operators.{Alerts, Parsing, ZScore}
import graft.sources.LogFileSource
import graft.streaming.{ApmGraph, ApmStreaming, ContractConsumer, FileTopic, QueueRegistry}

/** The reference's COMPLETE process topology, reproduced: all four graph
  * stages plus the S6 DB-insert consumer as five concurrently-running,
  * separately-forked OS processes
  * (child JVMs on FileTopicChild's `graphstage` mode), every stage
  * boundary a file-backed queue topic (the broker fabric of
  * config/apm_config.json:58-81) — no stage shares anything with another
  * except the topic directory (and, for stage 1, the tailed log files).
  *
  * Live consumption, not replay: downstream stages are already running
  * and draining while upstream stages are still producing — the spec
  * proves it by asserting each downstream stage completed a drain
  * BEFORE the corpus was complete (its liveness marker predates the
  * second log wave). Mid-run, stage 2 (the stateful z-score process) is
  * SIGKILLed and a fresh JVM is forked over the same checkpoint + topic
  * directory. The final alert set must STILL equal the in-process batch
  * chain over the same logs bit-exactly, and the z topic's full record
  * set must equal the batch z-score fold — the cross-process version of
  * GraphFaultSpec's exactly-once claim: file-backed group commits,
  * idempotent producer fences and per-stage checkpoints survive a hard
  * process death with no loss and no duplication.
  */
class MultiProcessGraphSpec extends AnyFunSuite with GraphSuite {

  private val fmt = DateTimeFormatter
    .ofPattern("yyyy-MM-dd HH:mm:ss,SSS").withZone(ZoneOffset.UTC)
  private def lt(ms: Long): String = fmt.format(Instant.ofEpochMilli(ms))
  private val t0 = 1578391200000L // 2020-01-07T10:00:00Z

  private def exitLine(id: Int, ms: Long, svc: String, elapsed: Long): String =
    s"[$id] ${lt(ms)} [a:b:42] INFO CommonTiming::Stop $svc handled in time $elapsed"

  private def writeLog(dir: String, server: String, name: String,
      lines: Seq[String]): Unit = {
    val p = Paths.get(dir, "net", server, name)
    Files.createDirectories(p.getParent)
    Files.writeString(p, lines.mkString("", "\n", "\n"))
    ()
  }

  /** Fork one graph stage as a separate JVM; stdout/stderr tee to a file
    * for post-mortem, handle returned for the kill.
    */
  private def forkStage(stage: Int, logsGlob: String, work: String,
      qdir: String, stop: String, base: String, provider: String): Process = {
    val javaBin = System.getProperty("java.home") + "/bin/java"
    val cp = System.getProperty("java.class.path")
    val pb = new ProcessBuilder(javaBin, "-Xmx3g", "-cp", cp,
      "graft.streaming.FileTopicChild", "graphstage", stage.toString,
      logsGlob, work, qdir, stop, provider)
    pb.redirectErrorStream(true)
    pb.redirectOutput(Paths.get(base, s"stage$stage.out").toFile)
    pb.start()
  }

  // `what` is BY-NAME: failure messages interpolate live state (e.g.
  // the alarm buffer accumulated during the spin), which a strict
  // parameter would freeze at its pre-spin contents
  private def spinUntil(deadlineSec: Int, what: => String)(cond: => Boolean): Unit = {
    val deadline = System.nanoTime() + deadlineSec * 1000L * 1000 * 1000
    while (!cond && System.nanoTime() < deadline) Thread.sleep(200)
    assert(cond, s"timed out after $deadlineSec s waiting for: $what")
  }

  /** The full scenario, parameterized by the children's state-store
    * provider ("" = Spark's default HDFS-backed store).
    */
  private def sixProcessScenario(provider: String): Unit = {
    val base = Files.createTempDirectory("graft_mp").toString
    val logs = s"$base/logs"
    val glob = s"$logs/net/*/*"
    val qdir = s"$base/q"
    val stop = s"$base/stop"
    val works = (1 to 6).map(s => s"$base/work$s")
    works.foreach(w => Files.createDirectories(Paths.get(w)))
    // zzl is the stage-1 late-probe server: its one line is
    // watermark-dropped INSIDE stage 1, so it must be invisible to every
    // batch-side oracle recomputed after the injection
    val sentinelServers = TopologyOracle.sentinelServers

    // parent-side topic probes, resolved through the registry exactly
    // like the stage code does. A probe must NOT create a topic the
    // children haven't made yet (existence is part of some spin
    // conditions, and constructing a FileTopic creates its dir), so an
    // absent topic reads as None.
    def topicOf(name: String): Option[FileTopic] =
      if (Files.exists(Paths.get(qdir, name)))
        Some(QueueRegistry.topic(name, qdir))
      else None
    def topicSum(name: String): Long =
      topicOf(name).map(_.endOffsets.values.sum).getOrElse(0L)

    // the JMX poller's CLI stub: stands in for jboss-cli (no WildFly in
    // this container) — prints the reference CLI's output shape (warning
    // line + three anonymous JSON blocks) with host-derived values, so
    // the poller's exec/normalize/publish loop is the real deployment
    // shape with only the server binary stubbed
    val cli = Paths.get(base, "cli.sh")
    Files.writeString(cli,
      """H=$1; N=$(printf %s "$H" | wc -c)
        |echo "WFLYPROMPT: picked up client options"
        |printf '{\n"InUseCount" : %d,\n"AvailableCount" : 50\n}\n' $((N % 50))
        |printf '{\n"used" : %d,\n"max" : %d\n}\n' $((N * 1000)) $((N * 2000))
        |printf '{\n"count" : %d\n}' $((N % 100))
        |""".stripMargin)
    val jmxHosts = Seq("hostA", "serverB")
    val jmxArg = cli.toString + ";" + jmxHosts.mkString(",")

    // wave 1: quiet half — warms every stage's state. Elapsed VARIES
    // (100 + i%5): constant values would make per-key reordering
    // invisible to the z fold, and the ordering contract (per-key epoch
    // atomicity + within-batch sort, ApmGraph.write note) is one of
    // the claims this spec exists to exercise.
    Seq("hostA", "hostB").foreach { srv =>
      writeLog(logs, srv, "server.log", (0 until 10).map(i =>
        exitLine(i, t0 + i * 10000L, "S:checkout", 100L + i % 5)))
    }

    // fork ALL SIX processes (four graph stages, the S6 DB-insert
    // consumer — a second group on the z topic — and the S5 JMX
    // poller); concurrent from here on
    val procs = scala.collection.mutable.Map(
      (1 to 6).map(s => s -> forkStage(s,
        if (s == 6) jmxArg else glob,
        works(s - 1), qdir, stop, base, provider)): _*)
    try {
      // stage 2 must have CONSUMED live wave-1 records (produced its own
      // output) before the corpus is complete — and before we kill it
      spinUntil(120, "stage 2 to produce z rows from wave 1") {
        topicSum("t_z") > 0
      }
      val zAtKill = topicSum("t_z")
      val drainedDownstream = (2 to 6).map(s =>
        s -> Files.exists(Paths.get(works(s - 1), s"drained_$s"))).toMap

      // hard-kill the stateful z-score process mid-run
      procs(2).destroyForcibly()
      procs(2).waitFor()
      assert(procs(2).exitValue() != 0, "stage 2 exited cleanly before the kill")

      // wave 2 while stage 2 is DEAD: hostA turns slow (elapsed ~300,
      // varying — trips the thresholds); plus the far-future sentinel
      // that closes every real window. Only ONE server fires
      // deliberately: the per-SERVICE cooldown's input comes from
      // per-(server,service) upstream chains, so when two servers fire
      // the same service near-simultaneously the winner is
      // ARRIVAL-dependent — in the reference exactly as here (its
      // cooldown folds bus arrival order, stream_process_alerts.js:
      // 436-467) — while the batch oracle imposes global ts order. The
      // ordering contract guarantees per-key order, not cross-key
      // merge order; a single firing server keeps the alert leg
      // deterministic while BOTH servers still flow through the z topic
      // and DB comparisons (which are per-server-keyed and bit-exact).
      // (Rotated-log name so the P1 router still classifies it.)
      writeLog(logs, "hostA", "server.log.1", (10 until 19).map(i =>
        exitLine(i, t0 + i * 10000L, "S:checkout", 300L + (i % 7) * 3)))
      writeLog(logs, "hostB", "server.log.1", (10 until 19).map(i =>
        exitLine(i, t0 + i * 10000L, "S:checkout", 100L + i % 5)))
      writeLog(logs, "zz", "server.log",
        Seq(exitLine(999, t0 + 100000000L, "S:checkout", 1L)))

      // re-fork stage 2 over the same checkpoint + topics
      procs(2) = forkStage(2, glob, works(1), qdir, stop, base, provider)

      // ---- batch oracle over the same lines (sentinel filtered)
      val zBatchDf = TopologyOracle.zFold(spark, glob)
      val candB = TopologyOracle.candidatesOf(zBatchDf)
      val expAlerts = Alerts.alertsRef(candB.toIndexedSeq, ApmGraph.Alert)
        .map(a => (a._1, a._2, a._3, a._4)).sorted.toList
      assert(expAlerts.nonEmpty, "oracle produced no alerts — inert corpus")

      // ---- convergence: the forked chain drains to the oracle's count
      def gotAlerts(): List[(Long, String, String, Int)] =
        try spark.read.option("recursiveFileLookup", "true")
          .parquet(s"${works(3)}/alerts")
          .filter(!col("server").isin(sentinelServers: _*))
          .select("ts_ms", "server", "service", "lag").collect()
          .map(r => (r.getLong(0), r.getString(1), r.getString(2), r.getInt(3)))
          .sorted.toList
        catch { case _: Throwable => Nil }
      spinUntil(300, s"the alert sink to reach ${expAlerts.size} rows " +
        s"(last saw ${gotAlerts().size})") {
        gotAlerts().size >= expAlerts.size
      }

      // stage 1's silent drop point, end-to-end (the stats window's
      // lateness bound, A4 — stream_calc_stats.js:103-113): a tx line far
      // older than the advanced watermark (zz pushed it to ~t0+1e8) lands
      // in a fresh log; the forked stage-1 JVM must window-drop it and
      // publish a {"stage":"stage1"} record on the cross-process t_ops
      // channel, where this parent process (standing in for production
      // monitoring) can see it. Alarms already on t_ops are drained
      // first, so only one published after the probe counts; the spin's
      // predicate is the assertion and accumulates across polls.
      val alarms = scala.collection.mutable.Buffer.empty[String]
      var opsConsumer: ContractConsumer = null
      def pollOps(): Unit = {
        if (opsConsumer == null)
          topicOf("t_ops").foreach(t =>
            opsConsumer = new ContractConsumer(t, "spec_ops"))
        if (opsConsumer != null) alarms ++= opsConsumer.poll(1000).map(_.value)
      }
      pollOps()
      alarms.clear()
      writeLog(logs, "zzl", "server.log",
        Seq(exitLine(555, t0 + 5000L, "S:checkout", 100L)))
      spinUntil(120, "the forked stage 1 to publish its watermark-drop " +
        s"alarm on t_ops (saw so far: $alarms)") {
        pollOps()
        alarms.exists(v => v.contains("\"stage\":\"stage1\"") &&
          v.contains("\"wm_dropped\":") && !v.contains("\"wm_dropped\":0"))
      }
      Files.createFile(Paths.get(stop))
      procs.foreach { case (s, p) =>
        assert(p.waitFor(120, java.util.concurrent.TimeUnit.SECONDS),
          s"stage $s did not stop")
        assert(p.exitValue() == 0, s"stage $s crashed: see $base/stage$s.out")
      }

      // live, not replayed: downstream stages were draining before the
      // corpus was complete
      assert(zAtKill > 0, "stage 2 produced nothing before the kill")
      assert(drainedDownstream.values.forall(identity),
        s"a downstream stage never drained pre-kill: $drainedDownstream")

      // end-to-end: the forked topology's alerts == the batch oracle.
      // The alert TIMES are deterministic (the per-SERVICE cooldown
      // suppresses the same windows whichever server's row wins) but the
      // SERVER attribution of a cross-server tie follows bus arrival,
      // exactly as in the reference (stream_process_alerts.js folds
      // arrival order) — wave 2's warm-up windows DO produce real ties
      // (the quiet server's UB is sigma-tight after the uniform wave 1;
      // batch firedRef fires both servers at those window ends), so the
      // contract assertion is: same (ts, service, lag) sequence, and
      // each emitted server is one the batch fired set admits at that
      // window — exact where the window is uncontested
      // (test-logs/README.md records how an exact-server assertion here
      // once failed 1 run in N).
      val gotA = gotAlerts()
      // sort/zip by (ts, service, lag) — NOT the full tuple: at a
      // contested window a server flip must not re-pair alerts of
      // different services that share a ts
      val gKey = gotA.sortBy(a => (a._1, a._3, a._4))
      val eKey = expAlerts.sortBy(a => (a._1, a._3, a._4))
      assert(gKey.map(a => (a._1, a._3, a._4)) ==
        eKey.map(a => (a._1, a._3, a._4)),
        s"alert times diverge: got=$gotA exp=$expAlerts")
      val firedAt = Alerts.firedRef(candB.toIndexedSeq, ApmGraph.Alert)
        .groupBy(f => (f._1, f._3, f._4))
        .view.mapValues(_.map(_._2).toSet).toMap
      gKey.zip(eKey).foreach { case (g, e) =>
        val admissible = firedAt.getOrElse((g._1, g._3, g._4), Set.empty)
        assert(admissible.contains(g._2),
          s"alert $g names a server the batch fired set " +
            s"$admissible does not admit")
        if (admissible.size == 1)
          assert(g == e, s"uncontested window diverged: got=$g exp=$e")
      }

      // mid-chain: the z topic's records (all partitions, full history —
      // no retention configured here) == the batch z-score fold, so the
      // kill+re-fork lost nothing and duplicated nothing
      val zSchema = Encoders.product[ApmStreaming.ZOut].schema
      val zRecords = new ContractConsumer(topicOf("t_z").get, "spec_audit")
        .poll(1000000).map(_.value)
      import spark.implicits._
      val zCols = Seq("server", "service", "lag", "ts_ms",
        "average_signal", "per75_signal", "per95_signal")
      def zList(df: org.apache.spark.sql.DataFrame): List[Seq[Any]] =
        df.filter(!col("server").isin(sentinelServers: _*))
          .select(zCols.map(col): _*).collect().map(_.toSeq)
          .toList.sortBy(_.mkString("|"))
      val zStream = zList(zRecords.toDF("value")
        .select(from_json(col("value"), zSchema).as("r")).select(col("r.*")))
      val zBatch = zList(zBatchDf)
      assert(zStream.size == zBatch.size,
        s"z topic row count ${zStream.size} != batch ${zBatch.size}")
      assert(zStream == zBatch, "z topic diverges from the batch fold")

      // stage 5 (the DB-insert process): the embedded Derby it owned —
      // readable now that the process exited — holds exactly the batch
      // chain's stats-table rows (identity/measure columns + the json
      // z payload, byte-equal: both sides are the same statsTableRows
      // shape over the same values)
      // sentinel filter client-side: a Column filter on the JDBC frame
      // would push down to Derby, whose CLOB string columns (Spark's
      // StringType mapping there) reject comparisons
      def dbSet(df: org.apache.spark.sql.DataFrame): Set[Seq[Any]] =
        df.select("ts_ms", "server", "service", "lag", "tpm", "stats_json")
          .collect().map(_.toSeq)
          .filterNot(r => sentinelServers.contains(r(1))).toSet
      val gotDb = dbSet(spark.read.jdbc(s"jdbc:derby:${works(4)}/db",
        "stats_rows", new java.util.Properties()))
      val expDb = dbSet(graft.streaming.JdbcSink.statsTableRows(zBatchDf))
      assert(gotDb.size == expDb.size,
        s"db rows ${gotDb.size} != batch ${expDb.size}")
      assert(gotDb == expDb, "db stats rows diverge from the batch chain; " +
        s"db-only sample: ${(gotDb -- expDb).take(2)}; " +
        s"batch-only sample: ${(expDb -- gotDb).take(2)}")

      // stage 6 (the JMX poller process): every published row is a real
      // subprocess exec's output through the registered s5 normalization
      // — values must match the stub's host-derived numbers exactly,
      // every poll tick present (poll_ms = tick * 60000), and each
      // host's samples on one partition (key affinity)
      val jmx = new ContractConsumer(
        topicOf("t_jmx").get, "spec_jmx").poll(1000000)
      assert(jmx.size >= 2 * jmxHosts.size,
        s"poller produced only ${jmx.size} rows — never looped")
      jmxHosts.foreach { h =>
        val rows = jmx.filter(_.key == h)
        assert(rows.nonEmpty, s"no samples for $h")
        assert(rows.map(_.partition).distinct.size == 1, s"$h split")
        val n = h.length
        val exp = s""""ds_in_use":${n % 50},"ds_available":50,""" +
          s""""heap_used":${n * 1000},"heap_max":${n * 2000},""" +
          s""""thread_cnt":${n % 100}"""
        rows.foreach(r => assert(r.value.contains(exp),
          s"bad normalization for $h: ${r.value}"))
        // one row per tick, 60 s apart, in partition order
        val ticks = rows.map(r =>
          r.value.split("\"poll_ms\":")(1).split(",")(0).toLong)
        assert(ticks == ticks.indices.map(_ * 60000L),
          s"$h poll timeline broken: $ticks")
      }
    } finally {
      // belt-and-braces: never leak child JVMs on a failed assert
      try Files.createFile(Paths.get(stop)) catch { case _: Throwable => }
      procs.values.foreach { p =>
        if (!p.waitFor(30, java.util.concurrent.TimeUnit.SECONDS))
          p.destroyForcibly()
      }
    }
  }

  test("six forked JVMs over file topics, stage 2 SIGKILLed and " +
      "re-forked mid-run: alerts, the z topic, the stats DB and the " +
      "JMX samples all == their oracles") {
    sixProcessScenario("")
  }

  test("same six-process kill/re-fork scenario with the children on " +
      "the RocksDB state store (changelog checkpointing)") {
    sixProcessScenario(ApmStreaming.RocksDbProvider)
  }
}

/** The topology specs' shared batch-oracle builder — also the forensics
  * path ([[graft.tools.FiredProbe]]), so a postmortem adjudication can
  * never drift from the oracle the spec asserts against.
  */
object TopologyOracle {
  val sentinelServers: Seq[String] = Seq("zz", "zzl")

  /** The batch z-score frame over a topology log glob — parse, windowed
    * stats (sentinels filtered), fold.
    */
  def zFold(spark: SparkSession,
      glob: String): org.apache.spark.sql.DataFrame = {
    val parsedB = Parsing.extractStdExit(
        LogFileSource.batch(spark, glob)
          .filter(col("log_type") === "server_log"))
      .select(col("server"), col("service"),
        timestamp_millis(col("end_ms")).as("end_ts"), col("elapsed"))
    val statsB = ApmStreaming.slidingStatsStream(
        parsedB, ApmGraph.WindowLen, ApmGraph.Slide, ApmGraph.Lateness)
      .filter(!col("server").isin(sentinelServers: _*))
    ZScore.zScoreFold(
      statsB.select("server", "service", "ts_ms", "tpm",
        "average", "per75", "per95"), Seq(ApmGraph.Lag))
  }

  /** (server, service, lag, ts_ms, bad, causes) alert candidates from a
    * [[zFold]] frame — the in-process batch chain the forked topology
    * must reproduce.
    */
  def candidatesOf(zBatchDf: org.apache.spark.sql.DataFrame)
      : Array[(String, String, Int, Long, Boolean, String)] =
    Alerts.candidates(zBatchDf, ApmGraph.Alert)
      .select("server", "service", "lag", "ts_ms", "bad", "causes")
      .collect()
      .map(r => (r.getString(0), r.getString(1), r.getInt(2), r.getLong(3),
        r.getInt(4) == 1, r.getString(5)))

  def candidates(spark: SparkSession, glob: String)
      : Array[(String, String, Int, Long, Boolean, String)] =
    candidatesOf(zFold(spark, glob))
}
