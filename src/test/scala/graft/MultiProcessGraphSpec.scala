package graft

import java.nio.file.{Files, Path, Paths}
import java.time.format.DateTimeFormatter
import java.time.{Instant, ZoneOffset}
import org.apache.spark.sql.{Encoders, SparkSession}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.operators.{Alerts, Parsing, ZScore}
import graft.sources.LogFileSource
import graft.streaming.{ApmGraph, ApmStreaming, ContractConsumer, FileTopic, QueueRegistry, QueueTopic}

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
class MultiProcessGraphSpec extends AnyFunSuite {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.sql.warehouse.dir",
      Files.createTempDirectory("graft_wh").toString)
    .config("spark.ui.enabled", "false")
    .getOrCreate()

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
    * for post-mortem, handle returned for the kill. `ordered` passes the
    * child's 8th arg, opting stage 4 into the deterministic event-time
    * cooldown (a GraphCfg flag — harmless on the other stages).
    */
  private def forkStage(stage: Int, logsGlob: String, work: String,
      qdir: String, stop: String, base: String, provider: String,
      ordered: Boolean = false): Process = {
    val javaBin = System.getProperty("java.home") + "/bin/java"
    val cp = System.getProperty("java.class.path")
    val args = Seq(javaBin, "-Xmx3g", "-cp", cp,
      "graft.streaming.FileTopicChild", "graphstage", stage.toString,
      logsGlob, work, qdir, stop, provider) ++
      (if (ordered) Seq("ordered") else Nil)
    val pb = new ProcessBuilder(args: _*)
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
    * provider ("" = Spark's default HDFS-backed store) and the stage-4
    * cooldown mode. `ordered = true` is the leg the arrival-order mode
    * CANNOT run deterministically: BOTH servers turn slow in wave 2, so
    * both fire the same service at identical window-end timestamps, and
    * the per-service cooldown winner is decided by the event-time order
    * (ts, server, lag) — the batch oracle's — rather than by whichever
    * upstream chain reaches the consumer first. A far-future sentinel
    * must then itself FIRE (slow zzf wave, closed by a later quiet zz2
    * event) so stage 4's watermark passes every real alert and the
    * ordered cooldown's tail holdback releases; it is STAGED after all
    * real fired rows are appended (see the staging comment in the body)
    * so it cannot overtake them across micro-batches.
    */
  private def sixProcessScenario(provider: String,
      ordered: Boolean = false,
      qdirOverride: Option[String] = None): Unit = {
    val base = Files.createTempDirectory("graft_mp").toString
    val logs = s"$base/logs"
    val glob = s"$logs/net/*/*"
    // qdirOverride carries a broker URL for the over-the-broker leg:
    // the children's stage code and the parent's probes all resolve
    // topics through QueueRegistry, so the transport is ONLY this string
    val qdir = qdirOverride.getOrElse(s"$base/q")
    val stop = s"$base/stop"
    val works = (1 to 6).map(s => s"$base/work$s")
    works.foreach(w => Files.createDirectories(Paths.get(w)))
    val cfg = ApmGraph.GraphCfg(orderedCooldown = ordered)
    // zzl is the stage-1 late-probe server (ordered leg): its one line is
    // watermark-dropped INSIDE stage 1, so it must be invisible to every
    // batch-side oracle recomputed after the injection
    val sentinelServers = TopologyOracle.sentinelServers

    // parent-side topic probes, transport-agnostic: resolve through the
    // registry exactly like the stage code does. File mode must NOT
    // create a topic the children haven't made yet (existence is part of
    // some spin conditions, and constructing a FileTopic creates its
    // dir), so an absent file topic reads as None; the broker
    // auto-creates empty topics, which reads as sum 0 — same predicate.
    def topicOf(name: String): Option[QueueTopic] =
      if (qdir.startsWith("broker://") ||
          Files.exists(Paths.get(qdir, name)))
        Some(QueueRegistry.topic(name, 4, Some(qdir)))
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
        works(s - 1), qdir, stop, base, provider, ordered)): _*)
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
      // that closes every real window. In ARRIVAL-order mode only ONE
      // server fires deliberately: the per-SERVICE cooldown's input
      // comes from per-(server,service) upstream chains, so when two
      // servers fire the same service near-simultaneously the winner is
      // ARRIVAL-dependent — in the reference exactly as here (its
      // cooldown folds bus arrival order, stream_process_alerts.js:
      // 420-447) — while the batch oracle imposes global ts order. The
      // ordering contract guarantees per-key order, not cross-key
      // merge order; a single firing server keeps the alert leg
      // deterministic while BOTH servers still flow through the z topic
      // and DB comparisons (which are per-server-keyed and bit-exact).
      // In ORDERED mode hostB turns slow TOO — every firing window is a
      // cross-server tie, and the deterministic cooldown must still
      // reproduce the batch oracle bit-exactly.
      // (Rotated-log name so the P1 router still classifies it.)
      writeLog(logs, "hostA", "server.log.1", (10 until 19).map(i =>
        exitLine(i, t0 + i * 10000L, "S:checkout", 300L + (i % 7) * 3)))
      writeLog(logs, "hostB", "server.log.1", (10 until 19).map(i =>
        exitLine(i, t0 + i * 10000L, "S:checkout",
          if (ordered) 300L + (i % 5) * 7 else 100L + i % 5)))
      writeLog(logs, "zz", "server.log",
        Seq(exitLine(999, t0 + 100000000L, "S:checkout", 1L)))

      // re-fork stage 2 over the same checkpoint + topics
      procs(2) = forkStage(2, glob, works(1), qdir, stop, base, provider,
        ordered)

      // ---- batch oracle over the same lines (sentinel filtered)
      val zBatchDf = TopologyOracle.zFold(spark, glob, cfg)
      val candB = TopologyOracle.candidatesOf(zBatchDf, cfg)
      val expAlerts = Alerts.alertsRef(candB.toIndexedSeq, cfg.alert)
        .map(a => (a._1, a._2, a._3, a._4)).sorted.toList
      assert(expAlerts.nonEmpty, "oracle produced no alerts — inert corpus")
      if (ordered) {
        // the contested case must actually exist: every bad window of
        // hostA is also a bad window of hostB (identical window-end ts),
        // so each firing is a cross-server tie the event-time order
        // (ts, server, lag) — not arrival — must resolve
        val badTs = candB.filter(_._5).groupBy(_._1)
          .view.mapValues(_.map(_._4).toSet).toMap
        assert(badTs.getOrElse("hostA", Set.empty).nonEmpty &&
          badTs.getOrElse("hostA", Set.empty) == badTs.getOrElse("hostB", Set.empty),
          s"wave 2 did not produce cross-server ties: " +
            s"${badTs.view.mapValues(_.size).toMap}")
      }

      if (ordered) {
        // DETERMINISTIC SENTINEL STAGING. The ordered cooldown's
        // watermark rides fired-row event times, so a far-future firing
        // row reaching stage 4 in an EARLIER batch than a real fired row
        // would late-drop the real one. All fired rows share one t_fired
        // partition (service key), so append order is consumption order:
        // write the firing sentinel only after every real fired row is
        // already appended, and no interleaving can invert them. (The
        // real wave's own cross-server skew is covered by the child's
        // 600 s recovery-sized delay budget — see FileTopicChild.)
        val expFired = Alerts.firedRef(candB.toIndexedSeq, cfg.alert)
        assert(expFired.nonEmpty, "oracle fired set empty — inert corpus")
        spinUntil(240, s"t_fired to hold all ${expFired.size} real fired " +
          "rows before the firing sentinel is written") {
          topicSum("t_fired") >= expFired.size
        }
        // the firing sentinel wave (event times past the quiet closer's
        // watermark), itself closed by the even-later quiet zz2 event —
        // its fired rows advance stage 4's watermark past every real
        // alert, releasing the ordered tail holdback
        writeLog(logs, "zzf", "server.log", (0 until 9).map(i =>
          exitLine(900 + i, t0 + 200000000L + i * 10000L, "S:checkout", 300L)))
        writeLog(logs, "zz2", "server.log",
          Seq(exitLine(999, t0 + 300000000L, "S:checkout", 1L)))
      }

      // ---- convergence: the forked chain drains to the oracle's count
      // (the firing sentinel's own alerts are filtered — they exist only
      // to advance the stage-4 watermark in ordered mode)
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

      if (ordered) {
        // drop visibility END-TO-END: inject a fired row from the
        // flushed past directly into t_fired (stage 4's watermark is
        // ~t0+1e8 after the firing sentinel, so this row is genuinely
        // late). The forked stage-4 JVM must drop it — never fold it —
        // and PUBLISH the drop on the t_ops alarm topic, where this
        // parent process (standing in for production monitoring) can
        // see it; the final bit-equality assert below proves the row
        // never leaked into the fold.
        topicOf("t_fired").get.produce("late-probe",
          s"""{"server":"hostA","service":"S:checkout","lag":3,""" +
            s""""ts_ms":${t0 + 300000L},"causes":"late-probe"}""")
        // the spin's predicate IS the assertion: poll inside it and
        // accumulate across polls, so another stage's alarm landing
        // first (or the stage-4 record arriving between an
        // existence-check and a single poll) can't fail the leg
        // spuriously
        val alarms = scala.collection.mutable.Buffer.empty[String]
        var opsConsumer: ContractConsumer = null
        spinUntil(120, "the forked stage 4 to publish the late-drop " +
          s"alarm on t_ops (saw so far: $alarms)") {
          if (opsConsumer == null)
            topicOf("t_ops").foreach(t =>
              opsConsumer = new ContractConsumer(t, "spec_ops"))
          if (opsConsumer != null) alarms ++= opsConsumer.poll(1000).map(_.value)
          alarms.exists(v => v.contains("\"stage\":\"stage4\"") &&
            (v.contains("\"wm_dropped\":") && !v.contains("\"wm_dropped\":0")))
        }

        // stage 1's OWN silent drop point, end-to-end (the stats
        // window's lateness bound, A4 — stream_calc_stats.js:103-113):
        // a tx line far older than the advanced watermark (zz2 pushed it
        // to ~t0+3e8) lands in a fresh rotated log; the forked stage-1
        // JVM must window-drop it and publish the {"stage":"stage1"}
        // record on the same cross-process t_ops channel the stage-4
        // probe above used. Same discipline: accumulate across polls,
        // the predicate is the assertion.
        writeLog(logs, "zzl", "server.log",
          Seq(exitLine(555, t0 + 5000L, "S:checkout", 100L)))
        spinUntil(120, "the forked stage 1 to publish its watermark-drop " +
          s"alarm on t_ops (saw so far: $alarms)") {
          alarms ++= opsConsumer.poll(1000).map(_.value)
          alarms.exists(v => v.contains("\"stage\":\"stage1\"") &&
            (v.contains("\"wm_dropped\":") && !v.contains("\"wm_dropped\":0")))
        }
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
      // In ORDERED mode this is bit-exact — that determinism is the
      // mode's contract. In DEFAULT (arrival-order) mode the alert
      // TIMES are deterministic (the per-SERVICE cooldown suppresses
      // the same windows whichever server's row wins) but the SERVER
      // attribution of a cross-server tie follows bus arrival, exactly
      // as in the reference (stream_process_alerts.js folds arrival
      // order) — wave 2's warm-up windows DO produce real ties (the
      // quiet server's UB is sigma-tight after the uniform wave 1;
      // batch firedRef fires both servers at those window ends), so
      // the contract assertion is: same (ts, service, lag) sequence,
      // and each emitted server is one the batch fired set admits at
      // that window — exact where the window is uncontested. The
      // round-9 "unexplained 1-of-N failure" was this over-assertion;
      // adjudicated from the captured run-4 log + surviving topics
      // (test-logs/README.md round-11 note).
      val gotA = gotAlerts()
      if (ordered) {
        assert(gotA == expAlerts,
          s"alerts diverge: got=$gotA exp=$expAlerts")
      } else {
        // sort/zip by (ts, service, lag) — NOT the full tuple: at a
        // contested window a server flip must not re-pair alerts of
        // different services that share a ts
        val gKey = gotA.sortBy(a => (a._1, a._3, a._4))
        val eKey = expAlerts.sortBy(a => (a._1, a._3, a._4))
        assert(gKey.map(a => (a._1, a._3, a._4)) ==
          eKey.map(a => (a._1, a._3, a._4)),
          s"alert times diverge: got=$gotA exp=$expAlerts")
        val firedAt = Alerts.firedRef(candB.toIndexedSeq, cfg.alert)
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
    sixProcessScenario(graft.streaming.ApmStateV2.RocksDbProvider)
  }

  test("ordered-cooldown leg: BOTH servers fire the same service at " +
      "identical window ends across forked processes, and stage 4's " +
      "deterministic event-time cooldown still == the batch oracle " +
      "bit-exactly (RocksDB provider — transformWithState)") {
    sixProcessScenario(graft.streaming.ApmStateV2.RocksDbProvider,
      ordered = true)
  }

  test("same topology over the TCP broker daemon: six forked JVMs dial " +
      "the parent-hosted SocketBroker for every stage boundary (the " +
      "reference's processes-plus-broker-daemon shape), stage 2 " +
      "SIGKILLed and re-forked mid-run; alerts, z records, DB and JMX " +
      "samples all == their oracles") {
    // the ONLY thing that changes vs the file-transport scenario is the
    // qdir string — stage code, probes, kill/recovery discipline all
    // identical. Topic state (offsets, group commits, fences) lives in
    // the parent-hosted daemon, so the SIGKILLed stage-2 client loses
    // nothing it hadn't committed — the exactly-once story the broker
    // contract exists to carry.
    val broker = new graft.streaming.SocketBroker()
    try sixProcessScenario("", qdirOverride = Some(broker.url))
    finally broker.close()
  }
}

/** The topology specs' shared batch-oracle builder — also the forensics
  * path ([[graft.tools.FiredProbe]]), so a postmortem adjudication can
  * never drift from the oracle the spec asserts against.
  */
object TopologyOracle {
  val sentinelServers: Seq[String] = Seq("zz", "zzf", "zz2", "zzl")

  /** The batch z-score frame over a topology log glob — parse, windowed
    * stats (sentinels filtered), fold.
    */
  def zFold(spark: SparkSession, glob: String,
      cfg: ApmGraph.GraphCfg): org.apache.spark.sql.DataFrame = {
    val parsedB = Parsing.extractStdExit(
        LogFileSource.batch(spark, glob)
          .filter(col("log_type") === "server_log"))
      .select(col("server"), col("service"),
        timestamp_millis(col("end_ms")).as("end_ts"), col("elapsed"))
    val statsB = ApmStreaming.slidingStatsStream(
        parsedB, cfg.windowLen, cfg.slide, cfg.lateness)
      .filter(!col("server").isin(sentinelServers: _*))
    ZScore.zScoreFold(
      statsB.select("server", "service", "ts_ms", "tpm",
        "average", "per75", "per95"), Seq(cfg.lag))
  }

  /** (server, service, lag, ts_ms, bad, causes) alert candidates from a
    * [[zFold]] frame — the in-process batch chain the forked topology
    * must reproduce.
    */
  def candidatesOf(zBatchDf: org.apache.spark.sql.DataFrame,
      cfg: ApmGraph.GraphCfg): Array[(String, String, Int, Long, Boolean, String)] =
    Alerts.candidates(zBatchDf, cfg.alert)
      .select("server", "service", "lag", "ts_ms", "bad", "causes")
      .collect()
      .map(r => (r.getString(0), r.getString(1), r.getInt(2), r.getLong(3),
        r.getInt(4) == 1, r.getString(5)))

  def candidates(spark: SparkSession, glob: String,
      cfg: ApmGraph.GraphCfg): Array[(String, String, Int, Long, Boolean, String)] =
    candidatesOf(zFold(spark, glob, cfg), cfg)
}
