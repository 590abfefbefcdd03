package apmbench

import graft.operators.{Alerts, Parsing, ZScore}
import graft.sources.LogFileSource
import graft.streaming.{ApmGraph, ApmStreaming}
import java.nio.file.{Files, Path}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import scala.collection.mutable

/** The stream workload: the four-stage `ApmGraph` driven through its
  * public `runStageN` calls, as graft.Bench and GraphSpec drive it.
  */
object StreamWorkloads {
  val nHosts = 8
  /** Backfill corpus length in 10 s intervals. */
  val backfillIntervals = 100
  /** Live corpus length; the run replays as much of it as its time allows. */
  val liveIntervals = 1200
  /** Cycles run after the generator stops, so rows whose closing line
    * was published in time reach their sinks before the sentinel does.
    */
  val tailCycles = 1
  /** Live input rate in lines/s: two corpus intervals a second, about a
    * tenth to a fifth of the warm backfill throughput (see NOTES.md).
    */
  val liveRate = 192.0

  /** One `GraphCfg` for every drain: stage 1 admits its whole backlog in
    * one micro-batch (the GraphCfg scaladoc's backfill recipe).
    */
  def graphCfg(maxFiles: Option[Int]): ApmGraph.GraphCfg =
    ApmGraph.GraphCfg(stage1MaxFiles = maxFiles.getOrElse(1000000))

  def glob(logs: Path): String = s"$logs/net/*/*"

  /** Runs stages 1..4 once, timing each call as an operation. */
  def cycle(run: Main.Run, logs: Path, graph: Path, cfg: ApmGraph.GraphCfg,
      parent: String): Map[String, Double] = {
    val spark = run.spark
    val g = graph.toString
    val s1 = run.timed("stage1", "stage", parent)(ApmGraph.runStage1(spark, glob(logs), g, cfg))._1
    val s2 = run.timed("stage2", "stage", parent)(ApmGraph.runStage2(spark, g, cfg))._1
    val s3 = run.timed("stage3", "stage", parent)(ApmGraph.runStage3(spark, g, cfg))._1
    val s4 = run.timed("stage4", "stage", parent)(ApmGraph.runStage4(spark, g, cfg))._1
    Map("stage1" -> s1, "stage2" -> s2, "stage3" -> s3, "stage4" -> s4)
  }

  /** A whole backfill drain of `logs` (which holds no sentinel yet) into
    * fresh state: stage 1 ingests, the sentinel lands, then one more
    * stage-1 call closes every window before stages 2-4 run (graft.Bench's
    * recipe).
    */
  def drain(run: Main.Run, logs: Path, graph: Path, cfg: ApmGraph.GraphCfg,
      parent: String): Map[String, Double] = {
    val g = graph.toString
    val (first, _) = run.timed("stage1", "stage", parent)(
      ApmGraph.runStage1(run.spark, glob(logs), g, cfg))
    Corpus.writeSentinel(logs)
    val rest = cycle(run, logs, graph, cfg, parent)
    rest.updated("stage1", rest("stage1") + first)
  }

  /** Links the corpus's host logs into a fresh `logs` directory, so each
    * drain reads the same files without a sentinel.
    */
  def linkCorpus(corpus: Corpus, from: Path, logs: Path): Unit =
    (0 until corpus.nHosts).foreach { h =>
      val target = corpus.hostDir(logs, h).resolve("server.log")
      Files.createDirectories(target.getParent)
      Files.createLink(target, corpus.hostDir(from, h).resolve("server.log"))
    }

  /** `stream_live`. After set-up, one cold backfill drain of the seeded
    * corpus warms the JVM (untimed). The timed section is one warm
    * backfill drain (its lines/s), then the open loop: the generator
    * publishes a fresh corpus at a fixed line rate while this thread
    * re-drains stages 1..4 back to back for `seconds`, plus tail cycles
    * once the generator has stopped. A closing drain behind the sentinel
    * and the correctness checks follow, untimed.
    */
  def live(run: Main.Run): Unit = {
    val a = run.args
    val cfg = graphCfg(a.maxFiles)
    val root = a.work.resolve("stream")
    val backfillCorpus = Corpus(a.seed, nHosts, backfillIntervals)
    val corpusDir = root.resolve("corpus")
    val nLines = backfillCorpus.writeAll(corpusDir)
    run.setUp(3)(run.spark.range(1000000L).selectExpr("sum(id)").collect())

    def backfillDrain(k: Int): Map[String, Any] = {
      val dir = root.resolve(s"drain$k")
      linkCorpus(backfillCorpus, corpusDir, dir.resolve("logs"))
      val c0 = Main.cpuS()
      val (wall, stages) = run.timed(s"drain$k", "drain", "run")(
        drain(run, dir.resolve("logs"), dir.resolve("graph"), cfg, s"drain$k"))
      Map("graph" -> dir.resolve("graph").toString, "wall_s" -> wall,
        "cpu_s" -> (Main.cpuS() - c0), "stages_s" -> stages)
    }
    var drains = List.empty[Map[String, Any]]
    run.warmUp(drains :+= backfillDrain(0))

    run.beginTimed()
    drains :+= backfillDrain(1)

    val corpus = Corpus(a.seed, nHosts, liveIntervals)
    val logs = root.resolve("logs")
    val graph = root.resolve("graph")
    Files.createDirectories(logs.resolve("net"))
    val periodUs = math.round(1e6 * nHosts * corpus.linesPerInterval / liveRate)
    val c0 = Main.cpuS()
    val startUs = Clock.nowUs() + 200000L
    val stopUs = startUs + math.round(a.seconds * 1e6)
    val gen = new LiveGenerator(corpus, logs, periodUs, startUs, stopUs)
    gen.start()
    // The first cycle starts once the first interval is visible.
    while (gen.lines == 0 && gen.isAlive) Thread.sleep(5)
    val cycles = mutable.ArrayBuffer.empty[Map[String, Any]]
    def oneCycle(tail: Boolean): Unit = {
      val c = cycles.size
      val linesAtStart = gen.lines
      val cStart = Clock.nowUs()
      val stages = cycle(run, logs, graph, cfg, s"cycle$c")
      cycles += Map("start_us" -> cStart, "end_us" -> Clock.nowUs(),
        "lines_visible_at_start" -> linesAtStart, "stages_s" -> stages, "tail" -> tail)
    }
    while (Clock.nowUs() < stopUs) oneCycle(tail = false)
    gen.join()
    (0 until tailCycles).foreach(_ => oneCycle(tail = true))
    val cpu = Main.cpuS() - c0
    run.endTimed()
    gen.error.foreach(e => throw e)

    // Closing drain, not a delay sample: the sentinel closes every window
    // still open.
    val closingUs = Clock.nowUs()
    Corpus.writeSentinel(logs)
    cycle(run, logs, graph, cfg, "closing")
    run.mark("closing")

    val expBackfill = expected(run.spark, glob(corpusDir), cfg)
    val expLive = expected(run.spark, glob(logs), cfg)
    run.result("lines") = nLines
    run.result("drains") = drains
    run.result("rate_lines_per_s") = liveRate
    run.result("period_us") = periodUs
    run.result("start_us") = startUs
    run.result("stop_us") = stopUs
    run.result("lateness_ms") = 10000L
    run.result("cpu_timed_s") = cpu
    run.result("cycles") = cycles.toList
    run.result("generator") = gen.log.map(_.toMap)
    run.result("closing_start_us") = closingUs
    run.result("graph") = graph.toString
    run.result("checks") = drains.map(d => check(run.spark, d("graph").toString, expBackfill)) :+
      check(run.spark, graph.toString, expLive)
  }

  final case class Expected(stats: Map[(String, String, Long), Seq[Any]],
      alerts: List[(Long, String, String, Int)], columns: Seq[String])

  /** The batch reference over the same files, as GraphSpec computes it:
    * windowed stats over `LogFileSource.batch`, then z-score, candidates
    * and `Alerts.alertsRef`. The sentinel host is left out.
    */
  def expected(spark: SparkSession, logsGlob: String, cfg: ApmGraph.GraphCfg): Expected = {
    val parsedB = Parsing.extractStdExit(
        LogFileSource.batch(spark, logsGlob).filter(col("log_type") === "server_log"))
      .select(col("server"), col("service"),
        timestamp_millis(col("end_ms")).as("end_ts"), col("elapsed"))
    val statsB = ApmStreaming.slidingStatsStream(
        parsedB, cfg.windowLen, cfg.slide, cfg.lateness)
      .filter(col("server") =!= "zz")
      .localCheckpoint()
    val stats = statsB.collect().map { r =>
      (r.getAs[String]("server"), r.getAs[String]("service"), r.getAs[Long]("ts_ms")) -> r.toSeq
    }.toMap
    val zB = ZScore.zScoreFold(
      statsB.select("server", "service", "ts_ms", "tpm", "average", "per75", "per95"),
      Seq(cfg.lag))
    val candB = Alerts.candidates(zB, cfg.alert)
      .select("server", "service", "lag", "ts_ms", "bad", "causes")
      .collect()
      .map(r => (r.getString(0), r.getString(1), r.getInt(2), r.getLong(3),
        r.getInt(4) == 1, r.getString(5)))
    val alerts = Alerts.alertsRef(candB.toIndexedSeq, cfg.alert)
      .map(a => (a._1, a._2, a._3, a._4)).sorted.toList
    Expected(stats, alerts, statsB.columns.toSeq)
  }

  /** Compares one graph's sinks with the reference. Each stats key that
    * is missing, extra, duplicated or different counts as one failure;
    * so does each alert row in the multiset difference.
    */
  def check(spark: SparkSession, graph: String, exp: Expected): Map[String, Any] = {
    val got = spark.read.parquet(s"$graph/stats")
      .select(exp.columns.map(col): _*).collect()
      .map(r => (r.getAs[String]("server"), r.getAs[String]("service"),
        r.getAs[Long]("ts_ms")) -> r.toSeq)
    val gotMap = got.groupBy(_._1)
    val missing = exp.stats.keySet.count(k => !gotMap.contains(k))
    val extra = gotMap.keySet.count(k => !exp.stats.contains(k))
    val dup = gotMap.values.count(_.length > 1)
    val differ = gotMap.count { case (k, rows) =>
      exp.stats.get(k).exists(e => rows.length == 1 && rows.head._2 != e) }
    val alertsDir = new java.io.File(s"$graph/alerts")
    val gotAlerts =
      if (!alertsDir.exists()) List.empty[(Long, String, String, Int)]
      else spark.read.option("recursiveFileLookup", "true").parquet(alertsDir.toString)
        .select("ts_ms", "server", "service", "lag").collect()
        .map(r => (r.getLong(0), r.getString(1), r.getString(2), r.getInt(3)))
        .toList
    val alertMissing = multisetDiff(exp.alerts, gotAlerts)
    val alertExtra = multisetDiff(gotAlerts, exp.alerts)
    Map("stats_expected" -> exp.stats.size, "stats_got" -> got.length,
      "stats_missing" -> missing, "stats_extra" -> extra, "stats_dup" -> dup,
      "stats_differ" -> differ, "alerts_expected" -> exp.alerts.size,
      "alerts_got" -> gotAlerts.size, "alerts_missing" -> alertMissing,
      "alerts_extra" -> alertExtra,
      "failed" -> (missing + extra + dup + differ + alertMissing + alertExtra),
      "attempted" -> (exp.stats.size + exp.alerts.size))
  }

  private def multisetDiff[T](a: Seq[T], b: Seq[T]): Int = {
    val counts = mutable.Map.empty[T, Int].withDefaultValue(0)
    b.foreach(x => counts(x) += 1)
    a.count { x =>
      if (counts(x) > 0) { counts(x) -= 1; false } else true
    }
  }
}
