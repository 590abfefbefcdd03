package graft
import org.apache.spark.sql.SparkSession
import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}
import scala.collection.mutable

/** Benchmark main. Prints ONE bare JSON line as the LAST stdout line (and
  * also writes it to /tmp/bench.json) so the driver's extractor can't miss
  * it regardless of logger prefixes.
  *
  * Timing discipline (this box has documented episodic host-level vCPU
  * stalls — wall>>cpu with idle load — that min-of-2 didn't survive):
  *   - median of 3 passes per query;
  *   - if max/min spread across the 3 exceeds 5x, up to 2 extra passes are
  *     taken and the median of all collected passes is reported;
  *   - process-CPU seconds are recorded per query alongside wall time, so
  *     a host stall (wall >> cpu) is self-evident in the artifact.
  * Queries are materialized via the `noop` sink, not count(): count() lets
  * Catalyst prune every unevaluated projection, which under-reports any
  * query whose cost is in the computed columns.
  */
object Bench {
  /** A JSON number with `digits` decimals, formatted under `Locale.ROOT`
    * so a comma-decimal default locale cannot break the emitted JSON.
    */
  def jnum(v: Double, digits: Int = 3): String =
    String.format(java.util.Locale.ROOT, s"%.${digits}f", Double.box(v))

  /** A JSON string literal: backslash, quote and ALL control chars
    * (< 0x20) escaped, so a tab in a path or in builder-authored SQL
    * cannot break a machine-parsed line (Bench's stdout lines, Verify's
    * `oracle_sql.json`).
    */
  def jstr(s: String): String = "\"" + s.flatMap {
    case '"'  => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

  /** The compact final stdout line: headline scalars only (see the
    * clip note in [[main]]); `errJson` and `stream` are pre-rendered.
    */
  def compactLine(total: Double, nQueries: Int, errJson: String,
      stream: String, calib: Double, sfDir: String): String =
    s"""{"metric":"total","value":${jnum(total)},"unit":"sec","n_queries":$nQueries,"errors":$errJson$stream,"calib":${jnum(calib)},"sf":${jstr(sfDir)},"detail":"bench_out.json"}"""

  /** The files a run's full JSON goes to: always `/tmp/bench.json`. A
    * full-suite run also writes the repo-visible `bench_out.json` and a
    * per-core-count copy (the driver benches the same tree at two core
    * counts back to back, and one file per count keeps both runs'
    * detail). A `SPARK_GRAFT_ONLY` run writes only the `/tmp` copy, so
    * its partial map never overwrites the committed full-suite files.
    */
  def outputPaths(filtered: Boolean, cpus: Int): Seq[String] =
    "/tmp/bench.json" +:
      (if (filtered) Nil else Seq("bench_out.json", s"bench_out_c$cpus.json"))

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = GraftSession.defaultCpus
    val spark = GraftSession(cpus)
    val osBean = ManagementFactory.getOperatingSystemMXBean
      .asInstanceOf[com.sun.management.OperatingSystemMXBean]
    // Run-attribution context (round 6: the driver's run of identical
    // code landed a uniform 1.19x slower than the builder's committed
    // artifact — neither artifact carried anything to attribute the
    // delta to). Two instruments, both in the FILE artifact:
    //  - /proc/loadavg at start and end — names concurrent host load;
    //  - a fixed-work single-thread calibration spin (pure JVM, no
    //    Spark), timed at start and end: the ratio of two runs'
    //    calib_sec is the host-speed scalar to normalize their query
    //    times by (a stalled/oversubscribed box shows up here, a plan
    //    regression does not).
    def loadavg(): String =
      try Files.readString(Paths.get("/proc/loadavg")).trim
        .split(" ").take(3).mkString(",")
      catch { case _: Throwable => "" }
    def calibrate(): Double = {
      def spin(): Double = {
        val t0 = System.nanoTime()
        var x = 88172645463325252L; var i = 0
        while (i < 400000000) { // xorshift64, fixed work, ~0.5 s unloaded
          x ^= x << 13; x ^= x >>> 7; x ^= x << 17; i += 1
        }
        if (x == 42L) System.err.println("") // keep the loop live
        (System.nanoTime() - t0) / 1e9
      }
      val xs = Seq(spin(), spin(), spin()).sorted
      xs(1)
    }
    val loadStart = loadavg()
    val calibStart = calibrate()
    // Warm the JVM (codegen, parquet reader, shuffle machinery) so the
    // first measured query doesn't absorb one-time init cost.
    spark.range(1000000L).selectExpr("sum(id)").collect()
    spark.read.parquet(s"$sfDir/region.parquet").count()

    val errors = mutable.Map.empty[String, String]
    // Returns (wallSec, cpuSec); a crashed query is marked, not hidden.
    def timeOnce(name: String,
        fn: (SparkSession, String) => org.apache.spark.sql.DataFrame): (Double, Double) = {
      val c0 = osBean.getProcessCpuTime
      val t0 = System.nanoTime()
      try fn(spark, sfDir).write.format("noop").mode("overwrite").save()
      catch { case e: Throwable =>
        System.err.println(s"[bench] $name FAILED: ${e.getClass.getName}: ${e.getMessage}")
        errors(name) = e.getClass.getSimpleName
      }
      val r = ((System.nanoTime() - t0) / 1e9, (osBean.getProcessCpuTime - c0) / 1e9)
      // progress trace on stderr (driver reads only the stdout JSON)
      System.err.println(f"[bench] $name wall=${r._1}%.2f cpu=${r._2}%.2f")
      // GC between PASSES, outside the timed section: garbage-heavy
      // queries (e.g. the jaccard verification join at 10x data)
      // otherwise pay the previous pass's concurrent-G1 work INSIDE the
      // next pass — observed as 5-8x cpu swings across identical passes
      // (process CPU counts GC threads).
      System.gc()
      r
    }
    def median(xs: Seq[Double]): Double = {
      val s = xs.sorted
      if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
    }
    // Focus filter (comma-separated names; unset = all queries): the way
    // to time one query, e.g. `SPARK_GRAFT_ONLY=r3_alerts runMain
    // graft.Bench`. The driver never sets it, so its runs are always the
    // full suite.
    val only = sys.env.get("SPARK_GRAFT_ONLY")
      .map(_.split(",").map(_.trim).toSet)
    // Query families (SparkEntry.families) share one materialized build:
    // each member times only its own incremental work over it, the way a
    // production tee would run, and the build's cost stays with the
    // family's unshared trainer query. A family is built at its first
    // member (outside the timed passes) and its checkpointed frames are
    // unpersisted right after its LAST member — so no family's resident
    // blocks leak heap pressure into unrelated queries later in the
    // alphabet (the round-4 d7 in-suite scaling outlier was exactly that).
    val fams = SparkEntry.families(spark, sfDir)
    val runList = SparkEntry.queries.toSeq.sortBy(_._1)
      .filter { case (n, _) =>
        only.forall(_.contains(n)) &&
          (!SparkEntry.oracleOnly.contains(n) || only.exists(_.contains(n)))
      }
    val runNames = runList.map(_._1).toSet
    val results = runList.map { case (name, fn0) =>
      val fam = fams.find(_.members.contains(name))
      val fn: (SparkSession, String) => org.apache.spark.sql.DataFrame =
        fam.fold(fn0) { f =>
          f.frames // build before the first timed pass
          (_, _) => f.members(name)()
        }
      val passes = mutable.Buffer.empty[(Double, Double)]
      passes += timeOnce(name, fn)
      passes += timeOnce(name, fn)
      passes += timeOnce(name, fn)
      var extra = 0
      while (extra < 2 && {
        val ws = passes.map(_._1)
        ws.max / math.max(ws.min, 1e-9) > 5.0
      }) { passes += timeOnce(name, fn); extra += 1 }
      // (per-pass GC inside timeOnce also serves the between-queries
      // role: broadcast/shuffle driver state the ContextCleaner only
      // reclaims on a driver GC never accumulates across the suite)
      fam.filter(_.members.keySet.intersect(runNames).max == name).foreach { f =>
        f.frames.foreach(_.unpersist(blocking = true))
        System.gc() // let ContextCleaner reap the chain's broadcasts
      }
      (name, median(passes.map(_._1).toSeq), median(passes.map(_._2).toSeq),
        passes.map(_._1).toSeq)
    }
    // ---- Streaming throughput: the reference's only published number is
    // sustained derived-stats rows/s through its six-process chain
    // (stream_insert_db.js:3-4, ~76 fs-rows/s). Measure the SAME unit by
    // draining the four-stage file->parse->stats->zscore->alert graph
    // (ApmGraph, AvailableNow triggers, real checkpoints + parquet
    // handoffs) over a synthesized log corpus, end to end. One pass —
    // the run is long enough (~10^5 input lines) to dominate startup.
    // Skipped under the dev-only SPARK_GRAFT_ONLY filter.
    // (full-artifact variant, compact-stdout variant): the whole-graph
    // file-transport detail goes to the FILE only; the stdout line gets
    // a single g_lps scalar (the ~400 B driver log-tail clip).
    val streamPair: (String, String) =
      if (only.nonEmpty) ("", "") else {
      try {
        val base = Files.createTempDirectory("graft_stream_bench")
        val logs = base.resolve("logs").toString
        val work = base.resolve("work").toString
        // the bench-shaped corpus (8 hosts x 1200 10-s intervals;
        // elapsed drifts into the hard-max band late in the range so
        // the vote/cooldown stages do real work) — ONE generator shared
        // with tools.StreamScaleProbe so scaling rows stay comparable
        val nLines = StreamCorpus.writeHosts(logs, nHosts = 8,
          nIntervals = 1200)
        val cfg = graft.streaming.ApmGraph.GraphCfg()
        val glob = s"$logs/net/*/*"
        val s0 = System.nanoTime()
        // Drain 1 ingests the corpus; the far-future sentinel then
        // advances the watermark so every real window closes in drain 2
        // (same recipe GraphSpec pins for stream==batch equality).
        graft.streaming.ApmGraph.runStage1(spark, glob, work, cfg)
        StreamCorpus.writeSentinel(logs, offsetMs = 100000000L)
        graft.streaming.ApmGraph.runStage1(spark, glob, work, cfg)
        // the stats query runs between stage-1 calls; no more follow
        graft.streaming.ApmGraph.stop(spark, work)
        graft.streaming.ApmGraph.runStage2(spark, work, cfg)
        // stages 3+4 timed separately: the same boundary also runs over
        // the FILE-BACKED queue transport below, and s34_sec is the
        // parquet-handoff number it compares against
        val s34t0 = System.nanoTime()
        graft.streaming.ApmGraph.runStage3(spark, work, cfg)
        graft.streaming.ApmGraph.runStage4(spark, work, cfg)
        val s34Sec = (System.nanoTime() - s34t0) / 1e9
        val streamSec = (System.nanoTime() - s0) / 1e9
        def cnt(dir: String): Long =
          try spark.read.option("recursiveFileLookup", "true")
            .parquet(dir).count()
          catch { case _: Throwable => 0L }
        val statsRows = cnt(s"$work/stats")
        val alertRows = cnt(s"$work/alerts")
        System.err.println(f"[bench] stream lines=$nLines sec=$streamSec%.1f " +
          f"stats=$statsRows alerts=$alertRows")
        // ---- The deployable transport's cost, measured: the SAME
        // stage-3 -> stage-4 handoff again, but through the file-backed
        // queue topic (graftqueue over `dir` — the multi-process
        // transport MultiProcessGraphSpec forks JVMs over) instead of a
        // parquet topic directory. Same zscore input (one writer, many
        // consumers; this consumer brings its own checkpoints), fresh
        // work dir, so stream_file.sec vs stream.s34_sec isolates the
        // transport delta at identical data and identical stage code.
        val workF = base.resolve("workf").toString
        val f0 = System.nanoTime()
        val firedTopic = graft.streaming.ApmGraph.Topic("bench_fired",
          base.resolve("qdir").toString)
        graft.streaming.ApmGraph.runStage3Queued(spark, workF, cfg,
          graft.streaming.ApmGraph.ParquetDir(s"$work/zscore"), firedTopic)
        graft.streaming.ApmGraph.runStage4Queued(spark, workF, cfg, firedTopic)
        val fileSec = (System.nanoTime() - f0) / 1e9
        val alertsF = cnt(s"$workF/alerts")
        System.err.println(f"[bench] stream_file s34=$fileSec%.1f s " +
          f"(parquet s34=$s34Sec%.1f s) alerts=$alertsF")
        // ---- The WHOLE graph over the file transport: all four stages
        // with EVERY boundary a FileTopic (the fabric the forked
        // topology runs on), drained sequentially in this JVM over the
        // same corpus (the sentinel file already exists, so one extra
        // stage-1 drain plays the window-close no-data pass). vs the
        // `stream` block above this prices the end-to-end transport
        // cost, not just the stage-3->4 handoff.
        val workG = base.resolve("workg").toString
        val qdirG = base.resolve("qdirg").toString
        val g0 = System.nanoTime()
        Seq(1, 1, 2, 3, 4).foreach(s => graft.streaming.ApmGraph
          .runStageQueued(spark, s, glob, workG, qdirG, cfg))
        val graphSec = (System.nanoTime() - g0) / 1e9
        val alertsG = cnt(s"$workG/alerts")
        val statsG = {
          val t = new graft.streaming.FileTopic(
            Paths.get(qdirG, "t_stats"))
          t.endOffsets.values.sum
        }
        System.err.println(f"[bench] stream_file WHOLE graph sec=" +
          f"$graphSec%.1f lines/s=${nLines / graphSec}%.0f " +
          f"stats=$statsG alerts=$alertsG (in-mem sec=$streamSec%.1f)")
        val streamCore =
          s""","stream":{"lines":$nLines,"sec":${jnum(streamSec, 1)},"lines_per_sec":${jnum(nLines / streamSec, 0)},"stats_rows":$statsRows,"stats_rows_per_sec":${jnum(statsRows / streamSec, 0)},"alerts":$alertRows,"s34_sec":${jnum(s34Sec, 1)}}"""
        (streamCore +
          s""","stream_file":{"s34_sec":${jnum(fileSec, 1)},"alerts":$alertsF,"graph_sec":${jnum(graphSec, 1)},"graph_lines_per_sec":${jnum(nLines / graphSec, 0)},"graph_stats_rows":$statsG,"graph_stats_rows_per_sec":${jnum(statsG / graphSec, 0)},"graph_alerts":$alertsG}""",
         streamCore +
          s""","stream_file":{"s34_sec":${jnum(fileSec, 1)},"g_lps":${jnum(nLines / graphSec, 0)}}""")
      } catch { case e: Throwable =>
        System.err.println(s"[bench] stream bench FAILED: ${e.getClass.getName}: ${e.getMessage}")
        errors("stream_graph") = e.getClass.getSimpleName
        ("", "")
      }
    }
    val streamJson = streamPair._1
    val streamJsonCompact = streamPair._2
    val qs = results.map { case (k, w, _, _) => s""""$k":${jnum(w)}""" }.mkString("{", ",", "}")
    val cpu = results.map { case (k, _, c, _) => s""""$k":${jnum(c)}""" }.mkString("{", ",", "}")
    val passJson = results.map { case (k, _, _, ps) =>
      s""""$k":${ps.map(jnum(_)).mkString("[", ",", "]")}""" }.mkString("{", ",", "}")
    val errJson = errors.toSeq.sortBy(_._1)
      .map { case (k, v) => s"${jstr(k)}:${jstr(v)}" }.mkString("{", ",", "}")
    val total = results.map(_._2).sum
    val loadEnd = loadavg()
    val calibEnd = calibrate()
    // run-attribution block: two runs of identical code divide their
    // calib medians to get the host-speed scalar; loadavg names the
    // concurrent load; per-query pass lists expose which passes a stall
    // hit (median-only artifacts hid all of this in round 6)
    val ctxJson = s""","calib_sec":{"start":${jnum(calibStart)},"end":${jnum(calibEnd)}}""" +
      s""","loadavg":{"start":${jstr(loadStart)},"end":${jstr(loadEnd)}}""" +
      s""","passes":$passJson"""
    // `shared`: queries timed as INCREMENTAL work over a family frame
    // whose build cost is attributed to the family's unshared trainer
    // query (r2_candidates / e2_pq_codes / s7_ivfpq / d4) — pipeline-view
    // numbers, not standalone-chain numbers. `gc_note`: medians exclude
    // inter-pass GC (System.gc between passes keeps the previous pass's
    // collection work out of the next timed section), which stabilizes
    // medians but means allocation-heavy queries don't pay their GC here.
    val sharedJson = runList.map(_._1).filter(n => fams.exists(_.members.contains(n)))
      .map(n => s""""$n"""").mkString("[", ",", "]")
    // `oracle_only`: registered queries deliberately absent from the
    // timed set (`SparkEntry.oracleOnly`) — the artifact names them so a
    // round-over-round comparison knows the set shrank by design
    val oracleOnlyJson = SparkEntry.oracleOnly.toSeq.sorted
      .map(n => s""""$n"""").mkString("[", ",", "]")
    val full = s"""{"metric":"total","value":${jnum(total)},"unit":"sec","queries":$qs,"cpu_sec":$cpu,"shared":$sharedJson,"oracle_only":$oracleOnlyJson,"gc_note":"per-query medians exclude inter-pass System.gc","errors":$errJson$streamJson$ctxJson,"sf":${jstr(sfDir)}}"""
    // Full artifact (per-query wall + cpu maps, ~4 KB) goes to FILES,
    // because a 4 KB stdout line overflows the driver's log-tail buffer
    // (rounds 1 and 2 both lost the parsed bench signal that way).
    outputPaths(only.nonEmpty, cpus).foreach { path =>
      try Files.writeString(Paths.get(path), full)
      catch { case e: Throwable =>
        System.err.println(s"[bench] $path write failed: ${e.getMessage}") }
    }
    // COMPACT final stdout line, NO per-query map: three straight rounds
    // proved the driver's log-tail buffer clips anything past a few
    // hundred bytes (r3's 2.8 KB wall-only map still arrived mid-key;
    // the r14 BENCH artifact's stored tail is 2000 chars). The stdout
    // line carries only the headline scalars — total wall, query count,
    // error map, stream block, sf — and points at bench_out.json for
    // the per-query detail. Must stay under 400 B.
    val compact = compactLine(total, results.size, errJson, streamJsonCompact,
      calibEnd, sfDir)
    spark.stop()
    // Per-query wall map as its OWN stdout line, printed BEFORE the
    // compact total line (r14 verdict item 1: the driver's PERF
    // per-query comparator has been empty since round 2). Ordering is
    // the clip-safety argument: the log tail keeps the END of stdout,
    // so a clip can only cut this line's HEAD — the compact total line
    // below always survives intact, exactly as it has since round 2. A
    // parser that reads complete `{"metric":...}` lines gains the map
    // when the tail buffer is large enough and sees no change when it
    // is not (a clipped fragment no longer starts with '{' and parses
    // as nothing). Centisecond precision keeps it ~3.5 KB.
    val qsCenti = results.map { case (k, w, _, _) => s""""$k":${jnum(w, 2)}""" }
      .mkString("{", ",", "}")
    println(s"""{"metric":"queries","unit":"sec","cpus":$cpus,"queries":$qsCenti}""")
    // Bare, final stdout line (spark.stop() already happened so nothing
    // logs after it; run/outputStrategy passes it through un-prefixed).
    println(compact)
  }
}
