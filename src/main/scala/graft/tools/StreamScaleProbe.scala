package graft.tools

import java.nio.file.{Files, Paths}

/** Streaming-graph scaling probe (SCALING.md round-10 row): drains the
  * WHOLE four-stage graph — tail/parse/stats, z-score, vote, cooldown,
  * every boundary a FileTopic (the multi-process fabric) — over the
  * synthesized [[graft.StreamCorpus]] at growing factors, reporting the units
  * the graph is priced in (lines/s, stats-rows/s).
  *
  * Two growth axes, both run (`runMain ... <axis> <factorsCsv>`):
  *
  *  - `time` (the headline row): the fleet is fixed at 8 hosts and the
  *    corpus extends along event time (1200 -> 12000 windows) — how one
  *    deployment's volume actually accretes. The slow-elapsed band is
  *    periodic (`i % 1200 > 900`) so the vote/cooldown WORK MIX is
  *    factor-invariant, making wall-growth a pure throughput signal.
  *  - `hosts` (the backfill shape): 8 -> 80 hosts over the same span —
  *    a COLD BACKFILL of many same-time-range rotated files. This axis
  *    exists because it FAILS without operator action: stage 1's
  *    bounded file admission (maxFilesPerTrigger) spreads the backlog
  *    over micro-batches, the first batch's files advance the global
  *    watermark past the whole span, and every later file is
  *    window-dropped (observable: the t_ops alarm, the exact drop
  *    counts). The probe therefore runs this axis with
  *    `GraphCfg.stage1MaxFiles` sized to admit the backlog in ONE
  *    batch — the documented backfill recipe (see GraphCfg scaladoc;
  *    the alternative is sizing `lateness` to the backlog span).
  *
  * Run factors "1,1,N" and compare against the SECOND factor-1 pass so
  * JIT warm-up is out of the base (one SparkSession serves all passes).
  */
object StreamScaleProbe {
  def main(args: Array[String]): Unit = {
    val axis = args.headOption.getOrElse("time")
    require(axis == "time" || axis == "hosts", s"axis $axis")
    val factors = args.drop(1).headOption.getOrElse("1,1,10")
      .split(",").map(_.trim.toInt).toSeq
    val spark = graft.GraftSession()

    factors.foreach { factor =>
      val (nHosts, nIntervals) =
        if (axis == "hosts") (8 * factor, 1200) else (8, 1200 * factor)
      val base = Files.createTempDirectory(s"graft_sscale_$factor")
      val logs = base.resolve("logs").toString
      // the 8 x 1200 corpus scaled along the chosen axis; its
      // per-1200-interval slow band keeps the alert-side work mix
      // factor-invariant. Sentinel offset must clear a time-scaled
      // corpus's whole span (nIntervals * 10 s), hence 1e9, not the
      // 1e8 that clears factor 1. Written up front: drain 1 ingests
      // corpus AND sentinel in one batch, drain 2 plays the
      // window-close pass.
      val nLines = graft.StreamCorpus.writeHosts(logs, nHosts, nIntervals)
      graft.StreamCorpus.writeSentinel(logs, offsetMs = 1000000000L)

      // hosts axis = cold backfill: admit the whole backlog in one
      // micro-batch (see scaladoc); time axis keeps the default
      val cfg = graft.streaming.ApmGraph.GraphCfg(
        stage1MaxFiles = if (axis == "hosts") nHosts + 2 else 10)
      val glob = s"$logs/net/*/*"
      val workG = base.resolve("workg").toString
      val qdirG = base.resolve("qdirg").toString
      val g0 = System.nanoTime()
      Seq(1, 1, 2, 3, 4).foreach(s => graft.streaming.ApmGraph
        .runStageQueued(spark, s, glob, workG, qdirG, cfg))
      val sec = (System.nanoTime() - g0) / 1e9
      val stats = new graft.streaming.FileTopic(
        Paths.get(qdirG, "t_stats")).endOffsets.values.sum
      // a legitimately alert-free corpus leaves no alerts directory
      // (AnalysisException on read) — that is the ONLY swallowed case;
      // a real stage failure must propagate, or a broken run would
      // print a plausible row with alerts=0 and get transcribed into
      // SCALING.md as a measurement
      val alerts =
        try spark.read.option("recursiveFileLookup", "true")
          .parquet(s"$workG/alerts").count()
        catch { case _: org.apache.spark.sql.AnalysisException => 0L }
      println(f"STREAMSCALE axis=$axis factor=$factor lines=$nLines " +
        f"sec=$sec%.1f lps=${nLines / sec}%.0f stats_rows=$stats " +
        f"srps=${stats / sec}%.0f alerts=$alerts")
    }
    spark.stop()
  }
}
