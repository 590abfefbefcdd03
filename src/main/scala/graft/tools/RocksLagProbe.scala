package graft.tools

import java.nio.file.Files
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.streaming.OutputMode
import com.fasterxml.jackson.databind.node.ObjectNode
import graft.Bench.{decimal, json}
import graft.streaming.{ApmGraph, ApmStreaming}

/** Dev harness: measured evidence for the day-lag z-score state claim.
  *
  * The streaming z-score keeps O(lag) state per key (three
  * influenced-value lists); the reference's day-over-day config is
  * lag=8640 (24 h of 10 s buckets, config/apm_config.json's 86400 s
  * lag). This probe runs the graph's z-score fold
  * ([[ApmStreaming.zScoreStream]], flatMapGroupsWithState) on the
  * RocksDB state store with changelog checkpointing at that lag and
  * reports sustained rows/s plus the store's own size metrics, next to
  * a small-lag control on identical input volume — the numbers
  * SCALING.md cites. Per-row
  * arithmetic is O(lag) BY REFERENCE SEMANTICS (null-skipping window
  * mean/sigma recomputed per step, stream_calc_z_score.js:66-104 — the
  * left-to-right double sums pin bit parity, so no incremental-moment
  * shortcut), so the honest expectation is rows/s scaling ~1/lag while
  * the STORE itself shows no cliff: state rows = keys, bytes = keys x
  * O(lag), commit latency flat.
  *
  * Usage: runMain graft.tools.RocksLagProbe [keys] [lag] [bucketsFactor]
  */
object RocksLagProbe {
  def main(args: Array[String]): Unit = {
    val nKeys = args.headOption.map(_.toInt).getOrElse(24)
    val lag = if (args.length > 1) args(1).toInt else 8640
    val nBuckets =
      if (args.length > 2) (lag * args(2).toDouble).toInt else (lag * 1.25).toInt
    val spark = graft.GraftSession()
    spark.conf.set("spark.sql.streaming.stateStore.providerClass",
      ApmStreaming.RocksDbProvider)
    spark.conf.set(
      "spark.sql.streaming.stateStore.rocksdb.changelogCheckpointing.enabled",
      "true")
    // the graph's stream set-up, so each run() reuses the compiled code
    ApmGraph.prepareStreams(spark)
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext

    def run(tag: String, lagN: Int): ObjectNode = {
      val rnd = new scala.util.Random(7)
      val in = MemoryStream[ApmStreaming.ZIn]
      val out = ApmStreaming.zScoreStream(in.toDS())
      val q = out.writeStream.outputMode(OutputMode.Append)
        .format("noop")
        .option("checkpointLocation",
          Files.createTempDirectory(s"rocks_probe_$tag").toString)
        .start()
      val chunks = 8
      val per = nBuckets / chunks
      val t0 = System.nanoTime()
      try {
        (0 until chunks).foreach { c =>
          val rows = for {
            k <- 0 until nKeys; b <- (c * per) until ((c + 1) * per)
          } yield ApmStreaming.ZIn(s"srv$k", "svc", lagN, 2.0, 0.5,
            b * 10000L, 1.0, rnd.nextDouble() * 100,
            rnd.nextDouble() * 100, rnd.nextDouble() * 100)
          in.addData(rows)
          q.processAllAvailable()
        }
        val sec = (System.nanoTime() - t0) / 1e9
        val nRows = nKeys.toLong * per * chunks
        val so = q.lastProgress.stateOperators.headOption
        val rec = json.createObjectNode()
          .put("tag", tag).put("lag", lagN).put("keys", nKeys)
          .put("rows", nRows).put("sec", decimal(sec, 1))
          .put("rows_per_sec", decimal(nRows / sec, 0))
          .put("state_rows", so.map(_.numRowsTotal).getOrElse(-1L))
        // size-ish RocksDB store metrics, whatever this Spark names them
        val sizes = rec.putObject("store_size_metrics")
        so.foreach { s =>
          import scala.jdk.CollectionConverters._
          s.customMetrics.asScala.collect {
            case (k, v) if (k.toLowerCase.contains("size") ||
              k.toLowerCase.contains("memory") ||
              k.toLowerCase.contains("bytes")) &&
              v.asInstanceOf[Number].longValue > 0L =>
              k -> v.asInstanceOf[Number].longValue
          }.toSeq.sorted.foreach { case (k, v) => sizes.put(k, v) }
        }
        rec.put("last_batch_update_ms",
          so.map(_.allUpdatesTimeMs).getOrElse(-1L))
      } finally q.stop()
    }

    // a discarded pass, so that the control does not pay alone for the
    // one-off Janino compiles, JIT warm-up and state-store start-up
    run("warmup", 60)
    val ctl = run("control", 60)
    val day = run("daylag", lag)
    val line = json.createObjectNode().put("probe", "rocks_lag")
    line.set[ObjectNode]("control", ctl)
    line.set[ObjectNode]("daylag", day)
    println(json.writeValueAsString(line))
    spark.stop()
  }
}
