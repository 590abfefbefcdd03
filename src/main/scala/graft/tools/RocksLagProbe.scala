package graft.tools

import java.nio.file.Files
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.streaming.OutputMode
import graft.streaming.{ApmStateV2, ApmStreaming}

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
    val spark = SparkSession.builder()
      .master(s"local[${sys.env.getOrElse("SPARK_GRAFT_CPUS", "16")}]")
      .appName("rocks-lag-probe")
      .config("spark.sql.shuffle.partitions", "32")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.streaming.stateStore.providerClass",
        ApmStateV2.RocksDbProvider)
      .config(
        "spark.sql.streaming.stateStore.rocksdb.changelogCheckpointing.enabled",
        "true")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext

    def run(tag: String, lagN: Int): String = {
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
        // size-ish RocksDB store metrics, whatever this Spark names them
        val sizes = so.map { s =>
          import scala.jdk.CollectionConverters._
          s.customMetrics.asScala.collect {
            case (k, v) if (k.toLowerCase.contains("size") ||
              k.toLowerCase.contains("memory") ||
              k.toLowerCase.contains("bytes")) &&
              v.asInstanceOf[Number].longValue > 0L =>
              s""""$k":${v.asInstanceOf[Number].longValue}"""
          }.toSeq.sorted.mkString("{", ",", "}")
        }.getOrElse("{}")
        val stateRows = so.map(_.numRowsTotal).getOrElse(-1L)
        val commitMs = so.map(_.allUpdatesTimeMs).getOrElse(-1L)
        f"""{"tag":"$tag","lag":$lagN,"keys":$nKeys,"rows":$nRows,""" +
          f""""sec":$sec%.1f,"rows_per_sec":${nRows / sec}%.0f,""" +
          f""""state_rows":$stateRows,"store_size_metrics":$sizes,""" +
          f""""last_batch_update_ms":$commitMs}"""
      } finally q.stop()
    }

    val ctl = run("control", 60)
    val day = run("daylag", lag)
    println(s"""{"probe":"rocks_lag","control":$ctl,"daylag":$day}""")
    spark.stop()
  }
}
