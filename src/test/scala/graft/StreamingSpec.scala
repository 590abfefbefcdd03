package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.OutputMode
import org.scalatest.funsuite.AnyFunSuite
import java.sql.Timestamp
import graft.streaming.ApmStreaming
import graft.operators.{Alerts, ApmStats, Sessionize, ZScore}

/** Structured Streaming semantics tests with MemoryStream: watermarked
  * sliding-window stats (A4/A5), stateful z-score (Z2), alert folds
  * (R3/R4) — streaming output must agree with the batch folds / reference
  * ports on the same data. The keyed folds run once per state store
  * provider: the default and RocksDB.
  */
class StreamingSpec extends AnyFunSuite with TestSession with RocksDbSupport {

  private def ts(sec: Long): Timestamp = new Timestamp(sec * 1000)

  /** Register `body` as two tests: on the default state store provider,
    * and (name suffixed " [RocksDB]") on RocksDB. `body` gets a suffix
    * that keeps the two runs' memory-sink query names apart.
    */
  private def onBothProviders(name: String)(body: String => Unit): Unit = {
    test(name)(body(""))
    test(s"$name [RocksDB]")(withRocksDb(body("_rocks")))
  }

  test("sliding-window stats stream: exact percentiles per closed window") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[(String, String, Timestamp, Double)]
    val tx = in.toDF.toDF("server", "service", "end_ts", "elapsed")
    val agg = ApmStreaming.slidingStatsStream(tx,
      windowLen = "20 seconds", slide = "10 seconds", lateness = "10 seconds")
    val q = agg.writeStream.outputMode(OutputMode.Append)
      .format("memory").queryName("stats_out").start()
    try {
      in.addData(
        ("s0", "svc", ts(5), 10.0), ("s0", "svc", ts(8), 20.0),
        ("s0", "svc", ts(15), 30.0))
      q.processAllAvailable()
      // advance watermark far enough to close the early windows
      in.addData(("s0", "svc", ts(100), 1.0))
      q.processAllAvailable()
      val rows = spark.table("stats_out")
        .select("ts_ms", "n", "average", "per75", "per95")
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2),
          r.getDouble(3), r.getDouble(4))).sortBy(_._1).toList
      // window [0,20) end=20: values 10,20,30 -> mean 20, p75: idx=1.25->i=2 last -> 30
      val w20 = rows.find(_._1 == 20000L).get
      assert(w20._2 == 3 && w20._3 == 20.0 && w20._4 == 30.0 && w20._5 == 30.0)
      // window [10,30) end=30: only 30.0
      val w30 = rows.find(_._1 == 30000L).get
      assert(w30._2 == 1 && w30._3 == 30.0)
    } finally q.stop()
  }

  onBothProviders("z-score stream == batch fold on same data") { tag =>
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val rnd = new scala.util.Random(17)
    // lag 12 exceeds the 10 rows a key gets per chunk, so each chunk
    // steps a ring that was saved to and loaded from the state store
    // mid-window; ~15% of metrics are undefined (NaN) and ~10% spike
    val cfg = ZScore.LagCfg(12, 1.5, 0.5)
    def metric(): Double =
      if (rnd.nextDouble() < 0.15) Double.NaN
      else rnd.nextDouble() * (if (rnd.nextDouble() < 0.1) 1000 else 100)
    val data = for {
      srv <- Seq("s0", "s1"); i <- 0 until 40
    } yield ApmStreaming.ZIn(srv, "svc", cfg.lag, cfg.threshold, cfg.influence,
      i * 1000L, 1.0, metric(), metric(), metric())
    val zCols = for {
      m <- Seq("average", "per75", "per95"); f <- Seq("avg", "lb", "ub", "signal")
    } yield s"${m}_$f"
    // (server, ts_ms) -> the 12 z columns, null and NaN both read as NaN
    def byKey(df: DataFrame): Map[(String, Long), Seq[Double]] =
      df.select((Seq("server", "ts_ms") ++ zCols).map(col): _*).collect().map { r =>
        (r.getString(0), r.getLong(1)) -> (2 until r.length).map { i =>
          if (r.isNullAt(i)) Double.NaN
          else r.get(i) match { case d: Double => d; case n: Int => n.toDouble }
        }
      }.toMap
    val in = MemoryStream[ApmStreaming.ZIn]
    val out = ApmStreaming.zScoreStream(in.toDS())
    val q = out.writeStream.outputMode(OutputMode.Append)
      .format("memory").queryName(s"z_out$tag").start()
    try {
      // four 10 s chunks: the state crosses three batch boundaries
      data.groupBy(_.ts_ms / 10000L).toSeq.sortBy(_._1).foreach { case (_, chunk) =>
        in.addData(chunk); q.processAllAvailable()
      }
      val got = byKey(spark.table(s"z_out$tag"))
      val statsDf = data.map(z => (z.server, z.service, z.ts_ms, Some(z.tpm),
          Some(z.average).filterNot(_.isNaN), Some(z.per75).filterNot(_.isNaN),
          Some(z.per95).filterNot(_.isNaN)))
        .toDF("server", "service", "ts_ms", "tpm", "average", "per75", "per95")
      val exp = byKey(ZScore.zScoreFold(statsDf, Seq(cfg)))
      assert(got.keySet == exp.keySet)
      Seq(3, 7, 11).foreach { i =>
        assert(exp.values.exists(_(i) != 0.0), s"no ${zCols(i)} fired")
      }
      exp.foreach { case (k, e) =>
        got(k).zip(e).zip(zCols).foreach { case ((g, x), c) =>
          assert((g.isNaN && x.isNaN) || g == x, s"$k $c: stream $g, batch $x")
        }
      }
    } finally q.stop()
  }

  onBothProviders("alert vote + cooldown streams == reference fold") { tag =>
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val cfg = Alerts.AlertCfg(windowSz = 5, voteThreshold = 3, cooldownMs = 8000L)
    val rnd = new scala.util.Random(23)
    val rows = (0 until 200).map { i =>
      val bad = rnd.nextDouble() < 0.6
      ApmStreaming.VoteIn(s"srv${rnd.nextInt(2)}", s"svc${rnd.nextInt(2)}",
        6, i * 1000L, if (bad) 1 else 0, if (bad) "cause" else "")
    }
    val in = MemoryStream[ApmStreaming.VoteIn]
    val fired = ApmStreaming.voteStream(in.toDS(), cfg)
    val alerts = ApmStreaming.cooldownStream(fired, cfg)
    val q = alerts.writeStream.outputMode(OutputMode.Append)
      .format("memory").queryName(s"alerts_out$tag").start()
    try {
      // single ordered chunk: streaming arrival order == batch ts order
      in.addData(rows)
      q.processAllAvailable()
      val got = spark.table(s"alerts_out$tag").as[ApmStreaming.VoteOut].collect()
        .map(o => (o.ts_ms, o.server, o.service, o.lag)).sorted.toList
      val exp = Alerts.alertsRef(
        rows.map(r => (r.server, r.service, r.lag, r.ts_ms, r.bad == 1, r.causes)), cfg)
        .map(a => (a._1, a._2, a._3, a._4)).sorted.toList
      assert(got == exp)
    } finally q.stop()
  }

  test("A5 alignment: floor-bucket batch == epoch-aligned window() shifted one interval") {
    // The documented batch/streaming labeling difference is exactly one
    // relabel: the batch window ending at bucket b covers
    // [(b-N+1)*I, (b+1)*I) — the same span as the epoch-aligned
    // window() whose end is (b+1)*I. So batch ts_ms + I must reproduce
    // the streaming expression's ts_ms bit-for-bit (stats included),
    // restricted to non-empty windows (streaming emits no empty ones)
    // with ends inside the batch's dense bucket range.
    import spark.implicits._
    val I = 10000L
    val winN = 6
    val tx = spark.range(600).select(
      concat(lit("srv"), pmod(col("id"), lit(3))).as("server"),
      concat(lit("svc"), pmod(col("id"), lit(2))).as("service"),
      (lit(1600000000000L) + (col("id") * 7919L) % 1000000L).as("end_ms"),
      ((col("id") * 13L) % 500L + 1L).cast("double").as("elapsed"))
    val batch = ApmStats.slidingStatsFrom(tx, I, winN)
      .filter(col("n") > 0)
      .select(col("server"), col("service"),
        (col("ts_ms") + I).as("ts_ms"), col("n"), col("tpm"),
        col("average"), col("per75"), col("per95"))
    val mx = tx.agg(max(expr(s"end_ms div $I"))).as[Long].head()
    val streamExpr = ApmStreaming.slidingStatsStream(
        tx.select(col("server"), col("service"),
          timestamp_millis(col("end_ms")).as("end_ts"), col("elapsed")),
        windowLen = s"${winN * 10} seconds", slide = "10 seconds",
        lateness = "60 seconds")
      .filter(col("ts_ms") <= (mx + 1) * I)
    // rows as multisets (row -> count): a window emitted twice fails
    val b = batch.collect().map(_.toSeq).groupMapReduce(identity)(_ => 1)(_ + _)
    val s = streamExpr.select(batch.columns.map(col): _*)
      .collect().map(_.toSeq).groupMapReduce(identity)(_ => 1)(_ + _)
    assert(s == b, s"onlyStream=${(s.toSet -- b.toSet).take(3)} " +
      s"onlyBatch=${(b.toSet -- s.toSet).take(3)}")
  }

  test("sessionize: streaming session_window == batch on same events") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[(Long, Timestamp, Double)]
    val ev = in.toDF.toDF("user_id", "ts", "value")
      .withWatermark("ts", "10 seconds")
    val q = Sessionize.sessionsFrom(ev, gapMs = 30000L)
      .writeStream.outputMode(OutputMode.Append)
      .format("memory").queryName("sess_out").start()
    // user 1: two sessions (gap 40 s > 30 s); user 2: one 2-event session
    val data = Seq(
      (1L, ts(100), 1.5), (1L, ts(110), 2.25), (1L, ts(150), 4.0),
      (2L, ts(105), 3.0), (2L, ts(120), 0.5))
    try {
      in.addData(data: _*)
      q.processAllAvailable()
      in.addData((99L, ts(10000), 0.0)) // watermark sentinel closes all
      q.processAllAvailable()
      val got = spark.table("sess_out")
        .filter(col("user_id") =!= 99L)
        .collect().map(_.toSeq).toSet
      val batch = Sessionize.sessionsFrom(
        data.toDF("user_id", "ts", "value"), gapMs = 30000L)
        .collect().map(_.toSeq).toSet
      assert(got == batch, s"stream=$got batch=$batch")
      assert(got.size == 3, s"expected 3 sessions: $got")
    } finally q.stop()
  }

  test("streaming exact dedup: dropDuplicatesWithinWatermark on fingerprint") {
    // the streaming counterpart of d1_dedup_exact: content fingerprint +
    // watermark-bounded dedup state (state for a fingerprint is evicted
    // once the watermark passes, so state size is bounded by the
    // dedup horizon, not the corpus)
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    import graft.functions.PolyHash.poly_hash
    val in = MemoryStream[(Long, Timestamp, String)]
    val deduped = in.toDF.toDF("doc_id", "ts", "text")
      .withColumn("fp", poly_hash(lower(trim(col("text")))))
      .withWatermark("ts", "10 seconds")
      .dropDuplicatesWithinWatermark("fp")
    val q = deduped.writeStream.outputMode(OutputMode.Append)
      .format("memory").queryName("dedup_out").start()
    try {
      in.addData((1L, ts(100), "alpha beta"), (2L, ts(101), "alpha beta"),
        (3L, ts(102), "gamma"))
      q.processAllAvailable()
      // duplicate arriving in a LATER micro-batch, inside the horizon
      in.addData((4L, ts(103), "alpha beta"))
      q.processAllAvailable()
      val got = spark.table("dedup_out")
        .select("doc_id").collect().map(_.getLong(0)).toSet
      assert(got.intersect(Set(1L, 2L)).size == 1,
        s"exactly one copy of the in-batch dup should survive: $got")
      assert(got.contains(3L), s"unique doc dropped: $got")
      assert(!got.contains(4L), s"cross-batch dup not deduped: $got")
    } finally q.stop()
  }

  test("A7: orderCol sink emits event-time-ordered batch files") {
    // the reference pops its min-heap in endTs order before the DB queue
    // (binary_heap.js); the Spark sink's per-file ordering contract is
    // asserted here: every parquet file a batch writes is internally
    // sorted on the order column even when input arrives out of order
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[(Long, Timestamp, Double)]
    val dir = java.nio.file.Files.createTempDirectory("a7").toString
    val q = ApmStreaming.sinkToParquet(
      in.toDF.toDF("log_id", "end_ts", "elapsed"),
      s"$dir/out", s"$dir/cp", orderCol = Some("end_ts"))
    try {
      in.addData((1L, ts(500), 1.0), (2L, ts(100), 2.0), (3L, ts(300), 3.0),
        (4L, ts(200), 4.0), (5L, ts(400), 5.0))
      q.processAllAvailable()
    } finally q.stop()
    val byFile = spark.read.option("recursiveFileLookup", "true")
      .parquet(s"$dir/out")
      .select(input_file_name().as("f"), unix_millis(col("end_ts")).as("ms"))
      .collect().groupBy(_.getString(0))
      .view.mapValues(_.map(_.getLong(1)).toSeq).toMap
    assert(byFile.nonEmpty)
    byFile.foreach { case (f, ms) =>
      assert(ms == ms.sorted, s"file $f not event-time ordered: $ms")
    }
  }
}
