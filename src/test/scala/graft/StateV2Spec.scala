package graft

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.streaming.OutputMode
import org.scalatest.funsuite.AnyFunSuite
import graft.streaming.ApmStateV2
import graft.operators.ZScore

/** The transformWithState (StatefulProcessor) ingest-time folds on the
  * RocksDB state store must agree with their batch operators on the
  * same data, across micro-batch splits.
  */
class StateV2Spec extends AnyFunSuite with TestSession with RocksDbSupport {

  test("volume z-score V2 == batch prefix z6 on the same dense series") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    withRocksDb {
      val rnd = new scala.util.Random(23)
      val cfg = ZScore.LagCfg(5, 2.0, 0.0)
      val interval = 1000L
      // dense count series per key, incl. zero buckets and a burst
      val series = for {
        srv <- Seq("s0", "s1"); b <- 0L until 50L
      } yield ApmStateV2.VolIn(srv, "svc", b,
        if (b == 40 && srv == "s0") 60L else rnd.nextInt(5).toLong)
      val in = MemoryStream[ApmStateV2.VolIn]
      val out = ApmStateV2.volumeZStreamV2(in.toDS(), cfg.lag, cfg.threshold)
      val q = out.writeStream.outputMode(OutputMode.Append)
        .format("memory").queryName("z6_out").start()
      try {
        val (c1, c2) = series.partition(_.bucket < 20)
        in.addData(c1); q.processAllAvailable()
        in.addData(c2); q.processAllAvailable()
        val got = spark.table("z6_out").as[ApmStateV2.VolOut].collect()
          .map(o => (o.server, o.bucket) ->
            ((o.n, o.vol_avg, o.vol_lb, o.vol_signal))).toMap
        // batch z6 over the equivalent raw events (cnt events per bucket)
        val raw = series.flatMap(v => (0L until v.cnt).map(j =>
            (s"${v.server}${v.bucket}_$j", v.server, v.service,
              v.bucket * interval, 1.0)))
          .toDF("log_id", "server", "service", "end_ms", "elapsed")
        val exp = ZScore.volumeZScorePrefix(raw, interval, Seq(cfg))
          .collect().map(r => (r.getString(0), r.getLong(2) / interval) ->
            ((r.getLong(4), Option(r.get(5)).map(_.asInstanceOf[Double]),
              Option(r.get(6)).map(_.asInstanceOf[Double]), r.getInt(8)))).toMap
        assert(exp.nonEmpty && got.size == series.size)
        exp.foreach { case (k, (eN, eAvg, eLb, eSig)) =>
          val (gN, gAvg, gLb, gSig) = got(k)
          assert(gN == eN, s"$k n")
          assert(eAvg.fold(gAvg.isNaN)(_ == gAvg), s"$k avg")
          assert(eLb.fold(gLb.isNaN)(_ == gLb), s"$k lb")
          assert(gSig == eSig, s"$k sig")
        }
        // the burst must actually fire in both
        assert(got(("s0", 40L))._4 == 1)
      } finally q.stop()
    }
  }

  test("volume z-score V2 guards cross-batch bucket discipline " +
      "(dup dropped, gap zero-filled == batch dense scaffold)") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    withRocksDb {
      val cfg = ZScore.LagCfg(4, 2.0, 0.0)
      val interval = 1000L
      val in = MemoryStream[ApmStateV2.VolIn]
      val out = ApmStateV2.volumeZStreamV2(in.toDS(), cfg.lag, cfg.threshold)
      val q = out.writeStream.outputMode(OutputMode.Append)
        .format("memory").queryName("z6_guard_out").start()
      try {
        ApmStateV2.LateDrops.reset()
        val cnts = Map(0L -> 3L, 1L -> 2L, 2L -> 4L, 3L -> 1L,
          7L -> 9L, 8L -> 2L) // buckets 4-6 elided upstream (gap)
        in.addData(Seq(0L, 1L, 2L).map(b =>
          ApmStateV2.VolIn("s0", "svc", b, cnts(b))))
        q.processAllAvailable()
        // batch 2 replays bucket 2 (dup), adds 3, then jumps to 7 (gap),
        // then a LATE bucket 1 arrives in batch 3 (out-of-order)
        in.addData(Seq(2L, 3L, 7L).map(b =>
          ApmStateV2.VolIn("s0", "svc", b, cnts(b))))
        q.processAllAvailable()
        in.addData(ApmStateV2.VolIn("s0", "svc", 1L, 99L),
          ApmStateV2.VolIn("s0", "svc", 8L, cnts(8L)))
        q.processAllAvailable()
        val got = spark.table("z6_guard_out").as[ApmStateV2.VolOut].collect()
          .map(o => o.bucket -> ((o.n, o.vol_avg, o.vol_signal))).toMap
        // exactly one row per bucket 0..8: dup 2 and late 1 dropped,
        // gap 4-6 zero-filled
        assert(got.keySet == (0L to 8L).toSet, s"buckets: ${got.keySet}")
        assert((4L to 6L).forall(b => got(b)._1 == 0L), "gap not zero-filled")
        assert(got(1L)._1 == cnts(1L), "late bucket overwrote history")
        // equivalence with the batch prefix z6 over the dense series the
        // guard reconstructs (zeros at 4-6)
        val raw = (0L to 8L).flatMap(b =>
            (0L until cnts.getOrElse(b, 0L)).map(j =>
              (s"r${b}_$j", "s0", "svc", b * interval, 1.0)))
          .toDF("log_id", "server", "service", "end_ms", "elapsed")
        val exp = ZScore.volumeZScorePrefix(raw, interval, Seq(cfg))
          .collect().map(r => (r.getLong(2) / interval) ->
            ((r.getLong(4),
              Option(r.get(5)).map(_.asInstanceOf[Double]), r.getInt(8)))).toMap
        assert(exp.keySet == got.keySet)
        exp.foreach { case (b, (eN, eAvg, eSig)) =>
          val (gN, gAvg, gSig) = got(b)
          assert(gN == eN, s"bucket $b n")
          assert(eAvg.fold(gAvg.isNaN)(_ == gAvg), s"bucket $b avg")
          assert(gSig == eSig, s"bucket $b sig")
        }
        // the drops are OBSERVABLE, not silent: dup bucket 2 (cnt=4) and
        // late bucket 1 (cnt=99) both carried data -> counter + WARN
        assert(ApmStateV2.LateDrops.dropped.get() == 2L,
          s"dropped=${ApmStateV2.LateDrops.dropped.get()}")
        assert(ApmStateV2.LateDrops.droppedWithData.get() == 2L,
          s"droppedWithData=${ApmStateV2.LateDrops.droppedWithData.get()}")
      } finally q.stop()
    }
  }

  test("histogram sliding quantile V2 == batch a10 on the same cells") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    withRocksDb {
      val rnd = new scala.util.Random(31)
      val (intervalMs, windowN, binW) = (1000L, 5, 4.0)
      // raw tx rows over buckets 0..24 for two keys; both keys present in
      // the first and last bucket so the batch global scaffold == each
      // key's own span (the documented seam); some buckets empty for s1
      val raw = for {
        srv <- Seq("s0", "s1"); b <- 0L until 25L
        if !(srv == "s1" && b % 7 == 3 && b != 0 && b != 24)
        j <- 0 until (1 + rnd.nextInt(4))
      } yield (s"$srv-$b-$j", srv, "svc", b * intervalMs + j,
        (rnd.nextInt(30) + 1).toDouble)
      val rawDf = raw
        .toDF("log_id", "server", "service", "end_ms", "elapsed")
      // pre-bin to the stats stage's per-(bucket, bin) cell unit
      val cells = raw.groupBy(r =>
          (r._2, r._3, r._4 / intervalMs, math.floor(r._5 / binW).toLong))
        .map { case ((srv, svc, b, bin), rs) =>
          ApmStateV2.HistIn(srv, svc, b, bin, rs.size.toLong) }.toSeq
      val in = MemoryStream[ApmStateV2.HistIn]
      val out = ApmStateV2.histQuantileStreamV2(in.toDS(), windowN, binW)
      val q = out.writeStream.outputMode(OutputMode.Append)
        .format("memory").queryName("hist_out").start()
      try {
        // whole buckets per micro-batch (the watermark-close contract)
        val (c1, c2) = cells.partition(_.bucket < 12)
        in.addData(c1); q.processAllAvailable()
        in.addData(c2); q.processAllAvailable()
        val got = spark.table("hist_out").as[ApmStateV2.HistOut].collect()
          .map(o => (o.server, o.bucket) ->
            ((o.n, o.approx75, o.approx95))).toMap
        val exp = graft.operators.ApmStats
          .slidingHistQuantileFrom(rawDf, intervalMs, windowN, binW)
          .collect().map(r => (r.getString(0), r.getLong(2) / intervalMs) ->
            ((r.getLong(3), r.getDouble(4), r.getDouble(5)))).toMap
        assert(exp.nonEmpty && got.keySet == exp.keySet,
          s"only_stream=${(got.keySet -- exp.keySet).take(3)} " +
            s"only_batch=${(exp.keySet -- got.keySet).take(3)}")
        exp.foreach { case (k, e) =>
          assert(got(k) == e, s"$k stream=${got(k)} batch=$e")
        }
      } finally q.stop()
    }
  }

  test("histogram twin jumps a long gap in O(windowN) and still == batch") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    withRocksDb {
      val (intervalMs, windowN, binW) = (1000L, 5, 4.0)
      // buckets 0..3, then silence until 30..32 (gap >> windowN)
      val present = Seq(0L, 1L, 2L, 3L, 30L, 31L, 32L)
      val raw = for { b <- present; j <- 0 until 3 }
        yield (s"r$b-$j", "s0", "svc", b * intervalMs + j,
          (b % 7 + j * 4 + 1).toDouble)
      val cells = raw.groupBy(r =>
          (r._4 / intervalMs, math.floor(r._5 / binW).toLong))
        .map { case ((b, bin), rs) =>
          ApmStateV2.HistIn("s0", "svc", b, bin, rs.size.toLong) }.toSeq
      val in = MemoryStream[ApmStateV2.HistIn]
      val out = ApmStateV2.histQuantileStreamV2(in.toDS(), windowN, binW)
      val q = out.writeStream.outputMode(OutputMode.Append)
        .format("memory").queryName("hist_gap_out").start()
      try {
        val (c1, c2) = cells.partition(_.bucket < 20)
        in.addData(c1); q.processAllAvailable()
        in.addData(c2); q.processAllAvailable()
        val got = spark.table("hist_gap_out").as[ApmStateV2.HistOut]
          .collect().map(o => o.bucket ->
            ((o.n, o.approx75, o.approx95))).toMap
        val exp = graft.operators.ApmStats.slidingHistQuantileFrom(
            raw.toDF("log_id", "server", "service", "end_ms", "elapsed"),
            intervalMs, windowN, binW)
          .collect().map(r => (r.getLong(2) / intervalMs) ->
            ((r.getLong(3), r.getDouble(4), r.getDouble(5)))).toMap
        // mid-gap windows (fully empty) exist in NEITHER output; the
        // trailing windows right after the last data bucket exist in both
        assert(got.keySet == exp.keySet,
          s"only_stream=${got.keySet -- exp.keySet} " +
            s"only_batch=${exp.keySet -- got.keySet}")
        assert(got.keySet.intersect((9L to 29L).toSet).isEmpty)
        assert(got.contains(7L) && got.contains(30L))
        exp.foreach { case (k, e) => assert(got(k) == e, s"bucket $k") }
      } finally q.stop()
    }
  }

  test("streaming moments == batch fixed-point aggregate, any batch split") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    import graft.streaming.MomentsStreaming
    implicit val sqlCtx = spark.sqlContext
    withRocksDb {
      val d = 4
      val rnd = new scala.util.Random(53)
      val vecs = (0 until 301).map(i =>
        MomentsStreaming.MomIn(i.toLong,
          Seq.fill(d)((rnd.nextInt(2001) - 1000).toLong)))
      val in = MemoryStream[MomentsStreaming.MomIn]
      val out = MomentsStreaming.momentsStreamV2(in.toDS(), d, nShards = 5)
      val q = out.writeStream.outputMode(OutputMode.Append)
        .format("memory").queryName("mom_out").start()
      try {
        // uneven micro-batches: the merged running state must not care
        in.addData(vecs.take(7)); q.processAllAvailable()
        in.addData(vecs.slice(7, 180)); q.processAllAvailable()
        in.addData(vecs.drop(180)); q.processAllAvailable()
        val rows = spark.table("mom_out")
          .as[MomentsStreaming.MomOut].collect().toSeq
        val (n, s, m2) = MomentsStreaming.mergeLatest(rows, d)
        val batch = vecs.map(_.q).toDF("q")
          .agg(graft.functions.FixedPointMoments
            .fixed_point_moments(col("q"), d).as("m"))
          .select("m.n", "m.s", "m.m2").head()
        assert(n == batch.getLong(0))
        assert(s == batch.getSeq[Long](1), "first moments differ")
        assert(m2 == batch.getSeq[Long](2), "second moments differ")
      } finally q.stop()
    }
  }

  test("LOCF gap-fill V2 == batch a11 frame on the same buckets " +
      "(elided quiet buckets zero-filled, a replayed bucket dropped)") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    withRocksDb {
      val interval = 1000L
      val rnd = new scala.util.Random(41)
      // per-key bucket series over the SAME global range (every key
      // observes the min and max bucket, so the batch scaffold's row set
      // equals the stream's own-bounds row set); quiet stretches differ
      // per key, incl. multi-bucket gaps
      val quiet = Map("s0" -> Set(2L, 3L, 7L), "s1" -> Set(5L, 9L, 10L, 11L))
      val series = for {
        srv <- Seq("s0", "s1"); b <- 0L until 14L
      } yield ApmStateV2.LocfIn(srv, "svc", b,
        if (quiet(srv).contains(b)) Nil
        else Seq.fill(1 + rnd.nextInt(4))(rnd.nextDouble() * 100.0))
      val fed = series.filter(_.vals.nonEmpty) // stream elides quiet buckets
      val in = MemoryStream[ApmStateV2.LocfIn]
      val out = ApmStateV2.locfStreamV2(in.toDS())
      val q = out.writeStream.outputMode(OutputMode.Append)
        .format("memory").queryName("locf_out").start()
      try {
        val (c1, c2) = fed.partition(_.bucket < 6L)
        in.addData(c1); q.processAllAvailable()
        // replay an already-folded DATA bucket: observable drop, no effect
        ApmStateV2.LateDrops.reset()
        in.addData(ApmStateV2.LocfIn("s0", "svc", 1L, Seq(999.0)))
        q.processAllAvailable()
        assert(ApmStateV2.LateDrops.droppedWithData.get() == 1L)
        in.addData(c2); q.processAllAvailable()
        val got = spark.table("locf_out").as[ApmStateV2.LocfOut].collect()
          .map(o => (o.server, o.bucket) ->
            ((o.cnt, o.obs_avg, o.filled_avg, o.is_filled, o.fill_age)))
          .toMap

        // batch a11 over the equivalent raw events
        val raw = series.flatMap(r => r.vals.zipWithIndex.map { case (v, j) =>
            (s"${r.server}${r.bucket}_$j", r.server, r.service,
              r.bucket * interval + j, v)
          }).toDF("log_id", "server", "service", "end_ms", "elapsed")
        val exp = graft.operators.ApmStats.locfFillFrom(raw, interval)
          .collect().map { r =>
            def d(i: Int): Double =
              if (r.isNullAt(i)) Double.NaN else r.getDouble(i)
            (r.getString(0), r.getLong(2) / interval) ->
              ((r.getLong(3), d(4), d(5), r.getInt(6),
                if (r.isNullAt(7)) Double.NaN else r.getLong(7).toDouble))
          }.toMap
        assert(exp.nonEmpty && got.size == exp.size,
          s"row count ${got.size} != ${exp.size}")
        def same(a: Double, b: Double) = (a.isNaN && b.isNaN) || a == b
        exp.foreach { case (k, (eC, eO, eF, eI, eA)) =>
          val (gC, gO, gF, gI, gA) = got(k)
          assert(gC == eC && same(gO, eO) && same(gF, eF) && gI == eI &&
            same(gA, eA), s"$k: got ${got(k)} exp ${(eC, eO, eF, eI, eA)}")
        }
        // the carry is real: at least one filled row inherits a value
        assert(got.values.exists(v => v._4 == 1 && !v._3.isNaN))
      } finally q.stop()
    }
  }

  test("seasonal decomposition V2 == prefix-batch windows; last phase " +
      "rows == the full a12 seasonal mean") {
    import spark.implicits._
    import org.apache.spark.sql.expressions.Window
    import org.apache.spark.sql.functions._
    implicit val sqlCtx = spark.sqlContext
    withRocksDb {
      val period = 6
      // dense series with real seasonality; buckets where cnt == 0 are
      // ELIDED from the stream input (the twin must zero-fill them), and
      // a late duplicate is replayed (the twin must drop it)
      val dense = for {
        srv <- Seq("s0", "s1"); b <- 0L until 48L
      } yield ApmStateV2.VolIn(srv, "svc", b,
        if (b % 11 == 7) 0L
        else 5L + (b % period) * 2L + (if (srv == "s1") 3L else 0L) + b / 12L)
      val fed = dense.filter(_.cnt != 0L)
      val in = MemoryStream[ApmStateV2.VolIn]
      val out = ApmStateV2.seasonalStreamV2(in.toDS(), period)
      val q = out.writeStream.outputMode(OutputMode.Append)
        .format("memory").queryName("seas_out").start()
      try {
        val (c1, c2) = fed.partition(_.bucket < 20L)
        in.addData(c1); q.processAllAvailable()
        // replay an already-folded bucket: observable drop, no effect
        in.addData(ApmStateV2.VolIn("s0", "svc", 3L, 99L))
        in.addData(c2); q.processAllAvailable()
        val got = spark.table("seas_out").as[ApmStateV2.SeasOut].collect()
          .map(o => (o.server, o.bucket) -> ((o.cnt, o.trend, o.seasonal, o.resid)))
          .toMap

        // prefix-batch formulation over the DENSE series: the a12 window
        // pair with the seasonal frame cut at the current row
        val wKey = Window.partitionBy("server", "service").orderBy("bucket")
        val wRun = Window.partitionBy("server", "service", "phase")
          .orderBy("bucket")
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        val exp = dense.toDF()
          .withColumn("trend_num", sum(col("cnt"))
            .over(wKey.rowsBetween(-(period - 1), Window.currentRow)))
          .withColumn("rn", row_number().over(wKey))
          .filter(col("rn") >= period)
          .withColumn("phase", pmod(col("bucket"), lit(period.toLong)))
          .withColumn("det", lit(period.toLong) * col("cnt") - col("trend_num"))
          .withColumn("s_num", sum(col("det")).over(wRun))
          .withColumn("s_cnt", count(lit(1)).over(wRun))
        val expRows = exp.collect().map { r =>
          val trend = r.getAs[Long]("trend_num").toDouble / period
          val seas = r.getAs[Long]("s_num").toDouble /
            (period.toDouble * r.getAs[Long]("s_cnt"))
          (r.getAs[String]("server"), r.getAs[Long]("bucket")) ->
            ((r.getAs[Long]("cnt"), trend, seas,
              (r.getAs[Long]("cnt").toDouble - trend) - seas))
        }.toMap
        assert(got.size == expRows.size,
          s"row count ${got.size} != ${expRows.size}")
        expRows.foreach { case (k, e) =>
          assert(got(k) == e, s"$k: got ${got(k)} exp $e") // bit-exact
        }

        // at each phase's LAST row the running mean IS the registered
        // batch a12 seasonal (the full-series mean)
        val fullSeas = exp
          .withColumn("s_num_all", sum(col("det")).over(
            Window.partitionBy("server", "service", "phase")))
          .withColumn("s_cnt_all", count(lit(1)).over(
            Window.partitionBy("server", "service", "phase")))
          .withColumn("last_b", max(col("bucket")).over(
            Window.partitionBy("server", "service", "phase")))
          .filter(col("bucket") === col("last_b"))
          .collect().map { r =>
            (r.getAs[String]("server"), r.getAs[Long]("bucket")) ->
              (r.getAs[Long]("s_num_all").toDouble /
                (period.toDouble * r.getAs[Long]("s_cnt_all")))
          }.toMap
        fullSeas.foreach { case (k, e) =>
          assert(got(k)._3 == e, s"$k final seasonal ${got(k)._3} != $e")
        }
      } finally q.stop()
    }
  }
}
