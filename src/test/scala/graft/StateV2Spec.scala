package graft

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.streaming.OutputMode
import org.scalatest.funsuite.AnyFunSuite
import graft.streaming.ApmStateV2

/** The transformWithState (StatefulProcessor) histogram sliding
  * quantile on the RocksDB state store must agree with batch a10 on the
  * same data, across micro-batch splits.
  */
class StateV2Spec extends AnyFunSuite with TestSession with RocksDbSupport {

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
}
