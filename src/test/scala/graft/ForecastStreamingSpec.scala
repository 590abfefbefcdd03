package graft

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.operators.ApmStats
import graft.streaming.ForecastStreaming

/** a13's streaming twin: Holt forecasting at ingest == the batch
  * recursion bit-for-bit — across micro-batches, on both state-store
  * providers, and from a SPARSE feed (interior zero buckets dropped)
  * thanks to the state-side dense-scaffold gap fill.
  */
class ForecastStreamingSpec extends AnyFunSuite with TestSession with RocksDbSupport {

  private val sf = "/root/testdata/sf0.001"
  private val intervalMs = 3600000L

  private def denseRows: Seq[(String, String, Long, Long)] =
    ApmStats.denseBuckets(spark, sf, intervalMs)
      .select("server", "service", "bucket", "cnt").collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2), r.getLong(3)))
      .sortBy(t => (t._1, t._2, t._3)).toSeq

  private def expected: Map[(String, String, Long),
      (Double, Double, Double, Double, Double)] =
    ApmStats.holtForecast(spark, sf, intervalMs).collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2) / intervalMs) ->
        (r.getDouble(3), r.getDouble(4), r.getDouble(5), r.getDouble(6),
          r.getDouble(7))).toMap

  private var runId = 0
  private def run(feed: Seq[(String, String, Long, Long)])
      : Map[(String, String, Long), (Double, Double, Double, Double, Double)] = {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    runId += 1
    val in = MemoryStream[(String, String, Long, Long)]
    val out = ForecastStreaming.holtStream(
      in.toDF.toDF("server", "service", "bucket", "cnt"))
    val name = s"holt_ingest_$runId"
    val q = out.writeStream.format("memory").queryName(name)
      .outputMode("append").start()
    try {
      // split by bucket parity-ish thirds so every key crosses
      // micro-batch boundaries mid-series
      val cut1 = feed.map(_._3).max / 3
      val cut2 = 2 * cut1
      in.addData(feed.filter(_._3 <= cut1))
      q.processAllAvailable()
      in.addData(feed.filter(t => t._3 > cut1 && t._3 <= cut2))
      q.processAllAvailable()
      in.addData(feed.filter(_._3 > cut2))
      q.processAllAvailable()
      spark.table(name).collect().map(r =>
        (r.getString(0), r.getString(1), r.getLong(2)) ->
          (r.getDouble(3), r.getDouble(4), r.getDouble(5), r.getDouble(6),
            r.getDouble(7))).toMap
    } finally q.stop()
  }

  test("dense feed == batch holtForecast, bit-exact, both providers") {
    val want = expected
    assert(want.nonEmpty)
    val got = run(denseRows)
    assert(got == want,
      s"default provider diff: extra=${(got.keySet -- want.keySet).take(3)} " +
        s"missing=${(want.keySet -- got.keySet).take(3)} " +
        s"neq=${want.keysIterator.filter(k => got.get(k).exists(_ != want(k))).take(3).toList}")
    withRocksDb { assert(run(denseRows) == want, "rocksdb provider") }
  }

  test("sparse feed (interior zeros dropped) converges to the dense result") {
    val want = expected
    val sparse = denseRows.groupBy(t => (t._1, t._2)).values.flatMap { rows =>
      val sorted = rows.sortBy(_._3)
      sorted.zipWithIndex.filter { case ((_, _, _, cnt), i) =>
        cnt != 0L || i == 0 || i == sorted.length - 1
      }.map(_._1)
    }.toSeq
    assert(sparse.size < denseRows.size, "fixture must contain interior zeros")
    val got = run(sparse)
    assert(got == want, "gap fill reproduces the dense recursion")
  }
}
