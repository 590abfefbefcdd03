package graft

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.operators.Curation
import graft.streaming.QuotaStreaming

/** Stream == batch for the token-budget quota: feeding the corpus in
  * the batch operator's hash order across several micro-batches must
  * reproduce the batch admitted set and cumulative totals exactly —
  * including sources whose budget fills MID-STREAM (state crosses the
  * micro-batch boundary through the checkpoint).
  */
class QuotaStreamingSpec extends AnyFunSuite with TestSession {

  test("streaming quota == batch mixApply fed in hash order") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val budget = 800L
    // the corpus rows in the batch operator's deterministic hash order;
    // seq = rank in that order (the admission-order key)
    val h = graft.functions.PolyHash.poly_hash(
      concat(col("doc_id").cast("string"), lit(":"), col("source")))
    val base = spark.read
      .parquet("/root/testdata/sf0.001/documents.parquet")
      .select(col("source"), col("doc_id"),
        size(split(trim(col("text")), "\\s+")).cast("long").as("n_tok"),
        h.as("h"))
    val ordered = base.orderBy("h", "doc_id")
      .select("source", "doc_id", "n_tok")
      .as[(String, Long, Long)].collect()
      .zipWithIndex.map { case ((s, d, n), i) => (s, d, n, i.toLong) }

    // batch truth over the same frame
    val want = Curation.mixApplyFrom(base, budget, 16)
      .select("source", "doc_id", "cum_tok")
      .as[(String, Long, Long)].collect().toSet

    // stream the same rows in that order across 3 micro-batches
    val in = MemoryStream[(String, Long, Long, Long)]
    val admits = QuotaStreaming.quotaStream(
      in.toDF.toDF("source", "doc_id", "n_tok", "seq"), budget)
    val q = admits.writeStream.format("memory")
      .queryName("quota_out").outputMode("append").start()
    try {
      val per = (ordered.length + 2) / 3
      ordered.grouped(per).foreach { chunk =>
        in.addData(chunk.toSeq)
        q.processAllAvailable()
      }
      val got = spark.table("quota_out")
        .filter(col("admitted") === 1)
        .select("source", "doc_id", "cum_tok")
        .as[(String, Long, Long)].collect().toSet
      assert(got == want,
        s"missing=${(want -- got).take(5)} extra=${(got -- want).take(5)}")
    } finally q.stop()
  }
}
