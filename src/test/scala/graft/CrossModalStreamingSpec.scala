package graft

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.operators.Multimodal
import graft.operators.Multimodal.MediaCodec
import graft.streaming.DedupStreaming

/** The x1 streaming twin: feeding the SAME planted caption-image corpus
  * in pair_id order (split across micro-batches mid-group), the
  * decisions derived from the streamed match relation equal the batch
  * operator's decisions pair-exactly — drop, hard_negative and keep,
  * across the cross-batch state boundary.
  */
class CrossModalStreamingSpec extends AnyFunSuite with TestSession {

  private val sf = "/root/testdata/sf0.001"

  test("stream decisions == batch x1 decisions on the planted corpus") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    // rebuild the x1 corpus in plain JVM code (the CrossModalSpec
    // derivation): caption fingerprints + real pHashes per pair
    val docs = spark.read.parquet(s"$sf/documents.parquet")
      .select("doc_id", "text").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    val imgIds = docs.keys.filter(_ % 3 == 0).toSeq.sorted
    def norm(s: String) = s.trim.toLowerCase.replaceAll("\\s+", " ")
    def polyRef(s: String): Long = {
      var h = 0L
      s.codePoints().forEach(cp => h = (h * 31L + cp) % 1000000007L)
      h
    }
    def hashOf(seed: Long, pert: Boolean): (Long, Long) = {
      val b0 = MediaCodec.bmp((seed % 64).toInt + 1, (seed % 48).toInt + 1,
        seed)
      val b = if (pert) {
        val v = b0.clone()
        (0 until v.length - 54).foreach(i =>
          if (i % 97 == 0) v(54 + i) = (v(54 + i) + 1).toByte)
        v
      } else b0
      Multimodal.pHashOf(b)
    }
    val base = imgIds.map { d =>
      val (lo, hi) = hashOf(d, pert = false)
      (d, polyRef(norm(docs(d))), lo, hi)
    }
    val variants = imgIds.filter(_ < 30L).map { d =>
      val cap =
        if (d % 2 == 0) norm(docs(d))
        else norm(docs.get(d + 3).map(_.toString).getOrElse(docs(d)))
      val (lo, hi) = hashOf(d, pert = true)
      (d + 1000000L, polyRef(cap), lo, hi)
    }
    // id order == ingest order: bases first, then the +1e6 variants —
    // which makes the stream's first-ingested canonical coincide with
    // the batch p < q rule
    val pairs = (base ++ variants).sortBy(_._1)

    val in = MemoryStream[(Long, Long, Long, Long)]
    val out = DedupStreaming.crossModalDupStream(
      in.toDF.toDF("pair_id", "cap_fp", "phash_lo", "phash_hi"))
    val q = out.writeStream.format("memory").queryName("xmodal_ingest")
      .outputMode("append").start()
    val matches = try {
      // split INSIDE the variant block so several caption groups span
      // the micro-batch (and state) boundary
      val (b1, b2) = pairs.splitAt(pairs.size - 5)
      in.addData(b1.map(p => (p._1, p._2, p._3, p._4)): _*)
      q.processAllAvailable()
      in.addData(b2.map(p => (p._1, p._2, p._3, p._4)): _*)
      q.processAllAvailable()
      spark.table("xmodal_ingest").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getBoolean(3)))
    } finally q.stop()

    // derive per-pair decisions from the streamed match relation
    val dropped = matches.filter(_._3).map(_._1).toSet
    val distinctPeer = matches.filter(!_._3)
      .flatMap(m => Seq(m._1, m._2)).toSet
    val got = pairs.map { p =>
      val pid = p._1
      val dec =
        if (dropped(pid)) "drop"
        else if (distinctPeer(pid)) "hard_negative"
        else "keep"
      pid -> dec
    }.toMap

    val want = Multimodal.crossModalDedup(spark, sf)
      .select("pair_id", "decision").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(got.keySet == want.keySet)
    val diffs = want.collect {
      case (pid, d) if got(pid) != d => (pid, d, got(pid))
    }
    assert(diffs.isEmpty, s"mismatches (pid, batch, stream): $diffs")
    assert(got.values.count(_ == "drop") >= 1 &&
      got.values.count(_ == "hard_negative") >= 1,
      "both planted branches must appear through the stream")
  }

  test("x2 streaming consistency == batch, bit-for-bit, across batches") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val emb = spark.read.parquet(s"$sf/embeddings.parquet")
    val want = Multimodal.captionConsistency(spark, sf).collect()
      .map(r => (r.getLong(0), r.getDouble(1), r.getString(2))).toSet
    val rows = spark.read.parquet(s"$sf/documents.parquet")
      .select("doc_id", "text").collect()
      .map(r => (r.getLong(0), r.getString(1))).sortBy(_._1)
    val in = MemoryStream[(Long, String)]
    val q = Multimodal.captionConsistencyStream(
        in.toDF.toDF("doc_id", "text"), emb)
      .writeStream.format("memory").queryName("x2_ingest")
      .outputMode("append").start()
    val got = try {
      val (b1, b2) = rows.splitAt(rows.length / 2)
      in.addData(b1.toIndexedSeq: _*); q.processAllAvailable()
      in.addData(b2.toIndexedSeq: _*); q.processAllAvailable()
      spark.table("x2_ingest").collect()
        .map(r => (r.getLong(0), r.getDouble(1), r.getString(2))).toSet
    } finally q.stop()
    assert(got == want, s"stream/batch divergence: " +
      s"${(got -- want).take(3)} vs ${(want -- got).take(3)}")
    assert(want.exists(_._3 == "keep") && want.exists(_._3 == "drop"))
  }

  test("x3 streaming audio alignment == batch, bit-for-bit, across batches") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val docs = spark.read.parquet(s"$sf/documents.parquet")
    val want = Multimodal.audioAlign(docs).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2),
        r.getString(3))).toSet
    val rows = docs.select("doc_id", "text").collect()
      .map(r => (r.getLong(0), r.getString(1))).sortBy(_._1)
    val in = MemoryStream[(Long, String)]
    // the SAME operator body runs at ingest: stateless narrow map, no
    // join, no watermark — append mode straight through
    val q = Multimodal.audioAlign(in.toDF.toDF("doc_id", "text"))
      .writeStream.format("memory").queryName("x3_ingest")
      .outputMode("append").start()
    val got = try {
      val (b1, b2) = rows.splitAt(rows.length / 2)
      in.addData(b1.toIndexedSeq: _*); q.processAllAvailable()
      in.addData(b2.toIndexedSeq: _*); q.processAllAvailable()
      spark.table("x3_ingest").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2),
          r.getString(3))).toSet
    } finally q.stop()
    assert(got == want, s"stream/batch divergence: " +
      s"${(got -- want).take(3)} vs ${(want -- got).take(3)}")
    assert(want.exists(_._4 == "aligned") && want.exists(_._4 == "unaligned"))
  }
}
