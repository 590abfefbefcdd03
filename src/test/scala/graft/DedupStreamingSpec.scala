package graft

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.operators.{Dedup, Similarity}
import graft.streaming.DedupStreaming

/** Streaming dedup-at-ingest vs the batch pair relation: feeding docs in
  * id order, a doc is flagged iff a lower-id near-dup exists — exactly
  * the (id_a < id_b, shared band, est >= t) pair set of the batch LSH
  * pass — including dups whose canonical arrived in an EARLIER
  * micro-batch (the cross-batch state contract).
  */
class DedupStreamingSpec extends AnyFunSuite with TestSession with RocksDbSupport {

  private def mkDocs: Seq[(Long, String)] = {
    val bases = Seq(
      "the quick brown fox jumps over the lazy dog near the river bank",
      "machine learning systems require careful data curation and cleaning",
      "a completely different sentence about cooking pasta with tomato sauce",
      "streaming engines process unbounded data with bounded state budgets")
    val docs = scala.collection.mutable.Buffer.empty[(Long, String)]
    var id = 0L
    bases.zipWithIndex.foreach { case (b, i) =>
      docs += ((id, b)); id += 1
      // exact dup and a near dup (one word changed) of each base
      docs += ((id, b)); id += 1
      docs += ((id, b.replaceFirst("the", "that"))); id += 1
      // an unrelated singleton between families
      docs += ((id, s"unique filler number $i with nothing shared at all $i $i")); id += 1
    }
    docs.toSeq
  }

  test("stream == batch first-seen dup relation, across micro-batches") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val docs = mkDocs
    val threshold = 0.4

    // batch expectation from the SAME shared columns: pairs with a
    // shared band and est >= t; per doc, the min lower-id canonical
    val sigRows = docs.toDF("doc_id", "text")
      .select(col("doc_id"), Dedup.minhashSigCol(col("text")).as("sig"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
    val rows = Dedup.MinhashK / Dedup.MinhashBands
    def bands(sig: Seq[Long]): Set[(Int, Seq[Long])] =
      (0 until Dedup.MinhashBands)
        .map(b => b -> sig.slice(b * rows, (b + 1) * rows)).toSet
    val expected = docs.map(_._1).flatMap { idB =>
      val cands = docs.map(_._1).filter(_ < idB).filter { idA =>
        bands(sigRows(idA)).intersect(bands(sigRows(idB))).nonEmpty
      }.filter { idA =>
        val eq = sigRows(idA).zip(sigRows(idB)).count { case (x, y) => x == y }
        eq.toDouble / Dedup.MinhashK >= threshold
      }
      if (cands.isEmpty) None else Some(idB -> cands.min)
    }.toMap
    assert(expected.nonEmpty, "fixture must contain dups")

    val in = MemoryStream[(Long, String)]
    val out = DedupStreaming.nearDupStream(
      in.toDF.toDF("doc_id", "text"), threshold)
    val q = out.writeStream.format("memory").queryName("dedup_ingest")
      .outputMode("append").start()
    try {
      // split mid-family so several dups arrive AFTER their canonical's
      // micro-batch
      val (b1, b2) = docs.splitAt(docs.size / 2)
      in.addData(b1)
      q.processAllAvailable()
      in.addData(b2)
      q.processAllAvailable()
      val got = spark.table("dedup_ingest")
        .groupBy("doc_id").agg(min("canonical_id").as("canonical"))
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(got == expected, s"got $got\nexpected $expected")
      // at least one dup must have crossed the batch boundary
      val boundary = b1.last._1
      assert(expected.exists { case (d, c) => d > boundary && c <= boundary },
        "fixture must exercise a cross-batch dup")
    } finally q.stop()
  }

  /** The image twin: streaming pHash dedup-at-ingest == the batch banded
    * pair relation of m6 (shared 16-bit band AND Hamming <= tau, lower
    * id canonical), across micro-batches, over the same synthesized BMP
    * corpus + planted variants m6 uses.
    */
  test("stream pHash dedup == batch banded Hamming pair relation") {
    import graft.operators.Multimodal
    import graft.operators.Multimodal.MediaCodec
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val tau = 3
    // images 0,3,...,147 with perturbed variants of ids < 30 (re-keyed
    // +1e6), hashed through the same pure-JVM path as the operator
    val imgs: Seq[(Long, Array[Byte])] =
      (0L until 150L by 3L).map { id =>
        id -> MediaCodec.bmp((id % 64).toInt + 1, (id % 48).toInt + 1, id)
      } ++ (0L until 30L by 3L).map { id =>
        val p = MediaCodec.bmp((id % 64).toInt + 1, (id % 48).toInt + 1, id)
        (0 until p.length - 54).foreach { i =>
          if (i % 97 == 0) p(54 + i) = (p(54 + i) + 1).toByte
        }
        (id + 1000000L) -> p
      }
    val hashes: Seq[(Long, Long, Long)] = imgs.map { case (id, p) =>
      val (lo, hi) = Multimodal.pHashOf(p)
      (id, lo, hi)
    }.sortBy(_._1)
    def bandsOf(lo: Long, hi: Long): Seq[Long] =
      Seq(lo & 0xffffL, (lo >> 16) & 0xffffL, hi & 0xffffL, (hi >> 16) & 0xffffL)
    val expected = (for {
      Seq((a, la, ha), (b, lb, hb)) <- hashes.combinations(2)
      if bandsOf(la, ha).zip(bandsOf(lb, hb)).exists { case (x, y) => x == y }
      h = java.lang.Long.bitCount(la ^ lb) + java.lang.Long.bitCount(ha ^ hb)
      if h <= tau
    } yield (b, a, h)).toSet // (later id, canonical, hamming)
    assert(expected.nonEmpty, "fixture must contain image near-dups")

    val in = MemoryStream[(Long, Long, Long)]
    val out = DedupStreaming.pHashDupStream(
      in.toDF.toDF("doc_id", "phash_lo", "phash_hi"), tau)
    val q = out.writeStream.format("memory").queryName("phash_ingest")
      .outputMode("append").start()
    try {
      // originals first, variants second: every planted pair crosses
      // the micro-batch boundary
      val (orig, variants) = hashes.partition(_._1 < 1000000L)
      in.addData(orig)
      q.processAllAvailable()
      in.addData(variants)
      q.processAllAvailable()
      val got = spark.table("phash_ingest").distinct()
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
      assert(got == expected, s"got ${got.toSeq.sorted}\n" +
        s"expected ${expected.toSeq.sorted}")
      assert(expected.exists { case (d, c, _) => d >= 1000000L && c < 1000000L },
        "fixture must exercise a cross-batch planted pair")
    } finally q.stop()
  }

  /** Out-of-ID-order ingest: the canonical is the first-INGESTED
    * bucket-mate, so a near-dup whose twin arrives in a later
    * micro-batch with a SMALLER id is still caught (the id guard the
    * MinHash twin inherits from batch would miss it).
    */
  test("pHash ingest catches a later-arriving lower-id near-dup") {
    import graft.operators.Multimodal
    import graft.operators.Multimodal.MediaCodec
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val base = MediaCodec.bmp(33, 25, 7L)
    val near = base.clone()
    (0 until near.length - 54).foreach { i =>
      if (i % 97 == 0) near(54 + i) = (near(54 + i) + 1).toByte
    }
    val (blo, bhi) = Multimodal.pHashOf(base)
    val (nlo, nhi) = Multimodal.pHashOf(near)
    val in = MemoryStream[(Long, Long, Long)]
    val out = DedupStreaming.pHashDupStream(
      in.toDF.toDF("doc_id", "phash_lo", "phash_hi"))
    val q = out.writeStream.format("memory").queryName("phash_ooo")
      .outputMode("append").start()
    try {
      in.addData((500L, blo, bhi)) // the "original", big id, first batch
      q.processAllAvailable()
      in.addData((7L, nlo, nhi)) // near-dup, SMALLER id, later batch
      q.processAllAvailable()
      val got = spark.table("phash_ooo").distinct()
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(got == Set((7L, 500L)),
        s"expected the late lower-id doc flagged against the prior: $got")
    } finally q.stop()
  }

  /** The embedding twin: streaming SRP-band near-dup at ingest == the
    * batch multi-band pair relation of d6 (first matching band, exact
    * cosine >= t, lower-id canonical), across micro-batches, over the
    * real test embeddings — on BOTH state-store providers. Cosines are
    * compared EXACTLY: the stream's plain-JVM signature/cosine path must
    * be bit-identical to the batch VecDot expressions.
    */
  test("stream embed near-dup == batch SRP band pair relation (both providers)") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val sf = "/root/testdata/sf0.001"
    val expected = Similarity.embedNearDup(spark, sf).collect()
      .map(r => (r.getLong(1), r.getLong(0), r.getDouble(2))).toSet
    assert(expected.nonEmpty, "corpus must contain embedding near-dups")
    val vecRows = spark.read.parquet(s"$sf/embeddings.parquet")
      .select(col("vec_id").cast("long"),
        expr("transform(embedding, x -> cast(x as double))").as("v"))
      .as[(Long, Seq[Double])].collect().sortBy(_._1).toSeq
    var runId = 0
    def run(): Set[(Long, Long, Double)] = {
      runId += 1
      val in = MemoryStream[(Long, Seq[Double])]
      val out = DedupStreaming.embedDupStream(in.toDF.toDF("vec_id", "v"))
      val name = s"embed_ingest_$runId"
      val q = out.writeStream.format("memory").queryName(name)
        .outputMode("append").start()
      try {
        val (b1, b2) = vecRows.splitAt(vecRows.length / 2)
        in.addData(b1)
        q.processAllAvailable()
        in.addData(b2)
        q.processAllAvailable()
        spark.table(name).collect()
          .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
      } finally q.stop()
    }
    val got = run()
    assert(got == expected, s"default provider: extra=${got -- expected} " +
      s"missing=${expected -- got}")
    val boundary = vecRows(vecRows.length / 2 - 1)._1
    assert(expected.exists { case (d, c, _) => d > boundary && c <= boundary },
      "corpus must exercise a cross-batch pair")
    withRocksDb {
      val gotR = run()
      assert(gotR == expected, s"rocksdb provider: extra=${gotR -- expected} " +
        s"missing=${expected -- gotR}")
    }
  }
}
