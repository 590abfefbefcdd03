package graft

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.scalatest.funsuite.AnyFunSuite
import graft.operators.Multimodal
import graft.operators.Multimodal.MediaCodec

/** x1 cross-modal pair dedup vs an INDEPENDENT JVM re-derivation: the
  * corpus synthesis, the perceptual hashing (via the real codec +
  * pHashOf), the banded near-dup identity, and the decision rules are
  * all recomputed here from first principles — so a natural pHash
  * collision changes both sides identically, and a rule bug in the
  * Spark plan fails loudly against the planted expectations.
  */
class CrossModalSpec extends AnyFunSuite with TestSession {

  private val sf = "/root/testdata/sf0.001"

  test("x2 consistency == independent cosine re-derivation, bit-exact") {
    val dim = 64
    val docs = spark.read.parquet(s"$sf/documents.parquet")
      .select("doc_id", "text").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    val emb = spark.read.parquet(s"$sf/embeddings.parquet")
      .select("vec_id", "embedding").collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1).toArray).toMap
    def polyRef(s: String): Long = {
      var h = 0L
      s.codePoints().forEach(cp => h = (h * 31L + cp) % 1000000007L)
      h
    }
    val want = docs.keys.filter(_ % 3 == 0).map { id =>
      val tv = new Array[Double](dim)
      docs(id).toLowerCase.trim.split("\\s+", -1).foreach { t =>
        val h = polyRef(t)
        tv((h % dim).toInt) += (if (((h >> 6) % 2) == 0L) 1.0 else -1.0)
      }
      val ev = emb(id).map(_.toDouble)
      var dot = 0.0; var nt = 0.0; var ne = 0.0
      var i = 0
      while (i < dim) {
        dot += tv(i) * ev(i); nt += tv(i) * tv(i); ne += ev(i) * ev(i)
        i += 1
      }
      val cos = if (nt == 0.0 || ne == 0.0) 0.0 else dot / math.sqrt(nt * ne)
      id -> ((cos, if (cos >= 0.0) "keep" else "drop"))
    }.toMap
    val got = Multimodal.captionConsistency(spark, sf).collect()
      .map(r => r.getLong(0) -> ((r.getDouble(1), r.getString(2)))).toMap
    assert(got.keySet == want.keySet, "image-doc coverage")
    val diffs = want.keysIterator.filter(k => got(k) != want(k)).take(3).toList
    assert(diffs.isEmpty, s"cosine/decision mismatch at $diffs: " +
      s"${diffs.map(k => (got(k), want(k)))}")
    assert(got.values.exists(_._2 == "keep") && got.values.exists(_._2 == "drop"),
      "both decisions must occur on the corpus")
  }

  test("x1 decisions == independent re-derivation; both branches planted") {
    val docs = spark.read.parquet(s"$sf/documents.parquet")
      .select("doc_id", "text").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    val imgIds = docs.keys.filter(_ % 3 == 0).toSeq.sorted
    def norm(s: String) = s.trim.toLowerCase.replaceAll("\\s+", " ")
    case class P(pid: Long, imgSeed: Long, pert: Boolean, cap: String)
    val base = imgIds.map(d => P(d, d, pert = false, norm(docs(d))))
    val variants = imgIds.filter(_ < 30L).map { d =>
      val cap =
        if (d % 2 == 0) norm(docs(d))
        else norm(docs.get(d + 3).map(_.toString).getOrElse(docs(d)))
      P(d + 1000000L, d, pert = true, cap)
    }
    val all = base ++ variants
    val hash: Map[Long, (Long, Long)] = all.map { p =>
      val b0 = MediaCodec.bmp((p.imgSeed % 64).toInt + 1,
        (p.imgSeed % 48).toInt + 1, p.imgSeed)
      val b = if (p.pert) {
        val v = b0.clone()
        (0 until v.length - 54).foreach(i =>
          if (i % 97 == 0) v(54 + i) = (v(54 + i) + 1).toByte)
        v
      } else b0
      p.pid -> Multimodal.pHashOf(b)
    }.toMap
    def bands(h: (Long, Long)): Seq[Long] =
      Seq(h._1 & 0xffffL, (h._1 >> 16) & 0xffffL,
        h._2 & 0xffffL, (h._2 >> 16) & 0xffffL)
    def imgdup(x: P, y: P): Boolean = {
      val (ha, hb) = (hash(x.pid), hash(y.pid))
      val ham = java.lang.Long.bitCount(ha._1 ^ hb._1) +
        java.lang.Long.bitCount(ha._2 ^ hb._2)
      // the banded join's identity: shared 16-bit band AND Hamming<=tau
      ham <= 3 && bands(ha).zip(bands(hb)).exists { case (a, b) => a == b }
    }
    // group by the SAME identity the operator and oracle use — the
    // caption's PolyHash fingerprint, not the raw string — so a
    // fingerprint collision between distinct captions changes spec and
    // operator identically (as the image-hash side already does)
    def polyRef(s: String): Long = {
      var h = 0L
      s.codePoints().forEach(cp => h = (h * 31L + cp) % 1000000007L)
      h
    }
    val byCap = all.groupBy(p => polyRef(p.cap))
    val expected: Map[Long, String] = all.map { p =>
      val group = byCap(polyRef(p.cap))
      val peers = group.filterNot(_.pid == p.pid)
      val dec =
        if (group.size > 64) "hot_caption"
        else if (peers.exists(q => q.pid < p.pid && imgdup(p, q))) "drop"
        else if (peers.exists(q => !imgdup(p, q))) "hard_negative"
        else "keep"
      p.pid -> dec
    }.toMap
    val got = Multimodal.crossModalDedup(spark, sf)
      .select("pair_id", "decision").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(got.keySet == expected.keySet)
    val diffs = expected.collect {
      case (pid, d) if got(pid) != d => (pid, d, got(pid))
    }
    assert(diffs.isEmpty, s"mismatches (pid, want, got): $diffs")
    // and the planting did its job: both decision branches are non-empty
    assert(expected.values.count(_ == "drop") >= 1, "no planted drop")
    assert(expected.values.count(_ == "hard_negative") >= 1,
      "no planted hard negative")
  }

  test("x3 planted aligned audio separates from natural audio with margin") {
    // the m6/m8 planted-ground-truth discipline: every caption-modulated
    // variant (re-keyed +5e6) must classify 'aligned', every natural
    // audio doc 'unaligned', with a real score gap on BOTH test corpora
    // — a threshold that only just works at one scale is tuned, not
    // structural
    for (dir <- Seq("/root/testdata/sf0.001", "/root/testdata/sf0.01")) {
      val docs = spark.read.parquet(s"$dir/documents.parquet")
      val rows = Multimodal.audioAlign(docs).collect()
        .map(r => (r.getLong(0), r.getDouble(2), r.getString(3)))
      val (planted, natural) = rows.partition(_._1 >= 5000000L)
      assert(planted.nonEmpty && natural.nonEmpty, s"$dir: empty corpus leg")
      assert(planted.forall(_._3 == "aligned"),
        s"$dir: planted variant misclassified: " +
          planted.filter(_._3 != "aligned").take(3).mkString(","))
      assert(natural.forall(_._3 == "unaligned"),
        s"$dir: natural audio misclassified: " +
          natural.filter(_._3 != "unaligned").take(3).mkString(","))
      val margin = planted.map(_._2).min - natural.map(_._2).max
      assert(margin > 0.3,
        s"$dir: separation margin collapsed to $margin")
    }
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
