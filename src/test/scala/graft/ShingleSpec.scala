package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import scala.util.Random
import graft.functions.MinHashSig.min_hash_sig
import graft.functions.ShingleHashes.shingle_hashes

/** The fused ShingleHashes expression vs an independent re-derivation of
  * its contract (split -> k-gram join -> PolyHash fold -> hash-distinct),
  * including the edge shapes: fewer than k words, single word, empty
  * string, and non-BMP codepoints (the hash folds CODEPOINTS — emoji and
  * CJK-extension chars must hash like DuckDB's per-char ascii()).
  */
class ShingleSpec extends AnyFunSuite with TestSession {

  private def polyRef(s: String): Long = {
    var h = 0L
    s.codePoints().forEach(cp => h = (h * 31L + cp) % 1000000007L)
    h
  }

  private def shinglesRef(s: String, k: Int): Seq[Long] = {
    val words = s.split(" ", -1).toSeq
    val grams =
      if (words.length < k) Seq(words.mkString(" "))
      else words.sliding(k).map(_.mkString(" ")).toSeq
    grams.map(polyRef).distinct
  }

  test("shingle_hashes == split/sliding/polyhash/distinct reference") {
    import spark.implicits._
    val rnd = new Random(11)
    val vocab = Vector("alpha", "beta", "gamma", "delta", "x", "emoji😀",
      "漢字", "z9", "longword" * 3)
    val texts = (1 to 300).map { i =>
      (i.toLong, Vector.fill(rnd.nextInt(12))(vocab(rnd.nextInt(vocab.size)))
        .mkString(" "))
    } :+ (9001L, "") :+ (9002L, "solo") :+ (9003L, "two words")
    val got = texts.toDF("id", "t")
      .select(col("id"), shingle_hashes(col("t"), 3).as("hs"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
    texts.foreach { case (id, t) =>
      assert(got(id) == shinglesRef(t, 3), s"id=$id text='$t'")
    }
  }

  test("bigram_hashes == packed per-instance polyhash pairs") {
    import spark.implicits._
    import graft.functions.BigramHashes.{bigram_hashes, Pack}
    val rnd = new Random(13)
    val vocab = Vector("the", "cat", "sat", "on", "emoji😀", "漢字", "a")
    val texts = (1 to 200).map { i =>
      (i.toLong, Vector.fill(rnd.nextInt(8))(vocab(rnd.nextInt(vocab.size)))
        .mkString(" "))
    } :+ (9001L, "") :+ (9002L, "solo") :+ (9003L, "two words") :+
      (9004L, "dup dup dup")
    def ref(t: String): Seq[Long] = {
      val ws = t.split(" ", -1).toSeq
      if (t.isEmpty || ws.length < 2) Seq.empty
      else ws.sliding(2).map(p =>
        polyRef(p(0)) * Pack + polyRef(p(0) + " " + p(1))).toSeq
    }
    val got = texts.toDF("id", "t")
      .select(col("id"), bigram_hashes(col("t")).as("hs"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
    texts.foreach { case (id, t) =>
      assert(got(id) == ref(t), s"id=$id text='$t'")
    }
  }

  test("sim_hash_bands == per-band remixed vote signs, packed") {
    import spark.implicits._
    import graft.functions.SimHashBands.sim_hash_bands
    val rnd = new Random(17)
    val p = 2147483647L
    val as = Seq(1103515245L, 1566083941L)
    val bs = Seq(12345L, 1013904223L)
    val bitsPerBand = 16
    val rows = (1 to 100).map(i =>
      (i.toLong, Vector.fill(1 + rnd.nextInt(40))(rnd.nextLong(1000000007L))))
    val got = rows.toDF("id", "hs")
      .select(col("id"), sim_hash_bands(col("hs"), as, bs, p, bitsPerBand).as("s"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    rows.foreach { case (id, hs) =>
      var want = 0L
      as.zip(bs).zipWithIndex.foreach { case ((a, b), f) =>
        (0 until bitsPerBand).foreach { j =>
          val votes = hs.map { h =>
            if ((((h * a + b) % p) >>> j & 1L) == 1L) 1 else -1
          }.sum
          if (votes > 0) want |= 1L << (f * bitsPerBand + j)
        }
      }
      assert(got(id) == want, s"id=$id")
    }
  }

  test("min_hash_sig == per-family min of (h*a+b) mod p") {
    import spark.implicits._
    val rnd = new Random(7)
    val p = 2147483647L
    val as = (0 until 12).map(i => 2L * i + 3)
    val bs = (0 until 12).map(i => 7L * i + 1)
    val rows = (1 to 100).map(i =>
      (i.toLong, Vector.fill(1 + rnd.nextInt(40))(rnd.nextLong(1000000007L))))
    val got = rows.toDF("id", "hs")
      .select(col("id"), min_hash_sig(col("hs"), as, bs, p).as("sig"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
    rows.foreach { case (id, hs) =>
      val want = as.zip(bs).map { case (a, b) => hs.map(h => (h * a + b) % p).min }
      assert(got(id) == want, s"id=$id")
    }
  }

  test("k=1 and k=2 contracts hold") {
    import spark.implicits._
    val texts = Seq((1L, "a b c d"), (2L, "a"), (3L, "a b a b"))
    for (k <- Seq(1, 2)) {
      val got = texts.toDF("id", "t")
        .select(col("id"), shingle_hashes(col("t"), k).as("hs"))
        .collect().map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
      texts.foreach { case (id, t) =>
        assert(got(id) == shinglesRef(t, k), s"k=$k id=$id")
      }
    }
  }

  test("positional hashes: empty string emits an empty array at every k") {
    // an empty string has zero words; the fewer-than-k => empty-array
    // contract must hold even at k=1 (the spaces+1 word count would
    // otherwise invent a single empty-gram hash)
    for (k <- Seq(1, 2, 8)) {
      val got = graft.functions.ShingleHashes.computePos(
        org.apache.spark.unsafe.types.UTF8String.fromString(""), k)
      assert(got.numElements() == 0, s"k=$k")
    }
    // non-empty single word still behaves per contract: one gram at k=1,
    // empty below-k otherwise
    val one = graft.functions.ShingleHashes.computePos(
      org.apache.spark.unsafe.types.UTF8String.fromString("a"), 1)
    assert(one.numElements() == 1)
    val below = graft.functions.ShingleHashes.computePos(
      org.apache.spark.unsafe.types.UTF8String.fromString("a"), 2)
    assert(below.numElements() == 0)
  }
}
