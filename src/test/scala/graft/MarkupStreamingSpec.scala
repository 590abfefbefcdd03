package graft

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.operators.{Dedup, Markup}
import graft.streaming.DedupStreaming

/** The chained ingest front door (markup extraction -> text near-dup
  * twin): stream == batch through the WHOLE chain, extraction really
  * strips the boilerplate before dedup sees the text, and the wired
  * state bound's recall trade is pinned explicitly.
  */
class MarkupStreamingSpec extends AnyFunSuite with TestSession {

  /** Wrap a normalized text in the planted markup grammar: link-dense
    * nav/footer boilerplate around real h1 + paragraph content whose
    * extraction yields back exactly the input text.
    */
  private def wrap(text: String): String = {
    val ws = text.split(" ")
    val h1 = ws.take(4).mkString(" ")
    val rest = ws.drop(4).mkString(" ")
    "<nav><a href=\"/h\">home</a> <a href=\"/a\">about</a> " +
      "<a href=\"/c\">contact</a></nav>" +
      s"<h1>$h1</h1><p>$rest</p>" +
      "<footer><a href=\"/p\">privacy</a> <a href=\"/t\">terms</a> " +
      "sitemap <a href=\"/m\">map</a></footer>"
  }

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
      docs += ((id, b)); id += 1
      docs += ((id, b.replaceFirst("the", "that"))); id += 1
      docs += ((id, s"unique filler number $i with nothing shared at all $i $i")); id += 1
    }
    docs.toSeq
  }

  test("batch extraction over the wrapped corpus strips all boilerplate") {
    import spark.implicits._
    val docs = mkDocs
    val got = docs.map { case (id, t) => (id, wrap(t)) }
      .toDF("doc_id", "html")
      .select(col("doc_id"), Markup.extractedFromHtml(col("html")).as("x"))
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    docs.foreach { case (id, t) =>
      assert(got(id) == t, s"doc $id: extraction must invert the wrap")
      assert(!got(id).contains("home") && !got(id).contains("privacy"),
        s"doc $id: boilerplate leaked into the extract")
    }
  }

  test("markup ingest chain: stream == batch dup relation across batches") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val docs = mkDocs
    val threshold = 0.4
    // batch expectation from the SAME shared columns, on the RAW texts
    // (extraction inverts the wrap, so the chain must agree with this)
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
    val out = DedupStreaming.markupIngestStream(
      in.toDF.toDF("doc_id", "html"), threshold)
    val q = out.writeStream.format("memory").queryName("markup_ingest")
      .outputMode("append").start()
    try {
      val (b1, b2) = docs.splitAt(docs.size / 2)
      in.addData(b1.map { case (id, t) => (id, wrap(t)) }: _*)
      q.processAllAvailable()
      in.addData(b2.map { case (id, t) => (id, wrap(t)) }: _*)
      q.processAllAvailable()
      val got = spark.table("markup_ingest")
        .groupBy("doc_id").agg(min("canonical_id").as("c"))
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(got == expected,
        s"chain relation diverged: got $got want $expected")
    } finally q.stop()
  }

  test("the wired bound's recall trade: FIFO eviction forgets old priors") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val text = "three identical documents arriving in order test the bound"
    val docs = Seq(0L, 1L, 2L).map(id => (id, wrap(text)))
    def run(maxBucket: Int, name: String): Map[Long, Set[Long]] = {
      val in = MemoryStream[(Long, String)]
      val q = DedupStreaming.markupIngestStream(
        in.toDF.toDF("doc_id", "html"), maxBucket = maxBucket)
        .writeStream.format("memory").queryName(name)
        .outputMode("append").start()
      try {
        docs.foreach { d => in.addData(d); q.processAllAvailable() }
        spark.table(name).collect()
          .map(r => (r.getLong(0), r.getLong(1)))
          .groupBy(_._1).map { case (k, v) => k -> v.map(_._2).toSet }
      } finally q.stop()
    }
    // unbounded: doc 2 matches BOTH priors
    val free = run(Int.MaxValue, "mi_free")
    assert(free == Map(1L -> Set(0L), 2L -> Set(0L, 1L)), s"got $free")
    // maxBucket=1: doc 0 was evicted when doc 2 arrived — the explicit
    // recall trade of the wired production bound
    val bound = run(1, "mi_bound")
    assert(bound == Map(1L -> Set(0L), 2L -> Set(1L)), s"got $bound")
  }
}
