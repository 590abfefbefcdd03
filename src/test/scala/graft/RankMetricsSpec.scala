package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import scala.util.Random
import graft.operators.Similarity

/** s17's grading core against hand-computed fixtures and a brute-force
  * re-derivation over random rankings — MRR, AP@k and precision@k from
  * first principles, including the zero-relevant and all-relevant
  * edges.
  */
class RankMetricsSpec extends AnyFunSuite with TestSession {

  private def run(fused: Seq[(Long, Long, Long)],
      truth: Seq[(Long, Long)], k: Int): Map[Long, (Long, Long, Double, Double, Double)] = {
    import spark.implicits._
    Similarity.rankMetricsFrom(
      fused.toDF("q_id", "doc_id", "rank"),
      truth.toDF("q_id", "doc_id").withColumn("rel", lit(1)), k)
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getDouble(3), r.getDouble(4),
          r.getDouble(5)))).toMap
  }

  test("hand-computed fixture: mixed, zero-relevant, all-relevant") {
    // q=1: ranks 1..5 = docs 10..14, truth {11, 13, 99}:
    //   rel = [0,1,0,1,0], AP = (1/2 + 2/4)/min(5,3) = 1/3, MRR = 1/2
    // q=2: truth {88} never retrieved: all zeros
    // q=3: ranks 1..3 all relevant, truth exactly those: AP = 1, MRR = 1
    val fused = Seq(
      (1L, 10L, 1L), (1L, 11L, 2L), (1L, 12L, 3L), (1L, 13L, 4L), (1L, 14L, 5L),
      (2L, 20L, 1L), (2L, 21L, 2L),
      (3L, 30L, 1L), (3L, 31L, 2L), (3L, 32L, 3L))
    val truth = Seq((1L, 11L), (1L, 13L), (1L, 99L),
      (2L, 88L), (3L, 30L), (3L, 31L), (3L, 32L))
    val got = run(fused, truth, 5)
    assert(got(1L) == ((2L, 3L, 0.4, 0.5, (0.5 + 0.5) / 3.0)))
    assert(got(2L) == ((0L, 1L, 0.0, 0.0, 0.0)))
    assert(got(3L) == ((3L, 3L, 3.0 / 5.0, 1.0, 1.0)))
  }

  test("random rankings == brute-force re-derivation") {
    val rnd = new Random(19)
    val k = 10
    val fused = (0L until 30L).flatMap { q =>
      val docs = rnd.shuffle((0L until 40L).toList).take(k)
      docs.zipWithIndex.map { case (d, i) => (q, d, (i + 1).toLong) }
    }
    val truth = (0L until 30L).flatMap { q =>
      rnd.shuffle((0L until 40L).toList)
        .take(1 + rnd.nextInt(12)).map(d => (q, d))
    }
    val got = run(fused, truth, k)
    val truthSet = truth.groupBy(_._1).map { case (q, v) => q -> v.map(_._2).toSet }
    (0L until 30L).foreach { q =>
      val rel = truthSet(q)
      val ranked = fused.filter(_._1 == q).sortBy(_._3).map(_._2)
      val hits = ranked.zipWithIndex.collect {
        case (d, i) if rel(d) => i + 1 }
      val nRel = hits.size.toLong
      val mrr = hits.headOption.map(1.0 / _).getOrElse(0.0)
      var c = 0
      var s = 0.0
      ranked.zipWithIndex.foreach { case (d, i) =>
        if (rel(d)) { c += 1; s += c.toDouble / (i + 1).toDouble }
      }
      val ap = s / math.min(k, rel.size).toDouble
      val (gn, gt, gp, gm, ga) = got(q)
      assert(gn == nRel && gt == rel.size.toLong, s"q=$q counts")
      assert(gp == nRel.toDouble / k, s"q=$q precision")
      assert(gm == mrr, s"q=$q mrr")
      assert(ga == ap, s"q=$q ap: got $ga want $ap")
    }
  }
}
