package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.operators.Dedup

/** The MinHash-LSH recall CLIFF, measured — not just the easy >= 0.9
  * bucket the synthetic corpus populates (d4_lsh_recall) but the
  * 0.3–0.8 range where the banding probability 1-(1-s^r)^b actually
  * bends. The controlled-mutation fixture ([[Dedup.recallCliffPairs]])
  * deletes tokens deterministically at five calibrated rates, so the
  * seeded (orig, mutant) pairs spread across the cliff buckets by
  * construction; per pair, "found" is the banded pipeline's exact join
  * condition (some band's minima all equal).
  *
  * The statistical assertion lives here rather than in the oracle gate:
  * the driver's hash compare can pin that both engines compute the SAME
  * numbers (d4_recall_cliff is oracle-green), but "recall tracks theory
  * within 4 sigma" is a tolerance claim, which is what this spec pins.
  * Expected-found and its variance come from the PER-PAIR theory
  * p_i = 1-(1-j_i^3)^4 (j_i the pair's exact shingle Jaccard), not the
  * bucket midpoint — bucket mass skews toward the low edge, so a
  * midpoint comparison would need a slop term that could hide a real
  * cliff miss. The Poisson-binomial sigma assumes pair independence;
  * pairs share the 12 fixed hash functions, whose affine families are
  * not perfectly min-wise independent — realized row agreement runs a
  * few percent below the Bernoulli(j) ideal and the deviation is
  * correlated across pairs — so a +5% of n slack absorbs the
  * family-imperfection bias (measured: the >= 0.9 bucket sits ~4.6%
  * under ideal theory; the cliff buckets track within ~2%).
  */
class LshRecallCliffSpec extends AnyFunSuite with TestSession {

  private val sfDir = "/root/testdata/sf0.001"

  test("mutation fixture populates >= 3 cliff buckets and measured " +
      "recall tracks per-pair banding theory within 4 sigma per bucket") {
    import spark.implicits._
    val pairs = Dedup.recallCliffPairs(spark, sfDir)
      .select($"jaccard", $"hit").as[(Double, Int)].collect()
    assert(pairs.length > 1000, s"fixture too small: ${pairs.length} pairs")

    def theory(j: Double): Double = { val d = 1.0 - j * j * j; 1.0 - d * d * d * d }
    val byBucket = pairs.groupBy { case (j, _) => math.floor(j * 10).toInt }

    // the verdict's done-criterion: the cliff range itself is populated
    val cliff = byBucket.filter { case (b, ps) => b >= 3 && b <= 8 && ps.length >= 20 }
    assert(cliff.size >= 3,
      s"cliff buckets under-populated: ${byBucket.view.mapValues(_.length).toMap}")

    byBucket.foreach { case (b, ps) =>
      val n = ps.length
      if (n >= 20) {
        val found = ps.map(_._2).sum
        val exp = ps.map { case (j, _) => theory(j) }.sum
        val sigma = math.sqrt(ps.map { case (j, _) =>
          val p = theory(j); p * (1 - p)
        }.sum)
        val tol = 4 * sigma + 0.05 * n
        assert(math.abs(found - exp) <= tol,
          f"bucket $b: found $found vs theory ${exp}%.1f " +
            f"(n=$n, 4sigma+slack=${tol}%.1f) — the banding curve is off")
      }
    }

    // identical docs (rate too low to delete anything) must ALWAYS
    // collide: every band agrees when the signatures are equal
    byBucket.get(10).foreach { ps =>
      assert(ps.forall(_._2 == 1), "an identical pair missed — banding broke")
    }
  }
}
