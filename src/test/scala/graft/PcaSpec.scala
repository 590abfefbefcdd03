package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.functions.FixedPointMoments.fixed_point_moments
import graft.operators.Pca

/** Distributed PCA: the fixed-point moments aggregate against a brute
  * loop (including partitioning invariance — the property the integer
  * accumulation exists for), and the eigen/projection layer's algebraic
  * contracts on real data.
  */
class PcaSpec extends AnyFunSuite with TestSession {

  private val sf = "/root/testdata/sf0.001"

  test("fixed_point_moments == brute loop, any partitioning") {
    import spark.implicits._
    val d = 3
    val rnd = new scala.util.Random(11)
    val vecs = Seq.fill(257)(Array.fill(d)(rnd.nextInt(2001) - 1000L))
    def agg(nPart: Int): (Long, Seq[Long], Seq[Long]) = {
      val r = vecs.map(_.toSeq).toDF("q").repartition(nPart)
        .agg(fixed_point_moments(col("q"), d).as("m"))
        .select("m.n", "m.s", "m.m2").head()
      (r.getLong(0), r.getSeq[Long](1), r.getSeq[Long](2))
    }
    val expS = (0 until d).map(i => vecs.map(_(i)).sum)
    val expM2 = for { i <- 0 until d; j <- i until d }
      yield vecs.map(v => v(i) * v(j)).sum
    Seq(1, 7).foreach { p =>
      val (n, s, m2) = agg(p)
      assert(n == vecs.size.toLong)
      assert(s == expS, s"sums at $p partitions")
      assert(m2 == expM2, s"m2 at $p partitions")
    }
  }

  test("quantization validates the fixed-point domain: in-range passes " +
      "through unchanged, out-of-range raises a diagnostic naming x") {
    import spark.implicits._
    def q(xs: Seq[Double]): Seq[Long] =
      xs.toDF("x").select(Pca.quantizeElem(col("x")).as("q"))
        .as[Long].collect().toSeq
    // boundary: |x| = 2 quantizes to exactly +-MaxAbsQ and is accepted
    assert(q(Seq(0.0, 1.999, 2.0, -2.0)) ==
      Seq(0L, math.round(1.999 * Pca.Scale), Pca.MaxAbsQ, -Pca.MaxAbsQ))
    // out-of-domain: a defined per-row failure BEFORE the aggregate,
    // whose message names the offending value (diagnosable), instead of
    // an ArithmeticException from inside fixed_point_moments
    val e = intercept[Exception] { q(Seq(1.0, 7.5)) }
    def msgs(t: Throwable): Seq[String] =
      Option(t).toSeq.flatMap(x => Option(x.getMessage).toSeq ++ msgs(x.getCause))
    assert(msgs(e).exists(m => m.contains("fixed-point domain") &&
      m.contains("7.5")), s"unexpected failure: $e")
    // the non-finite values a bare range test on the CAST result misses:
    // NaN casts to 0 (silent corruption), -Infinity to Long.MinValue
    // (abs overflows negative and passes |q| <= MaxAbsQ) — all three
    // must hit the same named diagnostic
    Seq(Double.NaN, Double.PositiveInfinity, Double.NegativeInfinity)
      .foreach { bad =>
        val eb = intercept[Exception] { q(Seq(1.0, bad)) }
        assert(msgs(eb).exists(_.contains("fixed-point domain")),
          s"$bad escaped the domain guard: $eb")
      }
    // FINITE saturation bypass: for x <= ~-5.6e14 the non-ANSI cast
    // saturates at Long.MinValue, whose abs wraps negative — a guard on
    // the cast result admits the row. The guard tests the DOUBLE, so
    // these must raise the named diagnostic too.
    Seq(-5.7e14, 5.7e14, -1e300, Long.MinValue.toDouble / Pca.Scale)
      .foreach { bad =>
        val eb = intercept[Exception] { q(Seq(1.0, bad)) }
        assert(msgs(eb).exists(_.contains("fixed-point domain")),
          s"finite out-of-range $bad escaped the domain guard: $eb")
      }
  }

  test("covariance is symmetric positive-semidefinite-ish and matches " +
      "the moments identity on real embeddings") {
    val cov = Pca.pcaCov(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    assert(cov.size == Pca.Dim * (Pca.Dim + 1) / 2)
    // diagonal = variances: non-negative (up to quantization epsilon)
    (0 until Pca.Dim).foreach { i =>
      assert(cov((i.toLong, i.toLong)) >= -1e-9, s"var($i) negative")
    }
  }

  test("power iteration converges: Cv = lambda v within residual, " +
      "unit norms, orthogonal components, lambda1 >= max variance") {
    val comp = Pca.pcaComponent(spark, sf).collect()
      .sortBy(_.getLong(0))
    val v1 = comp.map(_.getDouble(1))
    val v2 = comp.map(_.getDouble(2))
    val lam1 = comp.head.getDouble(3)
    val lam2 = comp.head.getDouble(4)
    Seq(v1, v2).foreach { v =>
      val nrm = math.sqrt(v.map(x => x * x).sum)
      assert(math.abs(nrm - 1.0) < 1e-12, s"norm $nrm")
    }
    val covRows = Pca.pcaCov(spark, sf).collect()
      .map(r => (r.getLong(0).toInt, r.getLong(1).toInt) -> r.getDouble(2))
      .toMap
    def c(i: Int, j: Int) =
      covRows.getOrElse((i, j), covRows((j, i)))
    def resid(v: Array[Double], lam: Double): Double = {
      val w = Array.tabulate(Pca.Dim)(i =>
        (0 until Pca.Dim).map(j => c(i, j) * v(j)).sum)
      math.sqrt(w.zip(v)
        .map { case (wi, vi) => (wi - lam * vi) * (wi - lam * vi) }.sum)
    }
    // the synthetic spectrum is flat (lam2/lam1 ~ 0.93), so 200 steps buy
    // ~1e-4-relative residuals, not machine precision — the contract is
    // convergence, not exactness (cross-engine exactness is the oracle's)
    assert(resid(v1, lam1) < 1e-4 * lam1 + 1e-12, s"v1 residual, lam1 $lam1")
    // v2 is an eigenvector of the ORIGINAL C too (deflation only removes
    // the v1 direction), with the second-largest eigenvalue
    assert(resid(v2, lam2) < 1e-4 * lam1 + 1e-12, s"v2 residual, lam2 $lam2")
    assert(lam1 >= lam2 && lam2 > 0, s"order: $lam1 $lam2")
    val dot = v1.zip(v2).map { case (a, b) => a * b }.sum
    assert(math.abs(dot) < 1e-4, s"components not orthogonal: $dot")
    val maxVar = (0 until Pca.Dim).map(i => c(i, i)).max
    assert(lam1 >= maxVar - 1e-12, s"lam1 $lam1 < max variance $maxVar")
  }

  test("projection is centered per axis and pc1 carries >= pc2 variance") {
    val rows = Pca.pcaProject(spark, sf).collect()
      .map(r => (r.getDouble(1), r.getDouble(2)))
    assert(rows.length == 500)
    def stats(xs: Array[Double]): (Double, Double) = {
      val m = xs.sum / xs.length
      (m, xs.map(x => (x - m) * (x - m)).sum / xs.length)
    }
    val (m1, var1) = stats(rows.map(_._1))
    val (m2, var2) = stats(rows.map(_._2))
    // centering uses the fixed-point mu: exact up to quantization epsilon
    assert(math.abs(m1) < 1e-4 && math.abs(m2) < 1e-4, s"means $m1 $m2")
    assert(var1 >= var2 && var2 > 0.0, s"variance order: $var1 $var2")
  }

  test("reconstruction residual obeys Pythagoras against the projection " +
      "and averages to the unexplained variance") {
    import spark.implicits._
    val resid = Pca.pcaResidual(spark, sf).collect()
      .map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(resid.size == 500)
    assert(resid.values.forall(_ >= 0.0), "squared distance negative")
    // Pythagoras: ||c||^2 = p1^2 + p2^2 + resid (v1, v2 orthonormal up
    // to the power-iteration epsilon) — ties e7 to e6 independently of
    // the shared code path
    val proj = Pca.pcaProject(spark, sf).collect()
      .map(r => r.getLong(0) -> (r.getDouble(1), r.getDouble(2))).toMap
    val mu = {
      val row = Pca.moments(spark, sf).head()
      val n = row.getLong(0).toDouble
      row.getSeq[Long](1).toArray.map(_.toDouble / Pca.Scale / n)
    }
    val emb = spark.read
      .parquet("/root/testdata/sf0.001/embeddings.parquet")
      .select(col("vec_id"),
        transform(col("embedding"), x => x.cast("double")).as("e"))
      .as[(Long, Seq[Double])].collect()
    emb.foreach { case (id, e) =>
      val c2 = e.zip(mu).map { case (x, m) => (x - m) * (x - m) }.sum
      val (p1, p2) = proj(id)
      val expected = c2 - p1 * p1 - p2 * p2
      assert(math.abs(resid(id) - expected) <= 1e-6 * math.max(c2, 1.0),
        s"vec $id: resid ${resid(id)} vs ||c||^2-p1^2-p2^2 $expected")
    }
    // mean residual = total variance minus the captured eigenvalues
    // (same algebra, corpus-level): within the orthonormality epsilon
    val comp = Pca.pcaComponent(spark, sf).head()
    val lam1 = comp.getDouble(3); val lam2 = comp.getDouble(4)
    val trace = Pca.pcaCov(spark, sf)
      .filter(col("i") === col("j"))
      .agg(sum("cov")).head().getDouble(0)
    val meanResid = resid.values.sum / resid.size
    assert(math.abs(meanResid - (trace - lam1 - lam2)) < 1e-3 * trace,
      s"mean resid $meanResid vs trace-lam $trace $lam1 $lam2")
  }
}
