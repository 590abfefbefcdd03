package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Scalar/aggregate semantics ported exactly from the reference's
  * utility layer (/root/reference/util_methods.js) so that the Spark plan
  * and the DuckDB oracle compute bit-identical results.
  *
  * Everything here is pure `Column` expression composition — no UDFs, no
  * UDAFs — so the whole operator stays inside WholeStageCodegen and scales
  * to arbitrarily wide windows without serialization overhead.
  */
object RefStats {

  /** Exact reference percentile (util_methods.js:112-142) over a sorted
    * array column. The formula is nonstandard (matches neither linear
    * interpolation nor nearest-rank):
    *
    *   idx = (p/100)*n - 1           // zero-based
    *   n==0 -> null; n==1 -> a[0]
    *   idx integral -> a[trunc(idx)]
    *   else i = ceil(idx); i==n-1 -> a[i] else (a[i]+a[i+1])/2
    *
    * `p` is passed pre-divided (0.75, 0.95) — the double literal parses to
    * the same IEEE-754 value in Scala and DuckDB, and `p*n-1.0` is then
    * evaluated with identical operand order on both sides.
    * `sorted` must be ascending (sort_array / list_sort).
    */
  def refPercentile(sorted: Column, p: Double): Column = {
    val n   = size(sorted)
    val idx = lit(p) * n.cast("double") - lit(1.0)
    val ci  = ceil(idx) // LongType
    when(n === 0, lit(null).cast("double"))
      .when(n === 1, element_at(sorted, 1))
      .when(idx === floor(idx).cast("double"),
        element_at(sorted, (floor(idx) + 1L).cast("int")))
      .when(ci.cast("double") === (n - 1).cast("double"),
        element_at(sorted, (ci + 1L).cast("int")))
      .otherwise(
        (element_at(sorted, (ci + 1L).cast("int")) +
          element_at(sorted, (ci + 2L).cast("int"))) / lit(2.0))
  }

  /** The identical arithmetic as a DuckDB SQL fragment over a sorted LIST
    * column expression `a` (1-indexed, like element_at). `p` as "0.75".
    * CASTs go through floor/ceil first because DuckDB rounds double->int
    * while Spark truncates; the casted value is always integral here.
    */
  def refPercentileSql(a: String, p: String): String = {
    val idx = s"($p*len($a)-1.0)"
    s"""CASE WHEN len($a)=0 THEN NULL
       WHEN len($a)=1 THEN $a[1]
       WHEN $idx = floor($idx) THEN $a[CAST(floor($idx) AS BIGINT)+1]
       WHEN ceil($idx) = CAST(len($a)-1 AS DOUBLE) THEN $a[CAST(ceil($idx) AS BIGINT)+1]
       ELSE ($a[CAST(ceil($idx) AS BIGINT)+1] + $a[CAST(ceil($idx) AS BIGINT)+2])/2.0 END"""
      .replaceAll("\\s+", " ")
  }

  /** Null-skipping mean over a (sorted) array via an ordered fold — the
    * fold order is fixed by the array order, so Spark and DuckDB produce
    * the same double bit-for-bit (util_methods.js:10-24 `average`).
    * Computed by the native [[ArrayStats]] expression (null for empty).
    */
  def arrayMean(arr: Column): Column =
    ArrayStats.array_stats(arr).getField("mean")

  /** Sequential left-fold sum — `list_sum` is NOT guaranteed to accumulate
    * left-to-right (observed ulp differences vs Spark's `aggregate` fold),
    * so the oracle folds explicitly with `list_reduce`.
    */
  def foldSumSql(a: String): String =
    s"list_reduce(list_prepend(0.0, $a), (acc, v) -> acc + v)"

  def arrayMeanSql(a: String): String =
    s"CASE WHEN len($a)>0 THEN ${foldSumSql(a)}/CAST(len($a) AS DOUBLE) ELSE NULL END"

  /** Direct Scala port of util_methods.js:112-142 — used only by tests
    * as the ground truth for `refPercentile`.
    */
  def calcPercentileRef(sorted: IndexedSeq[Double], percentile: Double): Option[Double] = {
    val n = sorted.length
    if (n == 0) return None
    if (percentile == 0) return Some(sorted(0))
    if (percentile == 100) return Some(sorted(n - 1))
    val index = (percentile / 100.0) * n - 1.0
    if (n == 1 || index == math.floor(index)) {
      Some(sorted(index.toInt))
    } else {
      val i = math.ceil(index).toInt
      if (i == n - 1) Some(sorted(i))
      else Some((sorted(i) + sorted(i + 1)) / 2)
    }
  }

  /** Direct Scala port of the z-score step (stream_calc_z_score.js:66-104)
    * over the reference's list of influenced values — used only by tests
    * as the ground truth for `ZScore.MetricWindow`, the step that the
    * batch fold and the streaming graph run.
    *
    * @return (influencedValue, avg, lb, ub, signal)
    */
  def zScoreStepRef(
      lag: Int, threshold: Double, influence: Double,
      newValue: Option[Double], prev: IndexedSeq[Option[Double]])
      : (Option[Double], Option[Double], Option[Double], Option[Double], Int) = {
    var infl = newValue
    if (prev.length >= lag) {
      val defined = prev.flatten
      val avg = if (defined.nonEmpty) Some(defined.sum / defined.length) else None
      val sd = avg.flatMap { m =>
        val sq = defined.map(v => (v - m) * (v - m))
        val msq = if (sq.nonEmpty) sq.sum / sq.length else 0.0
        if (msq != 0.0) Some(math.sqrt(msq)) else None // 0 => undefined quirk
      }
      val (lb, ub) = (avg, sd) match {
        case (Some(m), Some(s)) => (Some(m - threshold * s), Some(m + threshold * s))
        case _ => (None, None)
      }
      val signal = (avg, sd, newValue) match {
        case (Some(m), Some(s), Some(x)) if math.abs(x - m) > threshold * s =>
          if (x > m) 1 else -1
        case _ => 0
      }
      if (signal != 0) prev.last.foreach { last =>
        infl = Some(influence * newValue.get + (1 - influence) * last)
      }
      (infl, avg, lb, ub, signal)
    } else (infl, None, None, None, 0)
  }
}
