package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.Tables
import graft.functions.RefStats

/** Sliding-window statistics layer — the reference's `stream_calc_stats.js`
  * re-expressed as declarative Spark (SURVEY.md §2.4, A1-A7).
  *
  * Semantics (batch form, verified against the DuckDB oracle):
  *  - A1 bucketize: tumbling buckets `floor(end_ms/intervalMs)`
  *    (stream_calc_stats.js:89-101; the reference fixes interval=10 s,
  *    config:105 — here it is a parameter, and registered queries use a
  *    coarser interval so the dense scaffold stays oracle-sized on the
  *    30-day test range).
  *  - A2/A5: per (server, service), for every bucket in the global bucket
  *    range (dense scaffold -> the reference's "emit tpm=0 rows for every
  *    known key each interval", stream_calc_stats.js:157-203), stats over
  *    the `windowN`-bucket window ending at that bucket: count,
  *    tpm = count / (windowN*intervalSec/60), mean, p75, p95.
  *  - A6: exact percentile arithmetic in [[RefStats.refPercentile]].
  *
  * Scale notes: two-phase aggregation — a groupBy pre-collapses raw rows to
  * one row per (key, bucket) (map-side combinable count; the sorted value
  * list is the irreducible payload exact percentiles need), then a window
  * over the *dense* per-bucket series, whose size is |keys| x |buckets|,
  * independent of raw row count. Shuffles: one for the groupBy, one for the
  * window — both keyed on (server, service). The scaffold is built from a
  * broadcast-sized keys x bucket-range cross join. Per-key window work
  * distributes by key across executors; no collect() anywhere.
  */
object ApmStats {

  /** Frame-parameterized variants: any tx frame with
    * (server, service, end_ms, elapsed) — the library surface; the
    * (spark, sfDir) forms below bind them to the driver test layout.
    */
  def bucketedFrom(tx: DataFrame, intervalMs: Long): DataFrame =
    tx.withColumn("bucket", expr(s"end_ms div $intervalMs"))

  def bucketed(spark: SparkSession, sfDir: String, intervalMs: Long): DataFrame =
    bucketedFrom(Tables.txBase(spark, sfDir), intervalMs)

  def bucketedSql(intervalMs: Long): String =
    s"""SELECT *, end_ms // $intervalMs AS bucket
        FROM (${Tables.txBaseSql})"""

  /** A1/A2 — tumbling-bucket aggregation (10 s, the reference interval).
    * The per-bucket sum is an ordered fold over the SORTED values on both
    * engines (raw bits, no round()): an unordered engine-native SUM
    * accumulates in engine-specific order, and rounding it was a latent
    * .5-boundary hash mismatch per the float-parity policy.
    */
  def bucketize(spark: SparkSession, sfDir: String): DataFrame =
    bucketed(spark, sfDir, 10000L)
      .groupBy("server", "service", "bucket")
      .agg(count(lit(1)).as("n"),
        sort_array(collect_list(col("elapsed"))).as("vals"))
      // vals is an attribute here (Aggregate is a projection barrier);
      // vec_sum is the native index-order fold — bit-identical to the
      // former aggregate() HOF and the oracle's list_reduce
      .select(col("server"), col("service"), col("bucket"), col("n"),
        graft.functions.VecOps.vec_sum(col("vals")).as("sum_elapsed"))

  val bucketizeSql: String =
    s"""SELECT server, service, bucket, count(*) AS n,
        ${RefStats.foldSumSql("list_sort(list(elapsed))")} AS sum_elapsed
        FROM (${bucketedSql(10000L)}) GROUP BY server, service, bucket"""

  /** Dense per-bucket pre-aggregation: one row per (key, bucket) over the
    * global bucket range, with the bucket's sorted elapsed values.
    */
  def denseBuckets(spark: SparkSession, sfDir: String, intervalMs: Long): DataFrame =
    denseBucketsFrom(Tables.txBase(spark, sfDir), intervalMs)

  def denseBucketsFrom(tx: DataFrame, intervalMs: Long): DataFrame = {
    val b = bucketedFrom(tx, intervalMs)
    val perBucket = b.groupBy("server", "service", "bucket")
      .agg(count(lit(1)).as("cnt"),
        sort_array(collect_list(col("elapsed"))).as("vals"))
    val buckets = b.agg(min("bucket").as("mn"), max("bucket").as("mx"))
      .select(explode(sequence(col("mn"), col("mx"))).as("bucket"))
    val keys = b.select("server", "service").distinct()
    keys.crossJoin(buckets)
      .join(perBucket, Seq("server", "service", "bucket"), "left")
      .select(col("server"), col("service"), col("bucket"),
        coalesce(col("cnt"), lit(0L)).as("cnt"),
        coalesce(col("vals"), array().cast("array<double>")).as("vals"))
  }

  def denseBucketsSql(intervalMs: Long): String =
    s"""SELECT k.server, k.service, b.bucket,
          coalesce(p.cnt, 0) AS cnt,
          coalesce(p.vals, CAST([] AS DOUBLE[])) AS vals
        FROM (SELECT DISTINCT server, service FROM (${bucketedSql(intervalMs)})) k
        CROSS JOIN (SELECT unnest(range(mn, mx+1)) AS bucket
                    FROM (SELECT min(bucket) mn, max(bucket) mx
                          FROM (${bucketedSql(intervalMs)}))) b
        LEFT JOIN (SELECT server, service, bucket, count(*) AS cnt,
                     list_sort(list(elapsed)) AS vals
                   FROM (${bucketedSql(intervalMs)}) GROUP BY 1,2,3) p
          ON k.server=p.server AND k.service=p.service AND b.bucket=p.bucket"""

  /** A5/A6 — sliding window stats, emitted for every (key, bucket)
    * including empty windows (tpm=0, stats null), exactly like the
    * reference's per-interval stat generation. `tpm` keeps the reference's
    * fixed-denominator semantics (stream_calc_stats.js:186): count divided
    * by the full window length in minutes even during warm-up.
    */
  def slidingStats(spark: SparkSession, sfDir: String,
      intervalMs: Long = 600000L, windowN: Int = 30): DataFrame =
    slidingStatsFrom(Tables.txBase(spark, sfDir), intervalMs, windowN)

  def slidingStatsFrom(tx: DataFrame,
      intervalMs: Long = 600000L, windowN: Int = 30): DataFrame = {
    val spark = tx.sparkSession
    val tpmDen = windowN * (intervalMs / 1000.0) / 60.0
    val w = Window.partitionBy("server", "service").orderBy("bucket")
      .rowsBetween(-(windowN - 1), 0)
    denseBucketsFrom(tx, intervalMs)
      // Pinned REPARTITION_BY_NUM shuffle feeding the window (count
      // deliberately != shuffle.partitions — see ZScore.zScoreFold):
      // otherwise the window's own ENSURE_REQUIREMENTS exchange is
      // AQE-coalescible and the whole downstream stats->zscore->alerts
      // chain (8 registered queries) runs at 1-2 effective cores. The
      // window's parallelism is key-bound either way; this keeps every
      // key-partition schedulable concurrently.
      .repartition(spark.sparkContext.defaultParallelism * 2,
        col("server"), col("service"))
      .withColumn("n", sum(col("cnt")).over(w))
      .withColumn("sorted", sort_array(flatten(collect_list(col("vals")).over(w))))
      // Raw doubles, no round(): every value is an ordered fold / identical
      // arithmetic on both engines, so the bits match exactly — and
      // round() itself is NOT cross-engine-stable on decimal .5
      // boundaries (Spark goes via BigDecimal shortest-repr HALF_UP,
      // DuckDB multiplies in binary).
      .select(col("server"), col("service"),
        (col("bucket") * intervalMs).as("ts_ms"),
        col("n"),
        (col("n") / lit(tpmDen)).as("tpm"),
        RefStats.arrayMean(col("sorted")).as("average"),
        RefStats.refPercentile(col("sorted"), 0.75).as("per75"),
        RefStats.refPercentile(col("sorted"), 0.95).as("per95"))
  }

  /** A6-at-scale — bounded-state approximate percentile via a fixed-width
    * histogram, with its error vs the exact reference percentile measured
    * in the same result.
    *
    * The exact percentile ([[RefStats.refPercentile]]) needs every value
    * of the group materialized and sorted — the irreducible O(rows/key)
    * payload the reference's sorted-insert array carries
    * (util_methods.js:84-106). At 100 TB that payload is the bottleneck;
    * the standard fix is a bounded sketch. This operator takes the
    * simplest deterministic one — count per fixed-width bin — because it
    * is (a) map-side combinable (a group's state is O(valueRange/binW)
    * BIGINTs no matter how many rows feed it), (b) mergeable across
    * partitions by plain addition, and (c) exactly reproducible in ANSI
    * SQL, so the approximation itself is oracle-verified, not just
    * spot-checked. Approx(p) = midpoint of the first bin whose cumulative
    * count reaches p·n ⇒ error is bounded by binW/2 + the mass-ties term;
    * the err75/err95 columns surface the realized error against the exact
    * leg (which at scale you would simply drop).
    *
    * Shuffles: one keyed agg for the histogram, one window over bins
    * (|bins| rows/key, not |rows|), one broadcast-sized join to the exact
    * leg. No collect(), no UDFs.
    */
  def histQuantile(spark: SparkSession, sfDir: String,
      binW: Double = 4.0): DataFrame = {
    val tx = Tables.txBase(spark, sfDir)
    val perBin = tx
      .withColumn("bin", floor(col("elapsed") / lit(binW)).cast("long"))
      .groupBy("server", "service", "bin")
      .agg(count(lit(1)).as("cnt"))
    val wCum = Window.partitionBy("server", "service").orderBy("bin")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val wAll = Window.partitionBy("server", "service")
    val cum = perBin
      .withColumn("cum", sum(col("cnt")).over(wCum))
      .withColumn("n", sum(col("cnt")).over(wAll))
    def approxBin(p: Double) = min(when(
      col("cum").cast("double") >= lit(p) * col("n").cast("double"),
      col("bin")))
    def mid(b: org.apache.spark.sql.Column) =
      (b.cast("double") + lit(0.5)) * lit(binW)
    val hist = cum.groupBy("server", "service")
      .agg(max(col("n")).as("n"), count(lit(1)).as("n_bins"),
        mid(approxBin(0.75)).as("approx75"),
        mid(approxBin(0.95)).as("approx95"))
    val exact = tx.groupBy("server", "service")
      .agg(sort_array(collect_list(col("elapsed"))).as("sorted"))
      .select(col("server"), col("service"),
        RefStats.refPercentile(col("sorted"), 0.75).as("per75"),
        RefStats.refPercentile(col("sorted"), 0.95).as("per95"))
    hist.join(exact, Seq("server", "service"))
      .select(col("server"), col("service"), col("n"), col("n_bins"),
        col("approx75"), col("approx95"), col("per75"), col("per95"),
        (col("approx75") - col("per75")).as("err75"),
        (col("approx95") - col("per95")).as("err95"))
  }

  def histQuantileSql(binW: Double = 4.0): String = {
    val p75 = RefStats.refPercentileSql("sorted", "0.75")
    val p95 = RefStats.refPercentileSql("sorted", "0.95")
    def approx(p: String) =
      s"""(CAST(min(CASE WHEN CAST(cum AS DOUBLE) >= $p * CAST(n AS DOUBLE)
          THEN bin END) AS DOUBLE) + 0.5) * $binW"""
    s"""SELECT h.server, h.service, n, n_bins, approx75, approx95,
          per75, per95,
          approx75 - per75 AS err75, approx95 - per95 AS err95
        FROM (
          SELECT server, service, max(n) AS n,
            count(*) AS n_bins,
            ${approx("0.75")} AS approx75,
            ${approx("0.95")} AS approx95
          FROM (
            SELECT server, service, bin, cnt,
              CAST(sum(cnt) OVER (PARTITION BY server, service ORDER BY bin
                ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum,
              CAST(sum(cnt) OVER (PARTITION BY server, service) AS BIGINT) AS n
            FROM (
              SELECT server, service,
                CAST(floor(elapsed / $binW) AS BIGINT) AS bin,
                count(*) AS cnt
              FROM (${Tables.txBaseSql})
              GROUP BY 1, 2, 3))
          GROUP BY 1, 2) h
        JOIN (
          SELECT server, service, $p75 AS per75, $p95 AS per95
          FROM (SELECT server, service, list_sort(list(elapsed)) AS sorted
                FROM (${Tables.txBaseSql}) GROUP BY 1, 2)) e
          ON h.server = e.server AND h.service = e.service"""
  }

  /** A5-at-scale — the sliding-window percentile with BOUNDED state: the
    * histogram sketch of [[histQuantile]] pushed through the sliding
    * window by fan-out instead of sorted-list materialization.
    *
    * [[slidingStats]] is exact-parity but each output row materializes
    * the window's every value (`flatten(collect_list)` over 30 buckets)
    * — O(window·values) per row, the honest cost of exact percentiles.
    * Here each non-empty (key, bucket, bin) count row is exploded to the
    * `windowN` window positions it contributes to, then re-aggregated —
    * the standard sparse-window-as-fan-out: linear in non-zero histogram
    * cells × windowN, with O(range/binW) integers per (key, window)
    * regardless of event volume. All-integer counts ⇒ exact cross-engine
    * parity with no ordered folds.
    *
    * Shuffles: bin-count groupBy (map-side combinable), post-fan-out
    * groupBy, per-(key,window) cumulative window + argmin agg — all keyed
    * on (server, service[, w]); no collect, no arrays.
    */
  def slidingHistQuantile(spark: SparkSession, sfDir: String,
      intervalMs: Long = 600000L, windowN: Int = 30,
      binW: Double = 4.0): DataFrame = {
    val tx = Tables.txBase(spark, sfDir)
    val binned = tx
      .withColumn("bucket", expr(s"end_ms div $intervalMs"))
      .withColumn("bin", floor(col("elapsed") / lit(binW)).cast("long"))
      .groupBy("server", "service", "bucket", "bin")
      .agg(count(lit(1)).as("cnt"))
    val range = tx.agg(
      expr(s"min(end_ms div $intervalMs)").as("mnb"),
      expr(s"max(end_ms div $intervalMs)").as("mxb"))
    // fan each cell to the windowN trailing window positions it feeds,
    // clipped to the observed bucket range.
    // (r14 note: a collect_list-per-(key,w) + native-kernel variant —
    // one exchange instead of two, no global sort — was measured 45%
    // SLOWER in wall despite 33% less CPU: the ObjectHashAggregate's
    // per-group array state loses to these codegen'd primitive
    // aggregations + window passes. Kept the window shape.)
    val fanned = binned.crossJoin(broadcast(range))
      .select(col("server"), col("service"), col("bin"), col("cnt"),
        explode(sequence(col("bucket"),
          least(col("bucket") + (windowN - 1), col("mxb")))).as("w"))
      .groupBy("server", "service", "w", "bin")
      .agg(sum(col("cnt")).as("wcnt"))
    val wCum = Window.partitionBy("server", "service", "w").orderBy("bin")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val wAll = Window.partitionBy("server", "service", "w")
    def approxBin(p: Double) = min(when(
      col("cum").cast("double") >= lit(p) * col("n").cast("double"),
      col("bin")))
    def mid(b: org.apache.spark.sql.Column) =
      (b.cast("double") + lit(0.5)) * lit(binW)
    fanned
      .withColumn("cum", sum(col("wcnt")).over(wCum))
      .withColumn("n", sum(col("wcnt")).over(wAll))
      .groupBy("server", "service", "w")
      .agg(max(col("n")).as("n"),
        mid(approxBin(0.75)).as("approx75"),
        mid(approxBin(0.95)).as("approx95"))
      .select(col("server"), col("service"),
        (col("w") * intervalMs).as("ts_ms"), col("n"),
        col("approx75"), col("approx95"))
  }

  def slidingHistQuantileSql(intervalMs: Long = 600000L, windowN: Int = 30,
      binW: Double = 4.0): String = {
    def approx(p: String) =
      s"""(CAST(min(CASE WHEN CAST(cum AS DOUBLE) >= $p * CAST(n AS DOUBLE)
          THEN bin END) AS DOUBLE) + 0.5) * $binW"""
    s"""WITH binned AS (
          SELECT server, service, end_ms // $intervalMs AS bucket,
            CAST(floor(elapsed / $binW) AS BIGINT) AS bin,
            count(*) AS cnt
          FROM (${Tables.txBaseSql})
          GROUP BY 1, 2, 3, 4),
        rng AS (
          SELECT max(end_ms // $intervalMs) AS mxb FROM (${Tables.txBaseSql})),
        fanned AS (
          SELECT server, service, w, bin, CAST(sum(cnt) AS BIGINT) AS wcnt
          FROM (
            SELECT server, service, bin, cnt,
              unnest(range(bucket, least(bucket + $windowN, mxb + 1))) AS w
            FROM binned, rng)
          GROUP BY 1, 2, 3, 4),
        cumed AS (
          SELECT server, service, w, bin, wcnt,
            CAST(sum(wcnt) OVER (PARTITION BY server, service, w ORDER BY bin
              ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum,
            CAST(sum(wcnt) OVER (PARTITION BY server, service, w)
              AS BIGINT) AS n
          FROM fanned)
        SELECT server, service, w * $intervalMs AS ts_ms, max(n) AS n,
          ${approx("0.75")} AS approx75,
          ${approx("0.95")} AS approx95
        FROM cumed
        GROUP BY server, service, w"""
  }

  /** A11 — gap-fill by last-observation-carried-forward over the dense
    * bucket scaffold: quiet intervals inherit the key's most recent
    * observed mean (the standard time-series imputation for downstream
    * models that cannot take NULLs), with `is_filled` provenance and the
    * fill's age in buckets. The per-bucket mean is the ordered fold over
    * the bucket's sorted values ([[RefStats.arrayMean]]) so both engines
    * agree bitwise; the carry itself moves values, not recomputations.
    *
    * Scale: the scaffold is |keys| x |buckets| (independent of event
    * volume); ONE shuffle on the key, one sort, two last-non-null
    * windows sharing the frame.
    */
  def locfFill(spark: SparkSession, sfDir: String,
      intervalMs: Long = 600000L): DataFrame =
    locfFillFrom(Tables.txBase(spark, sfDir), intervalMs)

  def locfFillFrom(tx: DataFrame, intervalMs: Long): DataFrame = {
    val w = Window.partitionBy("server", "service").orderBy("bucket")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    denseBucketsFrom(tx, intervalMs)
      .withColumn("obs_avg",
        when(col("cnt") > 0, RefStats.arrayMean(col("vals"))))
      .withColumn("obs_bucket", when(col("cnt") > 0, col("bucket")))
      .select(col("server"), col("service"),
        (col("bucket") * intervalMs).as("ts_ms"), col("cnt"),
        col("obs_avg"),
        last(col("obs_avg"), ignoreNulls = true).over(w).as("filled_avg"),
        (col("cnt") === 0 &&
          last(col("obs_avg"), ignoreNulls = true).over(w).isNotNull)
          .cast("int").as("is_filled"),
        (col("bucket") -
          last(col("obs_bucket"), ignoreNulls = true).over(w)).as("fill_age"))
  }

  def locfFillSql(intervalMs: Long = 600000L): String = {
    val mean = RefStats.arrayMeanSql("vals")
    s"""SELECT server, service, bucket * $intervalMs AS ts_ms,
          CAST(cnt AS BIGINT) AS cnt, obs_avg,
          last_value(obs_avg IGNORE NULLS) OVER w AS filled_avg,
          CAST(cnt = 0 AND last_value(obs_avg IGNORE NULLS) OVER w
            IS NOT NULL AS INT) AS is_filled,
          bucket - last_value(obs_bucket IGNORE NULLS) OVER w AS fill_age
        FROM (
          SELECT server, service, bucket, cnt,
            CASE WHEN cnt > 0 THEN $mean END AS obs_avg,
            CASE WHEN cnt > 0 THEN bucket END AS obs_bucket
          FROM (${denseBucketsSql(intervalMs)}))
        WINDOW w AS (PARTITION BY server, service ORDER BY bucket
                     ROWS UNBOUNDED PRECEDING)"""
  }

  def slidingStatsSql(intervalMs: Long = 600000L, windowN: Int = 30): String = {
    val tpmDen = windowN * (intervalMs / 1000.0) / 60.0
    val p75 = RefStats.refPercentileSql("sorted", "0.75")
    val p95 = RefStats.refPercentileSql("sorted", "0.95")
    val mean = RefStats.arrayMeanSql("sorted")
    s"""SELECT server, service, bucket*$intervalMs AS ts_ms,
          CAST(n AS BIGINT) AS n,
          n/$tpmDen AS tpm,
          $mean AS average,
          $p75 AS per75,
          $p95 AS per95
        FROM (
          SELECT server, service, bucket,
            sum(cnt) OVER w AS n,
            list_sort(flatten(list(vals) OVER w)) AS sorted
          FROM (${denseBucketsSql(intervalMs)})
          WINDOW w AS (PARTITION BY server, service ORDER BY bucket
                       ROWS BETWEEN ${windowN - 1} PRECEDING AND CURRENT ROW))"""
  }

  /** A12 — seasonal decomposition of the per-key volume series into
    * trend + daily-seasonal + residual, the classical additive model
    * capacity planning and anomaly baselining use (the z-score family
    * detects DEVIATIONS; this names the structure they deviate FROM:
    * "is Tuesday 14:00 always like this, or is today's trend shifted?").
    *
    *  - trend: trailing `period`-bucket moving average of the dense
    *    bucket counts (full windows only — warm-up rows are dropped,
    *    not emitted half-defined);
    *  - seasonal: per (key, phase = bucket mod period) mean of the
    *    detrended series;
    *  - residual: what neither explains.
    *
    * Float-parity design: every sum stays INTEGER until the final
    * division — trend keeps its numerator (a windowed count sum),
    * detrended = period*cnt - trend_num is exact, and the seasonal mean
    * divides one integer sum — so both engines hash-match without any
    * ordered-fold machinery. Scale: the scaffold is |keys| x |buckets|;
    * the seasonal mean is a SECOND window pass (partition (key, phase),
    * unbounded frame) rather than an agg + join back — an agg'd frame
    * joined to its own source gets no subtree reuse from Catalyst, so
    * the join formulation scanned and windowed the scaffold twice.
    * Two keyed shuffles total, each row touched once per pass.
    */
  def seasonalDecompose(spark: SparkSession, sfDir: String,
      intervalMs: Long = 600000L, period: Int = 144): DataFrame = {
    val dense = denseBuckets(spark, sfDir, intervalMs)
      .select("server", "service", "bucket", "cnt")
    val wKey = Window.partitionBy("server", "service").orderBy("bucket")
    val wPhase = Window.partitionBy("server", "service", "phase")
    val full = dense
      .withColumn("trend_num",
        sum(col("cnt")).over(wKey.rowsBetween(-(period - 1), Window.currentRow)))
      .withColumn("rn", row_number().over(wKey))
      .filter(col("rn") >= period)
      .withColumn("phase", pmod(col("bucket"), lit(period.toLong)))
      .withColumn("det_num", lit(period.toLong) * col("cnt") - col("trend_num"))
      .withColumn("s_num", sum(col("det_num")).over(wPhase))
      .withColumn("s_cnt", count(lit(1)).over(wPhase))
    val trend = col("trend_num").cast("double") / lit(period.toDouble)
    val seas = col("s_num").cast("double") /
      (lit(period.toDouble) * col("s_cnt"))
    full.select(col("server"), col("service"),
      (col("bucket") * intervalMs).as("ts_ms"), col("cnt"),
      trend.as("trend"), seas.as("seasonal"),
      ((col("cnt").cast("double") - trend) - seas).as("resid"))
  }

  /** a13 — Holt DOUBLE-EXPONENTIAL smoothing (level + trend) over the
    * per-key dense traffic series: the forecast-based anomaly primitive
    * (one step ahead: forecast_t = level_{t-1} + trend_{t-1}; err = y -
    * forecast is the residual an alert rule thresholds). The recursion
    *   l_t = a*y_t + (1-a)*(l_{t-1} + b_{t-1})
    *   b_t = B*(l_t - l_{t-1}) + (1-B)*b_{t-1}
    * is inherently ordered, so the engine side is one typed linear pass
    * per key (groupByKey + flatMapGroups: sort the key's dense series,
    * run the recurrence once, emit every step) — the first draft used
    * the z2_fold expression idiom but accumulated its output rows with
    * array-concat, which is O(steps^2) copying and measured 40 s at the
    * 10x probe; the typed pass is O(steps) with the IDENTICAL fp
    * operation sequence. The oracle replays the SAME recursion as a
    * recursive CTE (the zScoreFoldSql idiom), so the gate checks every
    * step, not just the final state. a and B default to exactly-
    * representable binaries (0.5, 0.25) and both sides evaluate the
    * identical expression order, so the double sequences match
    * bit-for-bit (the spec pins exact equality against a sequential
    * reference).
    *
    * Scale shape: one shuffle to the (server, service) key, state per
    * key is the series itself (bounded: buckets in the retention
    * window), embarrassingly parallel across keys — the same contract
    * as a12.
    */
  def holtForecast(spark: SparkSession, sfDir: String,
      intervalMs: Long = 3600000L, alpha: Double = 0.5,
      beta: Double = 0.25): DataFrame = {
    import spark.implicits._
    val dense = denseBuckets(spark, sfDir, intervalMs)
      .select(col("server"), col("service"), col("bucket"), col("cnt"))
      .as[(String, String, Long, Long)]
    dense.groupByKey(t => (t._1, t._2))
      .flatMapGroups { (key: (String, String),
          rows: Iterator[(String, String, Long, Long)]) =>
        val (srv, svc) = key
        val series = rows.map(t => (t._3, t._4)).toArray.sortBy(_._1)
        if (series.length < 2) Iterator.empty
        else {
          var l = series(0)._2.toDouble
          var b = series(1)._2.toDouble - series(0)._2.toDouble
          series.iterator.drop(1).map { case (bucket, cnt) =>
            val y = cnt.toDouble
            val f = l + b
            val l1 = alpha * y + (1 - alpha) * f
            val b1 = beta * (l1 - l) + (1 - beta) * b
            l = l1; b = b1
            (srv, svc, bucket * intervalMs, y, f, y - f, l1, b1)
          }
        }
      }
      .toDF("server", "service", "ts_ms", "y", "forecast", "err",
        "level", "trend")
  }

  def holtForecastSql(intervalMs: Long = 3600000L, alpha: Double = 0.5,
      beta: Double = 0.25): String = {
    def d(x: Double) = s"CAST($x AS DOUBLE)"
    s"""WITH RECURSIVE
        dense AS (
          SELECT server, service, bucket, CAST(cnt AS BIGINT) AS cnt
          FROM (${denseBucketsSql(intervalMs)})),
        ser AS MATERIALIZED (
          SELECT server, service, bucket, cnt,
            row_number() OVER (PARTITION BY server, service
                               ORDER BY bucket) AS t
          FROM dense),
        init AS (
          SELECT a.server, a.service, CAST(a.cnt AS DOUBLE) AS l,
            CAST(b.cnt AS DOUBLE) - CAST(a.cnt AS DOUBLE) AS b
          FROM ser a JOIN ser b
            ON a.server = b.server AND a.service = b.service
           AND a.t = 1 AND b.t = 2),
        step AS (
          SELECT server, service, CAST(1 AS BIGINT) AS t,
            CAST(NULL AS BIGINT) AS bucket, CAST(NULL AS DOUBLE) AS y,
            CAST(NULL AS DOUBLE) AS forecast, l, b
          FROM init
          UNION ALL
          SELECT server, service, t, bucket, y, forecast,
            l1 AS l, ${d(beta)} * (l1 - l0) + ${d(1 - beta)} * b0 AS b
          FROM (
            SELECT k.server, k.service, k.t, k.bucket,
              CAST(k.cnt AS DOUBLE) AS y, s.l + s.b AS forecast,
              ${d(alpha)} * CAST(k.cnt AS DOUBLE) +
                ${d(1 - alpha)} * (s.l + s.b) AS l1,
              s.l AS l0, s.b AS b0
            FROM step s JOIN ser k
              ON k.server = s.server AND k.service = s.service
             AND k.t = s.t + 1))
        SELECT server, service, bucket * $intervalMs AS ts_ms, y,
          forecast, y - forecast AS err, l AS level, b AS trend
        FROM step WHERE t >= 2"""
  }

  def seasonalDecomposeSql(intervalMs: Long = 600000L,
      period: Int = 144): String =
    s"""WITH dense AS (
          SELECT server, service, bucket, CAST(cnt AS BIGINT) AS cnt
          FROM (${denseBucketsSql(intervalMs)})),
        win AS (
          SELECT server, service, bucket, cnt,
            CAST(sum(cnt) OVER w AS BIGINT) AS trend_num,
            row_number() OVER (PARTITION BY server, service
                               ORDER BY bucket) AS rn,
            bucket % $period AS phase
          FROM dense
          WINDOW w AS (PARTITION BY server, service ORDER BY bucket
                       ROWS BETWEEN ${period - 1} PRECEDING AND CURRENT ROW)),
        f AS (
          SELECT *, $period * cnt - trend_num AS det_num
          FROM win WHERE rn >= $period),
        g AS (
          SELECT *,
            CAST(sum(det_num) OVER wp AS BIGINT) AS s_num,
            count(*) OVER wp AS s_cnt
          FROM f
          WINDOW wp AS (PARTITION BY server, service, phase))
        SELECT server, service, bucket * $intervalMs AS ts_ms, cnt,
          CAST(trend_num AS DOUBLE) / ${period.toDouble} AS trend,
          CAST(s_num AS DOUBLE) / (${period.toDouble} * s_cnt) AS seasonal,
          (CAST(cnt AS DOUBLE) -
             CAST(trend_num AS DOUBLE) / ${period.toDouble}) -
            CAST(s_num AS DOUBLE) / (${period.toDouble} * s_cnt) AS resid
        FROM g"""
}
