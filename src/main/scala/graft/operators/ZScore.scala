package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.functions.RefStats

/** Smoothed z-score anomaly detection — the reference's
  * `stream_calc_z_score.js` (SURVEY.md §2.5) re-expressed Spark-first.
  *
  * The reference applies the classic lag/threshold/influence "robust peak
  * detection" independently to 3 metrics (average, per75, per95) per
  * (server, service, lag), fanning one input stat row out to one output
  * row per configured lag (Z5).
  *
  * Two variants:
  *  - [[zScoreWindowed]] — the *stateless* z-score: avg / population-stddev
  *    over the `lag` previous raw metric values
  *    (`Window.rowsBetween(-lag, -1)`). Pure window functions -> fully
  *    SQL-expressible, DuckDB-verified. Replicates the reference quirks:
  *    stats only once `lag` prior rows exist (list-length check incl.
  *    undefined entries -> count(*) not count(metric)); sd "0 => undefined"
  *    (stream_calc_z_score.js:66-104, util_methods.js:26-50) so a constant
  *    series never signals; null metric => signal 0 but still occupies a
  *    list slot.
  *  - [[zScoreFold]] — the *faithful* reference semantics including
  *    influence feedback (on signal, the stored value becomes
  *    `influence*x + (1-influence)*prev` — a sequential per-key recurrence,
  *    stream_calc_z_score.js:95-97,301-305). Ordered per-key fold whose
  *    step, [[MetricWindow]], the streaming graph's stage 2 runs too;
  *    property-tested against the direct port in [[RefStats.zScoreStepRef]]
  *    and checked by the DuckDB recurrence of [[zScoreFoldSql]].
  *
  * Scale notes: the windowed variant is one shuffle on (server, service) —
  * every lag's frame aggregations run in one window-pass chain over one
  * sort (same partition and order, different frames), and the lag fan-out
  * is an explode over per-lag structs, so the stats input is evaluated
  * exactly once regardless of |lags| (r15; the former union-of-branches
  * re-evaluated the whole upstream stats subtree per lag). The fold
  * variant shuffles once on (server, service) and streams each key's
  * rows through one fixed-size ring per lag and metric (O(lag) memory
  * per key, not O(history)).
  */
object ZScore {

  /** (lag, threshold, influence) — interval-count lags; the reference uses
    * 360 (1 h of 10 s) and 8640 (1 d) with thresholds 5/3.5
    * (config/apm_config.json:126-151). Registered queries use the same
    * wall-clock horizons expressed in the 10-minute test interval.
    */
  case class LagCfg(lag: Int, threshold: Double, influence: Double)
  val defaultLags: Seq[LagCfg] = Seq(LagCfg(6, 3.5, 0.5), LagCfg(144, 5.0, 0.0))

  /** Z1 — per-(service, lag) settings override
    * (stream_calc_z_score.js:106-132, config/apm_config.json:152-172).
    * The reference resolves these by MUTATING the shared defaults object
    * (`const settings = ZSCORECONFIG.defaults` aliases, not copies — the
    * config-leak bug SURVEY §2.5 flags); here the resolution is functional:
    * a broadcast override table joined on (service, lag), `coalesce`d with
    * the lag's defaults. None = inherit the default for that field.
    */
  case class ZOverride(service: String, lag: Int,
      threshold: Option[Double] = None, influence: Option[Double] = None)

  private val metrics = Seq("average", "per75", "per95")

  /** Stateless windowed z-score over a stats frame (columns: server,
    * service, ts_ms, tpm, average, per75, per95). One output row per
    * (input row x lag).
    *
    * Shape (r15): the per-lag outputs are STACKED (explode over an array
    * of per-lag structs), not unioned — a union of per-lag branches
    * physically duplicates the entire upstream stats subtree per lag
    * (exchange reuse dedups only up to the repartition exchange; the
    * expensive flatten-sort-percentile window above it re-ran per
    * branch: z2_zscore_win measured ≈ 2 x a5_sliding_stats). With the
    * stack, the stats frame is evaluated ONCE and all lags' frame lists
    * come from one WindowExec chain over one sort (same partition and
    * order, different frames — no extra exchange). Guide §2.4. Row SET
    * is identical to the former union (the driver compares sorted).
    */
  def zScoreWindowed(stats: DataFrame, lags: Seq[LagCfg] = defaultLags,
      overrides: Seq[ZOverride] = Nil): DataFrame = {
    // the staged per-lag column names key on the lag value (the former
    // union-per-lag shape tolerated duplicates; the stack cannot)
    require(lags.map(_.lag).distinct.size == lags.size,
      s"zScoreWindowed requires distinct lag values, got ${lags.map(_.lag)}")
    val spark = stats.sparkSession
    import spark.implicits._
    val base = Seq(col("server"), col("service"), col("ts_ms"),
      col("tpm"), col("average"), col("per75"), col("per95"))
    // Mean and population variance as ordered folds over the frame's
    // defined values (frame order = ts order on both engines) — exactly
    // the reference's two-pass formula. This is deliberate: engine-
    // native var_pop differs (DuckDB's naive E[x^2]-E[x]^2 leaves tiny
    // nonzero variance on constant windows, breaking the "0 =>
    // undefined" quirk; and incremental window avgs differ in final
    // ulps, breaking rounding parity).
    // stage 1: EVERY lag's frame lists (nulls skipped, frame-ordered) +
    // frame count — one window pass chain, one sort
    val staged = stats.select(base ++ lags.flatMap { cfg =>
      val w = Window.partitionBy("server", "service").orderBy("ts_ms")
        .rowsBetween(-cfg.lag, -1)
      count(lit(1)).over(w).as(s"cnt_${cfg.lag}") +:
        metrics.map(m => collect_list(col(m)).over(w).as(s"lst_${m}_${cfg.lag}"))
    }: _*)
    // stage 2: per-(lag, metric) two-pass (mean, msq) in ONE evaluation
    // via the native ArrayStats expression — see its scaladoc for why a
    // HOF-fold formulation here is O(lag^2) per row after optimizer
    // inlining.
    val withMm = staged.select(base ++ lags.flatMap { cfg =>
      col(s"cnt_${cfg.lag}") +: metrics.map(m =>
        graft.functions.ArrayStats.array_stats(col(s"lst_${m}_${cfg.lag}"))
          .as(s"mm_${m}_${cfg.lag}"))
    }: _*)
    // stage 3: gated avg/sd as attributes (per lag)
    val withAvgSd = withMm.select(base ++ lags.flatMap { cfg =>
      metrics.flatMap { m =>
        val mm = col(s"mm_${m}_${cfg.lag}")
        val cnt = col(s"cnt_${cfg.lag}")
        Seq(
          when(cnt >= cfg.lag, mm.getField("mean")).as(s"avgw_${m}_${cfg.lag}"),
          when(cnt >= cfg.lag,
            sqrt(nullif(mm.getField("msq"), lit(0.0)))).as(s"sdw_${m}_${cfg.lag}"))
      }
    }: _*)
    // stage 4: stack the lags — one struct per lag, exploded to rows
    val lagStruct = (cfg: LagCfg) => struct(
      lit(cfg.lag).as("lag") +: metrics.flatMap(m => Seq(
        col(s"avgw_${m}_${cfg.lag}").as(s"avgw_$m"),
        col(s"sdw_${m}_${cfg.lag}").as(s"sdw_$m"))): _*)
    val stacked = withAvgSd
      .select(base :+ explode(array(lags.map(lagStruct): _*)).as("z"): _*)
      .select(base ++ Seq(col("z.lag").as("lag")) ++ metrics.flatMap(m =>
        Seq(col(s"z.avgw_$m").as(s"avgw_$m"), col(s"z.sdw_$m").as(s"sdw_$m"))): _*)
    // Z1: per-(service, lag) threshold — broadcast override join
    // (no-op projection when no override carries a threshold)
    val thrOvr = overrides.filter(_.threshold.isDefined)
      .map(o => (o.service, o.lag, o.threshold.get))
    val defaultThr = lags.tail.foldLeft(
        when(col("lag") === lags.head.lag, lit(lags.head.threshold))) {
      (acc, cfg) => acc.when(col("lag") === cfg.lag, lit(cfg.threshold))
    }
    val withThr =
      if (thrOvr.isEmpty) stacked.withColumn("thr", defaultThr)
      else stacked
        .join(broadcast(thrOvr.toDF("service", "lag", "thr_ovr")),
          Seq("service", "lag"), "left")
        .withColumn("thr", coalesce(col("thr_ovr"), defaultThr))
    // stage 5: z-score outputs from cheap attribute refs
    val zCols = metrics.flatMap { m =>
      val x = col(m)
      val avgW = col(s"avgw_$m")
      val sdW = col(s"sdw_$m")
      val t = col("thr")
      val signal = when(avgW.isNotNull && sdW.isNotNull && x.isNotNull &&
          abs(x - avgW) > t * sdW,
        when(x > avgW, 1).otherwise(-1)).otherwise(0)
      Seq(
        avgW.as(s"${m}_avg"),
        (avgW - t * sdW).as(s"${m}_lb"),
        (avgW + t * sdW).as(s"${m}_ub"),
        signal.as(s"${m}_signal"))
    }
    withThr.select(
      Seq(col("server"), col("service"), col("ts_ms"),
        col("lag"), col("tpm"),
        col("average"), col("per75"), col("per95")) ++ zCols: _*)
  }

  /** DuckDB oracle for [[zScoreWindowed]]: `statsSql` must produce the same
    * stats frame. Same union-per-lag shape, same arithmetic.
    */
  def zScoreWindowedSql(statsSql: String, lags: Seq[LagCfg] = defaultLags,
      overrides: Seq[ZOverride] = Nil): String = {
    val perLag = lags.map { cfg =>
      val lagOvr = overrides.filter(o => o.lag == cfg.lag && o.threshold.isDefined)
      val zCols = metrics.map { m =>
        // Same ordered-fold mean/msq as the Spark side (see
        // zScoreWindowed): bit-identical across engines.
        val mean = s"CASE WHEN len(lst_$m) > 0 THEN ${RefStats.foldSumSql(s"lst_$m")} / CAST(len(lst_$m) AS DOUBLE) END"
        val msq = s"""CASE WHEN len(lst_$m) > 0 THEN
            ${RefStats.foldSumSql(s"list_transform(lst_$m, v -> (v - ($mean)) * (v - ($mean)))")}
              / CAST(len(lst_$m) AS DOUBLE) END"""
        val avgW = s"CASE WHEN cnt >= ${cfg.lag} THEN ($mean) END"
        val sdW  = s"CASE WHEN cnt >= ${cfg.lag} THEN sqrt(nullif($msq, 0.0)) END"
        val t =
          if (lagOvr.isEmpty) cfg.threshold.toString
          else s"coalesce(thr_ovr, ${cfg.threshold})"
        s"""($avgW) AS ${m}_avg,
           ($avgW) - $t*($sdW) AS ${m}_lb,
           ($avgW) + $t*($sdW) AS ${m}_ub,
           CASE WHEN ($avgW) IS NOT NULL AND ($sdW) IS NOT NULL
                 AND $m IS NOT NULL AND abs($m - ($avgW)) > $t*($sdW)
                THEN CASE WHEN $m > ($avgW) THEN 1 ELSE -1 END
                ELSE 0 END AS ${m}_signal"""
      }.mkString(",\n")
      val ovrJoin =
        if (lagOvr.isEmpty) ""
        else {
          val tbl = lagOvr.map(o =>
            s"SELECT '${o.service}' AS service, CAST(${o.threshold.get} AS DOUBLE) AS thr_ovr")
            .mkString(" UNION ALL ")
          s"LEFT JOIN ($tbl) o ON z.service = o.service"
        }
      s"""SELECT z.server, z.service, ts_ms, ${cfg.lag} AS lag, tpm,
            average, per75, per95, $zCols
          FROM (
            SELECT server, service, ts_ms, tpm, average, per75, per95,
              count(*) OVER w AS cnt,
              list_filter(list(average) OVER w, v -> v IS NOT NULL) AS lst_average,
              list_filter(list(per75) OVER w, v -> v IS NOT NULL) AS lst_per75,
              list_filter(list(per95) OVER w, v -> v IS NOT NULL) AS lst_per95
            FROM ($statsSql)
            WINDOW w AS (PARTITION BY server, service ORDER BY ts_ms
                         ROWS BETWEEN ${cfg.lag} PRECEDING AND 1 PRECEDING)) z
          $ovrJoin"""
    }
    perLag.mkString(" UNION ALL ")
  }

  /** DuckDB oracle for [[zScoreFold]] — the influence-feedback recurrence
    * (stream_calc_z_score.js:66-104,301-305) expressed as a recursive CTE.
    *
    * The recursion advances all (server, service) keys x lags in lockstep
    * over `rn = row_number() ... ORDER BY ts_ms`, carrying one bounded
    * window per metric as a LIST of STRUCT(v DOUBLE, d BOOLEAN) — the
    * queue of *influenced* values including undefined slots, exactly
    * [[MetricWindow]]'s (vals, defd) ring. Every double op mirrors the
    * Scala fold's expression tree (left-fold sums via list_reduce, msq as
    * a second pass over (v-mean)^2, lb/ub as mean -+ thr*sd, influence as
    * infl*x + (1-infl)*last) so results are bit-identical, per the
    * float-parity policy. Stats emit only once len(window) >= lag
    * (undefined slots count — the reference's list-length gate), sd is
    * undefined when msq == 0 (the constant-series quirk), and the dequeue
    * keeps the window at exactly `lag` entries thereafter.
    */
  def zScoreFoldSql(statsSql: String, lags: Seq[LagCfg] = defaultLags,
      overrides: Seq[ZOverride] = Nil): String = {
    val lagRows = lags.map(c =>
      s"SELECT ${c.lag} AS lag, CAST(${c.threshold} AS DOUBLE) AS thr0, " +
      s"CAST(${c.influence} AS DOUBLE) AS infl0").mkString(" UNION ALL ")
    def ovrCase(sel: ZOverride => Option[Double], dflt: String): String = {
      val arms = overrides.flatMap(o => sel(o).map(v =>
        s"WHEN b.service = '${o.service}' AND l.lag = ${o.lag} THEN CAST($v AS DOUBLE)"))
      if (arms.isEmpty) dflt else s"CASE ${arms.mkString(" ")} ELSE $dflt END"
    }
    val thrSel = ovrCase(_.threshold, "l.thr0")
    val inflSel = ovrCase(_.influence, "l.infl0")
    // Short per-metric ids: a=average, p=per75, q=per95.
    val ms = Seq("a" -> "average", "p" -> "per75", "q" -> "per95")
    def push(x: String) =
      s"struct_pack(v := coalesce($x, 0.0), d := $x IS NOT NULL)"
    // anchor row (rn=1): empty window -> no stats, push the raw value
    val anchorOut = ms.map { case (_, m) =>
      s"""CAST(NULL AS DOUBLE) AS ${m}_avg, CAST(NULL AS DOUBLE) AS ${m}_lb,
          CAST(NULL AS DOUBLE) AS ${m}_ub, 0 AS ${m}_signal""" }.mkString(", ")
    val anchorWin = ms.map { case (i, m) => s"[${push(m)}] AS w_$i" }.mkString(", ")
    // recursive arm, innermost-out: join -> defined lists -> means -> msq
    // -> sd/signal/influenced -> outputs + window update
    val defs = ms.map { case (i, _) =>
      s"list_transform(list_filter(w_$i, e -> e.d), e -> e.v) AS def_$i" }.mkString(", ")
    val means = ms.map { case (i, _) =>
      s"""CASE WHEN len(def_$i) > 0 THEN ${RefStats.foldSumSql(s"def_$i")}
          / CAST(len(def_$i) AS DOUBLE) END AS mean_$i""" }.mkString(", ")
    val msqs = ms.map { case (i, _) =>
      s"""CASE WHEN len(def_$i) > 0 THEN ${RefStats.foldSumSql(
            s"list_transform(def_$i, v -> (v - mean_$i) * (v - mean_$i))")}
          / CAST(len(def_$i) AS DOUBLE) END AS msq_$i""" }.mkString(", ")
    val sds = ms.map { case (i, _) =>
      s"""CASE WHEN len(w_$i) >= lag AND msq_$i IS NOT NULL AND msq_$i <> 0.0
          THEN sqrt(msq_$i) END AS sd_$i""" }.mkString(", ")
    val sigs = ms.map { case (i, m) =>
      s"""CASE WHEN sd_$i IS NOT NULL AND $m IS NOT NULL
               AND abs($m - mean_$i) > thr * sd_$i
          THEN CASE WHEN $m > mean_$i THEN 1 ELSE -1 END ELSE 0 END AS sig_$i""" }.mkString(", ")
    val infls = ms.map { case (i, m) =>
      s"""CASE WHEN sig_$i <> 0 AND w_$i[len(w_$i)].d
          THEN struct_pack(v := infl * $m + (1.0 - infl) * w_$i[len(w_$i)].v,
                           d := TRUE)
          ELSE ${push(m)} END AS nv_$i""" }.mkString(", ")
    val recOut = ms.map { case (i, m) =>
      s"""CASE WHEN len(w_$i) >= lag THEN mean_$i END AS ${m}_avg,
          CASE WHEN len(w_$i) >= lag AND sd_$i IS NOT NULL
            THEN mean_$i - thr * sd_$i END AS ${m}_lb,
          CASE WHEN len(w_$i) >= lag AND sd_$i IS NOT NULL
            THEN mean_$i + thr * sd_$i END AS ${m}_ub,
          sig_$i AS ${m}_signal""" }.mkString(", ")
    val recWin = ms.map { case (i, _) =>
      s"""list_append(CASE WHEN len(w_$i) >= lag THEN w_$i[2:] ELSE w_$i END,
          nv_$i) AS w_$i""" }.mkString(", ")
    val carry = "server, service, lag, thr, infl, rn, ts_ms, tpm, average, per75, per95"
    s"""WITH RECURSIVE
        keyed AS MATERIALIZED (
          SELECT b.server, b.service, l.lag, $thrSel AS thr, $inflSel AS infl,
            b.rn, b.ts_ms, b.tpm, b.average, b.per75, b.per95
          FROM (SELECT server, service, ts_ms, tpm, average, per75, per95,
                  row_number() OVER (PARTITION BY server, service
                                     ORDER BY ts_ms) AS rn
                FROM ($statsSql)) b
          CROSS JOIN ($lagRows) l),
        step AS (
          SELECT $carry, $anchorOut, $anchorWin
          FROM keyed WHERE rn = 1
          UNION ALL
          SELECT $carry, $recOut, $recWin
          FROM (
            SELECT *, $sigs, $infls
            FROM (
              SELECT *, $sds
              FROM (
                SELECT *, $msqs
                FROM (
                  SELECT *, $means
                  FROM (
                    SELECT s.w_a, s.w_p, s.w_q, k.server, k.service, k.lag,
                      k.thr, k.infl, k.rn, k.ts_ms, k.tpm, k.average,
                      k.per75, k.per95, $defs
                    FROM step s JOIN keyed k
                      ON k.server = s.server AND k.service = s.service
                     AND k.lag = s.lag AND k.rn = s.rn + 1))))))
        SELECT server, service, ts_ms, lag, tpm, average, per75, per95,
          average_avg, average_lb, average_ub, average_signal,
          per75_avg, per75_lb, per75_ub, per75_signal,
          per95_avg, per95_lb, per95_ub, per95_signal
        FROM step"""
  }

  /** O(1)-state windowed z-score over per-bucket traffic VOLUME — the
    * constant-state scale path for anomaly detection.
    *
    * [[zScoreWindowed]] is exact-parity with the reference but carries the
    * window's raw values per row (`collect_list` over the frame): O(lag)
    * state and O(lag) work per output row — at the reference's 8640-bucket
    * day lag that is 8640 doubles materialized per (key, bucket, metric).
    * When the monitored metric is an integer COUNT, the same mean/σ window
    * reduces to differences of two running integer prefix sums
    * (Σx, Σx²): O(1) state and O(1) work per row, and — because integer
    * addition is exact in any order — bit-identical across engines with no
    * ordered-fold machinery. This is the shape that survives lag=86400.
    *
    * Semantics mirror [[zScoreWindowed]] on the per-bucket count series of
    * the dense scaffold (zero-count buckets included): stats gate on a full
    * `lag` prior buckets, population σ over the window, σ==0 ⇒ undefined
    * (constant series never signals — the util_methods.js:26-50 quirk),
    * signal ±1 when |n − mean| > threshold·σ.
    *
    * Numerics: winSum/winSumSq are exact BIGINTs; mean = winSum/lag and
    * msq = (winSumSq − winSum²/lag)/lag evaluate the same expression tree
    * on both engines. msq can round slightly negative only once winSum²
    * exceeds 2^53 (≈9·10^15 — a per-window event count of ~95 M); the
    * `msq > 0` gate subsumes that guard and the σ==0 quirk in one test.
    *
    * Scale: ONE shuffle on (server, service), one sort per key, window
    * functions only — no arrays, no folds, whole-stage codegen throughout.
    */
  def volumeZScorePrefix(tx: DataFrame, intervalMs: Long,
      lags: Seq[LagCfg] = defaultLags): DataFrame = {
    val dense = ApmStats.denseBucketsFrom(tx, intervalMs)
      .select(col("server"), col("service"), col("bucket"), col("cnt"))
    val wAll = Window.partitionBy("server", "service").orderBy("bucket")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val staged = dense
      .withColumn("rn", row_number().over(
        Window.partitionBy("server", "service").orderBy("bucket")))
      .withColumn("cum", sum(col("cnt")).over(wAll))
      .withColumn("cumsq", sum(col("cnt") * col("cnt")).over(wAll))
    val wOrd = Window.partitionBy("server", "service").orderBy("bucket")
    val perLag = lags.map { cfg =>
      val L = cfg.lag
      // window [-L,-1] sums via prefix differences; gate rn > L ensures
      // both lag() lookbacks exist (lag(cum, L+1) defaults to 0 for the
      // first full window, whose frame starts at the partition head)
      val ws = when(col("rn") > L,
        lag(col("cum"), 1).over(wOrd) -
          coalesce(lag(col("cum"), L + 1).over(wOrd), lit(0L)))
      val wsq = when(col("rn") > L,
        lag(col("cumsq"), 1).over(wOrd) -
          coalesce(lag(col("cumsq"), L + 1).over(wOrd), lit(0L)))
      val mean = ws.cast("double") / lit(L.toDouble)
      val msq = (wsq.cast("double") -
        ws.cast("double") * ws.cast("double") / lit(L.toDouble)) / lit(L.toDouble)
      val sd = when(msq > 0.0, sqrt(msq))
      val x = col("cnt").cast("double")
      val signal = when(mean.isNotNull && sd.isNotNull &&
          abs(x - mean) > lit(cfg.threshold) * sd,
        when(x > mean, 1).otherwise(-1)).otherwise(0)
      staged.select(col("server"), col("service"),
        (col("bucket") * intervalMs).as("ts_ms"),
        lit(L).as("lag"), col("cnt").as("n"),
        mean.as("vol_avg"),
        (mean - lit(cfg.threshold) * sd).as("vol_lb"),
        (mean + lit(cfg.threshold) * sd).as("vol_ub"),
        signal.as("vol_signal"))
    }
    perLag.reduce(_.unionAll(_))
  }

  /** DuckDB oracle for [[volumeZScorePrefix]] — the same prefix-difference
    * arithmetic (exact integer window sums ⇒ no fold-order sensitivity).
    */
  def volumeZScorePrefixSql(intervalMs: Long,
      lags: Seq[LagCfg] = defaultLags): String = {
    val perLag = lags.map { cfg =>
      val L = cfg.lag
      val ws = s"CASE WHEN rn > $L THEN lag(cum, 1) OVER o - coalesce(lag(cum, ${L + 1}) OVER o, 0) END"
      val wsq = s"CASE WHEN rn > $L THEN lag(cumsq, 1) OVER o - coalesce(lag(cumsq, ${L + 1}) OVER o, 0) END"
      val mean = s"CAST(ws AS DOUBLE) / ${L.toDouble}"
      val msq = s"(CAST(wsq AS DOUBLE) - CAST(ws AS DOUBLE) * CAST(ws AS DOUBLE) / ${L.toDouble}) / ${L.toDouble}"
      s"""SELECT server, service, bucket * $intervalMs AS ts_ms,
            $L AS lag, CAST(cnt AS BIGINT) AS n,
            mean AS vol_avg,
            mean - ${cfg.threshold} * sd AS vol_lb,
            mean + ${cfg.threshold} * sd AS vol_ub,
            CASE WHEN mean IS NOT NULL AND sd IS NOT NULL
                  AND abs(CAST(cnt AS DOUBLE) - mean) > ${cfg.threshold} * sd
                 THEN CASE WHEN CAST(cnt AS DOUBLE) > mean THEN 1 ELSE -1 END
                 ELSE 0 END AS vol_signal
          FROM (
            SELECT *, $mean AS mean,
              CASE WHEN ($msq) > 0.0 THEN sqrt($msq) END AS sd
            FROM (
              SELECT server, service, bucket, cnt,
                CAST($ws AS BIGINT) AS ws, CAST($wsq AS BIGINT) AS wsq
              FROM (
                SELECT server, service, bucket, cnt,
                  row_number() OVER o AS rn,
                  CAST(sum(cnt) OVER c AS BIGINT) AS cum,
                  CAST(sum(cnt * cnt) OVER c AS BIGINT) AS cumsq
                FROM (SELECT server, service, bucket, cnt
                      FROM (${ApmStats.denseBucketsSql(intervalMs)}))
                WINDOW o AS (PARTITION BY server, service ORDER BY bucket),
                       c AS (PARTITION BY server, service ORDER BY bucket
                             ROWS UNBOUNDED PRECEDING))
              WINDOW o AS (PARTITION BY server, service ORDER BY bucket)))"""
    }
    perLag.mkString(" UNION ALL ")
  }

  /** MAD-based robust outlier detection — the median/median-absolute-
    * deviation complement to the mean/σ z-score family: per (server,
    * service), med = median(elapsed), MAD = median(|x − med|), and a row
    * is an outlier when |x − med| > k·MAD (k=3, the conventional cutoff;
    * with MAD==0 — over half the values identical — the rule is
    * undefined and nothing flags, mirroring the σ==0 quirk). Robust
    * statistics matter operationally: one retry storm of 100 s calls
    * drags a mean/σ gate far more than the median/MAD gate.
    *
    * Both medians use the exact reference percentile arithmetic
    * ([[RefStats.refPercentile]] at p=0.5) so the oracle matches
    * bit-for-bit. Output is the per-key profile plus outlier counts.
    *
    * Scale: two keyed aggregations (the sorted lists are the honest
    * exact-median payload — the bounded-state alternative is the
    * histogram sketch, a9/a10); the |x−med| pass joins the per-key med
    * back (broadcast-sized) rather than re-shuffling raw rows.
    */
  def madOutliers(spark: SparkSession, sfDir: String,
      k: Double = 3.0): DataFrame = {
    val tx = graft.Tables.txBase(spark, sfDir)
    val med = tx.groupBy("server", "service")
      .agg(sort_array(collect_list(col("elapsed"))).as("sorted"))
      .select(col("server"), col("service"),
        RefStats.refPercentile(col("sorted"), 0.5).as("med"))
    val withDev = tx.join(broadcast(med), Seq("server", "service"))
      .withColumn("dev", abs(col("elapsed") - col("med")))
    val madF = withDev.groupBy("server", "service")
      .agg(sort_array(collect_list(col("dev"))).as("devs"))
      .select(col("server"), col("service"),
        RefStats.refPercentile(col("devs"), 0.5).as("mad"))
    withDev.join(broadcast(madF), Seq("server", "service"))
      .groupBy("server", "service")
      .agg(count(lit(1)).as("n"),
        first(col("med")).as("med"),
        first(col("mad")).as("mad"),
        sum(when(col("mad") > 0.0 && col("dev") > lit(k) * col("mad"), 1L)
          .otherwise(0L)).as("n_outliers"))
  }

  def madOutliersSql(k: Double = 3.0): String = {
    val p50s = RefStats.refPercentileSql("sorted", "0.5")
    val p50d = RefStats.refPercentileSql("devs", "0.5")
    s"""WITH tx AS (${graft.Tables.txBaseSql}),
        med AS (
          SELECT server, service, $p50s AS med
          FROM (SELECT server, service, list_sort(list(elapsed)) AS sorted
                FROM tx GROUP BY 1, 2)),
        dev AS (
          SELECT t.server, t.service, med, abs(elapsed - med) AS dev
          FROM tx t JOIN med ON t.server = med.server
           AND t.service = med.service),
        madf AS (
          SELECT server, service, $p50d AS mad
          FROM (SELECT server, service, list_sort(list(dev)) AS devs
                FROM dev GROUP BY 1, 2))
        SELECT d.server, d.service, count(*) AS n,
          min(d.med) AS med, min(mad) AS mad,
          CAST(sum(CASE WHEN mad > 0.0 AND dev > $k * mad
                   THEN 1 ELSE 0 END) AS BIGINT) AS n_outliers
        FROM dev d JOIN madf m ON d.server = m.server
         AND d.service = m.service
        GROUP BY d.server, d.service"""
  }

  /** Primitive ring buffer over one metric's influenced-value window —
    * semantically identical to `RefStats.zScoreStepRef` over a
    * `Queue[Option[Double]]` (same queue order, same left-to-right
    * mean/variance folds, same "variance 0 => sd undefined" quirk,
    * same influence feedback off the most recent element), but with
    * zero per-step allocation. The previous formulation copied the
    * queue (`toIndexedSeq`) and re-materialized `flatten`/`map` lists
    * per (row x lag x metric) — O(lag) boxed ALLOCATION per step, which
    * at lag=144 over 130k rows is ~10^8 transient objects and made the
    * fold GC-bound. Equality with zScoreStepRef is pinned, for all
    * three metrics' avg/lb/ub/signal, by SparkOpsSpec ("zScoreFold ==
    * per-key loop over zScoreStepRef").
    *
    * This is the one z-score step of main code: [[zScoreFold]] keeps a
    * window per (key, lag, metric) while it walks a sorted partition, and
    * the streaming graph's stage 2 (`ApmStreaming.zScoreStep`) keeps one
    * per metric of a keyed group, [[load]]ing it from the group's stored
    * state and storing [[saved]] back after the group's rows.
    */
  private[graft] final class MetricWindow(lagCap: Int) {
    private val cap = math.max(lagCap, 1)
    private val vals = new Array[Double](cap)
    private val defd = new Array[Boolean](cap)
    private var start = 0
    private var used = 0

    /** Replaces the window with `ring`, oldest first, where NaN marks an
      * undefined slot — the stored form of `ApmStreaming.ZState`. A
      * defined value is never NaN: the stream's metrics encode undefined
      * as NaN, and an influenced value mixes two defined ones.
      */
    def load(ring: Array[Double]): this.type = {
      var i = 0
      while (i < ring.length) {
        defd(i) = !ring(i).isNaN
        vals(i) = if (defd(i)) ring(i) else 0.0
        i += 1
      }
      start = 0
      used = ring.length
      this
    }

    /** The window, oldest first, NaN for an undefined slot: what [[load]]
      * reads back.
      */
    def saved: Array[Double] = Array.tabulate(used) { i =>
      val j = (start + i) % cap
      if (defd(j)) vals(j) else Double.NaN
    }

    /** zScoreStepRef + dequeue-at-lag + enqueue(influenced) in one call.
      * Returns (avg, lb, ub, signal) for the CURRENT window state (i.e.
      * before this value is pushed), like the reference step.
      */
    def stepAndPush(lag: Int, threshold: Double, influence: Double,
        nv: Option[Double]): (Option[Double], Option[Double], Option[Double], Int) = {
      var inflDef = nv.isDefined
      var inflV = if (inflDef) nv.get else 0.0
      var avg: Option[Double] = None
      var lb: Option[Double] = None
      var ub: Option[Double] = None
      var signal = 0
      if (used >= lag) {
        var sum = 0.0
        var n = 0
        var i = 0
        while (i < used) {
          val j = (start + i) % cap
          if (defd(j)) { sum += vals(j); n += 1 }
          i += 1
        }
        if (n > 0) {
          val m = sum / n
          avg = Some(m)
          var sq = 0.0
          i = 0
          while (i < used) {
            val j = (start + i) % cap
            if (defd(j)) { val d = vals(j) - m; sq += d * d }
            i += 1
          }
          val msq = sq / n
          if (msq != 0.0) { // 0 => sd undefined quirk
            val s = math.sqrt(msq)
            lb = Some(m - threshold * s)
            ub = Some(m + threshold * s)
            if (nv.isDefined && math.abs(nv.get - m) > threshold * s)
              signal = if (nv.get > m) 1 else -1
            if (signal != 0) {
              val lastJ = (start + used - 1) % cap
              if (defd(lastJ)) {
                inflV = influence * nv.get + (1 - influence) * vals(lastJ)
                inflDef = true
              }
            }
          }
        }
        start = (start + 1) % cap // dequeue (window at capacity)
        used -= 1
      }
      val j = (start + used) % cap
      vals(j) = inflV
      defd(j) = inflDef
      used += 1
      (avg, lb, ub, signal)
    }
  }

  /** Faithful reference z-score with influence feedback — ordered fold per
    * (server, service) x lag. Output schema matches [[zScoreWindowed]].
    *
    * Shape: hash-repartition on the key, Tungsten sort within partitions
    * (key, ts), then a single mapPartitions pass with key-change
    * detection. Unlike `groupByKey.flatMapGroups` + per-group
    * `toArray.sortBy`, this never buffers a key's whole history — state is
    * O(lag) per active key — and the sort runs off-heap. That is the shape
    * that survives a key with years of history at 100 TB.
    */
  def zScoreFold(stats: DataFrame, lags: Seq[LagCfg] = defaultLags,
      overrides: Seq[ZOverride] = Nil): DataFrame = {
    val spark = stats.sparkSession
    import spark.implicits._
    val lagsB = lags
    // Z1 functional settings resolution (threshold AND influence) — the
    // map is tiny config, captured by the closure (no join needed in the
    // fold variant; the windowed variant uses a broadcast join).
    val ovrMap: Map[(String, Int), ZOverride] =
      overrides.map(o => ((o.service, o.lag), o)).toMap
    // Explicit partition count, deliberately != spark.sql.shuffle
    // .partitions: EnsureRequirements elides a user repartition whose
    // child already hash-partitions on a satisfying key set with the
    // SAME partition count (the upstream window's exchange does), and
    // the surviving ENSURE_REQUIREMENTS exchange is AQE-coalescible —
    // for this small-bytes/heavy-CPU shuffle AQE merged every key into
    // ONE partition and ran the fold single-core (20-100x wall blowups
    // at sf0.1). A distinct count keeps the REPARTITION_BY_NUM shuffle
    // in the plan, which AQE never coalesces.
    val out = stats.select("server", "service", "ts_ms", "tpm",
        "average", "per75", "per95")
      .repartition(spark.sparkContext.defaultParallelism * 2,
        col("server"), col("service"))
      .sortWithinPartitions("server", "service", "ts_ms")
      .as[(String, String, Long, Option[Double], Option[Double], Option[Double], Option[Double])]
      .mapPartitions { it =>
        var curKey: (String, String) = null
        // per lag-config: one bounded primitive window of *influenced*
        // values per metric — the reference's avgList/per75List/per95List
        // (see [[MetricWindow]]: same queue order, same fold order as
        // zScoreStepRef, zero per-step allocation).
        var wins: Array[Array[MetricWindow]] = null
        it.flatMap { case (srv, svc, ts, tpm, a, p75, p95) =>
          if (curKey == null || curKey != ((srv, svc))) {
            curKey = (srv, svc)
            wins = lagsB.toArray.map(cfg =>
              Array.fill(3)(new MetricWindow(cfg.lag)))
          }
          val ms = Array(a, p75, p95)
          lagsB.iterator.zipWithIndex.map { case (cfg, li) =>
            val o = ovrMap.get((svc, cfg.lag))
            val thrEff = o.flatMap(_.threshold).getOrElse(cfg.threshold)
            val inflEff = o.flatMap(_.influence).getOrElse(cfg.influence)
            val zs = (0 until 3).map { i =>
              wins(li)(i).stepAndPush(cfg.lag, thrEff, inflEff, ms(i))
            }
            (srv, svc, ts, cfg.lag, tpm, a, p75, p95,
              zs(0)._1, zs(0)._2, zs(0)._3, zs(0)._4,
              zs(1)._1, zs(1)._2, zs(1)._3, zs(1)._4,
              zs(2)._1, zs(2)._2, zs(2)._3, zs(2)._4)
          }
        }
      }
    out.toDF("server", "service", "ts_ms", "lag", "tpm",
      "average", "per75", "per95",
      "average_avg", "average_lb", "average_ub", "average_signal",
      "per75_avg", "per75_lb", "per75_ub", "per75_signal",
      "per95_avg", "per95_lb", "per95_ub", "per95_signal")
  }
}
