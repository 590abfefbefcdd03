package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import scala.collection.mutable

/** Alert rules — the reference's `stream_process_alerts.js` (SURVEY.md
  * §2.6) re-expressed Spark-first.
  *
  * - R1 suppression + R2 threshold predicates are pure column expressions
  *   (DuckDB-verified). Cause strings and check order match
  *   stream_process_alerts.js:398-424: hard-max on average, hard-max on
  *   per75, then the signal-based checks (gated on hardMin ms + min tpm).
  *   The reference's switch that collapses the two signal causes into
  *   one (SURVEY.md R2) is fixed off here: each signal is its own cause.
  * - J4 config-override lookup: per-service `hardMaxMs` override applied
  *   via a broadcast join against a small config DataFrame
  *   (stream_process_alerts.js:335-346,398).
  * - R3 rolling vote counter (leaky bucket: +1 per bad interval saturating
  *   at windowSz+1, -1 per good interval floored at 0; causes only real
  *   while counter >= threshold) and R4 per-service cooldown are
  *   order-dependent folds (stream_process_alerts.js:358-392,427-467) —
  *   implemented as per-key ordered folds, property-tested (no SQL oracle
  *   for a recurrence).
  *
  * Scale notes: R1/R2/J4 stay in WholeStageCodegen (no UDFs; the config
  * join is broadcast). The R3 fold shuffles on (server, service, lag) and
  * keeps O(1) state per key; R4's cooldown is keyed on service only —
  * fewer, larger groups, but state is a single timestamp and rows stream
  * through the iterator without buffering (groups arrive sorted via
  * secondary sort within repartitioned partitions).
  */
object Alerts {

  case class AlertCfg(
      hardMaxMs: Double = 400.0,
      hardMinMs: Double = 50.0,
      hardMinTpm: Double = 0.005,
      suppressedLags: Seq[Int] = Seq.empty,
      suppressedServices: Seq[String] = Seq.empty,
      windowSz: Int = 60,
      voteThreshold: Int = 45,
      cooldownMs: Long = 15 * 60 * 1000L,
      // per-service hardMaxMs overrides (config/apm_config.json:189-198)
      hardMaxOverrides: Map[String, Double] = Map.empty)

  val default: AlertCfg = AlertCfg()

  /** R1 + R2 + J4 over a z-scored frame ([[ZScore.zScoreWindowed]] schema):
    * appends candidate-cause columns and the interval's bad flag.
    */
  def candidates(fs: DataFrame, cfg: AlertCfg = default): DataFrame = {
    val spark = fs.sparkSession
    import spark.implicits._
    val ovr = cfg.hardMaxOverrides.toSeq.toDF("service", "hard_max_override")
    val withCfg = fs.join(broadcast(ovr), Seq("service"), "left")
      .withColumn("hard_max", coalesce(col("hard_max_override"), lit(cfg.hardMaxMs)))
      .drop("hard_max_override")
    val suppressed =
      (if (cfg.suppressedLags.isEmpty) lit(false) else col("lag").isin(cfg.suppressedLags: _*)) ||
      (if (cfg.suppressedServices.isEmpty) lit(false) else col("service").isin(cfg.suppressedServices: _*))
    val cAvgHard = !suppressed && col("average") > col("hard_max")
    val cP75Hard = !suppressed && col("per75") > col("hard_max")
    val sigAvg = !suppressed && col("average_signal") > 0 &&
      col("average") > cfg.hardMinMs && col("tpm") > cfg.hardMinTpm
    val sigP75 = !suppressed && col("per75_signal") > 0 &&
      col("per75") > cfg.hardMinMs && col("tpm") > cfg.hardMinTpm
    val causes = concat_ws(",",
      when(cAvgHard, "average exceeded hard ms threshold"),
      when(cP75Hard, "per75 exceeded hard ms threshold"),
      when(sigAvg, "average UB exceeded"),
      when(sigP75, "per75 UB exceeded"))
    withCfg
      .withColumn("causes", causes)
      .withColumn("bad", (col("causes") =!= "").cast("int"))
      .drop("hard_max")
  }

  /** DuckDB oracle for [[candidates]] over `fsSql` (zScoreWindowed oracle). */
  def candidatesSql(fsSql: String, cfg: AlertCfg = default): String = {
    val ovr =
      if (cfg.hardMaxOverrides.isEmpty) "SELECT NULL AS service, NULL::DOUBLE AS hard_max_override WHERE 1=0"
      else cfg.hardMaxOverrides.map { case (s, v) =>
        s"SELECT '$s' AS service, CAST($v AS DOUBLE) AS hard_max_override" }.mkString(" UNION ALL ")
    val supLag = if (cfg.suppressedLags.isEmpty) "FALSE"
      else s"fs.lag IN (${cfg.suppressedLags.mkString(",")})"
    val supSvc = if (cfg.suppressedServices.isEmpty) "FALSE"
      else s"fs.service IN (${cfg.suppressedServices.map("'" + _ + "'").mkString(",")})"
    val sup = s"(($supLag) OR ($supSvc))"
    val cAvgHard = s"(NOT $sup AND average > hard_max)"
    val cP75Hard = s"(NOT $sup AND per75 > hard_max)"
    val sigAvg = s"(NOT $sup AND average_signal > 0 AND average > ${cfg.hardMinMs} AND tpm > ${cfg.hardMinTpm})"
    val sigP75 = s"(NOT $sup AND per75_signal > 0 AND per75 > ${cfg.hardMinMs} AND tpm > ${cfg.hardMinTpm})"
    val causes =
      s"""concat_ws(',',
         CASE WHEN $cAvgHard THEN 'average exceeded hard ms threshold' END,
         CASE WHEN $cP75Hard THEN 'per75 exceeded hard ms threshold' END,
         CASE WHEN $sigAvg THEN 'average UB exceeded' END,
         CASE WHEN $sigP75 THEN 'per75 UB exceeded' END)"""
    s"""SELECT * EXCLUDE (hard_max),
          CASE WHEN causes <> '' THEN 1 ELSE 0 END AS bad
        FROM (
          SELECT fs.*, coalesce(o.hard_max_override, ${cfg.hardMaxMs}) AS hard_max,
            $causes AS causes
          FROM ($fsSql) fs LEFT JOIN ($ovr) o ON fs.service = o.service)"""
  }

  // The R3 and R4 rules, one copy each for the batch fold below and the
  // streaming graph's stages 3 and 4 (ApmStreaming.voteStream and
  // cooldownStream). firedRef/alertsRef and alertsSql restate them on
  // purpose: tests and the oracle compare both folds against those.

  /** R3 counter update (stream_process_alerts.js:374-386): +1 per bad
    * interval saturating at windowSz+1, -1 per good interval floored
    * at 0.
    */
  private[graft] def nextCount(c: Int, bad: Boolean, cfg: AlertCfg): Int =
    if (bad) { if (c <= cfg.windowSz) c + 1 else c }
    else if (c > 0) c - 1 else c

  /** R3 fire test on the counter [[nextCount]] returned for the row. */
  private[graft] def fires(c: Int, bad: Boolean, cfg: AlertCfg): Boolean =
    bad && c >= cfg.voteThreshold

  /** R4 cooldown test (stream_process_alerts.js:449-467): a fired row
    * is emitted when its service has emitted nothing yet
    * (`lastEmit == Long.MinValue`) or its last emission is more than
    * the cooldown before `ts`.
    */
  private[graft] def coolsDown(ts: Long, lastEmit: Long, cfg: AlertCfg): Boolean =
    lastEmit == Long.MinValue ||
      (ts - lastEmit) / 1000.0 > cfg.cooldownMs / 1000.0

  /** R3 + R4 — the stateful tail of the alert pipeline: leaky-bucket
    * vote counter per (server, service, lag), then per-service cooldown
    * dedup. Input: [[candidates]] output. [[alCsvCol]] assembles an
    * alert's R5 record.
    * Batch determinism: rows are processed in ts_ms order (ties: server,
    * lag) — the streaming variant processes in arrival order.
    */
  def alerts(cand: DataFrame, cfg: AlertCfg = default): DataFrame = {
    val spark = cand.sparkSession
    import spark.implicits._
    // Phase 1 (R3): per (server,service,lag) ordered fold of the counter.
    // Repartition + Tungsten sort + one streaming pass (O(1) state per
    // key, no per-group buffering — the scale-safe fold shape).
    // Explicit partition count, deliberately != shuffle.partitions so
    // EnsureRequirements can't elide it as satisfied-by-upstream (see
    // ZScore.zScoreFold): elision leaves only an AQE-coalescible
    // exchange, and AQE serialized these small-bytes/heavy-CPU folds
    // onto one core (20-100x wall blowups).
    val nPart = spark.sparkContext.defaultParallelism * 2
    val voted = cand.select("server", "service", "lag", "ts_ms", "bad", "causes")
      .repartition(nPart, col("server"), col("service"), col("lag"))
      .sortWithinPartitions("server", "service", "lag", "ts_ms")
      .as[(String, String, Int, Long, Int, String)]
      .mapPartitions { it =>
        var curKey: (String, String, Int) = null
        var c = 0
        it.flatMap { case (srv, svc, lag, ts, bad, causes) =>
          if (curKey == null || curKey != ((srv, svc, lag))) {
            curKey = (srv, svc, lag); c = 0
          }
          c = nextCount(c, bad == 1, cfg)
          if (fires(c, bad == 1, cfg)) Some((srv, svc, lag, ts, causes))
          else None
        }
      }
    // Phase 2 (R4): per-service cooldown on *emitted* alerts — keyed on
    // service alone (stream_process_alerts.js:449-467), rows in
    // (ts, server, lag) order.
    voted
      .repartition(nPart, col("_2"))
      .sortWithinPartitions("_2", "_4", "_1", "_3")
      .mapPartitions { it =>
        var curSvc: String = null
        var lastEmit = Long.MinValue
        it.flatMap { case (srv, svc, lag, ts, causes) =>
          if (curSvc == null || curSvc != svc) { curSvc = svc; lastEmit = Long.MinValue }
          if (coolsDown(ts, lastEmit, cfg)) {
            lastEmit = ts
            Some((ts, srv, svc, lag, causes))
          } else None
        }
      }
      .toDF("alert_ts_ms", "server", "service", "lag", "causes")
  }

  /** DuckDB oracle for [[alerts]] — the R3 leaky-bucket vote counter and
    * R4 per-service cooldown (stream_process_alerts.js:358-392,427-467)
    * expressed as two recursive CTEs.
    *
    * `vote` advances every (server, service, lag) key in lockstep over
    * `rn` (ts order), carrying the saturating counter: +1 per bad interval
    * while c <= windowSz, -1 per good interval floored at 0; a row fires
    * when it is bad and the post-increment counter reaches voteThreshold.
    * `cool` then walks each service's fired rows in (ts, server, lag)
    * order carrying last_emit — exactly [[alerts]]'s phase-2 sort — and
    * emits when the gap exceeds the cooldown. Equivalent to the
    * reference's single interleaved pass because the counter never
    * depends on cooldown state.
    */
  def alertsSql(candSql: String, cfg: AlertCfg = default): String = {
    val cdSec = cfg.cooldownMs / 1000.0 // e.g. 900.0 — same literal both engines
    s"""WITH RECURSIVE
        cand AS MATERIALIZED (
          SELECT server, service, lag, ts_ms, bad, causes,
            row_number() OVER (PARTITION BY server, service, lag
                               ORDER BY ts_ms) AS rn
          FROM ($candSql)),
        vote AS (
          SELECT server, service, lag, rn, ts_ms, causes,
            CASE WHEN bad = 1 THEN 1 ELSE 0 END AS c,
            (bad = 1 AND 1 >= ${cfg.voteThreshold}) AS fire
          FROM cand WHERE rn = 1
          UNION ALL
          SELECT server, service, lag, rn, ts_ms, causes, c2 AS c,
            (bad = 1 AND c2 >= ${cfg.voteThreshold}) AS fire
          FROM (
            SELECT k.server, k.service, k.lag, k.rn, k.ts_ms, k.causes, k.bad,
              CASE WHEN k.bad = 1
                   THEN CASE WHEN v.c <= ${cfg.windowSz} THEN v.c + 1 ELSE v.c END
                   ELSE CASE WHEN v.c > 0 THEN v.c - 1 ELSE 0 END END AS c2
            FROM vote v JOIN cand k
              ON k.server = v.server AND k.service = v.service
             AND k.lag = v.lag AND k.rn = v.rn + 1)),
        fired AS MATERIALIZED (
          SELECT service, ts_ms, server, lag, causes,
            row_number() OVER (PARTITION BY service
                               ORDER BY ts_ms, server, lag) AS rn2
          FROM vote WHERE fire),
        cool AS (
          SELECT service, rn2, ts_ms, server, lag, causes,
            TRUE AS emit, ts_ms AS last_emit
          FROM fired WHERE rn2 = 1
          UNION ALL
          SELECT f.service, f.rn2, f.ts_ms, f.server, f.lag, f.causes,
            (f.ts_ms - c.last_emit) / CAST(1000.0 AS DOUBLE)
              > CAST($cdSec AS DOUBLE) AS emit,
            CASE WHEN (f.ts_ms - c.last_emit) / CAST(1000.0 AS DOUBLE)
                      > CAST($cdSec AS DOUBLE)
                 THEN f.ts_ms ELSE c.last_emit END AS last_emit
          FROM cool c JOIN fired f
            ON f.service = c.service AND f.rn2 = c.rn2 + 1)
        SELECT ts_ms AS alert_ts_ms, server, service, lag, causes
        FROM cool WHERE emit"""
  }

  /** R5 — alert-record assembly (entries.js:202-241): the `al` wire record
    * nests the full serialized `fs` entry with its pipes escaped to `&`
    * (entries.js:210). Pure column expressions (codegen'd concat), no UDF.
    *
    * Input must carry the full z-scored fs row (zScoreWindowed schema +
    * `causes`). `alert_ts_ms` is the record's alert timestamp column (the
    * reference stamps wall-clock receive time, entries.js:203; batch
    * determinism uses the interval timestamp instead).
    */
  private def fsCsvCol: org.apache.spark.sql.Column = {
    def optS(c: org.apache.spark.sql.Column) =
      coalesce(c.cast("string"), lit("")) // null -> "" (Codec.optS)
    def zblock(m: String) = concat_ws(":",
      optS(col(m)), optS(col(s"${m}_avg")), optS(col(s"${m}_lb")),
      optS(col(s"${m}_ub")), col(s"${m}_signal").cast("string"))
    concat_ws("|", lit("fs"), col("ts_ms").cast("string"), col("server"),
      col("service"), col("lag").cast("string"),
      format_string("%.2f", col("tpm")), // nf2 (entries.js:65-69)
      zblock("average"), zblock("per75"), zblock("per95"))
  }

  /** The full `al` CSV line for a row with `alert_ts_ms` + fs columns. */
  def alCsvCol: org.apache.spark.sql.Column =
    concat_ws("|", lit("al"), col("alert_ts_ms").cast("string"),
      col("ts_ms").cast("string"), col("server"), col("service"),
      col("causes"), translate(fsCsvCol, "|", "&"))

  /** R5 oracle query (stateless slice): assemble the `al` record for every
    * bad interval, then parse it all back out through the `&`-escape —
    * output is the parsed fields, which the oracle computes directly from
    * the candidate frame (round-trip identity; byte format itself is
    * pinned by CodecSpec against the entries.js port). Doubles round-trip
    * exactly (parseDouble∘toString = id); tpm is nf2-quantized on both
    * sides.
    */
  def assemblyRoundtrip(cand: DataFrame): DataFrame = {
    val bad = cand.filter(col("bad") === 1)
      .withColumn("alert_ts_ms", col("ts_ms"))
    val assembled = bad.withColumn("al_csv", alCsvCol)
    val p = split(col("al_csv"), "\\|")
    val nested = split(translate(element_at(p, 7), "&", "|"), "\\|")
    def optD(c: org.apache.spark.sql.Column) =
      when(c === "", lit(null)).otherwise(c).cast("double")
    def zback(i: Int, name: String) = {
      val b = split(element_at(nested, i), ":")
      Seq(
        optD(element_at(b, 1)).as(s"${name}_v"),
        optD(element_at(b, 2)).as(s"${name}_avg_v"),
        optD(element_at(b, 3)).as(s"${name}_lb_v"),
        optD(element_at(b, 4)).as(s"${name}_ub_v"),
        element_at(b, 5).cast("int").as(s"${name}_sig_v"))
    }
    assembled.select(
      Seq(
        element_at(p, 1).as("tag"),
        element_at(p, 2).cast("long").as("alert_ts"),
        element_at(p, 3).cast("long").as("entry_ts"),
        element_at(p, 4).as("server"),
        element_at(p, 5).as("service"),
        element_at(p, 6).as("cause"),
        element_at(nested, 1).as("nested_tag"),
        element_at(nested, 5).cast("int").as("lag"),
        optD(element_at(nested, 6)).as("tpm2")) ++
      zback(7, "average") ++ zback(8, "per75") ++ zback(9, "per95"): _*)
  }

  /** DuckDB oracle for [[assemblyRoundtrip]]: the same fields computed
    * directly from the candidate frame (what a lossless round-trip must
    * return). tpm quantizes through printf('%.2f') exactly as nf2 does —
    * safe here because tpm = count/10 has one decimal digit.
    */
  def assemblyRoundtripSql(candSql: String): String = {
    val z = Seq("average", "per75", "per95").map { m =>
      s"""$m AS ${m}_v, ${m}_avg AS ${m}_avg_v, ${m}_lb AS ${m}_lb_v,
          ${m}_ub AS ${m}_ub_v, CAST(${m}_signal AS INT) AS ${m}_sig_v"""
    }.mkString(", ")
    s"""SELECT 'al' AS tag, ts_ms AS alert_ts, ts_ms AS entry_ts,
          server, service, causes AS cause, 'fs' AS nested_tag,
          CAST(lag AS INT) AS lag,
          CAST(printf('%.2f', tpm) AS DOUBLE) AS tpm2, $z
        FROM ($candSql) WHERE bad = 1"""
  }

  /** S6 — the DB sink's row shape (stream_insert_db.js:153: ColumnSet
    * [timestamp, server, service, tpm, lag, stats] with `stats` jsonb;
    * entries.js:120-151 `toPostgresObject`): the 15-key stats object is
    * built with `to_json` over a struct column — the nested jsonb payload
    * a JDBC writer would ship — then parsed back through `from_json`,
    * proving the column carries every z-block field losslessly under the
    * reference's lowercase key names. Output is the round-tripped
    * VALUES (cross-engine JSON float rendering differs, so the oracle
    * checks values; the byte shape itself is pinned by a ScalaTest
    * fixture against a literal JSON string).
    */
  private val statsJsonSchema =
    """average double, averageavg double, averagelb double, averageub double,
       averagesignal int, per75 double, per75avg double, per75lb double,
       per75ub double, per75signal int, per95 double, per95avg double,
       per95lb double, per95ub double, per95signal int""".replaceAll("\\s+", " ")

  def statsJsonCol: org.apache.spark.sql.Column = {
    def z(m: String) = Seq(
      col(m).as(m), col(s"${m}_avg").as(s"${m}avg"),
      col(s"${m}_lb").as(s"${m}lb"), col(s"${m}_ub").as(s"${m}ub"),
      col(s"${m}_signal").cast("int").as(s"${m}signal"))
    to_json(struct(z("average") ++ z("per75") ++ z("per95"): _*),
      Map("ignoreNullFields" -> "false"))
  }

  def dbStatsRoundtrip(cand: DataFrame): DataFrame = {
    val parsed = from_json(statsJsonCol, statsJsonSchema,
      Map.empty[String, String])
    val back = Seq("average", "per75", "per95").flatMap { m =>
      Seq(s"$m", s"${m}avg", s"${m}lb", s"${m}ub", s"${m}signal")
    }.map(k => col("stats").getField(k).as(s"${k}_j"))
    cand
      .select(Seq(col("ts_ms"), col("server"), col("service"),
        col("lag").cast("int").as("lag"), col("tpm"),
        parsed.as("stats")): _*)
      .select(Seq(col("ts_ms"), col("server"), col("service"), col("lag"),
        col("tpm")) ++ back: _*)
  }

  def dbStatsRoundtripSql(candSql: String): String = {
    val z = Seq("average", "per75", "per95").map { m =>
      s"""$m AS ${m}_j, ${m}_avg AS ${m}avg_j, ${m}_lb AS ${m}lb_j,
          ${m}_ub AS ${m}ub_j, CAST(${m}_signal AS INT) AS ${m}signal_j"""
    }.mkString(", ")
    s"""SELECT ts_ms, server, service, CAST(lag AS INT) AS lag, tpm, $z
        FROM ($candSql)"""
  }

  /** R7 — the alert-digest assembly that feeds the batch emailer
    * (stream_process_alerts.js:153-206,269-333): per flush window, the
    * distinct servers / services / lags of the window's alerting rows
    * (the reference builds its Grafana URL from exactly these lists) plus
    * the bad-interval count. Daily windows over candidate rows keep the
    * digest non-empty regardless of the vote threshold.
    */
  def digest(cand: DataFrame): DataFrame =
    cand.filter(col("bad") === 1)
      .withColumn("day_ms", expr("ts_ms div 86400000") * 86400000L)
      .groupBy("day_ms")
      .agg(
        count(lit(1)).as("n_bad"),
        // Sorted comma-joined scalars, not ARRAY columns: the external
        // correctness harness can't canonicalize list-typed cells (its
        // row-sorter chokes on ndarray values). Sort BEFORE the string
        // cast so int lags keep numeric order on both engines.
        array_join(sort_array(collect_set(col("server"))), ",").as("servers"),
        array_join(sort_array(collect_set(col("service"))), ",").as("services"),
        array_join(sort_array(collect_set(col("lag"))).cast("array<string>"), ",").as("lags"))

  def digestSql(candSql: String): String =
    s"""SELECT day_ms, count(*) AS n_bad,
          array_to_string(list_sort(list(DISTINCT server)), ',') AS servers,
          array_to_string(list_sort(list(DISTINCT service)), ',') AS services,
          array_to_string(list_sort(list(DISTINCT lag)), ',') AS lags
        FROM (SELECT *, (ts_ms // 86400000) * 86400000 AS day_ms
              FROM ($candSql) WHERE bad = 1)
        GROUP BY day_ms"""

  // ------------------------------------------------------------------ S8
  // The batch emailer's PRESENTATION layer (stream_process_alerts.js:
  // formatAlertsHTML :208-266, generateGrafanaURLParams :155-192,
  // generateGrafanaURL :195-206, email body :269-333) as pure column
  // expressions — the SMTP/HTTP transport itself is peripheral config
  // (sendEmail :359-…, apm_manager.js sendAnnotation :223-244); what the
  // engine owes is the exact bytes those transports carry.

  /** JS `Number.prototype.toFixed(1)` for the non-negative metric columns,
    * decimal-parity-safe: `floor(x*10 + 0.5)` is IEEE multiply/add/floor —
    * bit-identical on both engines — followed by integer digit split (no
    * engine `round()`/`printf`, whose tie handling differs cross-engine).
    * Matches toFixed on the exact binary value (0.25 -> "0.3";
    * 0.35 = 0.3499… -> "0.3"). Null (e.g. UB on an incomplete window)
    * renders as a JS template would print it: "null".
    */
  private def fx1(c: org.apache.spark.sql.Column): org.apache.spark.sql.Column = {
    val s = floor(c * 10 + lit(0.5)).cast("long")
    coalesce(
      concat((s / 10).cast("long").cast("string"), lit("."), (s % 10).cast("string")),
      lit("null"))
  }
  private def fx1Sql(x: String): String = {
    val s = s"CAST(floor(($x)*10 + 0.5) AS BIGINT)"
    s"coalesce(CAST($s // 10 AS VARCHAR) || '.' || CAST($s % 10 AS VARCHAR), 'null')"
  }

  private val RowCss = Seq(
    """<style type="text/css" media="all"> table { border-collapse: collapse; }""",
    """ td { font-family: "Calibri"; font-size: 11pt; white-space: nowrap; }""",
    """ td, th { padding: 7px; } td.bb, th.bb { border-bottom: 2px solid black }""",
    """ td.center { text-align: center; } td.right { text-align: right; }""",
    """ td.bbcenter { border-bottom: 2px solid black; text-align: center; }  </style>""").mkString
  private val TableHeader =
    """<table><tr bgcolor="#1ab2ff"><th>Server</th><th>Service</th><th>Timestamp</th><th>Lag</th><th>Cause</th></tr>""" +
    """<tr bgcolor="#94DBFF"><th class="bb">TPM</th><th class="bb">Avg</th><th class="bb">Avg UB</th><th class="bb">75%</th><th class="bb">75% UB</th></tr>"""

  /** One alert's two-row HTML fragment (formatAlertsHTML :246-263:
    * identity row, then the metric row formatted `.toFixed(1)`; timestamp
    * via F5 convertDateToLogDate). Stateless slice over bad intervals —
    * the byte format is the deliverable, the buffer membership is R3/R4's.
    */
  def emailRowCol: org.apache.spark.sql.Column = concat(
    lit("""<tr bgcolor="white"><td>"""), col("server"),
    lit("</td><td>"), col("service"),
    lit("</td><td>"),
    date_format(timestamp_millis(col("ts_ms")), "yyyy-MM-dd HH:mm:ss"),
    lit("""</td><td class="center">"""), col("lag").cast("string"),
    lit("</td><td>"), col("causes"),
    lit("""</td></tr><tr bgcolor="#e5f8ff"><td class="bbcenter">"""),
    fx1(col("tpm")),
    lit("""</td><td class="bbcenter">"""), fx1(col("average")),
    lit("""</td><td class="bbcenter">"""), fx1(col("average_ub")),
    lit("""</td><td class="bbcenter">"""), fx1(col("per75")),
    lit("""</td><td class="bbcenter">"""), fx1(col("per75_ub")),
    lit("</td></tr>"))

  def emailRows(cand: DataFrame): DataFrame =
    // pinned repartition before the wide per-row formatting: the window
    // stage upstream is AQE-coalescible (small bytes), and without this
    // the 130k-row HTML assembly ran on one core (150 s observed; <2 s
    // parallel). Explicit N disables AQE's size-based coalescing here.
    cand.filter(col("bad") === 1)
      .repartition(cand.sparkSession.sparkContext.defaultParallelism)
      .select(col("ts_ms"), col("server"), col("service"), col("lag"),
        emailRowCol.as("row_html"))

  def emailRowsSql(candSql: String): String = {
    s"""SELECT ts_ms, server, service, lag,
          '<tr bgcolor="white"><td>' || server || '</td><td>' || service ||
          '</td><td>' || strftime(make_timestamp(ts_ms*1000), '%Y-%m-%d %H:%M:%S') ||
          '</td><td class="center">' || CAST(lag AS VARCHAR) ||
          '</td><td>' || causes ||
          '</td></tr><tr bgcolor="#e5f8ff"><td class="bbcenter">' || ${fx1Sql("tpm")} ||
          '</td><td class="bbcenter">' || ${fx1Sql("average")} ||
          '</td><td class="bbcenter">' || ${fx1Sql("average_ub")} ||
          '</td><td class="bbcenter">' || ${fx1Sql("per75")} ||
          '</td><td class="bbcenter">' || ${fx1Sql("per75_ub")} ||
          '</td></tr>' AS row_html
        FROM ($candSql) WHERE bad = 1"""
  }

  /** Per-flush-window email body + Grafana URLs (the reference flushes
    * per collection interval; daily windows keep the digest dense on the
    * test horizon — same aggregation shape). Deterministic deviations
    * from the reference, documented: `to` skips the now-90s clamp
    * (:178-181 — wall-clock), and the `var-*` params append in sorted
    * order (:184-186 appends in buffer-appearance order, which is
    * arrival-dependent).
    *
    *  - params: `from=<min ts - 5 min>&to=<max ts + 5 min>` + var-server/
    *    var-service/var-lag per distinct value (:171-186)
    *  - heightFactor = |servers|*|services|*|lags| + |services| (:189-191)
    *  - URL / renderURL (:195-206): base + relative + params; the render
    *    variant adds width/height (100px header + multiple*heightFactor)
    *  - body (:269-311): css + table + rows (ts order) + footer + the
    *    `<pre>` link/cooldown block
    */
  def emailDigest(cand: DataFrame, cfg: AlertCfg = default,
      grafanaUrl: String = "https://grafana.example:3000",
      inspectorPath: String = "/d/alert-inspector",
      renderWidth: Int = 1000, renderHeightMultiple: Int = 400): DataFrame = {
    val rows = emailRows(cand)
    val byDay = rows
      .withColumn("day_ms", expr("ts_ms div 86400000") * 86400000L)
      .groupBy("day_ms")
      .agg(
        count(lit(1)).as("n_alerts"),
        min("ts_ms").as("first_ts"), max("ts_ms").as("last_ts"),
        array_join(transform(
          sort_array(collect_list(struct(col("ts_ms"), col("server"),
            col("lag"), col("service"), col("row_html")))),
          r => r.getField("row_html")), "").as("rows_html"),
        sort_array(collect_set(col("server"))).as("servers"),
        sort_array(collect_set(col("service"))).as("services"),
        sort_array(collect_set(col("lag"))).as("lags"))
    val params = concat(
      lit("from="), (col("first_ts") - 300000L).cast("string"),
      lit("&to="), (col("last_ts") + 300000L).cast("string"),
      array_join(transform(col("servers"), s => concat(lit("&var-server="), s)), ""),
      array_join(transform(col("services"), s => concat(lit("&var-service="), s)), ""),
      array_join(transform(col("lags"),
        l => concat(lit("&var-lag="), l.cast("string"))), ""))
    val heightFactor =
      (size(col("servers")) * size(col("services")) * size(col("lags")) +
        size(col("services"))).cast("long")
    val url = concat(lit(s"$grafanaUrl$inspectorPath?"), col("params"))
    val renderUrl = concat(
      lit(s"$grafanaUrl/render$inspectorPath?"), col("params"),
      lit(s"&width=$renderWidth&height="),
      (lit(100L) + lit(renderHeightMultiple.toLong) * col("height_factor")).cast("string"))
    val cooldownMin = (cfg.cooldownMs / 60000L).toString
    val body = concat(
      lit(RowCss + TableHeader), col("rows_html"), lit("</table>"),
      lit("<pre>\n\n<a href=\""), col("url"),
      lit(s"\">View Alert Graphs</a>\n\nCooldown until further alerts are sent out: $cooldownMin minutes\n\n</pre>"))
    byDay
      .withColumn("params", params)
      .withColumn("height_factor", heightFactor)
      .withColumn("url", url)
      .withColumn("render_url", renderUrl)
      .withColumn("email_html", body)
      .select("day_ms", "n_alerts", "height_factor", "params", "url",
        "render_url", "email_html")
  }

  def emailDigestSql(candSql: String, cfg: AlertCfg = default,
      grafanaUrl: String = "https://grafana.example:3000",
      inspectorPath: String = "/d/alert-inspector",
      renderWidth: Int = 1000, renderHeightMultiple: Int = 400): String = {
    val cooldownMin = (cfg.cooldownMs / 60000L).toString
    val css = RowCss.replace("'", "''")
    val hdr = TableHeader.replace("'", "''")
    s"""WITH r AS (${emailRowsSql(candSql)}),
        byday AS (
          SELECT (ts_ms // 86400000) * 86400000 AS day_ms,
            count(*) AS n_alerts,
            min(ts_ms) AS first_ts, max(ts_ms) AS last_ts,
            string_agg(row_html, '' ORDER BY ts_ms, server, lag, service) AS rows_html,
            list_sort(list(DISTINCT server)) AS servers,
            list_sort(list(DISTINCT service)) AS services,
            list_sort(list(DISTINCT lag)) AS lags
          FROM r GROUP BY 1),
        p AS (
          SELECT *,
            'from=' || CAST(first_ts - 300000 AS VARCHAR) ||
            '&to=' || CAST(last_ts + 300000 AS VARCHAR) ||
            array_to_string(list_transform(servers, s -> '&var-server=' || s), '') ||
            array_to_string(list_transform(services, s -> '&var-service=' || s), '') ||
            array_to_string(list_transform(lags, l -> '&var-lag=' || CAST(l AS VARCHAR)), '')
              AS params,
            CAST(len(servers) * len(services) * len(lags) + len(services) AS BIGINT)
              AS height_factor
          FROM byday)
        SELECT day_ms, n_alerts, height_factor, params,
          '$grafanaUrl$inspectorPath?' || params AS url,
          '$grafanaUrl/render$inspectorPath?' || params ||
            '&width=$renderWidth&height=' ||
            CAST(100 + $renderHeightMultiple * height_factor AS VARCHAR) AS render_url,
          '$css$hdr' || rows_html || '</table>' ||
            '<pre>' || chr(10) || chr(10) || '<a href="' ||
            '$grafanaUrl$inspectorPath?' || params ||
            '">View Alert Graphs</a>' || chr(10) || chr(10) ||
            'Cooldown until further alerts are sent out: $cooldownMin minutes' ||
            chr(10) || chr(10) || '</pre>' AS email_html
        FROM p"""
  }

  /** The R3 FIRE SET of [[alertsRef]]'s one-pass fold: every row the
    * cooldown stage consumes (fire == true BEFORE cooldown suppression),
    * in the oracle's global (ts, server, lag) order. Same counter loop
    * as [[alertsRef]] so specs that need the cooldown's exact input
    * (the ordered-cooldown equivalence tests, the forked topology's
    * sentinel staging) stay in lockstep with the oracle.
    */
  def firedRef(
      rows: Seq[(String, String, Int, Long, Boolean, String)],
      cfg: AlertCfg = default): Seq[(Long, String, String, Int, String)] = {
    val counts = mutable.Map.empty[(String, String, Int), Int]
    val out = mutable.Buffer.empty[(Long, String, String, Int, String)]
    rows.sortBy(r => (r._4, r._1, r._3)).foreach { case (srv, svc, lag, ts, bad, causes) =>
      val k = (srv, svc, lag)
      var c = counts.getOrElse(k, 0)
      var fire = false
      if (bad) {
        if (c <= cfg.windowSz) c += 1
        fire = c >= cfg.voteThreshold
      } else if (c > 0) c -= 1
      counts(k) = c
      if (fire) out += ((ts, srv, svc, lag, causes))
    }
    out.toSeq
  }

  /** Pure-Scala reference fold for tests (reference processFSEntry
    * semantics): the R4 per-service cooldown applied over [[firedRef]]'s
    * fire set in the same global (ts, server, lag) order. The two-phase
    * form is output-identical to the reference's interleaved loop — the
    * vote counter never reads cooldown state — and keeps the R3 fire
    * rule in ONE place (firedRef), so the specs that stage on the fire
    * set cannot drift from the oracle they claim lockstep with.
    */
  def alertsRef(
      rows: Seq[(String, String, Int, Long, Boolean, String)],
      cfg: AlertCfg = default): Seq[(Long, String, String, Int, String)] = {
    val lastAlert = mutable.Map.empty[String, Long]
    firedRef(rows, cfg).filter { case (ts, _, svc, _, _) =>
      val emit = lastAlert.get(svc)
        .forall(last => (ts - last) / 1000.0 > cfg.cooldownMs / 1000.0)
      if (emit) lastAlert(svc) = ts
      emit
    }
  }
}
