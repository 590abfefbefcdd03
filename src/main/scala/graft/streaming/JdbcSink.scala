package graft.streaming

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

/** S6 — the REAL buffered batch DB sink (stream_insert_db.js:277-353),
  * exercised end-to-end against an embedded Apache Derby database (the
  * one JDBC engine shipped with Spark's own jars, so zero extra deps).
  *
  * The reference drains a per-type buffer into one multi-row INSERT via
  * pg-promise (`stream_insert_db.js:295-327`); on failure it unshifts
  * the batch back onto the queue head (`:339-353`). The Spark-native
  * shape is `foreachBatch { _.write.jdbc(...) }`:
  *
  *   - batching: a micro-batch IS the buffer — the trigger interval
  *     plays the 1000-row/5-s flush policy (`config/apm_config.json:230-231`);
  *   - multi-row insert: the JDBC writer prepares one INSERT per
  *     partition and addBatch()es rows — the same wire shape as
  *     pg-promise's ColumnSet multi-insert, but per-executor in
  *     parallel (at cluster scale each partition streams its own
  *     batch, no single-writer bottleneck; `numPartitions` caps the
  *     connection fan-in so 1000 executors don't open 1000 sessions);
  *   - failure requeue: [[ApmStreaming.RequeueWriter]] parks the failed
  *     micro-batch durably and replays it in order at the next trigger —
  *     the queue-head unshift, made crash-safe.
  *
  * The `stats` table's jsonb column (`entries.js:120-151` nests the 15
  * z-score fields into one object; `stream_insert_db.js:153` declares
  * `stats:json`) maps to a `to_json(struct(...))` string column —
  * Postgres would ingest it as jsonb verbatim; Derby (no JSON type)
  * stores it as the CLOB the dialect picks for StringType. Either way
  * the nested payload round-trips through `from_json`, which
  * `Alerts.dbStatsRoundtrip` (query `s6_db_stats`) verifies against the
  * DuckDB oracle, and [[JdbcSinkSpec]] verifies against the live Derby.
  */
object JdbcSink {

  /** Batch JDBC append, connection fan-in capped. `numPartitions` is the
    * reference's "one DB writer" generalized: at local[32] nothing
    * changes, on a 1000-executor cluster it bounds concurrent inserts.
    * Postgres URLs take the [[PgStats]] dialect path (jsonb DDL +
    * `?::jsonb` insert casts); everything else uses Spark's generic JDBC
    * writer (Derby, the tests' live engine, maps StringType itself).
    */
  def writeBatch(df: DataFrame, url: String, table: String,
      numPartitions: Int = 8): Unit = {
    val capped =
      if (df.rdd.getNumPartitions > numPartitions) df.coalesce(numPartitions)
      else df
    if (PgStats.isPostgres(url)) PgStats.writeBatch(capped, url, table)
    else capped.write.mode("append").jdbc(url, table,
      new java.util.Properties())
  }

  /** Postgres dialect adapter for the stats table. The reference's
    * `stats` table stores the 15-field z payload in a `jsonb` column
    * (`entries.js:120-151` nests it; `stream_insert_db.js:153` declares
    * `stats:json` in the pg-promise ColumnSet). Spark's generic JDBC
    * writer can express NEITHER side of that: `createTableColumnTypes`
    * only parses Catalyst types (no JSONB), and its prepared INSERT
    * sends the payload as a plain VARCHAR parameter, which Postgres
    * rejects against a jsonb column without an explicit cast. So the pg
    * leg owns both: it creates the table with JSONB DDL and inserts
    * partition-parallel through plain JDBC with a `?::jsonb`
    * placeholder cast — the pg-promise `:json` equivalent, and the same
    * executor-side multi-row addBatch wire shape Spark's writer uses.
    * Exercised by JdbcSinkSpec against a recording pgjdbc-shaped driver
    * double (no Postgres server or driver jar exists in this
    * container); the Derby path stays on Spark's writer and is
    * exercised live.
    */
  object PgStats {
    def isPostgres(url: String): Boolean = url.startsWith("jdbc:postgresql:")

    /** (column, pg DDL type, insert placeholder) — the
      * [[statsTableRows]] shape in declaration order.
      */
    val columns: Seq[(String, String, String)] = Seq(
      ("ts_ms", "BIGINT", "?"),
      ("server", "VARCHAR(256)", "?"),
      ("service", "VARCHAR(256)", "?"),
      ("lag", "INT", "?"),
      ("tpm", "DOUBLE PRECISION", "?"),
      ("stats_json", "JSONB", "?::jsonb"))

    def ddl(table: String): String =
      columns.map { case (n, t, _) => s"$n $t" }
        .mkString(s"CREATE TABLE IF NOT EXISTS $table (", ", ", ")")

    def insertSql(table: String): String =
      s"INSERT INTO $table (${columns.map(_._1).mkString(", ")}) " +
        s"VALUES (${columns.map(_._3).mkString(", ")})"

    /** Ensure-DDL once (driver-side, idempotent), then insert each
      * partition as one batched prepared statement on its own
      * connection + transaction — the reference's multi-row insert
      * (stream_insert_db.js:295-327), executor-parallel. The caller
      * ([[JdbcSink.writeBatch]]) has already capped the partition count,
      * which bounds the connection fan-in.
      *
      * Delivery semantics: AT-LEAST-ONCE under task retry, the same
      * contract as Spark's own `df.write.jdbc` append — each partition
      * commits independently, so a task that fails AFTER its commit
      * re-inserts that partition's rows when Spark retries it. A failed
      * (uncommitted) batch is explicitly rolled back before the
      * connection closes. Exactly-once belongs to the layer above: the
      * streaming requeue wrapper replays whole micro-batches, and the
      * reference accepts the same duplicate window
      * (stream_insert_db.js:295-327 has no dedup key either).
      */
    def writeBatch(df: DataFrame, url: String, table: String): Unit = {
      require(df.columns.toSeq == columns.map(_._1),
        s"pg stats writer expects columns ${columns.map(_._1)}, " +
          s"got ${df.columns.toSeq}")
      val conn = java.sql.DriverManager.getConnection(url)
      try {
        val st = conn.createStatement()
        try { st.executeUpdate(ddl(table)); () } finally st.close()
      } finally conn.close()
      val sql = insertSql(table)
      val n = columns.size
      df.foreachPartition { (rows: Iterator[Row]) =>
        if (rows.hasNext) {
          val c = java.sql.DriverManager.getConnection(url)
          try {
            c.setAutoCommit(false)
            val ps = c.prepareStatement(sql)
            try {
              rows.foreach { r =>
                var i = 0
                while (i < n) {
                  if (r.isNullAt(i)) ps.setObject(i + 1, null)
                  else ps.setObject(i + 1, r.get(i))
                  i += 1
                }
                ps.addBatch()
              }
              ps.executeBatch()
              c.commit()
            } catch {
              case e: Throwable =>
                // explicit rollback rather than relying on close() to
                // discard the open transaction — drivers differ on
                // close-with-pending-tx behavior; swallow ANY rollback
                // failure (suppressed, not just SQLException) so the
                // original batch error is what the task reports
                try c.rollback() catch {
                  case scala.util.control.NonFatal(r) => e.addSuppressed(r)
                }
                throw e
            } finally ps.close()
          } finally c.close()
        }
      }
    }
  }

  /** The `stats`-table row shape (stream_insert_db.js:149-160): flat
    * identity/measure columns + the 15 z-score fields as ONE json
    * string column, exactly the reference's jsonb payload.
    */
  def statsTableRows(cand: DataFrame): DataFrame =
    cand.select(
      col("ts_ms"), col("server"), col("service"),
      col("lag").cast("int").as("lag"), col("tpm"),
      graft.operators.Alerts.statsJsonCol.as("stats_json"))

  /** Streaming JDBC sink with the reference's failed-batch requeue:
    * park-and-replay around `writeBatch`. A flaky/downed DB parks the
    * micro-batch; the next trigger replays parked batches in batch-id
    * order before the current one — nothing dropped, order preserved
    * (stream_insert_db.js:339-353 semantics, crash-safe).
    */
  def sinkToJdbc(df: DataFrame, url: String, table: String,
      checkpoint: String, parkDir: String): StreamingQuery =
    ApmStreaming.sinkWithRequeue(df, checkpoint, parkDir,
      (batch, _) => writeBatch(batch, url, table))
}
