package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** S1/S2 — the log-file source layer. The reference spawns ~70
  * `perl_tail.pl` processes with a pause-file backpressure protocol
  * (stream_parse_transactions.js:814-975, perl_tail.pl); in Spark both
  * collapse into one streaming source over the log directory:
  *
  *  - tail-follow -> [[LogFileProvider]] (`format("graftlogs")`): each
  *    trigger lists the glob on the driver and admits the files it has
  *    not seen, oldest modification time first, each read once, whole;
  *  - per-file identity (the parser routes by file name, :741-812) ->
  *    the source's own `file` column, the same URI string that
  *    `input_file_name()` gives [[batch]];
  *  - pause-file flow control -> the per-batch file bound
  *    (`maxFilesPerTrigger`, a `ReadLimit.maxFiles` admission limit);
  *  - the server-name-from-path convention (path segment 2, :747)
  *    -> regexp_extract on the file name.
  */
object LogFileSource {

  /** Streaming lines + file identity + routing columns. */
  def stream(spark: SparkSession, globPath: String,
      maxFilesPerTrigger: Int = 10): DataFrame =
    route(spark.readStream
      .format("graftlogs")
      .option("maxFilesPerTrigger", maxFilesPerTrigger)
      .load(globPath))

  /** Batch equivalent over the same layout (for tests / backfill). */
  def batch(spark: SparkSession, globPath: String): DataFrame =
    route(spark.read.format("text").load(globPath)
      .withColumn("file", input_file_name()))

  /** P1 routing columns over `(file, value)` lines: file, server (path
    * segment after /net/), log type class (soap_io | server_log | app).
    */
  def route(lines: DataFrame): DataFrame =
    lines
      .withColumn("server", regexp_extract(col("file"), "/net/([^/]+)/", 1))
      .withColumn("log_type",
        when(col("file").rlike("soap_io"), "soap_io")
          .when(col("file").rlike("server\\.log"), "server_log")
          .otherwise("app"))
      .select(col("file"), col("server"), col("log_type"),
        col("value").as("line"))
}
