package graft.streaming

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import graft.operators.Parsing

/** S5 — the JMX polling PROCESS (pull_jvm_stats.js:35-57): on a timer,
  * shell the management CLI once per host, normalize the CLI's
  * anonymous-JSON-block output, and publish the flattened stat rows to
  * the bus keyed by host. The reference shells `jboss-cli.sh
  * --connect --controller=<host> ...` every 60 s; here the CLI command
  * is a parameter (the test supplies a stub that prints the same output
  * shape — no WildFly ships in this container), so everything BUT the
  * server binary is the real deployment shape: a separate OS process
  * (FileTopicChild `graphstage 6`), a real per-host subprocess exec per
  * tick, the registered `s5_jmx_cli` normalization expression verbatim
  * ([[Parsing.cliDocCol]]/[[Parsing.cliStatCols]]), and a queue-topic
  * handoff other processes consume.
  *
  * Scale note: the poll fan-out is |hosts| (the reference polls 2; a
  * large fleet is still only hundreds of rows per tick), so the exec
  * loop is driver-side by design — the data volume lives downstream in
  * the consumers, not here.
  */
object JmxPoller {

  val StatNames: Seq[String] = Seq("ds", "heap", "threads")

  /** Exec the CLI once for `host`, capturing stdout (the reference's
    * execSync leg). Non-zero exit raises — the reference logs and skips
    * the tick; callers that want that behavior catch per host.
    */
  def shellExec(cliCmd: String)(host: String): String = {
    val pb = new ProcessBuilder("sh", cliCmd, host)
    // Discard stderr like the reference (execSync stdio
    // ['pipe','pipe','ignore']): leaving the pipe unread deadlocks the
    // tick once a chatty CLI fills the ~64 KB pipe buffer while we block
    // in readAllBytes on stdout.
    pb.redirectError(ProcessBuilder.Redirect.DISCARD)
    val p = pb.start()
    val out = new String(p.getInputStream.readAllBytes())
    val code = p.waitFor()
    require(code == 0, s"cli exec failed for $host: exit $code")
    out
  }

  /** One poll tick: exec per host, normalize through the registered
    * expression, publish one JSON row per host (keyed by host, so a
    * host's samples stay ordered on one partition). Returns the rows
    * published.
    */
  def pollOnce(spark: SparkSession, hosts: Seq[String],
      exec: String => String, topic: FileTopic, pollMs: Long): Int = {
    import spark.implicits._
    val raws = hosts.map(h => (h, exec(h)))
    val rows = raws.toDF("host", "raw")
      .select(col("host"),
        Parsing.cliDocCol(col("raw"), StatNames).as("doc"))
      .select(col("host") +: lit(pollMs).as("poll_ms") +:
        Parsing.cliStatCols(col("doc")): _*)
      .select(col("host"), to_json(struct(col("*"))).as("value"))
      .collect()
      .map(r => (r.getString(0), r.getString(1)))
    topic.produceAll(rows.toSeq)
    rows.length
  }
}
