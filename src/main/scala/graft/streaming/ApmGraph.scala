package graft.streaming

import org.apache.spark.sql.{DataFrame, Encoders, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import org.apache.spark.sql.types.StructType
import graft.operators.{Alerts, Parsing, ZScore}
import graft.sources.LogFileSource

/** The reference's six-process dataflow as ONE running streaming graph
  * (SURVEY.md §2.8; the reference topology is
  * tail -> parse -> stats -> z-score -> alerts, processes connected by
  * RabbitMQ queues, config/apm_config.json:87-178).
  *
  * Spark-native realization: a chain of Structured Streaming queries,
  * one per stage, each stage's transform written once:
  *  1. tail+route (S1/P1, LogFileSource) -> parse exits (P5) -> stats
  *     window aggregation (A1-A7) -> `stats`; over the parquet handoff
  *     the parsed tx stream also lands raw in `tee/` (R6).
  *  2. `stats` -> lag fan-out (Z5) -> keyed z-score state (Z1/Z2) ->
  *     `zscore`.
  *  3. `zscore` -> candidate predicates (R1/R2, stream-static broadcast
  *     config join) -> leaky-bucket vote fold (R3) -> `fired`.
  *  4. `fired` -> per-service cooldown (R4; arrival order, or event-time
  *     order under `GraphCfg.orderedCooldown`) -> ordered sink (A7) ->
  *     `alerts/`.
  *
  * Each stage boundary is an [[ApmGraph.Edge]], and the same stage code
  * runs over either transport:
  *  - a parquet topic directory under the work dir ([[runStage1]] ..
  *    [[runStage4]]): each directory is a durable, replayable topic;
  *    the upstream query's file sink is the producer (S3),
  *    `readStream.parquet` the consumer (S4);
  *  - a `graftqueue` topic ([[runStageQueued]] and the `...Queued`
  *    entry points): key + JSON value over the in-JVM registry, a
  *    file-backed topic directory shared across processes, or a TCP
  *    broker. With a Kafka connector jar the same edge helpers would
  *    become `format("kafka")`.
  *
  * Checkpoints give each stage S7 resume-exactly-once;
  * `Trigger.AvailableNow` drains whatever is pending and stops, which is
  * also the deterministic test harness mode. The broker contract the
  * Kafka transport would add (partitioned offsets, poll batching,
  * committed-offset resume, at-least-once redelivery) is modeled and
  * test-pinned by [[QueueContract]].
  *
  * (3 and 4 are separate queries because a flatMapGroupsWithState must be
  * the last stateful operator of its query — exactly the reason the
  * reference splits these into separate processes, too.)
  */
object ApmGraph {

  /** `orderedCooldown` opts stage 4 (over either handoff) into the
    * DETERMINISTIC cooldown
    * ([[ApmStateV2.cooldownStreamOrdered]]): fired candidates fold in
    * event-time order across servers (the batch oracle's semantics)
    * instead of the reference-faithful arrival order, at the price of a
    * watermark delay (`orderedDelay` — the cross-chain skew budget) and
    * the RocksDB state store (transformWithState requires it).
    *
    * `stage1MaxFiles` is stage 1's per-micro-batch file admission bound
    * (the `graftlogs` source's `maxFilesPerTrigger`; files are admitted
    * oldest modification time first, and listing them runs no Spark
    * job however many there are). It interacts with the stats window's
    * GLOBAL watermark on a COLD BACKFILL: host logs that each cover the
    * same time range, admitted across several micro-batches, advance
    * the watermark past the still-unadmitted files' whole span and
    * silently window-drop them (alarmed on `t_ops`, but dropped).
    * Rotated chunk files written in time order are safe under any bound
    * as long as one chunk's event-time span fits in `lateness`
    * (LogFileStreamSpec drains 104 such files 10 at a time with no
    * drop), and so is live tailing; a backfill of whole host logs must
    * either admit them in one batch (raise this above the backlog's
    * file count; StreamScaleProbe's hosts axis measures that shape) or
    * size `lateness` to the backlog's event-time span, the same
    * recovery-skew discipline the ordered cooldown documents.
    */
  case class GraphCfg(
      windowLen: String = "60 seconds",
      slide: String = "10 seconds",
      lateness: String = "10 seconds",
      lag: ZScore.LagCfg = ZScore.LagCfg(3, 1.0, 0.5),
      alert: Alerts.AlertCfg = Alerts.AlertCfg(
        hardMaxMs = 150.0, hardMinMs = 0.0, hardMinTpm = 0.0,
        windowSz = 5, voteThreshold = 2, cooldownMs = 30000L),
      orderedCooldown: Boolean = false,
      orderedDelay: String = "10 seconds",
      stage1MaxFiles: Int = 10)

  val statsSchema: StructType = Encoders.product[StatsRow].schema
  case class StatsRow(server: String, service: String, ts_ms: Long,
      n: Long, tpm: Double, average: Option[Double], per75: Option[Double],
      per95: Option[Double])

  private val zOutSchema: StructType = Encoders.product[ApmStreaming.ZOut].schema
  private val voteOutSchema: StructType = Encoders.product[ApmStreaming.VoteOut].schema

  private def await(q: StreamingQuery): Unit = {
    q.awaitTermination(); ()
  }

  // ------------------------------------------------------------- handoffs

  /** One stage boundary. Every stage's transform is written once; the
    * edge around it picks the transport, and only [[read]] and [[write]]
    * know the difference.
    */
  sealed trait Edge

  /** A parquet topic directory: the upstream query's file sink produces
    * (S3), `readStream.parquet` consumes (S4). One writer, any number of
    * readers, each with its own checkpoint — so a reader may name a
    * directory OWNED by another pipeline's work dir. (A file-sink output
    * cannot be symlinked or copied instead: its `_spark_metadata` log
    * records absolute paths, and a relocated clone lists as empty.)
    */
  final case class ParquetDir(path: String) extends Edge

  /** A `format("graftqueue")` topic — the handoff the reference runs over
    * RabbitMQ (config/apm_config.json:87-178) and a cluster would run
    * over Kafka. `queueDir` is the connector's `dir` option: `None` is
    * the in-JVM registry; a directory is the file-backed transport,
    * shared across PROCESSES, so each stage can run in its own JVM (the
    * reference's deployment topology); a `broker://` URL dials a
    * [[SocketBroker]].
    */
  final case class Topic(name: String, queueDir: Option[String] = None)
      extends Edge

  /** `in` as a streaming frame of `schema`'s columns: a schema'd parquet
    * read, or a topic read whose JSON `value` is parsed back. `group` is
    * the topic consumer group; `limit` bounds one micro-batch's
    * admission (files per trigger for a directory, records per partition
    * for a topic) — the backfill rate limiter.
    */
  private def read(spark: SparkSession, in: Edge, schema: StructType,
      group: String, limit: Option[Int] = None): DataFrame = in match {
    case ParquetDir(path) =>
      val r = spark.readStream.schema(schema)
      limit.foreach(n => r.option("maxFilesPerTrigger", n))
      r.parquet(path)
    case Topic(name, queueDir) =>
      val r = spark.readStream.format("graftqueue")
        .option("topic", name).option("group", group)
      queueDir.foreach(d => r.option("dir", d))
      limit.foreach(n => r.option("maxpoll", n))
      r.load().select(from_json(col("value"), schema).as("r"))
        .select(col("r.*"))
  }

  /** Start the query that drains `df` to `out`, repartitioned by `keys`.
    *
    * Keyed-stage ordering contract (all stage boundaries): an upstream
    * stateful operator's sink tasks are hashed by its own grouping, so
    * ONE epoch's rows for a key would span several tasks/files — a
    * downstream admission boundary (maxFilesPerTrigger, a queue drain
    * end) landing mid-epoch could then deliver a key's rows
    * ts-misordered ACROSS micro-batches, which the keyed folds
    * (within-batch sort only) cannot repair. Repartitioning by the
    * downstream KEY puts each key's whole epoch in one task (one file /
    * one atomic queue batch), so any split between files or task
    * batches preserves per-key order; cross-epoch order is
    * watermark-monotonic. On a topic the record key is `keys` joined by
    * '|' and the value is the row as JSON, so partition-local queue
    * order — the only order a broker guarantees — is per-key order.
    */
  private def write(df: DataFrame, keys: Seq[String], out: Edge,
      checkpoint: String): StreamingQuery = {
    val w = out match {
      case ParquetDir(path) =>
        df.repartition(keys.map(col): _*)
          .writeStream.format("parquet").option("path", path)
      case Topic(name, queueDir) =>
        val w = df.select(concat_ws("|", keys.map(col): _*).as("key"),
            to_json(struct(col("*"))).as("value"))
          .repartition(col("key"))
          .writeStream.format("graftqueue").option("topic", name)
        queueDir.foreach(d => w.option("dir", d))
        w
    }
    w.option("checkpointLocation", checkpoint)
      .trigger(Trigger.AvailableNow())
      .start()
  }

  /** A stage's checkpoint under `workDir`, named for the edge it drains
    * to (stage 4: from): a queue edge's is suffixed `_q`, so one work dir
    * can hold both handoffs' progress.
    */
  private def checkpoint(workDir: String, name: String, edge: Edge): String =
    edge match {
      case _: Topic => s"$workDir/ckpt_${name}_q"
      case _: ParquetDir => s"$workDir/ckpt_$name"
    }

  // ---------------------------------------------------------- the stages

  /** Stage 1: tail logs -> route -> parse exits -> window stats -> `out`,
    * run to completion. Over a parquet handoff the parsed tx stream is
    * also teed raw to `tee/` (R6: same stream, second sink, own
    * checkpoint). Over a queue the stats window's watermark drops are
    * published on `t_ops` ([[awaitWithDropMetrics]]).
    */
  private def stage1(spark: SparkSession, logsGlob: String, workDir: String,
      cfg: GraphCfg, out: Edge): Unit = {
    val lines = LogFileSource.stream(spark, logsGlob, cfg.stage1MaxFiles)
    val parsed = Parsing.extractStdExit(
        lines.filter(col("log_type") === "server_log"))
      .select(col("server"), col("service"),
        timestamp_millis(col("end_ms")).as("end_ts"), col("elapsed"))
    val stats = ApmStreaming.slidingStatsStream(
      parsed, cfg.windowLen, cfg.slide, cfg.lateness)
    def start = write(stats, Seq("server", "service"), out,
      checkpoint(workDir, "stats", out))
    out match {
      case _: ParquetDir =>
        val tee = parsed.writeStream
          .format("parquet")
          .option("path", s"$workDir/tee")
          .option("checkpointLocation", s"$workDir/ckpt_tee")
          .trigger(Trigger.AvailableNow())
          .start()
        val q = start
        await(tee); await(q)
      case Topic(_, queueDir) =>
        awaitWithDropMetrics(spark, start, "stage1", queueDir)
    }
  }

  /** Stage 2: stats -> lag fan-out (Z5) -> keyed z-score state (Z1/Z2). */
  private def stage2(spark: SparkSession, workDir: String, cfg: GraphCfg,
      in: Edge, out: Edge, limit: Option[Int]): StreamingQuery = {
    val stats = read(spark, in, statsSchema, "stage2", limit)
    write(ApmStreaming.zScoreStream(
        ApmStreaming.fanOutLags(stats, Seq(cfg.lag))).toDF(),
      Seq("server", "service"), out, checkpoint(workDir, "z", out))
  }

  /** Stage 3: z-scored rows -> candidate flags (R1/R2, stream-static
    * broadcast config join) -> leaky-bucket vote fold (R3). Fired rows
    * are keyed by SERVICE, the key the stage-4 cooldown groups on.
    */
  private def stage3(spark: SparkSession, workDir: String, cfg: GraphCfg,
      in: Edge, out: Edge): StreamingQuery = {
    import spark.implicits._
    val cand = Alerts.candidates(read(spark, in, zOutSchema, "stage3"), cfg.alert)
      .select(col("server"), col("service"), col("lag"), col("ts_ms"),
        col("bad"), col("causes")).as[ApmStreaming.VoteIn]
    write(ApmStreaming.voteStream(cand, cfg.alert).toDF(), Seq("service"),
      out, checkpoint(workDir, "fired", out))
  }

  /** Stage 4: per-service cooldown (R4) -> ordered alert sink (A7)
    * `alerts/`. The cooldown is the arrival-order fold, or the
    * event-time one when `cfg.orderedCooldown` is set (see [[GraphCfg]]).
    * `afterBatch` is [[ApmStreaming.sinkToParquet]]'s fault-injection
    * point.
    */
  private def stage4(spark: SparkSession, workDir: String, cfg: GraphCfg,
      in: Edge, group: String, limit: Option[Int],
      afterBatch: Long => Unit): StreamingQuery = {
    import spark.implicits._
    val fired = read(spark, in, voteOutSchema, group, limit)
      .as[ApmStreaming.VoteOut]
    val alerts =
      if (cfg.orderedCooldown)
        ApmStateV2.cooldownStreamOrdered(fired, cfg.alert, cfg.orderedDelay)
      else ApmStreaming.cooldownStream(fired, cfg.alert)
    ApmStreaming.sinkToParquet(alerts.toDF(), s"$workDir/alerts",
      checkpoint(workDir, "alerts", in), orderCol = Some("ts_ms"),
      availableNow = true, afterBatch = afterBatch)
  }

  // ------------------------------------------------ parquet-handoff graph
  // Each stage has a `runStageN` that drains it to completion
  // (AvailableNow), which is also the deterministic test mode; stages 2
  // and 4 also have a `startStageN` returning the running query (a real
  // deployment starts all four concurrently on processing-time
  // triggers; GraphFaultSpec uses the handles to kill queries
  // mid-drain).

  def runStage1(spark: SparkSession, logsGlob: String, workDir: String,
      cfg: GraphCfg): Unit =
    stage1(spark, logsGlob, workDir, cfg, ParquetDir(s"$workDir/stats"))

  /** `maxFilesPerTrigger` caps how many stats files one micro-batch
    * admits (GraphFaultSpec uses it to split a drain into epochs it can
    * kill between).
    */
  def startStage2(spark: SparkSession, workDir: String, cfg: GraphCfg,
      maxFilesPerTrigger: Option[Int] = None): StreamingQuery =
    stage2(spark, workDir, cfg, ParquetDir(s"$workDir/stats"),
      ParquetDir(s"$workDir/zscore"), maxFilesPerTrigger)

  def runStage2(spark: SparkSession, workDir: String, cfg: GraphCfg): Unit =
    await(startStage2(spark, workDir, cfg))

  def runStage3(spark: SparkSession, workDir: String, cfg: GraphCfg): Unit =
    await(stage3(spark, workDir, cfg, ParquetDir(s"$workDir/zscore"),
      ParquetDir(s"$workDir/fired")))

  /** `afterBatch` runs in the window between the alert sink's data write
    * and the epoch commit; production callers leave it a no-op.
    */
  def startStage4(spark: SparkSession, workDir: String, cfg: GraphCfg,
      afterBatch: Long => Unit = _ => ()): StreamingQuery =
    stage4(spark, workDir, cfg, ParquetDir(s"$workDir/fired"), "stage4",
      None, afterBatch)

  def runStage4(spark: SparkSession, workDir: String, cfg: GraphCfg): Unit =
    await(startStage4(spark, workDir, cfg))

  /** Drain the whole graph once, in topological order. */
  def runAll(spark: SparkSession, logsGlob: String, workDir: String,
      cfg: GraphCfg): Unit = {
    runStage1(spark, logsGlob, workDir, cfg)
    runStage2(spark, workDir, cfg)
    runStage3(spark, workDir, cfg)
    runStage4(spark, workDir, cfg)
  }

  // -------------------------------------------------- queue-handoff graph

  /** Stage 3 from `in` — a zscore directory or a z topic — to the fired
    * topic `out`.
    */
  def runStage3Queued(spark: SparkSession, workDir: String, cfg: GraphCfg,
      in: Edge, out: Topic): Unit =
    await(stage3(spark, workDir, cfg, in, out))

  /** Stage 4 consuming fired rows from the topic `in` under consumer
    * `group`. `maxPoll` bounds records per micro-batch (the connector's
    * admission option) — production leaves it unbounded; the drop-
    * exactness spec uses it to force a >100-batch drain. Watermark and
    * ledger drops are published on `t_ops`.
    */
  def runStage4Queued(spark: SparkSession, workDir: String, cfg: GraphCfg,
      in: Topic, group: String = "stage4",
      maxPoll: Option[Int] = None): Unit =
    awaitWithDropMetrics(spark,
      stage4(spark, workDir, cfg, in, group, maxPoll, _ => ()),
      "stage4", in.queueDir, includeLedger = true)

  /** Stage 5 — the reference's DB-insert process
    * (stream_insert_db.js:277-353): a SECOND consumer group on the z
    * topic (the db pipeline and the alert pipeline both consume derived
    * stats — exactly the reference's fan-out), shaping each row into
    * the stats-table form (identity/measure columns + the 15 z fields
    * as one json payload, S6) and batch-inserting into an embedded
    * Derby via the requeue-on-failure JDBC sink. The Derby lives under
    * this stage's OWN workDir — single-process like the reference's one
    * DB writer; the parent asserts its contents after the process
    * exits.
    */
  def runStage5DbQueued(spark: SparkSession, workDir: String,
      in: Topic): Unit = {
    val z0 = read(spark, in, zOutSchema, "s6db")
    // The in-flight ZOut encodes the reference's `undefined` as NaN
    // (a case-class Double has no null); the DB payload's convention is
    // SQL NULL — what the batch chain emits and the registered
    // s6_db_stats oracle pins — so warm-up/σ=0 fields are mapped back
    // before the json shaping.
    val z = Seq("average", "per75", "per95")
      .flatMap(m => Seq(m, s"${m}_avg", s"${m}_lb", s"${m}_ub"))
      .foldLeft(z0)((df, c) =>
        df.withColumn(c, when(isnan(col(c)), lit(null)).otherwise(col(c))))
    await(JdbcSink.sinkToJdbc(JdbcSink.statsTableRows(z),
      s"jdbc:derby:$workDir/db;create=true", "stats_rows",
      s"$workDir/ckpt_db", s"$workDir/park"))
  }

  /** One drain pass of stage `n` in the fully-queued topology (every
    * handoff a file topic under `queueDir`): 1 tails `logsGlob` and
    * produces `t_stats`, 2 consumes `t_stats` and produces `t_z`,
    * 3 consumes `t_z` and produces `t_fired`, 4 consumes `t_fired` and
    * lands `workDir/alerts`, 5 consumes `t_z` under its own group and
    * inserts the stats-table rows into an embedded Derby. Each stage
    * keeps its own checkpoints under its own `workDir`; only `queueDir`
    * (and, for 1, the log directory) is shared — which is exactly what
    * makes the stages runnable as separate OS processes
    * (MultiProcessGraphSpec forks them; the reference's six processes
    * wired by a broker, config/apm_config.json:58-81).
    */
  def runStageQueued(spark: SparkSession, stage: Int, logsGlob: String,
      workDir: String, queueDir: String, cfg: GraphCfg): Unit = {
    def topic(name: String) = Topic(name, Some(queueDir))
    stage match {
      case 1 => stage1(spark, logsGlob, workDir, cfg, topic("t_stats"))
      case 2 => await(stage2(spark, workDir, cfg, topic("t_stats"),
        topic("t_z"), None))
      case 3 => runStage3Queued(spark, workDir, cfg, topic("t_z"),
        topic("t_fired"))
      case 4 => runStage4Queued(spark, workDir, cfg, topic("t_fired"))
      case 5 => runStage5DbQueued(spark, workDir, topic("t_z"))
      case other => sys.error(s"no stage $other")
    }
  }

  /** Drop observability ACROSS processes: watermark-gated stages drop
    * too-late rows by design (the stats window's lateness bound at
    * stage 1, the ordered cooldown's determinism contract at stage 4),
    * but the drop records are process-local — Spark's
    * `numRowsDroppedByWatermark` lives in this JVM's
    * StreamingQueryProgress and the residual-band
    * [[ApmStateV2.LateDrops]] ledger is an in-JVM counter, both
    * invisible to an operator (or a topology spec) watching a forked
    * stage from outside. After each drain, any NONZERO drop delta is
    * published as one JSON record on the `t_ops` queue topic — the
    * queue-alarm shape the reference uses for operational signals
    * (config/apm_config.json:41-42) — keyed by stage so one partition
    * carries each stage's alarm stream in order. Zero-drop drains
    * publish nothing (an alarm channel, not a heartbeat).
    * `includeLedger` is set only by the stage that OWNS the in-JVM
    * ledger (stage 4's ordered cooldown) so an in-process multi-stage
    * run cannot double-report the same ledger delta.
    */
  private val ledgerPublished = new java.util.concurrent.atomic.AtomicLong(0L)
  private val ledgerDataPublished = new java.util.concurrent.atomic.AtomicLong(0L)

  /** EXACT per-query watermark-drop accumulator. `recentProgress` is a
    * ring buffer capped at `numRecentProgressUpdates` (default 100), so
    * summing it after a long recovery drain (>100 micro-batches) would
    * silently lose the early batches' drops — the exact blindness this
    * channel exists to remove. A listener sees every progress event.
    *
    * Registered BEFORE the query starts: the run id does not exist yet,
    * so events that arrive before [[bind]] are buffered and replayed
    * (runId-filtered) once the id is known — a listener registered
    * after `start()` could miss batch 0's event outright, undercounting
    * drops AND leaving `maxBatchId` forever short so the bounded
    * post-termination drain always spins its full deadline.
    */
  private class DropListener
      extends org.apache.spark.sql.streaming.StreamingQueryListener {
    val wmDropped = new java.util.concurrent.atomic.AtomicLong(0L)
    val maxBatchId = new java.util.concurrent.atomic.AtomicLong(-1L)
    private var runId: java.util.UUID = null
    private val early = scala.collection.mutable.Buffer
      .empty[org.apache.spark.sql.streaming.StreamingQueryProgress]
    private def record(
        p: org.apache.spark.sql.streaming.StreamingQueryProgress): Unit = {
      wmDropped.addAndGet(p.stateOperators.map(_.numRowsDroppedByWatermark).sum)
      maxBatchId.updateAndGet(m => math.max(m, p.batchId))
      ()
    }
    /** Attach the started query's run id and replay buffered events for
      * it. Synchronized against [[onQueryProgress]] so a concurrent
      * event can neither be double-counted nor slip between the buffer
      * drain and the runId publish.
      */
    def bind(id: java.util.UUID): Unit = synchronized {
      runId = id
      early.foreach(p => if (p.runId == id) record(p))
      early.clear()
    }
    override def onQueryStarted(
        e: org.apache.spark.sql.streaming.StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryProgress(
        e: org.apache.spark.sql.streaming.StreamingQueryListener.QueryProgressEvent): Unit =
      synchronized {
        if (runId == null) { early += e.progress; () }
        else if (e.progress.runId == runId) record(e.progress)
      }
    override def onQueryTerminated(
        e: org.apache.spark.sql.streaming.StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  }

  /** Run `start` to completion with an exact drop accumulator attached,
    * then publish any nonzero drop delta (see [[publishDropMetrics]]).
    * The listener is registered BEFORE start and bound to the query's
    * run id right after (buffering any events delivered in between), so
    * batch 0's progress event can never be missed; the post-termination
    * drain below then waits until the last batch's event has arrived.
    */
  private def awaitWithDropMetrics(spark: SparkSession,
      start: => StreamingQuery,
      stage: String, queueDir: Option[String],
      includeLedger: Boolean = false): Unit = {
    val l = new DropListener
    spark.streams.addListener(l)
    val q = try start catch {
      case t: Throwable => spark.streams.removeListener(l); throw t
    }
    l.bind(q.runId)
    try {
      q.awaitTermination()
      // the listener bus is async: wait (bounded) until the event for
      // the final completed batch has been delivered
      val lastBatch = Option(q.lastProgress).map(_.batchId).getOrElse(-1L)
      val deadline = System.nanoTime() + 5L * 1000 * 1000 * 1000
      while (l.maxBatchId.get() < lastBatch && System.nanoTime() < deadline)
        Thread.sleep(20)
    } finally spark.streams.removeListener(l)
    publishDropMetrics(l.wmDropped.get(), stage, queueDir, includeLedger)
  }

  def publishDropMetrics(wmDropped: Long,
      stage: String, queueDir: Option[String],
      includeLedger: Boolean = false): Unit = {
    val (dLed, dLedData) =
      if (!includeLedger) (0L, 0L)
      else {
        val led = ApmStateV2.LateDrops.dropped.get()
        val ledData = ApmStateV2.LateDrops.droppedWithData.get()
        (led - ledgerPublished.getAndSet(led),
          ledData - ledgerDataPublished.getAndSet(ledData))
      }
    if (wmDropped > 0 || dLed > 0) {
      val rec = s"""{"stage":"$stage","wm_dropped":$wmDropped,""" +
        s""""ledger_dropped":$dLed,"ledger_dropped_with_data":$dLedData}"""
      QueueRegistry.topic("t_ops", 1, queueDir).produce(stage, rec)
      ()
    }
  }
}
