package graft.streaming

import org.apache.spark.sql.{DataFrame, Encoders, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import org.apache.spark.sql.types.StructType
import graft.operators.{Alerts, Parsing, ZScore}
import graft.sources.LogFileSource

/** The reference's six-process dataflow as ONE running streaming graph
  * (SURVEY.md §2.8; the reference topology is
  * tail -> parse -> stats -> z-score -> alerts, processes connected by
  * RabbitMQ queues, config/apm_config.json:87-178).
  *
  * Spark-native realization: a chain of Structured Streaming queries
  * connected by append-only parquet directories — the queue analogue
  * available in this container (each directory is a durable, replayable
  * topic; `readStream.parquet` is the consumer (S4), the upstream query's
  * sink the producer (S3); with a Kafka connector jar each handoff becomes
  * `writeStream.format("kafka")` / `readStream.format("kafka")` with the
  * same stage code unchanged). Checkpoints give each stage S7
  * resume-exactly-once; `Trigger.AvailableNow` drains whatever is pending
  * and stops, which is also the deterministic test harness mode. The
  * broker contract the Kafka transport would add (partitioned offsets,
  * poll batching, committed-offset resume, at-least-once redelivery) is
  * modeled and test-pinned by [[QueueContract]] so the stage code's
  * assumptions stay documented even without a connector jar.
  *
  * Stages:
  *  1. tail+route (S1/P1, LogFileSource) -> parse exits (P5) -> TEE (R6):
  *     the parsed tx stream lands both raw (`tee/`) and into the stats
  *     window aggregation (A1-A7) -> `stats/`.
  *  2. `stats/` -> lag fan-out (Z5) -> keyed z-score state (Z1/Z2) ->
  *     `zscore/`.
  *  3. `zscore/` -> candidate predicates (R1/R2, stream-static broadcast
  *     config join) -> leaky-bucket vote fold (R3) -> `fired/`.
  *  4. `fired/` -> per-service cooldown (R4) -> ordered sink (A7) ->
  *     `alerts/`.
  *
  * (3 and 4 are separate queries because a flatMapGroupsWithState must be
  * the last stateful operator of its query — exactly the reason the
  * reference splits these into separate processes, too.)
  */
object ApmGraph {

  /** `orderedCooldown` opts stage 4 into the DETERMINISTIC cooldown
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

  private def await(q: org.apache.spark.sql.streaming.StreamingQuery): Unit = {
    q.awaitTermination(); ()
  }

  // Each stage has a `startStageN` (returns the running query — a real
  // deployment starts all four concurrently on processing-time triggers;
  // GraphFaultSpec uses the handles to kill queries mid-drain) and a
  // `runStageN` that drains it to completion (AvailableNow), which is
  // also the deterministic test mode.

  /** Stage 1: tail logs -> route -> parse -> [tee] + window stats. Runs
    * both sinks to completion (AvailableNow).
    */
  def runStage1(spark: SparkSession, logsGlob: String, workDir: String,
      cfg: GraphCfg): Unit = {
    val lines = LogFileSource.stream(spark, logsGlob, cfg.stage1MaxFiles)
    val parsed = Parsing.extractStdExit(
        lines.filter(col("log_type") === "server_log"))
      .select(col("server"), col("service"),
        timestamp_millis(col("end_ms")).as("end_ts"), col("elapsed"))
    // R6 passthrough tee: same stream, second sink (own checkpoint).
    val tee = parsed.writeStream
      .format("parquet")
      .option("path", s"$workDir/tee")
      .option("checkpointLocation", s"$workDir/ckpt_tee")
      .trigger(Trigger.AvailableNow())
      .start()
    // Keyed-stage ordering contract (all four stage boundaries): the
    // window agg's sink tasks are hashed by (key, window), so ONE
    // epoch's rows for a key would span several tasks/files — a
    // downstream admission boundary (maxFilesPerTrigger, a queue drain
    // end) landing mid-epoch could then deliver a key's rows
    // ts-misordered ACROSS micro-batches, which the keyed folds
    // (within-batch sort only) cannot repair. Repartitioning by KEY
    // before every stage sink puts each key's whole epoch in one task
    // (one file / one atomic queue batch), so any split between files
    // or task batches preserves per-key order; cross-epoch order is
    // watermark-monotonic.
    val stats = ApmStreaming.slidingStatsStream(
        parsed, cfg.windowLen, cfg.slide, cfg.lateness)
      .repartition(col("server"), col("service"))
      .writeStream
      .format("parquet")
      .option("path", s"$workDir/stats")
      .option("checkpointLocation", s"$workDir/ckpt_stats")
      .trigger(Trigger.AvailableNow())
      .start()
    await(tee); await(stats)
  }

  /** Stage 2: stats -> lag fan-out -> keyed z-score state.
    * `maxFilesPerTrigger` caps how many stats files one micro-batch
    * admits — the backfill rate limiter (and the knob GraphFaultSpec
    * uses to split a drain into epochs it can kill between).
    */
  def startStage2(spark: SparkSession, workDir: String, cfg: GraphCfg,
      maxFilesPerTrigger: Option[Int] = None)
      : org.apache.spark.sql.streaming.StreamingQuery = {
    val reader = spark.readStream.schema(statsSchema)
    maxFilesPerTrigger.foreach(n => reader.option("maxFilesPerTrigger", n))
    val stats = reader.parquet(s"$workDir/stats")
    val z = ApmStreaming.zScoreStream(
      ApmStreaming.fanOutLags(stats, Seq(cfg.lag)))
    // key-repartitioned before the sink: per-key epoch atomicity (see
    // runStage1's ordering-contract note)
    z.repartition(col("server"), col("service"))
      .writeStream
      .format("parquet")
      .option("path", s"$workDir/zscore")
      .option("checkpointLocation", s"$workDir/ckpt_z")
      .trigger(Trigger.AvailableNow())
      .start()
  }

  def runStage2(spark: SparkSession, workDir: String, cfg: GraphCfg): Unit =
    await(startStage2(spark, workDir, cfg))

  /** Stage 3: z-scored frame -> candidate flags -> vote fold. */
  def runStage3(spark: SparkSession, workDir: String, cfg: GraphCfg): Unit = {
    import spark.implicits._
    val z = spark.readStream.schema(zOutSchema).parquet(s"$workDir/zscore")
    val cand = Alerts.candidates(z, cfg.alert)
      .select(col("server"), col("service"), col("lag"), col("ts_ms"),
        col("bad"), col("causes")).as[ApmStreaming.VoteIn]
    val fired = ApmStreaming.voteStream(cand, cfg.alert)
    await(fired.repartition(col("service")) // per-key epoch atomicity
      .writeStream
      .format("parquet")
      .option("path", s"$workDir/fired")
      .option("checkpointLocation", s"$workDir/ckpt_fired")
      .trigger(Trigger.AvailableNow())
      .start())
  }

  /** Stage 4: cooldown dedup -> ordered alert sink (A7). `afterBatch`
    * is [[ApmStreaming.sinkToParquet]]'s fault-injection point (runs in
    * the window between the sink's data write and the epoch commit);
    * production callers leave it a no-op.
    */
  def startStage4(spark: SparkSession, workDir: String, cfg: GraphCfg,
      afterBatch: Long => Unit = _ => ())
      : org.apache.spark.sql.streaming.StreamingQuery = {
    import spark.implicits._
    val fired = spark.readStream.schema(voteOutSchema)
      .parquet(s"$workDir/fired").as[ApmStreaming.VoteOut]
    val alerts = ApmStreaming.cooldownStream(fired, cfg.alert)
    ApmStreaming.sinkToParquet(alerts.toDF(), s"$workDir/alerts",
      s"$workDir/ckpt_alerts", orderCol = Some("ts_ms"),
      availableNow = true, afterBatch = afterBatch)
  }

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

  // ------------------------------------------- queue-transport handoff
  // The same stage 3 -> stage 4 boundary, but through the
  // `format("graftqueue")` connector (S3/S4) instead of a parquet topic
  // directory — the handoff the reference runs over RabbitMQ
  // (config/apm_config.json:87-178) and a cluster would run over Kafka.
  // The wire value is the JSON-serialized VoteOut keyed by SERVICE, so
  // partition-local queue ordering preserves per-service order — exactly
  // the property the stage-4 cooldown fold relies on (and the broker
  // contract guarantees only within a partition).

  /** Stage 3 variant producing fired rows to a queue topic. `queueDir`
    * selects the file-backed transport (see GraftQueueConnector's `dir`
    * option): the topic directory is shared across PROCESSES, so stage 4
    * can run in a separate JVM — the reference's actual deployment
    * topology. `zscoreDir` lets this producer read a zscore topic
    * directory OWNED by another pipeline's work dir (a parquet topic has
    * one writer, many consumers — each consumer only needs its own
    * checkpoint, which stays under `workDir`); a file-sink output cannot
    * be symlinked or copied instead, since its `_spark_metadata` log
    * records absolute paths and a relocated clone lists as empty.
    */
  def runStage3Queued(spark: SparkSession, workDir: String, cfg: GraphCfg,
      topic: String, nPartitions: Int = 4,
      queueDir: Option[String] = None,
      zscoreDir: Option[String] = None): Unit = {
    import spark.implicits._
    val z = spark.readStream.schema(zOutSchema)
      .parquet(zscoreDir.getOrElse(s"$workDir/zscore"))
    val cand = Alerts.candidates(z, cfg.alert)
      .select(col("server"), col("service"), col("lag"), col("ts_ms"),
        col("bad"), col("causes")).as[ApmStreaming.VoteIn]
    val fired = ApmStreaming.voteStream(cand, cfg.alert)
    val w = fired
      .select(col("service").as("key"),
        to_json(struct(col("server"), col("service"), col("lag"),
          col("ts_ms"), col("causes"))).as("value"))
      .repartition(col("key")) // per-key epoch atomicity (runStage1 note)
      .writeStream
      .format("graftqueue")
      .option("topic", topic)
      .option("partitions", nPartitions)
      .option("checkpointLocation", s"$workDir/ckpt_fired_q")
      .trigger(Trigger.AvailableNow())
    queueDir.foreach(d => w.option("dir", d))
    await(w.start())
  }

  /** Stage 1 variant producing STATS rows to a queue topic instead of a
    * parquet directory — the first handoff of the fully-queued topology
    * ([[runStageQueued]]): every stage boundary over the file-backed
    * broker, one OS process per stage, the reference's actual
    * deployment shape (six processes wired by a broker,
    * config/apm_config.json:58-81). Rows are keyed by `server|service`
    * so partition-local queue order preserves per-key order — the only
    * ordering the downstream keyed folds need (and the only one a
    * broker guarantees). The value is the JSON StatsRow.
    */
  def runStage1Queued(spark: SparkSession, logsGlob: String, workDir: String,
      cfg: GraphCfg, topic: String, nPartitions: Int = 4,
      queueDir: Option[String] = None): Unit = {
    val lines = LogFileSource.stream(spark, logsGlob, cfg.stage1MaxFiles)
    val parsed = Parsing.extractStdExit(
        lines.filter(col("log_type") === "server_log"))
      .select(col("server"), col("service"),
        timestamp_millis(col("end_ms")).as("end_ts"), col("elapsed"))
    val w = ApmStreaming.slidingStatsStream(
        parsed, cfg.windowLen, cfg.slide, cfg.lateness)
      .select(concat_ws("|", col("server"), col("service")).as("key"),
        to_json(struct(col("*"))).as("value"))
      .repartition(col("key")) // per-key epoch atomicity (runStage1 note)
      .writeStream
      .format("graftqueue")
      .option("topic", topic)
      .option("partitions", nPartitions)
      .option("checkpointLocation", s"$workDir/ckpt_stats_q")
      .trigger(Trigger.AvailableNow())
    queueDir.foreach(d => w.option("dir", d))
    // the stats window's lateness bound is the graph's OTHER silent
    // watermark drop point — same t_ops alarm channel as stage 4
    awaitWithDropMetrics(spark, w.start(), "stage1", queueDir)
  }

  /** Stage 2 variant: consume stats from a queue topic, produce z-scored
    * rows to another. Same key discipline as [[runStage1Queued]].
    */
  def runStage2Queued(spark: SparkSession, workDir: String, cfg: GraphCfg,
      inTopic: String, outTopic: String, group: String = "stage2",
      nPartitions: Int = 4, queueDir: Option[String] = None): Unit = {
    import spark.implicits._
    val r = spark.readStream.format("graftqueue")
      .option("topic", inTopic).option("group", group)
    queueDir.foreach(d => r.option("dir", d))
    val stats = r.load()
      .select(from_json(col("value"), statsSchema).as("r"))
      .select(col("r.*"))
    val z = ApmStreaming.zScoreStream(
      ApmStreaming.fanOutLags(stats, Seq(cfg.lag)))
    val w = z
      .select(concat_ws("|", col("server"), col("service")).as("key"),
        to_json(struct(col("*"))).as("value"))
      .repartition(col("key")) // per-key epoch atomicity (runStage1 note)
      .writeStream
      .format("graftqueue")
      .option("topic", outTopic)
      .option("partitions", nPartitions)
      .option("checkpointLocation", s"$workDir/ckpt_z_q")
      .trigger(Trigger.AvailableNow())
    queueDir.foreach(d => w.option("dir", d))
    await(w.start())
  }

  /** Stage 3 variant: consume z-scored rows from a queue topic, produce
    * fired rows to another (the queue-in flavor of [[runStage3Queued]],
    * which reads a parquet zscore topic). Fired rows are keyed by
    * SERVICE — the key the stage-4 cooldown fold is grouped on.
    */
  def runStage3FromQueue(spark: SparkSession, workDir: String, cfg: GraphCfg,
      inTopic: String, outTopic: String, group: String = "stage3",
      nPartitions: Int = 4, queueDir: Option[String] = None): Unit = {
    import spark.implicits._
    val r = spark.readStream.format("graftqueue")
      .option("topic", inTopic).option("group", group)
    queueDir.foreach(d => r.option("dir", d))
    val z = r.load()
      .select(from_json(col("value"), zOutSchema).as("r"))
      .select(col("r.*"))
    val cand = Alerts.candidates(z, cfg.alert)
      .select(col("server"), col("service"), col("lag"), col("ts_ms"),
        col("bad"), col("causes")).as[ApmStreaming.VoteIn]
    val fired = ApmStreaming.voteStream(cand, cfg.alert)
    val w = fired
      .select(col("service").as("key"),
        to_json(struct(col("server"), col("service"), col("lag"),
          col("ts_ms"), col("causes"))).as("value"))
      .repartition(col("key")) // per-key epoch atomicity (runStage1 note)
      .writeStream
      .format("graftqueue")
      .option("topic", outTopic)
      .option("partitions", nPartitions)
      .option("checkpointLocation", s"$workDir/ckpt_fired_q")
      .trigger(Trigger.AvailableNow())
    queueDir.foreach(d => w.option("dir", d))
    await(w.start())
  }

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
  def runStage5DbQueued(spark: SparkSession, workDir: String, cfg: GraphCfg,
      inTopic: String, group: String = "s6db",
      queueDir: Option[String] = None): Unit = {
    val r = spark.readStream.format("graftqueue")
      .option("topic", inTopic).option("group", group)
    queueDir.foreach(d => r.option("dir", d))
    val z0 = r.load()
      .select(from_json(col("value"), zOutSchema).as("r"))
      .select(col("r.*"))
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
    * handoff a file topic under `queueDir`): 1 tails `logsGlob`,
    * 2 consumes `t_stats`, 3 consumes `t_z`, 4 consumes `t_fired` and
    * lands `workDir/alerts`, 5 consumes `t_z` under its own group and
    * inserts the stats-table rows into an embedded Derby. Each stage
    * keeps its own checkpoints under its own `workDir`; only `queueDir`
    * (and, for 1, the log directory) is shared — which is exactly what
    * makes the stages runnable as separate OS processes
    * (MultiProcessGraphSpec forks them).
    */
  def runStageQueued(spark: SparkSession, stage: Int, logsGlob: String,
      workDir: String, queueDir: String, cfg: GraphCfg): Unit = stage match {
    case 1 => runStage1Queued(spark, logsGlob, workDir, cfg, "t_stats",
      queueDir = Some(queueDir))
    case 2 => runStage2Queued(spark, workDir, cfg, "t_stats", "t_z",
      queueDir = Some(queueDir))
    case 3 => runStage3FromQueue(spark, workDir, cfg, "t_z", "t_fired",
      queueDir = Some(queueDir))
    case 4 => runStage4Queued(spark, workDir, cfg, "t_fired",
      queueDir = Some(queueDir))
    case 5 => runStage5DbQueued(spark, workDir, cfg, "t_z",
      queueDir = Some(queueDir))
    case other => sys.error(s"no stage $other")
  }

  /** Stage 4 variant consuming fired rows from the queue topic.
    * `maxPoll` bounds records per micro-batch (the connector's
    * admission option) — production leaves it unbounded; the drop-
    * exactness spec uses it to force a >100-batch drain.
    */
  def runStage4Queued(spark: SparkSession, workDir: String, cfg: GraphCfg,
      topic: String, group: String = "stage4",
      queueDir: Option[String] = None, maxPoll: Option[Int] = None): Unit = {
    import spark.implicits._
    val r = spark.readStream
      .format("graftqueue")
      .option("topic", topic)
      .option("group", group)
    queueDir.foreach(d => r.option("dir", d))
    maxPoll.foreach(m => r.option("maxpoll", m.toString))
    val fired = r.load()
      .select(from_json(col("value"), voteOutSchema).as("r"))
      .select(col("r.*")).as[ApmStreaming.VoteOut]
    val alerts =
      if (cfg.orderedCooldown)
        ApmStateV2.cooldownStreamOrdered(fired, cfg.alert, cfg.orderedDelay)
      else ApmStreaming.cooldownStream(fired, cfg.alert)
    awaitWithDropMetrics(spark,
      ApmStreaming.sinkToParquet(alerts.toDF(), s"$workDir/alerts",
        s"$workDir/ckpt_alerts_q", orderCol = Some("ts_ms"),
        availableNow = true),
      "stage4", queueDir, includeLedger = true)
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
      start: => org.apache.spark.sql.streaming.StreamingQuery,
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
