package graft.streaming

import java.time.Instant
import java.util.UUID
import org.apache.spark.sql.{DataFrame, Encoders, Row, SparkSession}
import org.apache.spark.sql.catalyst.plans.logical.EventTimeWatermark
import org.apache.spark.sql.catalyst.util.IntervalUtils
import org.apache.spark.sql.execution.streaming.checkpointing.{CommitLog, FileSystemBasedCheckpointFileManager, OffsetSeqLog}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{DataStreamWriter, StreamingQuery, StreamingQueryListener, StreamingQueryProgress, Trigger}
import org.apache.spark.sql.types.StructType
import graft.operators.{Alerts, Parsing, ZScore}
import graft.sources.{LogFileMicroBatchStream, LogFileOffset, LogFileSource}

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
  *  4. `fired` -> per-service cooldown (R4, in arrival order like the
  *     reference) -> ordered sink (A7) -> `alerts/`.
  *
  * Each stage boundary is an [[ApmGraph.Edge]], and the same stage code
  * runs over either transport:
  *  - a parquet topic directory under the work dir ([[runStage1]] ..
  *    [[runStage4]]): each directory is a durable, replayable topic;
  *    the upstream query's file sink is the producer (S3),
  *    `readStream.parquet` the consumer (S4);
  *  - a `graftqueue` topic ([[runStageQueued]] and the `...Queued`
  *    entry points): key + JSON value in a file-backed topic directory
  *    shared across processes. With a Kafka connector jar the same edge
  *    helpers would become `format("kafka")`.
  *
  * Checkpoints give each stage S7 resume-exactly-once. A stage's
  * checkpoint, sink and committer files all go through one `file:` file
  * system, [[NioLocalFileSystem]], which forks no process per file.
  * Over the parquet handoff, stage 1's stats query runs between calls,
  * like the reference's long-lived stats process: a [[runStage1]] call
  * waits until it has committed the rows the logs visible at the call's
  * start close, and [[stop]] ends it. The tee, stages 2-4 and every
  * queue-handoff stage drain on each call under `Trigger.AvailableNow`,
  * which runs whatever is pending and stops; it is also the
  * deterministic test harness mode. The broker contract the
  * Kafka transport would add (partitioned offsets, poll batching,
  * committed-offset resume, at-least-once redelivery) is modeled and
  * test-pinned on [[FileTopic]].
  *
  * Stages 3 and 4 are separate queries by choice, not by a Spark limit:
  * Spark runs the vote and cooldown flatMapGroupsWithState folds chained
  * in one Append query (StreamingSpec's "alert vote + cooldown streams"
  * test does). The split gives the cooldown its own service-keyed edge,
  * checkpoint and, over the queue handoff, process. The reference runs
  * both rules in its one alerts process (stream_process_alerts.js), so
  * fusing the two stages would match it as well.
  */
object ApmGraph {

  /** `stage1MaxFiles` is stage 1's per-micro-batch file admission bound
    * (the `graftlogs` source's `maxFilesPerTrigger`; files are admitted
    * oldest modification time first, and listing them runs no Spark
    * job however many there are). It interacts with the stats window's
    * GLOBAL watermark on a COLD BACKFILL: host logs that each cover the
    * same time range, admitted across several micro-batches, advance
    * the watermark past the still-unadmitted files' whole span and
    * silently window-drop them (alarmed on `t_ops`, but dropped).
    * Rotated chunk files written in time order are safe under any bound
    * as long as one chunk's event-time span fits in [[Lateness]]
    * (LogFileStreamSpec drains 104 such files 10 at a time with no
    * drop), and so is live tailing; a backfill of whole host logs must
    * admit them in one batch (raise this above the backlog's file count;
    * StreamScaleProbe's hosts axis measures that shape).
    *
    * The window, z-score and alert settings are the graph's constants;
    * the members below read them from a cfg, as apmbench does.
    */
  case class GraphCfg(stage1MaxFiles: Int = 10) {
    def windowLen: String = WindowLen
    def slide: String = Slide
    def lateness: String = Lateness
    def lag: ZScore.LagCfg = Lag
    def alert: Alerts.AlertCfg = Alert
  }

  /** The stats window's length and slide (A1-A7). */
  val WindowLen = "60 seconds"
  val Slide = "10 seconds"
  /** How late an event may arrive behind the stats window's watermark. */
  val Lateness = "10 seconds"
  /** The z-score's lag, threshold and influence (Z1/Z2). */
  val Lag: ZScore.LagCfg = ZScore.LagCfg(3, 1.0, 0.5)
  /** The candidate bounds, vote window and cooldown (R1-R4). */
  val Alert: Alerts.AlertCfg = Alerts.AlertCfg(
    hardMaxMs = 150.0, hardMinMs = 0.0, hardMinTpm = 0.0,
    windowSz = 5, voteThreshold = 2, cooldownMs = 30000L)

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
    * over Kafka. `dir` is the connector's `dir` option: the topic is the
    * [[FileTopic]] at `dir/name`, shared across PROCESSES, so each stage
    * can run in its own JVM (the reference's deployment topology).
    */
  final case class Topic(name: String, dir: String) extends Edge

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
    case Topic(name, dir) =>
      val r = spark.readStream.format("graftqueue")
        .option("topic", name).option("dir", dir).option("group", group)
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
      checkpoint: String): StreamingQuery =
    writer(df, keys, out, checkpoint).trigger(Trigger.AvailableNow()).start()

  /** [[write]]'s query, not yet started: the caller sets the trigger. */
  private def writer(df: DataFrame, keys: Seq[String], out: Edge,
      checkpoint: String): DataStreamWriter[Row] = {
    val w = out match {
      case ParquetDir(path) =>
        df.repartition(keys.map(col): _*)
          .writeStream.format("parquet").option("path", path)
      case Topic(name, dir) =>
        df.select(concat_ws("|", keys.map(col): _*).as("key"),
            to_json(struct(col("*"))).as("value"))
          .repartition(col("key"))
          .writeStream.format("graftqueue")
          .option("topic", name).option("dir", dir)
    }
    w.option("checkpointLocation", checkpoint)
  }

  /** Set `spark` up for starting streaming queries; every stage calls it
    * before `start()`. Spark copies the session's conf into each query's
    * Hadoop conf, so what it sets reaches every file a stage writes.
    *
    * `file:` paths go through [[NioLocalFileSystem]], unless the session
    * names an `fs.file.impl` of its own. Hadoop's default local file
    * system forks `chmod` for every file and directory it creates, that
    * is for every checkpoint, sink and committer file of a micro-batch.
    * Hadoop caches one file system per scheme for the whole process, and
    * that cache already holds the default, so it is turned off for
    * `file:`.
    *
    * Checkpoint files go through Spark's
    * `FileSystemBasedCheckpointFileManager` (temp file, then
    * `FileSystem.rename`), unless the session names a checkpoint manager.
    * Spark's default manager writes through Hadoop's `FileContext`, which
    * never reads `fs.file.impl` and forks `readlink` for every rename.
    *
    * Artifact isolation is turned off. `start()` runs each query on a
    * clone of the session, and with isolation on (Spark's default) every
    * clone gets its own executor class loader. Spark keys its cache of
    * compiled generated classes by class loader and source, so each
    * stage call would recompile every class its plan generates (about 60
    * Janino compiles per live graph cycle), and its tasks would queue
    * behind each compile. No main code adds a jar, file or class artifact
    * to any session, so there is nothing to isolate: the clones share the
    * executor's default class loader, and a warm stage call hits the
    * cache. GraphSpec pins the compile count of a warm drain.
    */
  private[graft] def prepareStreams(spark: SparkSession): Unit = {
    if (spark.conf.getOption("fs.file.impl").isEmpty) {
      spark.conf.set("fs.file.impl", classOf[NioLocalFileSystem].getName)
      spark.conf.set("fs.file.impl.disable.cache", "true")
    }
    val manager = "spark.sql.streaming.checkpointFileManagerClass"
    if (spark.conf.getOption(manager).isEmpty)
      spark.conf.set(manager,
        classOf[FileSystemBasedCheckpointFileManager].getName)
    spark.conf.set("spark.sql.artifact.isolation.enabled", "false")
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

  /** Stage 1: tail logs -> route -> parse exits -> window stats -> `out`.
    * Over a parquet handoff the stats query keeps running between calls
    * ([[awaitStats]]) and the parsed tx stream is also teed raw to `tee/`
    * (R6: same stream, second sink, own checkpoint), drained per call.
    * Over a queue the stats query drains per call and its window's
    * watermark drops are published on `t_ops` ([[awaitWithDropMetrics]]).
    */
  private def stage1(spark: SparkSession, logsGlob: String, workDir: String,
      cfg: GraphCfg, out: Edge): Unit = {
    prepareStreams(spark)
    val lines = LogFileSource.stream(spark, logsGlob, cfg.stage1MaxFiles)
    val parsed = Parsing.extractStdExit(
        lines.filter(col("log_type") === "server_log"))
      .select(col("server"), col("service"),
        timestamp_millis(col("end_ms")).as("end_ts"), col("elapsed"))
    val stats = ApmStreaming.slidingStatsStream(
      parsed, WindowLen, Slide, Lateness)
    val ckpt = checkpoint(workDir, "stats", out)
    val w = writer(stats, Seq("server", "service"), out, ckpt)
    out match {
      case _: ParquetDir =>
        val visible = LogFileMicroBatchStream.list(logsGlob,
          spark.sparkContext.hadoopConfiguration).map(_.file.path).toSet
        val watch = statsWatch(spark, workDir, ckpt,
          w.queryName(queryName("stats", workDir))
            .trigger(Trigger.ProcessingTime(0L)).start())
        val tee = parsed.writeStream
          .format("parquet")
          .queryName(queryName("tee", workDir))
          .option("path", s"$workDir/tee")
          .option("checkpointLocation", s"$workDir/ckpt_tee")
          .trigger(Trigger.AvailableNow())
          .start()
        try awaitStats(spark, watch, visible) finally await(tee)
      case Topic(_, dir) =>
        awaitWithDropMetrics(spark,
          w.trigger(Trigger.AvailableNow()).start(), "stage1", dir)
    }
  }

  /** Stage 2: stats -> lag fan-out (Z5) -> keyed z-score state (Z1/Z2).
    * The graph runs the one lag config [[Lag]], so the fan-out is a
    * projection of its literals; an undefined metric becomes NaN, the
    * [[ApmStreaming.ZIn]] encoding.
    */
  private def stage2(spark: SparkSession, workDir: String, in: Edge,
      out: Edge, limit: Option[Int]): StreamingQuery = {
    prepareStreams(spark)
    import spark.implicits._
    val stats = read(spark, in, statsSchema, "stage2", limit)
    val zIn = stats.select(col("server"), col("service"),
        lit(Lag.lag).as("lag"), lit(Lag.threshold).as("threshold"),
        lit(Lag.influence).as("influence"), col("ts_ms"), col("tpm"),
        coalesce(col("average"), lit(Double.NaN)).as("average"),
        coalesce(col("per75"), lit(Double.NaN)).as("per75"),
        coalesce(col("per95"), lit(Double.NaN)).as("per95"))
      .as[ApmStreaming.ZIn]
    write(ApmStreaming.zScoreStream(zIn).toDF(),
      Seq("server", "service"), out, checkpoint(workDir, "z", out))
  }

  /** Stage 3: z-scored rows -> candidate flags (R1/R2, stream-static
    * broadcast config join) -> leaky-bucket vote fold (R3). Fired rows
    * are keyed by SERVICE, the key the stage-4 cooldown groups on.
    */
  private def stage3(spark: SparkSession, workDir: String, in: Edge,
      out: Edge): StreamingQuery = {
    prepareStreams(spark)
    import spark.implicits._
    val cand = Alerts.candidates(read(spark, in, zOutSchema, "stage3"), Alert)
      .select(col("server"), col("service"), col("lag"), col("ts_ms"),
        col("bad"), col("causes")).as[ApmStreaming.VoteIn]
    write(ApmStreaming.voteStream(cand, Alert).toDF(), Seq("service"),
      out, checkpoint(workDir, "fired", out))
  }

  /** Stage 4: per-service cooldown (R4, arrival order) -> ordered alert
    * sink (A7) `alerts/`. `afterBatch` is [[ApmStreaming.sinkToParquet]]'s
    * fault-injection point.
    */
  private def stage4(spark: SparkSession, workDir: String, in: Edge,
      group: String, afterBatch: Long => Unit): StreamingQuery = {
    prepareStreams(spark)
    import spark.implicits._
    val fired = read(spark, in, voteOutSchema, group).as[ApmStreaming.VoteOut]
    ApmStreaming.sinkToParquet(
      ApmStreaming.cooldownStream(fired, Alert).toDF(), s"$workDir/alerts",
      checkpoint(workDir, "alerts", in), orderCol = Some("ts_ms"),
      availableNow = true, afterBatch = afterBatch)
  }

  // ------------------------------------------------ parquet-handoff graph
  // Each stage has a `runStageN` that returns once the stage has
  // consumed its pending input. Stage 1's stats query keeps running
  // between calls (`stop` ends it); the tee and stages 2-4 drain to
  // completion (AvailableNow) on each call, which is also the
  // deterministic test mode. Stages 2 and 4 also have a `startStageN`
  // returning the running query (GraphFaultSpec uses the handles to
  // kill queries mid-drain). Every stage takes the same `GraphCfg`;
  // only stage 1 reads it.

  /** Stage 1 over the parquet handoff. Returns once the stats query has
    * committed every row that the logs visible at the call's start close
    * (see [[awaitStats]]) and the tee has drained them. The stats query
    * is started on the first call for `workDir` and left running; a
    * first call for another work dir stops it. Calls for one work dir
    * are serial, and a file listed at a call's start must stay until it
    * is admitted (the source's contract: writers publish whole files and
    * rotate out only files that were read).
    */
  def runStage1(spark: SparkSession, logsGlob: String, workDir: String,
      cfg: GraphCfg): Unit =
    stage1(spark, logsGlob, workDir, cfg, ParquetDir(s"$workDir/stats"))

  /** Stops the queries of the graph under `workDir` that outlive a call
    * (stage 1's stats query) and drops their listener. A caller that
    * finishes with a graph calls it; a later [[runStage1]] restarts the
    * query from its checkpoint.
    */
  def stop(spark: SparkSession, workDir: String): Unit = {
    spark.streams.listListeners().foreach {
      case w: StatsWatch if w.workDir == workDir =>
        spark.streams.removeListener(w)
      case _ =>
    }
    val names = Set("stats", "tee").map(queryName(_, workDir))
    spark.streams.active.filter(q => names(q.name)).foreach(_.stop())
  }

  /** `maxFilesPerTrigger` caps how many stats files one micro-batch
    * admits (GraphFaultSpec uses it to split a drain into epochs it can
    * kill between).
    */
  def startStage2(spark: SparkSession, workDir: String, cfg: GraphCfg,
      maxFilesPerTrigger: Option[Int] = None): StreamingQuery =
    stage2(spark, workDir, ParquetDir(s"$workDir/stats"),
      ParquetDir(s"$workDir/zscore"), maxFilesPerTrigger)

  def runStage2(spark: SparkSession, workDir: String, cfg: GraphCfg): Unit =
    await(startStage2(spark, workDir, cfg))

  def runStage3(spark: SparkSession, workDir: String, cfg: GraphCfg): Unit =
    await(stage3(spark, workDir, ParquetDir(s"$workDir/zscore"),
      ParquetDir(s"$workDir/fired")))

  /** `afterBatch` runs in the window between the alert sink's data write
    * and the epoch commit; production callers leave it a no-op.
    */
  def startStage4(spark: SparkSession, workDir: String, cfg: GraphCfg,
      afterBatch: Long => Unit = _ => ()): StreamingQuery =
    stage4(spark, workDir, ParquetDir(s"$workDir/fired"), "stage4",
      afterBatch)

  def runStage4(spark: SparkSession, workDir: String, cfg: GraphCfg): Unit =
    await(startStage4(spark, workDir, cfg))

  // -------------------------------------------------- queue-handoff graph

  /** Stage 3 from `in` — a zscore directory or a z topic — to the fired
    * topic `out`.
    */
  def runStage3Queued(spark: SparkSession, workDir: String, cfg: GraphCfg,
      in: Edge, out: Topic): Unit =
    await(stage3(spark, workDir, in, out))

  /** Stage 4 consuming fired rows from the topic `in` under consumer
    * `group`. The arrival-order cooldown has no watermark, so it drops
    * nothing and publishes nothing on `t_ops`.
    */
  def runStage4Queued(spark: SparkSession, workDir: String, cfg: GraphCfg,
      in: Topic, group: String = "stage4"): Unit =
    await(stage4(spark, workDir, in, group, _ => ()))

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
    prepareStreams(spark)
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
    def topic(name: String) = Topic(name, queueDir)
    stage match {
      case 1 => stage1(spark, logsGlob, workDir, cfg, topic("t_stats"))
      case 2 => await(stage2(spark, workDir, topic("t_stats"),
        topic("t_z"), None))
      case 3 => runStage3Queued(spark, workDir, cfg, topic("t_z"),
        topic("t_fired"))
      case 4 => runStage4Queued(spark, workDir, cfg, topic("t_fired"))
      case 5 => runStage5DbQueued(spark, workDir, topic("t_z"))
      case other => sys.error(s"no stage $other")
    }
  }

  // ------------------------------------------------ stage 1 between calls

  /** The name of stage `stage`'s query of the graph under `workDir`, so
    * that `spark.streams.active` finds a graph's queries.
    */
  private def queryName(stage: String, workDir: String): String =
    s"$stage@$workDir"

  private val latenessMs =
    EventTimeWatermark.getDelayMs(IntervalUtils.fromIntervalString(Lateness))

  /** A listener that sees the progress events of ONE query run, exactly:
    * `recentProgress` is a ring buffer capped at
    * `numRecentProgressUpdates` (default 100), so a long recovery drain
    * or a query that runs between calls outgrows it.
    *
    * Registered BEFORE the query starts ([[listened]]): the run id does
    * not exist yet, so events that arrive before [[bind]] are buffered
    * and replayed (runId-filtered) once the id is known. A listener
    * registered after `start()` could miss batch 0's event outright.
    */
  private abstract class RunListener extends StreamingQueryListener {
    private var runId: UUID = null
    private val early = scala.collection.mutable.Buffer.empty[StreamingQueryProgress]
    /** Called under the listener's lock, once per batch of the run. */
    protected def record(p: StreamingQueryProgress): Unit
    /** Attach the started query's run id and replay buffered events for
      * it. Synchronized against [[onQueryProgress]] so a concurrent
      * event can neither be double-counted nor slip between the buffer
      * drain and the runId publish.
      */
    def bind(id: UUID): Unit = synchronized {
      runId = id
      early.foreach(p => if (p.runId == id) record(p))
      early.clear()
    }
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
      synchronized {
        if (runId == null) { early += e.progress; () }
        else if (e.progress.runId == runId) record(e.progress)
      }
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit =
      synchronized(notifyAll())
  }

  /** Starts `start` with `l` registered before and bound right after. */
  private def listened(spark: SparkSession, l: RunListener)(
      start: => StreamingQuery): StreamingQuery = {
    spark.streams.addListener(l)
    val q = try start catch {
      case t: Throwable => spark.streams.removeListener(l); throw t
    }
    l.bind(q.runId)
    q
  }

  /** A committed stats batch: the log files admitted up to it, and
    * whether its rows advanced the watermark it ran with. A batch that
    * did is followed by one that runs with the new watermark, which
    * emits the windows the advance closed (Spark's no-data batch, when
    * no new file has come).
    */
  private case class Committed(paths: Set[String], advanced: Boolean)

  /** Stage 1's running stats query under `workDir` and the last two
    * batches it has committed.
    */
  private class StatsWatch(val workDir: String, seed: Option[Committed])
      extends RunListener {
    @volatile var query: StreamingQuery = null
    var last: Option[Committed] = seed
    var prev: Option[Committed] = None
    override protected def record(p: StreamingQueryProgress): Unit =
      // a trigger that runs no batch can still report progress
      // (`spark.sql.streaming.noDataProgressEventInterval`)
      if (p.durationMs.containsKey("addBatch")) {
        val paths = Option(p.sources.head.endOffset)
          .map(LogFileOffset.fromJson(_).files.iterator.map(_.path).toSet)
          .orElse(last.map(_.paths)).getOrElse(Set.empty)
        val t = p.eventTime
        val advanced = t.containsKey("max") &&
          Instant.parse(t.get("max")).toEpochMilli - latenessMs >
            Instant.parse(t.get("watermark")).toEpochMilli
        prev = last
        last = Some(Committed(paths, advanced))
        notifyAll()
      }
  }

  /** The stats query of `workDir`, running: the one a previous call left
    * (it keeps the glob and file bound it started with), or else one
    * `start` starts from the checkpoint `ckpt`. A first call for
    * `workDir` stops any other work dir's stats query. A query that died
    * since the last call is dropped and its error thrown; the call after
    * restarts it.
    */
  private def statsWatch(spark: SparkSession, workDir: String, ckpt: String,
      start: => StreamingQuery): StatsWatch = {
    val watches = spark.streams.listListeners().toSeq.collect {
      case w: StatsWatch => w
    }
    watches.filter(_.workDir != workDir).foreach(w => stop(spark, w.workDir))
    watches.find(_.workDir == workDir) match {
      case Some(w) if w.query.isActive => w
      case dead =>
        dead.foreach { w =>
          spark.streams.removeListener(w)
          w.query.exception.foreach(e => throw e)
        }
        val w = new StatsWatch(workDir, committed(spark, ckpt))
        w.query = listened(spark, w)(start)
        w
    }
  }

  /** The latest batch committed in the stats checkpoint `ckpt`, if any.
    * A resumed query runs no no-data batch for it, so it counts as not
    * advancing the watermark.
    */
  private def committed(spark: SparkSession, ckpt: String): Option[Committed] =
    new CommitLog(spark, s"$ckpt/commits").getLatestBatchId().flatMap(id =>
      new OffsetSeqLog(spark, s"$ckpt/offsets").get(id)).flatMap(_.offsets.head)
      .map(o => Committed(
        LogFileOffset.fromJson(o.json).files.iterator.map(_.path).toSet,
        advanced = false))

  /** Blocks until the stats query has committed the batch that admitted
    * every file in `visible` and, if that batch advanced the watermark,
    * the batch after it. Only then are the rows that `visible` closes in
    * the sink: a call that returned once the covering batch committed
    * would miss the windows its advance closed. If the query dies, its
    * error is thrown and the next call restarts it.
    */
  private def awaitStats(spark: SparkSession, w: StatsWatch,
      visible: Set[String]): Unit = w.synchronized {
    def covers(c: Option[Committed]) =
      c.fold(visible.isEmpty)(b => visible.subsetOf(b.paths))
    while (!(covers(w.last) && (!w.last.exists(_.advanced) || covers(w.prev)))) {
      if (!w.query.isActive) {
        spark.streams.removeListener(w)
        throw w.query.exception.getOrElse(new IllegalStateException(
          s"stage 1's stats query for ${w.workDir} stopped during a call"))
      }
      w.wait(100)
    }
  }

  // ------------------------------------------------- drops on t_ops

  /** EXACT per-query watermark-drop accumulator (see [[RunListener]] for
    * why a listener and not `recentProgress`).
    */
  private class DropListener extends RunListener {
    val wmDropped = new java.util.concurrent.atomic.AtomicLong(0L)
    val maxBatchId = new java.util.concurrent.atomic.AtomicLong(-1L)
    override protected def record(p: StreamingQueryProgress): Unit = {
      wmDropped.addAndGet(p.stateOperators.map(_.numRowsDroppedByWatermark).sum)
      maxBatchId.updateAndGet(m => math.max(m, p.batchId))
      ()
    }
  }

  /** Run `start` to completion with an exact drop accumulator attached,
    * then publish a nonzero drop count (see [[publishDropMetrics]]).
    * The listener is registered BEFORE start and bound to the query's
    * run id right after (buffering any events delivered in between), so
    * batch 0's progress event can never be missed; the post-termination
    * drain below then waits until the last batch's event has arrived.
    */
  private def awaitWithDropMetrics(spark: SparkSession,
      start: => StreamingQuery, stage: String, queueDir: String): Unit = {
    val l = new DropListener
    val q = listened(spark, l)(start)
    try {
      q.awaitTermination()
      // the listener bus is async: wait (bounded) until the event for
      // the final completed batch has been delivered
      val lastBatch = Option(q.lastProgress).map(_.batchId).getOrElse(-1L)
      val deadline = System.nanoTime() + 5L * 1000 * 1000 * 1000
      while (l.maxBatchId.get() < lastBatch && System.nanoTime() < deadline)
        Thread.sleep(20)
    } finally spark.streams.removeListener(l)
    publishDropMetrics(l.wmDropped.get(), stage, queueDir)
  }

  /** Drop observability ACROSS processes: the stats window at stage 1
    * drops too-late rows by design (its lateness bound, A4), but the
    * drop record is process-local — Spark's `numRowsDroppedByWatermark`
    * lives in this JVM's StreamingQueryProgress, invisible to an
    * operator (or a topology spec) watching a forked stage from
    * outside. After each drain, a NONZERO drop count is published as
    * one JSON record on the `t_ops` queue topic — the queue-alarm shape
    * the reference uses for operational signals
    * (config/apm_config.json:41-42) — keyed by stage so one partition
    * carries each stage's alarm stream in order. Zero-drop drains
    * publish nothing (an alarm channel, not a heartbeat).
    */
  def publishDropMetrics(wmDropped: Long, stage: String,
      queueDir: String): Unit =
    if (wmDropped > 0) {
      QueueRegistry.topic("t_ops", queueDir, 1)
        .produce(stage, graft.Bench.json.writeValueAsString(
          graft.Bench.json.createObjectNode()
            .put("stage", stage).put("wm_dropped", wmDropped)))
      ()
    }
}
