package graft

import java.nio.file.{Files, Path, Paths}
import java.time.format.DateTimeFormatter
import java.time.{Instant, ZoneOffset}
import java.util.concurrent.{CountDownLatch, TimeUnit}
import java.util.concurrent.atomic.{AtomicInteger, AtomicLong}
import scala.collection.mutable
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.streaming.sinks.FileStreamSinkLog
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQueryListener, Trigger}
import org.scalatest.funsuite.AnyFunSuite
import graft.operators.Parsing
import graft.sources.{LogFile, LogFileOffset, LogFileSource}
import graft.streaming.{ApmGraph, ApmStreaming}

/** Stage 1's log source (`graftlogs`): it must plan without Spark jobs
  * however many files it tails, admit files oldest first under a file
  * bound, and yield exactly the rows the batch text read yields.
  */
class LogFileStreamSpec extends AnyFunSuite with GraphSuite {

  private val fmt = DateTimeFormatter
    .ofPattern("yyyy-MM-dd HH:mm:ss,SSS").withZone(ZoneOffset.UTC)
  private val t0 = 1578391200000L // 2020-01-07T10:00:00Z
  private val services = Seq("S:checkout", "S:search", "S:cart", "S:login")
  private val nHosts = 8
  private val nChunks = 13 // 8 x 13 = 104 files, above the 32-path threshold

  /** Host `h`'s exit lines for the 10 s interval `k`. */
  private def intervalLines(k: Int, h: Int): Seq[String] =
    for (svc <- services; j <- 0 until 3) yield {
      val ms = t0 + k * 10000L + j * 3000L
      s"[$k$j] ${fmt.format(Instant.ofEpochMilli(ms))} [a:b:42] INFO " +
        s"CommonTiming::Stop $svc handled in time ${100 + (k * 7 + h + j) % 90}"
    }

  /** One rotated chunk file per host per 10 s interval, the live tail's
    * shape. Names run against time (chunk k is `server.log.<99-k>`) so
    * path order is the reverse of age; mtimes follow the chunk index.
    */
  private def writeChunks(logs: Path): Seq[Path] =
    for (k <- 0 until nChunks; h <- 0 until nHosts) yield {
      val p = logs.resolve(s"net/host$h/server.log.${99 - k}")
      StreamCorpus.publish(p, intervalLines(k, h).mkString("", "\n", "\n"),
        Some(1600000000000L + k * 1000L))
      p
    }

  private def writeSentinel(logs: Path): Unit =
    StreamCorpus.publish(logs.resolve("net/zz/server.log"),
      s"[999] ${fmt.format(Instant.ofEpochMilli(t0 + 100000000L))} " +
        "[a:b:42] INFO CommonTiming::Stop S:checkout handled in time 1\n")

  /** The batch windowed stats over the same files, sentinel host left out. */
  private def batchStats(glob: String, cfg: ApmGraph.GraphCfg): DataFrame =
    ApmStreaming.slidingStatsStream(
        Parsing.extractStdExit(
            LogFileSource.batch(spark, glob).filter(col("log_type") === "server_log"))
          .select(col("server"), col("service"),
            timestamp_millis(col("end_ms")).as("end_ts"), col("elapsed")),
        cfg.windowLen, cfg.slide, cfg.lateness)
      .filter(col("server") =!= "zz")

  /** The stats sink holds exactly the batch windows over `glob` that end
    * by `closedBy` (every window, by default). The sink's files are taken
    * from its log first, so a batch that commits while the reference is
    * computed does not count.
    */
  private def assertStatsEqual(work: String, glob: String,
      cfg: ApmGraph.GraphCfg, closedBy: Long = Long.MaxValue): Unit = {
    val files = new FileStreamSinkLog(FileStreamSinkLog.VERSION, spark,
      s"$work/stats/_spark_metadata", None).allFiles().map(_.path).toSeq
    val statsB = batchStats(glob, cfg).filter(col("ts_ms") <= closedBy)
    val bRows = statsB.collect().map(_.toSeq).toSet
    val sRows = spark.read.schema(ApmGraph.statsSchema).parquet(files: _*)
      .select(statsB.columns.map(col).toSeq: _*).collect().map(_.toSeq).toSet
    assert(bRows.nonEmpty)
    assert(sRows == bRows,
      s"onlyStream=${(sRows -- bRows).take(3)} onlyBatch=${(bRows -- sRows).take(3)}")
  }

  /** Jobs started while `body` runs, as (description, streaming query id). */
  private def jobsDuring(body: => Unit): Seq[(String, String)] = {
    val jobs = mutable.Buffer.empty[(String, String)]
    val marker = "log-file-stream-spec-marker"
    val seenMarker = new CountDownLatch(1)
    val l = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = {
        val desc = e.properties.getProperty("spark.job.description", "")
        if (desc == marker) seenMarker.countDown()
        else jobs.synchronized {
          jobs += ((desc, e.properties.getProperty("sql.streaming.queryId")))
          ()
        }
      }
    }
    spark.sparkContext.addSparkListener(l)
    try {
      body
      // the listener bus is FIFO: once the marker job's start arrives,
      // every job `body` started has been seen
      spark.sparkContext.setJobDescription(marker)
      try spark.range(1).collect() finally spark.sparkContext.setJobDescription(null)
      assert(seenMarker.await(60, TimeUnit.SECONDS), "marker job never seen")
    } finally spark.sparkContext.removeSparkListener(l)
    jobs.synchronized(jobs.toList)
  }

  /** The files each stage-1 tee batch admitted, from its offset log. */
  private def admittedPerBatch(work: String): Seq[Seq[LogFile]] = {
    val dir = Paths.get(work, "ckpt_tee", "offsets")
    val offsets = Files.list(dir).toArray.map(_.asInstanceOf[Path])
      .filter(_.getFileName.toString.forall(_.isDigit))
      .sortBy(_.getFileName.toString.toLong)
      .map(p => LogFileOffset.fromJson(Files.readAllLines(p).get(2)).files)
    (Vector.empty[LogFile] +: offsets.toSeq).sliding(2).collect {
      case Seq(a, b) => b.drop(a.size)
    }.toSeq
  }

  test("stage 1 over 104 host files runs only its tee, stats and no-data jobs") {
    val base = Files.createTempDirectory("graft_logsrc")
    val logs = base.resolve("logs")
    val work = base.resolve("work").toString
    val glob = s"$logs/net/*/*"
    writeChunks(logs)
    val cfg = ApmGraph.GraphCfg(stage1MaxFiles = 1000)

    val jobs = jobsDuring(ApmGraph.runStage1(spark, glob, work, cfg))
    // one data batch per query, plus the stats query's no-data batch
    // that advances its watermark; a listing job would be a fourth
    assert(jobs.size == 3, s"stage-1 jobs: $jobs")
    assert(jobs.forall(_._2 != null), s"a job outside a streaming batch: $jobs")
    assert(jobs.map(_._2).distinct.size == 2, s"expected tee + stats: $jobs")
    assert(admittedPerBatch(work).map(_.size) == Seq(nHosts * nChunks))

    writeSentinel(logs)
    ApmGraph.runStage1(spark, glob, work, cfg)
    assertStatsEqual(work, glob, cfg)
    ApmGraph.stop(spark, work)
  }

  test("stage1MaxFiles = 10 admits oldest mtime first and drops no window") {
    val base = Files.createTempDirectory("graft_logsrc")
    val logs = base.resolve("logs")
    val work = base.resolve("work").toString
    val glob = s"$logs/net/*/*"
    val files = writeChunks(logs)
    val cfg = ApmGraph.GraphCfg(stage1MaxFiles = 10)

    val dropped = new AtomicLong(0L)
    val progressEvents = new AtomicInteger(0)
    val l = new StreamingQueryListener {
      override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
      override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
      override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
        dropped.addAndGet(e.progress.stateOperators.map(_.numRowsDroppedByWatermark).sum)
        progressEvents.incrementAndGet()
        ()
      }
    }
    spark.streams.addListener(l)
    try {
      ApmGraph.runStage1(spark, glob, work, cfg)
      // one progress event per committed batch of either query
      val committed = Seq("ckpt_tee", "ckpt_stats").map(c =>
        Files.list(Paths.get(work, c, "commits")).toArray
          .count(_.asInstanceOf[Path].getFileName.toString.forall(_.isDigit))).sum
      val deadline = System.nanoTime() + 30L * 1000 * 1000 * 1000
      while (progressEvents.get < committed && System.nanoTime() < deadline)
        Thread.sleep(20)
      assert(progressEvents.get >= committed, "progress events missing")
    } finally spark.streams.removeListener(l)
    assert(dropped.get == 0L, s"${dropped.get} rows window-dropped")
    val batches = admittedPerBatch(work)
    assert(batches.size > 10, s"only ${batches.size} batches")
    assert(batches.forall(_.size <= 10), s"batch sizes ${batches.map(_.size)}")
    val byAge = files.sortBy(p => (p.toFile.lastModified, p.toString))
    assert(batches.flatten.map(f => Paths.get(new java.net.URI(f.path))) == byAge,
      "admission order is not oldest mtime first, then path")

    writeSentinel(logs)
    ApmGraph.runStage1(spark, glob, work, cfg)
    assertStatsEqual(work, glob, cfg)
    ApmGraph.stop(spark, work)
  }

  test("each stage-1 call returns with the windows its visible logs close " +
      "in the sink") {
    val base = Files.createTempDirectory("graft_logsrc")
    val logs = base.resolve("logs")
    val work = base.resolve("work").toString
    val glob = s"$logs/net/*/*"
    val cfg = ApmGraph.GraphCfg()
    val lateness = 10000L
    assert(ApmGraph.Lateness == "10 seconds")
    // 19 intervals in four chunk files, then the sentinel: five calls.
    // Each call's rows advance the watermark, and the windows that the
    // advance closes come out only in the batch after the one that read
    // them, so a call that returned once its files' batch committed
    // would leave them out.
    Seq(0 until 5, 5 until 10, 10 until 15, 15 until 19).zipWithIndex
      .foreach { case (ks, c) =>
        StreamCorpus.publish(logs.resolve(s"net/host0/server.log.$c"),
          ks.flatMap(intervalLines(_, 0)).mkString("", "\n", "\n"))
        ApmGraph.runStage1(spark, glob, work, cfg)
        // the last line of interval k is at k * 10 s + 6 s
        assertStatsEqual(work, glob, cfg,
          closedBy = t0 + ks.last * 10000L + 6000L - lateness)
      }
    writeSentinel(logs)
    ApmGraph.runStage1(spark, glob, work, cfg)
    assertStatsEqual(work, glob, cfg)
    ApmGraph.stop(spark, work)
  }

  test("stream rows == batch text rows: file URI, CR/CRLF splits, hidden files") {
    val base = Files.createTempDirectory("graft_logsrc")
    val logs = base.resolve("logs")
    def put(rel: String, body: String): Unit = {
      val p = logs.resolve(rel)
      Files.createDirectories(p.getParent)
      Files.writeString(p, body)
      ()
    }
    put("net/hostA/server.log", "a1\r\na2\r\n\r\na3")
    put("net/hostA/soap_io.log", "s1\rs2\n")
    put("net/host B/bafapp.log", "b1\n")
    put("net/hostB/.server.log.tmp", "hidden\n")
    put("net/hostB/_server.log", "hidden\n")
    put("net/hostB/empty.log", "")
    val glob = s"$logs/net/*/*"
    val q = LogFileSource.stream(spark, glob, maxFilesPerTrigger = 2)
      .writeStream.format("memory").queryName("logsrc_rows")
      .option("checkpointLocation", base.resolve("ckpt").toString)
      .trigger(Trigger.AvailableNow()).start()
    q.awaitTermination()
    def rows(df: DataFrame) = df.select("file", "server", "log_type", "line")
      .collect().map(_.toSeq).sortBy(_.mkString("|")).toSeq
    val got = rows(spark.table("logsrc_rows"))
    assert(got == rows(LogFileSource.batch(spark, glob)))
    assert(got.size == 7 && got.forall(r => !r(3).toString.contains("hidden")))
  }

  test("offset JSON round-trips; a text-source offset is refused") {
    val o = LogFileOffset(Vector(LogFile("file:/a/b%20c/server.log", 12L),
      LogFile("file:/a/\"q\"/x", 0L)))
    assert(LogFileOffset.fromJson(o.json()) == o)
    val e = intercept[IllegalStateException](LogFileOffset.fromJson("""{"logOffset":3}"""))
    assert(e.getMessage.contains("fresh checkpoint"))
  }
}
