package graft

import java.nio.file.{Files, Paths}
import java.time.format.DateTimeFormatter
import java.time.{Instant, ZoneOffset}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import org.scalatest.funsuite.AnyFunSuite
import graft.streaming.{ApmGraph, QueueRegistry, QueueTaskMeta, QueueWriterFactory}

/** S3/S4 — the `format("graftqueue")` DataSource V2 connector over the
  * broker contract: streaming produce/consume with partitioned offsets,
  * consumer-group committed-offset resume, per-epoch exactly-once append,
  * and the graph's stage 3 -> 4 handoff running through the connector
  * with results identical to the parquet-topic handoff.
  */
class QueueConnectorSpec extends AnyFunSuite {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.sql.warehouse.dir",
      Files.createTempDirectory("graft_wh").toString)
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  private def ckpt(): String =
    Files.createTempDirectory("graft_qckpt").toString

  /** Drain a memory-stream batch into a queue topic via the sink. */
  private def produce(topic: String, rows: Seq[(String, String)],
      checkpoint: String): Unit = {
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val ms = MemoryStream[(String, String)]
    ms.addData(rows: _*)
    val q = ms.toDF().toDF("key", "value")
      .writeStream
      .format("graftqueue")
      .option("topic", topic)
      .option("checkpointLocation", checkpoint)
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
  }

  /** Drain a queue topic into memory via the source; returns
    * (partition, offset, key, value) rows.
    */
  private def consume(topic: String, group: String, checkpoint: String,
      sinkName: String, maxPoll: Int = 0): Seq[(Int, Long, String, String)] = {
    val q = spark.readStream
      .format("graftqueue")
      .option("topic", topic)
      .option("group", group)
      .option("maxpoll", maxPoll)
      .load()
      .writeStream
      .format("memory")
      .queryName(sinkName)
      .option("checkpointLocation", checkpoint)
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    spark.table(sinkName).collect()
      .map(r => (r.getInt(0), r.getLong(1), r.getString(2), r.getString(3)))
      .toSeq
  }

  test("produce/consume round-trip: keyed partitioning + offset order") {
    val topic = "t_roundtrip"
    QueueRegistry.drop(topic)
    val rows = (0 until 40).map(i => (s"k${i % 5}", s"v$i"))
    produce(topic, rows, ckpt())
    val got = consume(topic, "g1", ckpt(), "q_rt")
    assert(got.size == 40)
    assert(got.map(r => (r._3, r._4)).toSet == rows.toSet)
    // same key -> same partition (hash partitioning contract)
    got.groupBy(_._3).foreach { case (k, rs) =>
      assert(rs.map(_._1).distinct.size == 1, s"key $k split partitions")
    }
    // per partition: offsets are dense from 0 and preserve produce order
    // for each key (only intra-partition order is guaranteed)
    got.groupBy(_._1).foreach { case (p, rs) =>
      val offs = rs.map(_._2).sorted
      assert(offs == (0L until offs.size.toLong), s"offsets in p$p: $offs")
      val vs = rs.sortBy(_._2).map(_._4.drop(1).toInt)
      assert(vs == vs.sorted, s"produce order lost in p$p")
    }
  }

  test("consumer group resumes from its commit, not from zero") {
    val topic = "t_resume"
    QueueRegistry.drop(topic)
    produce(topic, (0 until 10).map(i => (s"k$i", s"a$i")), ckpt())
    val first = consume(topic, "gr", ckpt(), "q_res1")
    assert(first.size == 10)
    // same group, FRESH checkpoint: the committed offsets gate redelivery
    produce(topic, (0 until 6).map(i => (s"k$i", s"b$i")), ckpt())
    val second = consume(topic, "gr", ckpt(), "q_res2")
    assert(second.map(_._4).toSet == (0 until 6).map(i => s"b$i").toSet,
      s"acked records redelivered: $second")
    // a DIFFERENT group still reads from the beginning
    val fresh = consume(topic, "gr2", ckpt(), "q_res3")
    assert(fresh.size == 16)
  }

  test("maxpoll bounds each micro-batch like the contract's poll") {
    val topic = "t_poll"
    QueueRegistry.drop(topic)
    // single partition so batch admission is observable
    produce(topic, (0 until 9).map(i => (null: String, s"v$i")), ckpt())
    // one AvailableNow drain with maxpoll=2 must still deliver all rows
    // (the wrapper loops batches of <= 2 per partition until caught up)
    val got = consume(topic, "gp", ckpt(), "q_poll", maxPoll = 2)
    assert(got.size == 9, s"got ${got.size}")
  }

  test("the chunked reader walks a planned range larger than its 64k " +
      "refill: all rows delivered once, offsets dense") {
    // 150k rows into one unbounded (maxpoll=0) drain: the planned range
    // spans 3 refill chunks per partition — the path that used to
    // materialize everything in one read (and overflow past 2^31)
    val topic = "t_bigrange"
    val t = graft.streaming.QueueRegistry.topic(topic, 4)
    val n = 150000
    t.produceAll((0 until n).map(i => (s"k${i % 16}", s"v$i")))
    val got = consume(topic, "gbig", ckpt(), "q_bigrange")
    assert(got.size == n, s"delivered ${got.size} of $n")
    assert(got.map(_._4).toSet.size == n, "duplicates in the range walk")
    got.groupBy(_._1).foreach { case (p, rs) =>
      assert(rs.map(_._2).sorted == (0L until rs.size.toLong),
        s"offset gap in p$p")
    }
  }

  test("the chunked reader over a retention-trimmed prefix: advances by " +
      "what the topic returns, never spins, never re-reads trimmed rows") {
    import java.nio.file.Paths
    // file-backed so the trim physically rewrites; group g consumes+
    // commits half, retention trims it, then a SECOND group's fresh
    // checkpoint plans from the beginning — its range starts below the
    // retained prefix and the reader must land exactly the survivors
    val base = Files.createTempDirectory("graft_q_trim").toString
    val t = graft.streaming.QueueRegistry.topic("t_trim", 2, Some(base))
    (0 until 40).foreach(i => t.produce(s"k$i", s"v$i"))
    val half = new graft.streaming.ContractConsumer(t, "ghalf")
    val taken = half.poll(10) // 10 per partition = 20 rows
    half.commitSync()
    t.truncateToCommitted()
    assert(t.beginningOffsets.values.sum > 0, "trim did not run")
    val got = spark.readStream
      .format("graftqueue")
      .option("topic", "t_trim").option("dir", base).option("group", "gnew")
      .load()
      .writeStream.format("memory").queryName("q_trim")
      .option("checkpointLocation", ckpt())
      .trigger(Trigger.AvailableNow())
      .start()
    got.awaitTermination()
    val vals = spark.table("q_trim").collect().map(_.getString(3)).toSet
    val expected = (0 until 40).map(i => s"v$i").toSet -- taken.map(_.value)
    assert(vals == expected,
      s"survivor mismatch: missing=${expected -- vals} extra=${vals -- expected}")
    graft.streaming.QueueRegistry.drop("t_trim")
  }

  test("a replayed sink epoch appends exactly once, per partition") {
    val topic = "t_epoch"
    QueueRegistry.drop(topic)
    val factory = new QueueWriterFactory(topic, 2, "query-1",
      keyIdx = 0, valIdx = 1)
    def row(k: String, v: String) =
      org.apache.spark.sql.catalyst.InternalRow(
        org.apache.spark.unsafe.types.UTF8String.fromString(k),
        org.apache.spark.unsafe.types.UTF8String.fromString(v))
    def runTask(partitionId: Int, epochId: Long, vs: Seq[String]) = {
      val w = factory.createWriter(partitionId, taskId = 100L + partitionId,
        epochId = epochId)
      vs.foreach(v => w.write(row(s"k$partitionId", v)))
      w.commit()
    }
    // epoch 7: two write partitions produce at TASK commit
    val m0 = runTask(0, 7L, Seq("v1", "v2"))
    runTask(1, 7L, Seq("v3"))
    assert(QueueRegistry.topic(topic).endOffsets.values.sum == 3L)
    // the commit message is metadata-only — no row payloads to the driver
    assert(m0 == QueueTaskMeta(partitionId = 0, epochId = 7L, rows = 2L))
    // epoch 7 replayed (sink retry): only partition 1's task reruns, then
    // the full epoch reruns — every task is fenced, nothing duplicates
    runTask(1, 7L, Seq("v3"))
    runTask(0, 7L, Seq("v1", "v2"))
    runTask(1, 7L, Seq("v3"))
    val end = QueueRegistry.topic(topic).endOffsets.values.sum
    assert(end == 3L, s"replayed epoch duplicated records: $end")
    // a NEW epoch appends again
    runTask(0, 8L, Seq("v4"))
    assert(QueueRegistry.topic(topic).endOffsets.values.sum == 4L)
  }

  test("graph stage3->4 handoff over the queue == parquet handoff") {
    val fmt = DateTimeFormatter
      .ofPattern("yyyy-MM-dd HH:mm:ss,SSS").withZone(ZoneOffset.UTC)
    val t0 = 1578391200000L
    def exitLine(id: Int, ms: Long, svc: String, elapsed: Long): String =
      s"[$id] ${fmt.format(Instant.ofEpochMilli(ms))} " +
        s"[a:b:42] INFO CommonTiming::Stop $svc handled in time $elapsed"
    def writeLog(dir: String, server: String, lines: Seq[String]): Unit = {
      val p = Paths.get(dir, "net", server, "server.log")
      Files.createDirectories(p.getParent)
      Files.writeString(p, lines.mkString("", "\n", "\n"))
      ()
    }
    val base = Files.createTempDirectory("graft_qgraph").toString
    val logs = s"$base/logs"
    val work = s"$base/work"
    val workQ = s"$base/workq" // queued stage-4 output + checkpoints
    val cfg = ApmGraph.GraphCfg()
    Seq("hostA", "hostB").foreach { srv =>
      writeLog(logs, srv, (0 until 19).map(i =>
        exitLine(i, t0 + i * 10000L, "S:checkout", if (i < 10) 100L else 300L)))
    }
    ApmGraph.runStage1(spark, s"$logs/net/*/*", work, cfg)
    writeLog(logs, "zz", Seq(exitLine(999, t0 + 100000000L, "S:checkout", 1L)))
    ApmGraph.runStage1(spark, s"$logs/net/*/*", work, cfg)
    ApmGraph.runStage2(spark, work, cfg)
    // parquet-topic handoff (the baseline)
    ApmGraph.runStage3(spark, work, cfg)
    ApmGraph.runStage4(spark, work, cfg)
    // queue handoff over the same zscore input, writing alerts elsewhere
    val topic = "t_graph_fired"
    QueueRegistry.drop(topic)
    ApmGraph.runStage3Queued(spark, work, cfg,
      ApmGraph.ParquetDir(s"$work/zscore"), ApmGraph.Topic(topic))
    ApmGraph.runStage4Queued(spark, workQ, cfg, ApmGraph.Topic(topic))
    def alerts(dir: String): Set[(Long, String, String, Int)] =
      spark.read.option("recursiveFileLookup", "true")
        .parquet(s"$dir/alerts")
        .select("ts_ms", "server", "service", "lag").collect()
        .map(r => (r.getLong(0), r.getString(1), r.getString(2), r.getInt(3)))
        .toSet
    val viaParquet = alerts(work)
    val viaQueue = alerts(workQ)
    assert(viaParquet.nonEmpty, "no alerts produced")
    assert(viaQueue == viaParquet,
      s"queue handoff diverged: onlyQ=${(viaQueue -- viaParquet).take(3)} " +
        s"onlyP=${(viaParquet -- viaQueue).take(3)}")

    // same handoff a third time over the FILE-BACKED transport (the
    // multi-process topology): separate work dir whose zscore input is
    // the same frames, topic + fences + commits living on disk
    val workF = s"$base/workf" // own checkpoints; same zscore topic input
    val qdir = s"$base/qdir"
    ApmGraph.runStage3Queued(spark, workF, cfg,
      ApmGraph.ParquetDir(s"$work/zscore"),
      ApmGraph.Topic("t_graph_fired_f", Some(qdir)))
    assert(!QueueRegistry.exists("t_graph_fired_f"),
      "file-backed topic leaked into the JVM-local registry")
    val fOffs = new graft.streaming.FileTopic(
      Paths.get(qdir, "t_graph_fired_f")).endOffsets
    assert(fOffs.values.sum > 0L,
      s"stage 3 produced nothing to the file topic: $fOffs")
    ApmGraph.runStage4Queued(spark, workF, cfg,
      ApmGraph.Topic("t_graph_fired_f", Some(qdir)))
    assert(alerts(workF) == viaParquet,
      "file-backed queue handoff diverged from the parquet handoff")

    // and the same stage 4 in a SEPARATE Spark JVM (fresh consumer
    // group, own work dir), sharing nothing with this process but the
    // topic directory — the reference's actual process topology
    val workG = s"$base/workg"
    val java = System.getProperty("java.home") + "/bin/java"
    val cp = System.getProperty("java.class.path")
    val out = collection.mutable.Buffer.empty[String]
    val code = scala.sys.process.Process(Seq(java, "-Xmx4g", "-cp", cp,
      "graft.streaming.FileTopicChild", "stage4", workG, qdir,
      "t_graph_fired_f", "stage4_jvm2"))
      .!(scala.sys.process.ProcessLogger(out += _, _ => ()))
    assert(code == 0, s"child Spark JVM failed:\n${out.takeRight(30).mkString("\n")}")
    val reported = out.collectFirst { case s if s.startsWith("ALERTS=") =>
      s.stripPrefix("ALERTS=").toLong }
    assert(reported.contains(viaParquet.size.toLong),
      s"child JVM reported $reported alerts, expected ${viaParquet.size}")
    assert(alerts(workG) == viaParquet,
      "cross-JVM stage 4 diverged from the parquet handoff")

    // and a FOURTH handoff over a real broker boundary (SocketBroker /
    // BrokerTopic): stage 3 produces over TCP into the broker-owned
    // topic, stage 4 runs in ANOTHER Spark JVM sharing nothing with
    // this process — not even a directory — but the broker's address.
    // The stage code is unchanged; only the `dir` option string differs
    // (exactly how a Kafka deployment would differ). Fences, group
    // commits and offsets all live broker-side, so the alerts must
    // still be bit-identical to the parquet handoff.
    val broker = new graft.streaming.SocketBroker()
    try {
      val workB = s"$base/workb"
      ApmGraph.runStage3Queued(spark, workB, cfg,
        ApmGraph.ParquetDir(s"$work/zscore"),
        ApmGraph.Topic("t_graph_fired_b", Some(broker.url)))
      val bOffs = QueueRegistry.topic("t_graph_fired_b",
        dir = Some(broker.url)).endOffsets
      assert(bOffs.values.sum > 0,
        s"stage 3 produced nothing to the broker: $bOffs")
      val workB4 = s"$base/workb4"
      val outB = collection.mutable.Buffer.empty[String]
      val codeB = scala.sys.process.Process(Seq(java, "-Xmx4g", "-cp", cp,
        "graft.streaming.FileTopicChild", "stage4", workB4, broker.url,
        "t_graph_fired_b", "stage4_broker_jvm"))
        .!(scala.sys.process.ProcessLogger(outB += _, _ => ()))
      assert(codeB == 0,
        s"broker child JVM failed:\n${outB.takeRight(30).mkString("\n")}")
      assert(alerts(workB4) == viaParquet,
        "cross-JVM broker handoff diverged from the parquet handoff")
    } finally broker.close()
  }
}
