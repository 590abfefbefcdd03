package graft.streaming

import java.nio.file.Paths

/** Test-only child-process entry point for the two-JVM [[FileTopic]]
  * tests (FileTopicSpec forks `java -cp <test classpath> …` on this
  * main): each mode exercises one side of the broker contract from a
  * genuinely separate process, printing a single parseable result line.
  *
  * Modes:
  *  - `produce <dir> <nPart> <prefix> <count>` — produce `count` keyed
  *    records (`k<i%8>` -> `<prefix>:<i>`); prints `PRODUCED=<count>`.
  *  - `consume <dir> <group>` — poll everything, commit, print
  *    `CONSUMED=<n>`.
  *  - `fence <dir> <query> <epoch> <part>` — take the idempotence
  *    fence; prints `FENCE=<true|false>`.
  *  - `stage4 <workDir> <queueDir> <topic> <group>` — run the graph's
  *    stage 4 (cooldown -> ordered alert sink) in THIS process with its
  *    own SparkSession, consuming the file-backed topic another Spark
  *    JVM produced; prints `ALERTS=<rowcount>`. This is the two-Spark-
  *    process leg of the reference's topology: the processes share
  *    nothing but the topic directory.
  */
object FileTopicChild {
  /** In-process accessor for the `private[streaming]` fence so specs in
    * package `graft` can exercise it against the child JVM's takes: an
    * empty fenced produce appends nothing and advances the fence.
    */
  def fence(t: FileTopic, query: String, epoch: Long, part: Int): Boolean =
    t.produceFenced(query, epoch, part, Nil)

  /** Same, for the atomic fence+append the production sink uses. */
  def produceFenced(t: FileTopic, query: String, epoch: Long, part: Int,
      rows: Seq[(String, String)]): Boolean =
    t.produceFenced(query, epoch, part, rows)

  /** Same, for the group-commit pair (offset-hygiene assertions). */
  def commit(t: FileTopic, group: String, offs: Map[Int, Long]): Unit =
    t.commit(group, offs)
  def committed(t: FileTopic, group: String): Map[Int, Long] =
    t.committed(group)

  /** Same, for the connector's durable-progress line (the only write
    * path into the reserved `.durable` namespace).
    */
  def commitDurable(t: FileTopic, group: String, offs: Map[Int, Long]): Unit =
    t.commitDurable(group, offs)
  def committedDurable(t: FileTopic, group: String): Map[Int, Long] =
    t.committedDurable(group)

  def main(args: Array[String]): Unit = args(0) match {
    case "produce" =>
      val t = new FileTopic(Paths.get(args(1)), args(2).toInt)
      val prefix = args(3)
      val count = args(4).toInt
      (0 until count).foreach(i => t.produce(s"k${i % 8}", s"$prefix:$i"))
      println(s"PRODUCED=$count")
    case "produce-for" =>
      // produce-for <dir> <nPart> <prefix> <millis> [batch] [fsync]:
      // produce keyed records (`k<i%8>` -> `<prefix>:<i>`) until the
      // deadline, in `batch`-row produceAll calls (default 100 — the
      // task-buffer shape the connector's sink uses), printing
      // PRODUCED=<n>. `fsync` forces every append (flush.messages=1).
      val t = new FileTopic(Paths.get(args(1)), args(2).toInt,
        fsync = args.length > 6 && args(6) == "fsync")
      val prefix = args(3)
      val deadline = System.nanoTime() + args(4).toLong * 1000000L
      val batch = if (args.length > 5) args(5).toInt else 100
      var i = 0
      while (System.nanoTime() < deadline) {
        t.produceAll((i until i + batch).map(j => (s"k${j % 8}", s"$prefix:$j")))
        i += batch
      }
      println(s"PRODUCED=$i")
    case "consume" =>
      val t = new FileTopic(Paths.get(args(1)))
      val c = new ContractConsumer(t, args(2))
      var n = 0
      var batch = c.poll(1000)
      while (batch.nonEmpty) { n += batch.size; batch = c.poll(1000) }
      c.commitSync()
      println(s"CONSUMED=$n")
    case "fence" =>
      val t = new FileTopic(Paths.get(args(1)))
      val took = t.produceFenced(args(2), args(3).toLong, args(4).toInt, Nil)
      println(s"FENCE=$took")
    case "stage4" =>
      val spark = graft.GraftSession.builder(2)
        .config("spark.sql.warehouse.dir",
          java.nio.file.Files.createTempDirectory("graft_wh_child").toString)
        .getOrCreate()
      spark.sparkContext.setLogLevel("ERROR")
      ApmGraph.runStage4Queued(spark, args(1), ApmGraph.GraphCfg(),
        ApmGraph.Topic(args(3), args(2)), group = args(4))
      val n = spark.read.option("recursiveFileLookup", "true")
        .parquet(args(1) + "/alerts").count()
      spark.stop()
      println(s"ALERTS=$n")
    case "graphstage" =>
      // graphstage <n> <logsGlob> <workDir> <queueDir> <stopFile>
      // [stateProvider] — run ONE stage of the fully-queued topology as
      // THIS process, live:
      // drain whatever is pending, sleep briefly, repeat until the stop
      // file appears. Upstream stages produce concurrently into the
      // shared file topics, so each iteration consumes records that did
      // not exist when the previous one planned — genuine streaming
      // consumption across process boundaries, not an after-the-fact
      // replay. Checkpoints live under this stage's own workDir; ONLY
      // the topic directory (and, for stage 1, the log files) is shared.
      val stage = args(1).toInt
      val (logsGlob, workDir, queueDir) = (args(2), args(3), args(4))
      val stop = Paths.get(args(5))
      val builder = graft.GraftSession.builder(3)
        .config("spark.sql.warehouse.dir",
          java.nio.file.Files.createTempDirectory("graft_wh_child").toString)
      // optional state-store provider (e.g. RocksDB + changelog), so the
      // forked-topology spec can prove resume semantics per provider
      if (args.length > 6 && args(6).nonEmpty) {
        builder.config("spark.sql.streaming.stateStore.providerClass", args(6))
        builder.config("spark.sql.streaming.stateStore.rocksdb." +
          "changelogCheckpointing.enabled", "true")
        ()
      }
      val spark = builder.getOrCreate()
      spark.sparkContext.setLogLevel("ERROR")
      val cfg = ApmGraph.GraphCfg()
      var drains = 0
      while (!java.nio.file.Files.exists(stop)) {
        if (stage == 6) {
          // the JMX poller process (S5): the logsGlob slot carries
          // "<cliCmd>;<host1,host2,...>"; each loop tick is one
          // (compressed) 60 s poll — a real subprocess exec per host
          val Array(cliCmd, hostsCsv) = logsGlob.split(";", 2)
          JmxPoller.pollOnce(spark, hostsCsv.split(",").toSeq,
            JmxPoller.shellExec(cliCmd),
            QueueRegistry.topic("t_jmx", queueDir),
            pollMs = drains.toLong * 60000L)
          ()
        } else {
          ApmGraph.runStageQueued(spark, stage, logsGlob, workDir, queueDir, cfg)
        }
        drains += 1
        // liveness marker for the parent (see MultiProcessGraphSpec):
        // proves this process completed a drain AFTER a given instant
        java.nio.file.Files.writeString(
          Paths.get(workDir, s"drained_$stage"), drains.toString)
        Thread.sleep(150)
      }
      spark.stop()
      println(s"STAGE$stage=$drains")
    case other => sys.error(s"unknown mode $other")
  }
}
