package graft

import java.nio.file.Files
import scala.sys.process._
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.streaming.Trigger
import org.scalatest.funsuite.AnyFunSuite
import graft.streaming.{ContractConsumer, FileTopic, FileTopicChild}

/** The file-backed queue transport across REAL process boundaries: forks
  * separate `java` child JVMs (FileTopicChild) that produce/consume/fence
  * against the same topic directory this JVM uses — the process topology
  * the reference's broker fabric actually has (six OS processes,
  * config/apm_config.json:87-178). Plus the `format("graftqueue")`
  * connector running over the file backend via the `dir` option.
  */
class FileTopicSpec extends AnyFunSuite with TestSession {

  /** Fork a child JVM on FileTopicChild; returns its stdout lines. */
  private def fork(args: String*): Seq[String] = {
    val java = System.getProperty("java.home") + "/bin/java"
    val cp = System.getProperty("java.class.path")
    val cmd = Seq(java, "-cp", cp, "graft.streaming.FileTopicChild") ++ args
    val out = collection.mutable.Buffer.empty[String]
    val code = Process(cmd).!(ProcessLogger(out += _, _ => ()))
    assert(code == 0, s"child JVM failed: ${args.toSeq}\n${out.mkString("\n")}")
    out.toSeq
  }

  test("a child JVM's records are consumable here, and our commit " +
      "gates a second child consumer (cross-process group resume)") {
    val dir = Files.createTempDirectory("graft_ft_2jvm").toString
    assert(fork("produce", dir, "4", "a", "40").contains("PRODUCED=40"))
    // consume in THIS JVM what the child produced
    val t = new FileTopic(java.nio.file.Paths.get(dir))
    assert(t.nPartitions == 4)
    val c = new ContractConsumer(t, "g2jvm")
    val got = c.poll(1000)
    assert(got.size == 40, s"got ${got.size}")
    assert(got.map(_.value).toSet == (0 until 40).map(i => s"a:$i").toSet)
    // key affinity across the process boundary: same key, one partition
    got.groupBy(_.key).foreach { case (k, rs) =>
      assert(rs.map(_.partition).distinct.size == 1, s"key $k split")
    }
    c.commitSync()
    // child produces MORE, then a child CONSUMER of the same group sees
    // only the new tail — our commit is durable and visible to it
    assert(fork("produce", dir, "4", "b", "15").contains("PRODUCED=15"))
    assert(fork("consume", dir, "g2jvm").contains("CONSUMED=15"))
    // and nothing remains for a third consumer of that group
    assert(fork("consume", dir, "g2jvm").contains("CONSUMED=0"))
  }

  test("two concurrent child-JVM producers + this JVM: all records land " +
      "intact, none torn, offsets dense") {
    val dir = Files.createTempDirectory("graft_ft_conc").toString
    val f1 = new Thread { override def run(): Unit =
      assert(fork("produce", dir, "2", "p1", "300").contains("PRODUCED=300")) }
    val f2 = new Thread { override def run(): Unit =
      assert(fork("produce", dir, "2", "p2", "300").contains("PRODUCED=300")) }
    f1.start(); f2.start()
    val t = new FileTopic(java.nio.file.Paths.get(dir), 2)
    (0 until 300).foreach(i => t.produce(s"k${i % 8}", s"p0:$i"))
    f1.join(60000); f2.join(60000)
    val c = new ContractConsumer(t, "gc")
    val got = c.poll(100000)
    assert(got.size == 900, s"lost records: ${got.size}")
    // every record intact (no torn/interleaved frames): value parses and
    // each producer's full sequence is present
    val byProducer = got.map(_.value.split(":")).groupBy(_.head)
    assert(byProducer.keySet == Set("p0", "p1", "p2"))
    byProducer.foreach { case (p, vs) =>
      assert(vs.map(_(1).toInt).sorted == (0 until 300), s"$p lost/torn")
    }
    // offsets dense per partition
    got.groupBy(_.partition).foreach { case (p, rs) =>
      assert(rs.map(_.offset).sorted == (0L until rs.size.toLong),
        s"offset gap in p$p")
    }
  }

  test("the idempotence fence holds across processes: a child's epoch " +
      "fences ours, and high-water admits only newer epochs") {
    val dir = Files.createTempDirectory("graft_ft_fence").toString
    val t = new FileTopic(java.nio.file.Paths.get(dir), 2)
    // child takes (q1, epoch 5, p0)
    assert(fork("fence", dir, "q1", "5", "0").contains("FENCE=true"))
    // our replay of epoch 5 (and anything older) is fenced
    assert(!FileTopicChild.fence(t, "q1", 5L, 0))
    assert(!FileTopicChild.fence(t, "q1", 4L, 0))
    // other partition / other query are independent
    assert(FileTopicChild.fence(t, "q1", 5L, 1))
    assert(FileTopicChild.fence(t, "q2", 5L, 0))
    // a NEWER epoch advances; the child then sees ITS replay fenced
    assert(FileTopicChild.fence(t, "q1", 6L, 0))
    assert(fork("fence", dir, "q1", "6", "0").contains("FENCE=false"))
    assert(fork("fence", dir, "q1", "7", "0").contains("FENCE=true"))
  }

  test("crash-debris recovery: 0-byte state files read as absent, a torn " +
      "trailing index entry is truncated, and no temp files leak") {
    import java.nio.ByteBuffer
    import java.nio.file.{Files => F, StandardOpenOption => O}
    val dir = F.createTempDirectory("graft_ft_debris")
    // a crash inside a pre-atomic Files.write could leave 0-byte debris
    // for ANY replace-style key; each must read as absent, not wedge
    F.write(dir.resolve("meta"), Array.emptyByteArray)
    F.write(dir.resolve("rr"), Array.emptyByteArray)
    F.write(dir.resolve("fence_q1_0"), Array.emptyByteArray)
    val t = new FileTopic(dir, 1)
    assert(t.nPartitions == 1, "0-byte meta must not wedge topic creation")
    t.produce(null, "rr-null-key") // 0-byte rr cursor reads as 0
    assert(FileTopicChild.fence(t, "q1", 0L, 0),
      "0-byte fence must read as no-epoch-seen, admitting epoch 0")
    assert(!FileTopicChild.fence(t, "q1", 0L, 0), "then fence normally")
    // crash window 1: record "c" fully in the log but only 3 of its 8
    // index-entry bytes persisted — the orphan frame and the partial
    // entry must BOTH be scrubbed by the next append, or sequential
    // reads would return "c" as offset 3 and shift every later record
    t.produce("k", "a"); t.produce("k", "b")
    val log = dir.resolve("p0.0.log"); val idx = dir.resolve("p0.0.idx")
    val orphan = ByteBuffer.allocate(8 + 1 + 1)
      .putInt(1).put('k'.toByte).putInt(1).put('c'.toByte).array()
    F.write(log, orphan, O.APPEND)
    F.write(idx, Array[Byte](0, 0, 0), O.APPEND) // 3 of 8 entry bytes
    assert(t.endOffsets(0) == 3, "partial entry visible as a phantom slot")
    val logEndBefore = F.size(log)
    t.produce("k", "d")
    assert(F.size(log) < logEndBefore + 9,
      "orphan frame bytes were not truncated before the new append")
    // crash window 2: a TORN frame (4 of its bytes) with no index entry
    F.write(log, Array[Byte](0, 0, 0, 9), O.APPEND)
    t.produce("k", "e")
    val c = new ContractConsumer(t, "gdebris")
    val got = c.poll(100)
    assert(got.map(_.value) == Seq("rr-null-key", "a", "b", "d", "e"),
      s"crash-debris recovery broke the record stream: ${got.map(_.value)}")
    assert(got.map(_.offset) == Seq(0L, 1L, 2L, 3L, 4L), "offsets not dense")
    // replace-style writes must not leave temp debris, and a group
    // literally named tmp_<N> must keep its offsets across other commits
    FileTopicChild.commit(t, "tmp_1", Map(0 -> 2L))
    FileTopicChild.commit(t, "g", Map(0 -> 4L))
    assert(FileTopicChild.committed(t, "tmp_1") == Map(0 -> 2L))
    import scala.jdk.CollectionConverters._
    val stray = F.list(dir).iterator().asScala
      .map(_.getFileName.toString).filter(_.startsWith(".tmp_")).toSeq
    assert(stray.isEmpty, s"leaked temp files: $stray")
  }

  test("state-file names are collision-free: groups and query ids that " +
      "the old sanitizer merged stay distinct, and '.durable' is rejected") {
    val dir = Files.createTempDirectory("graft_ft_enc")
    val t = new FileTopic(dir, 1)
    t.produce("k", "v")
    // 'a/b', 'a_b' and 'a%5Fb' all mapped to one commits_ file under the
    // lossy sanitizer; each must keep its own offsets now
    FileTopicChild.commit(t, "a/b", Map(0 -> 1L))
    FileTopicChild.commit(t, "a_b", Map(0 -> 0L))
    FileTopicChild.commit(t, "a%5Fb", Map(0 -> 1L))
    assert(FileTopicChild.committed(t, "a/b") == Map(0 -> 1L))
    assert(FileTopicChild.committed(t, "a_b") == Map(0 -> 0L))
    assert(FileTopicChild.committed(t, "a%5Fb") == Map(0 -> 1L))
    // fences: query ids containing '_' cannot forge another query's
    // (query, partition) composite — 'a_b' part 0 vs 'a' part 0 vs
    // 'a' part 10 are three independent fences
    assert(FileTopicChild.fence(t, "a_b", 5L, 0))
    assert(FileTopicChild.fence(t, "a", 5L, 0))
    assert(FileTopicChild.fence(t, "a", 5L, 10))
    assert(!FileTopicChild.fence(t, "a_b", 5L, 0))
    // the reserved durable suffix is refused at the connector layer
    val e = intercept[Exception] {
      spark.readStream.format("graftqueue")
        .option("topic", "tenc").option("dir", dir.toString)
        .option("group", "g.durable").load()
        .writeStream.format("memory").queryName("ft_enc_bad")
        .option("checkpointLocation",
          Files.createTempDirectory("graft_ft_enc_ck").toString)
        .trigger(Trigger.AvailableNow()).start().awaitTermination()
    }
    def msgs(x: Throwable): Seq[String] = Option(x).toSeq
      .flatMap(y => Option(y.getMessage).toSeq ++ msgs(y.getCause))
    assert(msgs(e).exists(_.contains(".durable")), s"wrong failure: $e")
  }

  test("property: randomly-drawn distinct group and query names never " +
      "collide on state files (seeded, nasty alphabet)") {
    val dir = Files.createTempDirectory("graft_ft_prop")
    val t = new FileTopic(dir, 2)
    val rnd = new scala.util.Random(97)
    val alphabet = "ab_/%.-|:= \\é世" // the chars the old sanitizer merged
    def name(): String =
      (0 until 1 + rnd.nextInt(8)).map(_ =>
        alphabet(rnd.nextInt(alphabet.length))).mkString
    val groups = Iterator.continually(name()).distinct
      .filterNot(_.endsWith(".durable")).take(40).toVector
    // every group gets its own offset line; none clobbers another
    groups.zipWithIndex.foreach { case (g, i) =>
      FileTopicChild.commit(t, g, Map(0 -> i.toLong, 1 -> (100L + i)))
    }
    groups.zipWithIndex.foreach { case (g, i) =>
      assert(FileTopicChild.committed(t, g) ==
        Map(0 -> i.toLong, 1 -> (100L + i)),
        s"group '$g' lost/merged its offsets")
    }
    // every (query, partition) fence is independent of every other
    val queries = Iterator.continually(name()).distinct.take(15).toVector
    val fences = for (q <- queries; p <- 0 to 1) yield (q, p)
    fences.foreach { case (q, p) =>
      assert(FileTopicChild.fence(t, q, 7L, p), s"fence ($q,$p) pre-taken")
    }
    fences.foreach { case (q, p) =>
      assert(!FileTopicChild.fence(t, q, 7L, p), s"fence ($q,$p) not held")
    }
  }

  test("a consumer-only process polls a power-loss-damaged partition: " +
      "open-time reconciliation recovers it without any producer append") {
    import java.nio.channels.FileChannel
    import java.nio.file.{Files => F, StandardOpenOption => O}
    val dir = F.createTempDirectory("graft_ft_conly")
    val t = new FileTopic(dir, 1)
    t.produce("k", "aa"); t.produce("k", "bb"); t.produce("k", "cc")
    // index page flushed, last log page lost: chop mid-frame of "cc"
    val log = dir.resolve("p0.0.log")
    val ch = FileChannel.open(log, O.WRITE)
    try ch.truncate(F.size(log) - 3) finally ch.close()
    // a NEW instance (a consumer-only process) must reconcile at open:
    // the phantom entry drops, the prefix reads cleanly, no append needed
    val t2 = new FileTopic(dir)
    assert(t2.endOffsets == Map(0 -> 2L), "phantom entry survived open")
    assert(new ContractConsumer(t2, "gco").poll(100).map(_.value) ==
      Seq("aa", "bb"))
  }

  test("format marker: an unversioned data directory and a future format " +
      "are refused at open; a fresh directory is stamped") {
    import java.nio.charset.StandardCharsets.UTF_8
    import java.nio.file.{Files => F}
    // a directory with topic data but no marker = written by a build
    // with different index semantics — reinterpreting it would corrupt
    val legacy = F.createTempDirectory("graft_ft_legacy")
    F.write(legacy.resolve("p0.idx"), Array[Byte](0, 0, 0, 0, 0, 0, 0, 9))
    val e1 = intercept[IllegalArgumentException] { new FileTopic(legacy) }
    assert(e1.getMessage.contains("unversioned"), e1.getMessage)
    // a future format is refused, not guessed at
    val future = F.createTempDirectory("graft_ft_future")
    F.write(future.resolve("format"), "9".getBytes(UTF_8))
    val e2 = intercept[IllegalArgumentException] { new FileTopic(future) }
    assert(e2.getMessage.contains("format '9'"), e2.getMessage)
    // fresh directories are stamped and re-openable
    val fresh = F.createTempDirectory("graft_ft_fresh")
    new FileTopic(fresh, 2).produce("k", "v")
    assert(new String(F.readAllBytes(fresh.resolve("format")), UTF_8) ==
      FileTopic.Format)
    assert(new FileTopic(fresh).nPartitions == 2)
  }

  test("power-loss shape (index ahead of log): phantom entries drop, the " +
      "longest consistent prefix survives, the partition keeps working") {
    import java.nio.channels.FileChannel
    import java.nio.file.{Files => F, StandardOpenOption => O}
    val dir = F.createTempDirectory("graft_ft_plo")
    val t = new FileTopic(dir, 1)
    t.produce("k", "aa"); t.produce("k", "bb"); t.produce("k", "cc")
    // simulate writeback persisting the index page but not the last
    // log page: chop the log mid-way into record "cc"'s frame while its
    // index entry (and "cc"'s full end position) remain
    val log = dir.resolve("p0.0.log")
    val ch = FileChannel.open(log, O.WRITE)
    try ch.truncate(F.size(log) - 3) finally ch.close()
    // the next append must drop the phantom entry, truncate the torn
    // frame, and land its own record as offset 2
    t.produce("k", "dd")
    val c = new ContractConsumer(t, "gplo")
    assert(c.poll(100).map(_.value) == Seq("aa", "bb", "dd"))
  }

  test("SIGKILL a producer JVM mid-stream: survivors form an exact prefix, " +
      "debris is scrubbed, and the topic keeps working") {
    val dir = Files.createTempDirectory("graft_ft_kill").toString
    val javaBin = System.getProperty("java.home") + "/bin/java"
    val cp = System.getProperty("java.class.path")
    // the child produces 60k records sequentially (k<i%8> -> x:<i>);
    // kill -9 lands somewhere mid-append
    val pb = new java.lang.ProcessBuilder( // sys.process shadows the name
      javaBin, "-cp", cp, "graft.streaming.FileTopicChild",
      "produce", dir, "4", "x", "60000")
    pb.redirectErrorStream(true)
    val p = pb.start()
    // wait until at least SOME records are durable, then kill hard
    val t = new FileTopic(java.nio.file.Paths.get(dir), 4)
    val spinDeadline = System.nanoTime() + 60L * 1000 * 1000 * 1000
    while (t.endOffsets.values.sum < 500 && p.isAlive &&
        System.nanoTime() < spinDeadline) Thread.sleep(2)
    p.destroyForcibly()
    p.waitFor()
    assert(p.exitValue() != 0, "child finished before the kill landed — " +
      "raise the record count or lower the spin threshold")
    val c = new ContractConsumer(t, "gkill")
    val got = c.poll(100000) // every frame must parse cleanly
    val ids = got.map(_.value.stripPrefix("x:").toInt).sorted
    assert(ids.nonEmpty && ids == (0 to ids.max),
      s"survivors are not an exact prefix: n=${ids.size} max=${ids.max}")
    assert(ids.size < 60000, "kill landed after the full produce")
    got.groupBy(_.partition).foreach { case (part, rs) =>
      assert(rs.map(_.offset).sorted == (0L until rs.size.toLong),
        s"offset gap in p$part after the kill")
    }
    // appends after the crash scrub any torn tail and stay readable
    (0 until 8).foreach(i => t.produce(s"k${i % 8}", s"post:$i"))
    val after = c.poll(100000)
    assert(after.map(_.value).toSet == (0 until 8).map(i => s"post:$i").toSet,
      s"post-crash appends unreadable: ${after.map(_.value).take(10)}")
  }

  test("retention on disk: log bytes are physically reclaimed, a crashed " +
      "compact's generation debris is GC'd at open, and a reopened " +
      "instance continues the trimmed offset line") {
    import java.nio.file.{Files => F}
    import scala.jdk.CollectionConverters._
    val dir = F.createTempDirectory("graft_ft_ret")
    def logBytes: Long = {
      val s = F.list(dir)
      try s.iterator().asScala
        .filter(_.getFileName.toString.endsWith(".log"))
        .map(F.size).sum
      finally s.close()
    }
    val t = new FileTopic(dir, 2)
    val pad = "x" * 1000
    (0 until 40).foreach(i => t.produce(s"k$i", s"$pad:$i"))
    val before = logBytes
    assert(before > 40000L)
    val c = new ContractConsumer(t, "g")
    assert(c.poll(1000).size == 40); c.commitSync()
    val begins = t.truncateToCommitted()
    assert(begins == t.endOffsets, "everything was committed, all trims")
    assert(logBytes == 0L,
      s"trimmed records still occupy disk ($logBytes bytes)")
    // a compact that crashed before its pointer flip leaves half-built
    // next-generation files; open must GC any non-current generation
    F.write(dir.resolve("p0.7.log"), Array[Byte](1, 2, 3))
    F.write(dir.resolve("p0.7.idx"), Array[Byte](9, 9, 9, 9, 9, 9, 9, 9))
    val t2 = new FileTopic(dir)
    assert(!F.exists(dir.resolve("p0.7.log")), "stale generation survived")
    assert(!F.exists(dir.resolve("p0.7.idx")), "stale generation survived")
    // the reopened instance agrees on the trimmed line and appends to it
    assert(t2.beginningOffsets == begins && t2.endOffsets == begins)
    t2.produce("k1", "fresh")
    val c2 = new ContractConsumer(t2, "g")
    assert(c2.poll(100).map(_.value) == Seq("fresh"))
    // a PARTIAL trim keeps the uncommitted tail byte-identical: group g
    // (the only group) commits through tail:4, the trim drops exactly
    // the committed prefix, and a fresh instance + fresh group reads
    // the kept records intact
    (0 until 10).foreach(i => t2.produce("k1", s"tail:$i"))
    assert(c2.poll(5).map(_.value) == (0 until 5).map(i => s"tail:$i"))
    c2.commitSync()
    t2.truncateToCommitted()
    val c3 = new ContractConsumer(new FileTopic(dir), "gfresh")
    assert(c3.poll(100).map(_.value) == (5 until 10).map(i => s"tail:$i"))
  }

  test("compaction race: a read pinned to a compacted-away generation " +
      "throws for retry — never an empty result that hides live records") {
    // the lock-free reader window: pointer read at generation g, then a
    // concurrent compact flips to g+1 and deletes g's files before the
    // reader touches them. readAt IS the post-pointer-read body, so
    // calling it with the stale (gen, base) reproduces the race
    // deterministically: it must throw (withGen then retries on the
    // live pointer), because returning empty would silently drop the
    // retained records for that poll.
    val dir = Files.createTempDirectory("graft_ft_race")
    val t = new FileTopic(dir, 1)
    (0 until 10).foreach(i => t.produce("k", s"v$i"))
    val c = new ContractConsumer(t, "g")
    assert(c.poll(4).size == 4); c.commitSync()
    t.truncateToCommitted() // gen 0 -> 1, p0.0.* deleted, 6 records live
    intercept[java.nio.file.NoSuchFileException] {
      t.readAt(0, gen = 0L, base = 0L, from = 4L, max = 100)
    }
    // the retrying public path sees the live generation: same offsets,
    // same payloads
    assert(c.poll(100).map(r => (r.offset, r.value)) ==
      (4 until 10).map(i => (i.toLong, s"v$i")))
    // an UNWRITTEN partition is the legitimate missing-index case and
    // must stay readable-as-empty, not throw
    val t2 = new FileTopic(Files.createTempDirectory("graft_ft_empty"), 1)
    assert(t2.readAt(0, gen = 0L, base = 0L, from = 0L, max = 10).isEmpty)
    assert(t2.endOffsets == Map(0 -> 0L))
  }

  test("fsync policy: forced appends keep the same contract semantics") {
    val dir = Files.createTempDirectory("graft_ft_sync")
    val t = new FileTopic(dir, 1, fsync = true)
    (0 until 5).foreach(i => t.produce("k", s"v$i"))
    val c = new ContractConsumer(t, "g")
    assert(c.poll(100).map(_.value) == (0 until 5).map(i => s"v$i"))
    c.commitSync()
    // a non-fsync instance over the same directory interoperates
    val t2 = new FileTopic(dir)
    t2.produce("k", "v5")
    assert(new ContractConsumer(t2, "g").poll(100).map(_.value) == Seq("v5"))
  }

  test("retain=committed: the reader trims consumed records as it goes; " +
      "nothing is lost, disk shrinks, and the durable line gates the trim") {
    import java.nio.file.{Files => F, Paths}
    val base = F.createTempDirectory("graft_ft_retain").toString
    val t = new FileTopic(Paths.get(base, "tret"), 2)
    val pad = "x" * 500
    (0 until 40).foreach(i => t.produce(s"k$i", s"$pad:$i"))
    val q = spark.readStream.format("graftqueue")
      .option("topic", "tret").option("dir", base).option("group", "gr")
      .option("maxpoll", "5").option("retain", "committed")
      .load()
      .writeStream.format("memory").queryName("ft_retain")
      .option("checkpointLocation",
        F.createTempDirectory("graft_ft_retain_ck").toString)
      .trigger(Trigger.AvailableNow()).start()
    q.awaitTermination()
    // every record reached the sink despite the mid-stream trims
    val got = spark.table("ft_retain").collect().map(_.getString(3)).toSeq
    assert(got.size == 40 && got.toSet == (0 until 40).map(i => s"$pad:$i").toSet)
    // retention actually ran: the beginning advanced and log bytes shrank
    val begins = t.beginningOffsets
    assert(begins.values.sum > 0, s"no retention happened: $begins")
    // the trim never passed the DURABLE line: a consumer resuming from
    // <group>.durable still finds every record above it — the records a
    // crash-replay of the last in-flight batch would need (the planning
    // ack is at the end; durable lags it by at most one undelivered
    // commit, i.e. maxpoll per partition)
    val durLeft = new ContractConsumer(t, "gr.durable").poll(100)
    assert(durLeft.size <= 2 * 5,
      s"durable line lagged by more than one batch: ${durLeft.size}")
    assert(durLeft.forall(r => r.offset >= begins(r.partition)),
      "trim passed the durable line")
    // the ack group itself is fully consumed
    assert(new ContractConsumer(t, "gr").poll(100).isEmpty)
  }

  test("graftqueue connector over dir: streaming write + group-committed " +
      "streaming read through the file backend") {
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val base = Files.createTempDirectory("graft_ft_conn").toString
    def ckpt() = Files.createTempDirectory("graft_ft_ck").toString
    val ms = MemoryStream[(String, String)]
    ms.addData((0 until 30).map(i => (s"k${i % 5}", s"v$i")): _*)
    val w = ms.toDF().toDF("key", "value").writeStream
      .format("graftqueue").option("topic", "tfile")
      .option("dir", base)
      .option("checkpointLocation", ckpt())
      .trigger(Trigger.AvailableNow()).start()
    w.awaitTermination()
    // the records are on disk under dir/topic
    assert(new FileTopic(java.nio.file.Paths.get(base, "tfile"))
      .endOffsets.values.sum == 30L)
    def drain(group: String, sink: String): Seq[(String, String)] = {
      val q = spark.readStream.format("graftqueue")
        .option("topic", "tfile").option("dir", base).option("group", group)
        .load()
        .writeStream.format("memory").queryName(sink)
        .option("checkpointLocation", ckpt())
        .trigger(Trigger.AvailableNow()).start()
      q.awaitTermination()
      spark.table(sink).collect()
        .map(r => (r.getString(2), r.getString(3))).toSeq
    }
    val got = drain("gA", "ft_conn1")
    assert(got.size == 30)
    assert(got.toSet == (0 until 30).map(i => (s"k${i % 5}", s"v$i")).toSet)
    // fresh checkpoint, same group: the FILE-backed commit gates redelivery
    assert(drain("gA", "ft_conn2").isEmpty, "file-backed group commit ignored")
    // a child JVM can still read everything under a new group
    assert(fork("consume", s"$base/tfile", "gB").contains("CONSUMED=30"))
  }
}
