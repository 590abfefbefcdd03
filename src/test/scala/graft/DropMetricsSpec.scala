package graft

import java.nio.file.{Files, Paths}
import java.nio.file.attribute.FileTime
import java.time.{Instant, ZoneOffset}
import java.time.format.DateTimeFormatter
import org.scalatest.funsuite.AnyFunSuite
import graft.streaming.{ApmGraph, ContractConsumer, FileTopic, QueueRegistry}

/** The `t_ops` alarm channel: a queued stage 1 publishes the rows its
  * stats window dropped as too late, one JSON record per drain that
  * dropped any, so a process watching the queue sees drops that
  * otherwise live only in the stage's own JVM.
  */
class DropMetricsSpec extends AnyFunSuite with GraphSuite {

  test("t_ops alarm channel: a zero-drop drain publishes nothing, a " +
      "watermark drop publishes its count") {
    val qdir = Files.createTempDirectory("graft_ops").toString
    val c = new ContractConsumer(QueueRegistry.topic("t_ops", qdir, 1),
      "spec_ops_unit")
    ApmGraph.publishDropMetrics(0L, "stage1", qdir)
    assert(c.poll(1000).isEmpty, "zero-drop drain published")
    ApmGraph.publishDropMetrics(3L, "stage1", qdir)
    val r = c.poll(1000)
    assert(r.size == 1 &&
      r.head.value == """{"stage":"stage1","wm_dropped":3}""", s"got $r")
  }

  test("drop accounting stays EXACT past the recentProgress ring: queued " +
      "stage 1 publishes every late line's drops after the ring has " +
      "evicted their batches") {
    val base = Files.createTempDirectory("graft_dropx").toString
    val (logs, qdir) = (s"$base/logs", s"$base/q")
    val fmt = DateTimeFormatter.ofPattern("yyyy-MM-dd HH:mm:ss,SSS")
      .withZone(ZoneOffset.UTC)
    val t0 = 1578391200000L
    // one line per file; stage 1 admits one file per micro-batch, oldest
    // modification time first, so file i is batch i
    def writeLog(i: Int, ms: Long): Unit = {
      val p = Paths.get(logs, "net", "s0", s"server.log.$i")
      Files.createDirectories(p.getParent)
      Files.writeString(p, s"[$i] ${fmt.format(Instant.ofEpochMilli(ms))} " +
        "[a:b:42] INFO CommonTiming::Stop S:checkout handled in time 100\n")
      Files.setLastModifiedTime(p, FileTime.fromMillis(t0 + i * 1000L))
      ()
    }
    // batch 0 moves the watermark to t0 + 1e6 - 10 s; batches 1-10 each
    // bring one line from before t0 + 10 s; batches 11-30 bring fresh
    // lines. The late-event filter lags one batch behind the watermark
    // (it uses the previous batch's), so batch 1's line is still folded
    // and the other nine are dropped. Each line sits in 60 s / 10 s = 6
    // sliding windows, and each window is one dropped row: 54 rows.
    val (nLate, nFresh) = (10, 20)
    writeLog(0, t0 + 1000000L)
    (1 to nLate).foreach(i => writeLog(i, t0 + i * 100L))
    (1 to nFresh).foreach(i => writeLog(nLate + i, t0 + 1000000L + i * 20000L))
    // a ring of 5 progress updates holds only fresh batches at the end
    // of the 31-batch drain, so a sum over it would read 0
    val ringKey = "spark.sql.streaming.numRecentProgressUpdates"
    val prev = spark.conf.getOption(ringKey)
    spark.conf.set(ringKey, "5")
    try ApmGraph.runStageQueued(spark, 1, s"$logs/net/*/*", s"$base/work",
      qdir, ApmGraph.GraphCfg(stage1MaxFiles = 1))
    finally prev match {
      case Some(v) => spark.conf.set(ringKey, v)
      case None => spark.conf.unset(ringKey)
    }
    val alarms = new ContractConsumer(
      new FileTopic(Paths.get(qdir, "t_ops")), "spec_dropx")
      .poll(1000).map(_.value)
    assert(alarms == Seq("""{"stage":"stage1","wm_dropped":54}"""),
      s"exact drop count missing (ring-buffer undercount?): $alarms")
  }
}
