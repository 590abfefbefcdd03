package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.scalatest.funsuite.AnyFunSuite
import java.util.concurrent.atomic.AtomicBoolean
import graft.streaming.ApmStreaming

/** S6 failed-batch re-queue: a flaky sink must not lose rows — batches
  * written while the sink is down park durably and replay, in original
  * batch order, once the sink recovers (stream_insert_db.js:326-353).
  */
class RequeueSpec extends AnyFunSuite with TestSession {

  test("sink-down batches park, replay in order on recovery, then drain") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val dir = java.nio.file.Files.createTempDirectory("graft_rq").toString
    val target = s"$dir/target"
    val down = new AtomicBoolean(true)
    var seq = 0 // write-arrival sequence, stamps replay order
    val write: (DataFrame, Long) => Unit = (df, _) => {
      if (down.get) throw new RuntimeException("sink down")
      seq += 1
      df.withColumn("arrival", org.apache.spark.sql.functions.lit(seq))
        .write.mode("append").parquet(target)
    }
    val in = MemoryStream[Int]
    val q = ApmStreaming.sinkWithRequeue(in.toDF.toDF("v"),
      s"$dir/ckpt", s"$dir/park", write, availableNow = false, trigger = "1 seconds")
    val w = new ApmStreaming.RequeueWriter(s"$dir/park", write)
    try {
      in.addData(1, 2, 3); q.processAllAvailable()   // parks (down)
      in.addData(4, 5); q.processAllAvailable()      // parks (still down)
      assert(w.parkedBatches().size == 2, s"expected 2 parked: ${w.parkedBatches()}")
      down.set(false)
      in.addData(6); q.processAllAvailable()         // replays both + writes
      val got = spark.read.parquet(target).as[(Int, Int)].collect().toList
      // exactly-once: every row lands once
      assert(got.map(_._1).sorted == List(1, 2, 3, 4, 5, 6), s"rows: $got")
      // original order: batch {1,2,3} replays before {4,5}, before live {6}
      val byArrival = got.groupBy(_._2).view.mapValues(_.map(_._1).toSet).toMap
      assert(byArrival(1) == Set(1, 2, 3) && byArrival(2) == Set(4, 5) &&
        byArrival(3) == Set(6), s"order: $byArrival")
      assert(w.parkedBatches().isEmpty, "park dir must drain")
    } finally q.stop()
  }

  test("a still-stuck head-of-line batch blocks later writes: nothing " +
      "overtakes, strict order holds through a flaky recovery") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_rq2").toString
    val target = s"$dir/target"
    // the sink rejects any frame containing value 1 for the first two
    // attempts (a poison-then-recovers head batch), accepts otherwise
    var headRejections = 0
    var seq = 0
    val write: (DataFrame, Long) => Unit = (df, _) => {
      if (df.as[Int].collect().contains(1) && headRejections < 2) {
        headRejections += 1
        throw new RuntimeException("head batch still failing")
      }
      seq += 1
      df.withColumn("arrival", org.apache.spark.sql.functions.lit(seq))
        .write.mode("append").parquet(target)
    }
    val w = new ApmStreaming.RequeueWriter(s"$dir/park", write)
    w(Seq(1).toDF("v"), 0L)  // rejected -> parks as head
    // batch 2 COULD write (no poison) but must park behind the stuck
    // head instead of overtaking it
    w(Seq(2).toDF("v"), 1L)  // head replay fails (attempt 2) -> 2 parks
    assert(w.parkedBatches().size == 2,
      s"expected both parked: ${w.parkedBatches()}")
    assert(!java.nio.file.Files.exists(java.nio.file.Paths.get(target)),
      "a later batch overtook the stuck head")
    // head recovers: everything drains in original order
    w(Seq(3).toDF("v"), 2L)
    val got = spark.read.parquet(target).as[(Int, Int)].collect().toList
      .sortBy(_._2)
    assert(got == List((1, 1), (2, 2), (3, 3)), s"order broken: $got")
    assert(w.parkedBatches().isEmpty, "park dir must drain")
  }

  test("the park is bounded: the gauge alarms past the batches threshold " +
      "while strict order still holds, and the hard stop throws only " +
      "AFTER the batch parked durably") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_rq3").toString
    val target = s"$dir/target"
    val down = new AtomicBoolean(true)
    var seq = 0
    val write: (DataFrame, Long) => Unit = (df, _) => {
      if (down.get) throw new RuntimeException("sink down")
      seq += 1
      df.withColumn("arrival", org.apache.spark.sql.functions.lit(seq))
        .write.mode("append").parquet(target)
    }
    val alarms = scala.collection.mutable.ArrayBuffer.empty[ApmStreaming.ParkGauge]
    val w = new ApmStreaming.RequeueWriter(s"$dir/park", write,
      alarmBatches = 2, onAlarm = alarms += _, maxParkedBatches = 3)
    w(Seq(1).toDF("v"), 0L) // parks (1 of threshold 2): silent
    assert(alarms.isEmpty, s"premature alarm: $alarms")
    w(Seq(2).toDF("v"), 1L) // parks: gauge hits the threshold -> WARN
    assert(alarms.map(_.batches) == Seq(2), s"alarm cadence: $alarms")
    assert(alarms.head.bytes > 0, "bytes gauge empty for parked parquet")
    w(Seq(3).toDF("v"), 2L) // still down: alarms again (3 parked)
    assert(alarms.map(_.batches) == Seq(2, 3), s"alarm cadence: $alarms")
    // hard stop: the 4th park crosses maxParkedBatches=3 — it must THROW
    // (halting the query for operator attention)...
    val e = intercept[IllegalStateException] { w(Seq(4).toDF("v"), 3L) }
    assert(e.getMessage.contains("maxParkedBatches"), e.getMessage)
    // ...but only after batch 4 parked durably: nothing is lost
    assert(w.parkedBatches().size == 4, s"hard stop lost the batch")
    assert(w.gauge() == ApmStreaming.ParkGauge(4, w.gauge().bytes))
    // recovery (a "restart" after the stop): the full backlog replays in
    // original order ahead of the live batch — the alarm never broke
    // ordering
    down.set(false)
    w(Seq(5).toDF("v"), 4L)
    val got = spark.read.parquet(target).as[(Int, Int)].collect().toList
      .sortBy(_._2)
    assert(got == List((1, 1), (2, 2), (3, 3), (4, 4), (5, 5)),
      s"order broken across the alarm/stop: $got")
    assert(w.parkedBatches().isEmpty, "park dir must drain after recovery")
  }
}
