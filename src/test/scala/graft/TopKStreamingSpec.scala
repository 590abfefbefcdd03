package graft

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.streaming.OutputMode
import org.scalatest.funsuite.AnyFunSuite
import graft.streaming.TopKStreaming

/** Space-saving streaming heavy hitters: the Metwally invariants hold
  * against exact counts, across micro-batch boundaries (state must
  * survive the batch seam), with a Zipf-ish word stream.
  */
class TopKStreamingSpec extends AnyFunSuite with TestSession {

  test("space-saving invariants vs exact counts across batch seams") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val rnd = new scala.util.Random(41)
    val capacity = 8
    // Zipf-ish: word w<i> with weight ~ 1/(i+1), two shards
    val words = (0 until 4000).map { i =>
      val r = rnd.nextDouble()
      val idx = math.min((1.0 / (0.02 + r * r) - 1).toInt, 60)
      val w = s"w$idx"
      TopKStreaming.WordIn(math.abs(w.hashCode) % 2, w, i.toLong)
    }
    val in = MemoryStream[TopKStreaming.WordIn]
    val q = TopKStreaming.topKStream(in.toDF(), capacity)
      .writeStream.outputMode(OutputMode.Append)
      .format("memory").queryName("topk_out").start()
    try {
      val (c1, c2) = words.partition(_.seq < 2500)
      in.addData(c1); q.processAllAvailable()
      in.addData(c2); q.processAllAvailable()
      // snapshot = the LAST emission per (shard, word): est monotonically
      // grows, so max(est) per slot is the final table state
      val snap = spark.table("topk_out")
        .as[TopKStreaming.SlotOut].collect()
        .groupBy(o => (o.shard, o.word))
        .map { case (k, os) => k -> os.maxBy(_.est) }
      val exact = words.groupBy(w => (w.shard, w.word)).view.mapValues(_.size.toLong)
      val nPerShard = words.groupBy(_.shard).view.mapValues(_.size.toLong)
      // invariant 1: every slot overestimates by at most its recorded err,
      // and err <= N/capacity
      snap.foreach { case ((sh, w), slot) =>
        val t = exact.getOrElse((sh, w), 0L)
        assert(slot.est >= t, s"$sh/$w est ${slot.est} < true $t")
        assert(slot.est - t <= slot.err, s"$sh/$w overshoot beyond recorded err")
        assert(slot.err <= nPerShard(sh) / capacity, s"$sh/$w err bound")
      }
      // invariant 2: every item with true freq > N/capacity is in the table
      exact.foreach { case ((sh, w), t) =>
        if (t > nPerShard(sh) / capacity)
          assert(snap.contains((sh, w)), s"heavy item $sh/$w ($t) missing")
      }
      // the table is actually bounded
      snap.keys.groupBy(_._1).foreach { case (sh, ks) =>
        // emitted snapshots accumulate evicted words too; the FINAL table
        // per shard is the last batch's emission — bounded by capacity
        val lastN = snap.collect { case ((s, _), o) if s == sh => o.n_shard }.max
        val finalSlots = spark.table("topk_out").as[TopKStreaming.SlotOut]
          .collect().filter(o => o.shard == sh && o.n_shard == lastN)
        assert(finalSlots.length <= capacity, s"shard $sh table overflow")
      }
    } finally q.stop()
  }
}
