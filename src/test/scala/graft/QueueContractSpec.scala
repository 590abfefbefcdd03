package graft

import java.nio.file.Files
import org.scalatest.funsuite.AnyFunSuite
import graft.streaming.{ContractConsumer, FileTopic, FileTopicChild}

/** The [[graft.streaming.FileTopic]] CONFORMANCE SUITE: every contract
  * assertion the S3/S4 transport relies on — per-partition ordering,
  * key-partition affinity, poll batching, committed-offset resume,
  * at-least-once redelivery, slowest-group retention with durable-line
  * overrides, the reserved commit namespace, and the idempotent-producer
  * fence (the `[file]` tests) — plus the file backend's own legs: state
  * durable ACROSS instances (a second instance over the same directory
  * is a process restart) and the capped state-file names.
  * FileTopicSpec adds the genuinely cross-JVM legs: forked
  * producer/consumer processes and the cross-process fence.
  */
class FileTopicConformance extends AnyFunSuite {

  /** A FRESH empty topic with `n` partitions (tests assume isolation). */
  private def mkTopic(n: Int): FileTopic =
    new FileTopic(Files.createTempDirectory("graft_ft"), n)

  test("[file] per-partition order and key affinity") {
    val t = mkTopic(4)
    val acks = (0 until 100).map(i => t.produce(s"k${i % 7}", s"v$i"))
    // same key -> same partition, offsets strictly increasing per partition
    acks.zipWithIndex.groupBy { case (_, i) => i % 7 }.foreach { case (_, as) =>
      assert(as.map(_._1._1).distinct.size == 1, "key moved partitions")
    }
    val c = new ContractConsumer(t, "g0")
    val all = c.poll(1000)
    all.groupBy(_.partition).foreach { case (_, rs) =>
      assert(rs.map(_.offset) == rs.map(_.offset).sorted)
      // per-partition arrival order == produce order (value index order)
      val idx = rs.map(_.value.drop(1).toInt)
      assert(idx == idx.sorted, s"reordered within partition: $idx")
    }
    assert(all.size == 100 && c.lag == 0)
  }

  test("[file] poll batching bounds a micro-batch like " +
      "maxOffsetsPerTrigger") {
    val t = mkTopic(2)
    (0 until 50).foreach(i => t.produce(null, s"v$i"))
    val c = new ContractConsumer(t, "g1")
    val b1 = c.poll(10)
    assert(b1.size == 20) // 10 per partition x 2
    assert(c.lag == 30)
    val rest = Iterator.continually(c.poll(10)).takeWhile(_.nonEmpty).toSeq
    assert(b1.size + rest.map(_.size).sum == 50)
  }

  test("[file] crash without commit redelivers everything " +
      "(at-least-once)") {
    val t = mkTopic(2)
    (0 until 20).foreach(i => t.produce(s"k$i", s"v$i"))
    val c1 = new ContractConsumer(t, "g2")
    val seen1 = c1.poll(100)
    assert(seen1.size == 20)
    // crash: no commitSync -> a new consumer of the same group must see
    // every record again
    val c2 = new ContractConsumer(t, "g2")
    val seen2 = c2.poll(100)
    assert(seen2.map(r => (r.partition, r.offset)).sorted ==
      seen1.map(r => (r.partition, r.offset)).sorted)
  }

  test("[file] committed offsets survive a crash; only the tail " +
      "redelivers") {
    val t = mkTopic(1)
    (0 until 10).foreach(i => t.produce("k", s"v$i"))
    val c1 = new ContractConsumer(t, "g3")
    assert(c1.poll(6).size == 6)
    c1.commitSync() // offsets 0-5 done
    assert(c1.poll(2).size == 2) // 6,7 polled but NOT committed
    val c2 = new ContractConsumer(t, "g3") // crash + restart
    val redelivered = c2.poll(100)
    // resumes from the COMMIT (6), so 6..9 arrive: the uncommitted 6,7
    // are redelivered, the committed 0..5 are not
    assert(redelivered.map(_.offset) == Seq(6L, 7L, 8L, 9L))
  }

  test("[file] independent groups consume independently") {
    val t = mkTopic(2)
    (0 until 8).foreach(i => t.produce(s"k$i", s"v$i"))
    val a = new ContractConsumer(t, "ga")
    val b = new ContractConsumer(t, "gb")
    assert(a.poll(100).size == 8)
    a.commitSync()
    assert(b.poll(100).size == 8) // ga's commit is invisible to gb
  }

  test("[file] retention trims to the SLOWEST group's commit; " +
      "offsets never renumber; new groups earliest-reset") {
    val t = mkTopic(1)
    (0 until 10).foreach(i => t.produce("k", s"v$i"))
    // zero commit groups proves nothing consumed, not everything: no-op
    assert(t.truncateToCommitted() == Map(0 -> 0L))
    assert(t.endOffsets == Map(0 -> 10L))
    val fast = new ContractConsumer(t, "rfast")
    assert(fast.poll(100).size == 10); fast.commitSync() // at 10
    val slow = new ContractConsumer(t, "rslow")
    assert(slow.poll(4).size == 4); slow.commitSync() // at 4
    // min across groups = 4: records 0..3 go, the rest stay
    assert(t.truncateToCommitted() == Map(0 -> 4L))
    assert(t.beginningOffsets == Map(0 -> 4L))
    assert(t.endOffsets == Map(0 -> 10L), "ends must not renumber")
    // the slow group's resume line is untouched, payloads intact
    val slow2 = new ContractConsumer(t, "rslow")
    val tail = slow2.poll(100)
    assert(tail.map(_.offset) == (4L until 10L))
    assert(tail.map(_.value) == (4 until 10).map(i => s"v$i"))
    // a BRAND-NEW group starts at the beginning (earliest reset),
    // seeing only retained records with their original offsets
    val fresh = new ContractConsumer(t, "rfresh")
    assert(fresh.poll(100).map(_.offset) == (4L until 10L))
    // appends continue the same offset line across a trim
    assert(t.produce("k", "v10")._2 == 10L)
    // once every group commits everything, everything goes
    slow2.commitSync(); fresh.commitSync()
    Seq("rfast", "rslow", "rfresh").foreach { g =>
      val c = new ContractConsumer(t, g)
      c.poll(100); c.commitSync()
    }
    assert(t.truncateToCommitted() == Map(0 -> 11L))
    assert(t.endOffsets == Map(0 -> 11L))
    assert(new ContractConsumer(t, "rlate").poll(100).isEmpty)
    // and the fully-trimmed partition still accepts appends
    assert(t.produce("k", "v11")._2 == 11L)
    assert(new ContractConsumer(t, "rlate").poll(100)
      .map(r => (r.offset, r.value)) == Seq((11L, "v11")))
  }

  test("[file] amortized retention: minFraction defers the trim " +
      "until the committed prefix is worth the rewrite, then trims " +
      "everything committed") {
    val t = mkTopic(1)
    (0 until 10).foreach(i => t.produce("k", s"v$i"))
    val c = new ContractConsumer(t, "g")
    assert(c.poll(4).size == 4); c.commitSync()
    // 4 of 10 < half: the amortized policy skips the rewrite
    assert(t.truncateToCommitted(0.5) == Map(0 -> 0L))
    assert(c.poll(2).size == 2); c.commitSync()
    // 6 of 10 >= half: trims ALL committed, not just the threshold
    assert(t.truncateToCommitted(0.5) == Map(0 -> 6L))
    // the kept tail is intact for a fresh group
    assert(new ContractConsumer(t, "gfresh").poll(100).map(_.value) ==
      (6 until 10).map(i => s"v$i"))
  }

  test("[file] retention respects a reader's DURABLE line: the " +
      "planning-time ack may run a batch ahead, the trim may not") {
    // the connector acks at planning (S4 ack-before-process), so its
    // plain group commit overstates durable progress by the in-flight
    // batch; it records durable progress via commitDurable. A trim
    // keyed on the ack would delete records a crash-replayed batch
    // still needs — and earliest-reset would turn that replay into a
    // silently empty batch.
    val t = mkTopic(1)
    (0 until 10).foreach(i => t.produce("k", s"v$i"))
    val ack = new ContractConsumer(t, "g")
    assert(ack.poll(8).size == 8); ack.commitSync() // acked through 8
    FileTopicChild.commitDurable(t, "g", Map(0 -> 5L)) // durable through 5
    assert(t.truncateToCommitted() == Map(0 -> 5L),
      "trim must stop at the durable line, not the ack")
    // the acked-but-not-durable records [5, 8) survive for replay
    assert(new ContractConsumer(t, "gfresh2").poll(100).map(_.offset) ==
      (5L until 10L))
    // a durable line ALONE (seeded at query start, no batch planned
    // yet) bounds the trim by itself
    val t2 = mkTopic(1)
    (0 until 4).foreach(i => t2.produce("k", s"v$i"))
    val other = new ContractConsumer(t2, "done")
    assert(other.poll(100).size == 4); other.commitSync()
    FileTopicChild.commitDurable(t2, "young", Map(0 -> 0L)) // seed at 0
    assert(t2.truncateToCommitted() == Map(0 -> 0L),
      "a seeded reader with no completed batch must block the trim")
  }

  test("[file] the '.durable' commit namespace is reserved at the " +
      "CONTRACT: every user commit path rejects it; commitDurable is " +
      "the only writer") {
    val t = mkTopic(1)
    t.produce("k", "v")
    // direct commit under a reserved name: rejected (a group literally
    // named '<g>.durable' would alias g's durable-progress line and
    // skew retention decisions)
    val e1 = intercept[IllegalArgumentException] {
      FileTopicChild.commit(t, "g.durable", Map(0 -> 1L))
    }
    assert(e1.getMessage.contains(".durable"), e1.getMessage)
    // the ContractConsumer path funnels through the same contract gate
    val evil = new ContractConsumer(t, "evil.durable")
    evil.poll(10)
    intercept[IllegalArgumentException] { evil.commitSync() }
    // the sanctioned writer works, the line reads back, and it bounds
    // retention exactly like the durable-line test above
    FileTopicChild.commitDurable(t, "g", Map(0 -> 1L))
    assert(FileTopicChild.committedDurable(t, "g") == Map(0 -> 1L))
    // commitDurable is not a loophole for double-suffixed names either
    intercept[IllegalArgumentException] {
      FileTopicChild.commitDurable(t, "g.durable", Map(0 -> 1L))
    }
  }

  test("[file] produceFenced: replayed/older epochs append " +
      "nothing; data lands before the fence advances") {
    import graft.streaming.FileTopicChild.{fence, produceFenced}
    val t = mkTopic(2)
    val rows = (0 until 10).map(i => (s"k$i", s"v$i"))
    assert(produceFenced(t, "q1", 3L, 0, rows))
    assert(t.endOffsets.values.sum == 10L)
    // exact replay and an older epoch are both fenced, no append
    assert(!produceFenced(t, "q1", 3L, 0, rows))
    assert(!produceFenced(t, "q1", 2L, 0, rows))
    assert(t.endOffsets.values.sum == 10L)
    // other write-partition / other query are independent fences
    assert(produceFenced(t, "q1", 3L, 1, rows.take(2)))
    assert(produceFenced(t, "q2", 3L, 0, rows.take(1)))
    assert(t.endOffsets.values.sum == 13L)
    // a newer epoch appends and advances the same high-water mark the
    // fence primitive sees (one mark, not two bookkeeping domains)
    assert(produceFenced(t, "q1", 4L, 0, rows.take(1)))
    assert(!fence(t, "q1", 4L, 0), "primitive saw a stale mark")
    assert(t.endOffsets.values.sum == 14L)
  }

  test("file topic: a second instance over the same directory sees the " +
      "first's records, commits and fences (durable state)") {
    val dir = Files.createTempDirectory("graft_ft_dur")
    val t1 = new FileTopic(dir, 3)
    (0 until 12).foreach(i => t1.produce(s"k$i", s"v$i"))
    val c1 = new ContractConsumer(t1, "g")
    assert(c1.poll(1000).size == 12)
    c1.commitSync()
    // "process restart": a fresh instance over the same dir
    val t2 = new FileTopic(dir, 99 /* ignored: meta pins 3 */)
    assert(t2.nPartitions == 3)
    assert(t2.endOffsets == t1.endOffsets)
    assert(t2.endOffsets.values.sum == 12L)
    val c2 = new ContractConsumer(t2, "g")
    assert(c2.poll(1000).isEmpty, "committed records redelivered")
    val c3 = new ContractConsumer(t2, "g_other")
    assert(c3.poll(1000).size == 12)
  }

  test("file topic: overlong externally-chosen names are capped with a " +
      "hash tail — commits and durable pairing still work, components " +
      "stay under the 255-byte filesystem limit") {
    val dir = Files.createTempDirectory("graft_ft_long")
    val t = new FileTopic(dir, 1)
    t.produce("k", "v")
    // worst case for the %XX 3x expansion: every char escaped
    val longA = "é" * 150 // 300 UTF-8 bytes -> 900 encoded chars uncapped
    val longB = "é" * 149 + "ê" // same cap prefix, different hash tail
    FileTopicChild.commit(t, longA, Map(0 -> 1L))
    FileTopicChild.commit(t, longB, Map(0 -> 0L))
    assert(FileTopicChild.committed(t, longA) == Map(0 -> 1L))
    assert(FileTopicChild.committed(t, longB) == Map(0 -> 0L),
      "capped names collided")
    // the retention pairing invariant survives the cap: the durable
    // line written for longA pairs with longA's ack line, so the trim
    // stops at the durable point, not the ack
    FileTopicChild.commitDurable(t, longA, Map(0 -> 0L))
    val done = new ContractConsumer(t, "done")
    done.poll(10); done.commitSync()
    assert(t.truncateToCommitted() == Map(0 -> 0L),
      "overlong group's durable line did not bound the trim " +
        "(cap broke the enc(g)+'.durable' pairing)")
    // every state-file component this wrote is a legal filename
    import scala.jdk.CollectionConverters._
    val s = Files.list(dir)
    val names = try s.iterator().asScala.map(_.getFileName.toString).toVector
      finally s.close()
    assert(names.forall(_.getBytes("UTF-8").length <= 255),
      s"component over 255 bytes: ${names.maxBy(_.length)}")
    // fences on an overlong query id work and stay per-partition
    assert(FileTopicChild.fence(t, longA, 1L, 0))
    assert(!FileTopicChild.fence(t, longA, 1L, 0))
    assert(FileTopicChild.fence(t, longA, 1L, 1))

    // the cap must not cut a %XX escape mid-sequence: these two groups
    // land the cap 5 and 4 chars into an escape ('a'/'aa' prefix shifts
    // the 6-char %C3%A9 lattice), so a blind take() would leave a
    // dangling '%A' or '%' before the '~' marker
    val offA = "a" + "é" * 150
    val offB = "aa" + "é" * 150
    FileTopicChild.commit(t, offA, Map(0 -> 1L))
    FileTopicChild.commit(t, offB, Map(0 -> 1L))
    assert(FileTopicChild.committed(t, offA) == Map(0 -> 1L))
    val s2 = Files.list(dir)
    val capped = try s2.iterator().asScala.map(_.getFileName.toString)
        .filter(_.contains("~")).toVector
      finally s2.close()
    assert(capped.nonEmpty, "no capped names were produced")
    capped.foreach { n =>
      val pre = n.substring(0, n.indexOf('~'))
      assert(!pre.endsWith("%") && !(pre.length >= 2 &&
        pre(pre.length - 2) == '%'),
        s"capped prefix ends mid-escape: ...${pre.takeRight(6)}~")
    }
  }
}
