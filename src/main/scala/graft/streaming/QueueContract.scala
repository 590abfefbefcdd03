package graft.streaming

import scala.collection.mutable

/** Queue-transport contract (S3/S4).
  *
  * The reference's inter-stage fabric is a message broker
  * (queue.js:206-305; topology config/apm_config.json:87-178). The
  * Spark-native equivalent is the Kafka connector —
  * `writeStream.format("kafka")` producing, `readStream.format("kafka")`
  * consuming — but no connector jar ships with this build, so the graph
  * ([[ApmGraph]]) hands off through parquet topic directories or through
  * the `graftqueue` connector over [[FileTopic]]. This trait is the
  * broker contract the stage code relies on, pinned by the
  * `QueueTopicConformance` kit (QueueContractSpec) that a Kafka adapter
  * would also run:
  *
  *  - an append-only PARTITIONED log; a record's partition is chosen by
  *    key hash (null keys round-robin), and ordering is guaranteed only
  *    WITHIN a partition — exactly Kafka's guarantee, and why every
  *    keyed stage must tolerate cross-key reordering;
  *  - monotonic per-partition OFFSETS, assigned at append;
  *  - consumers poll BATCHES from their current position (maxPoll maps
  *    to `maxOffsetsPerTrigger`: the batch bound a micro-batch trigger
  *    would read);
  *  - a consumer GROUP holds durable committed offsets; a restarted
  *    consumer of the same group resumes from the last COMMIT, not the
  *    last poll — so anything polled but not committed is redelivered:
  *    AT-LEAST-ONCE, which is why the stages' sinks are idempotent
  *    (parquet overwrite per batch id / stateful dedup), mirroring how
  *    Structured Streaming turns Kafka's at-least-once into effective
  *    exactly-once via checkpointed offsets + idempotent sinks (S7);
  *  - `endOffsets` is the consumer-lag denominator (monitoring parity
  *    with the reference's queue-depth flow control, S2).
  *
  * [[FileTopic]] is the one implementation: file-backed and
  * multi-process, so separate JVMs produce to and consume from the same
  * topic — the process topology the reference's broker has.
  */
trait QueueTopic {
  def nPartitions: Int
  /** Append; returns (partition, offset) like a producer ack. */
  def produce(key: String, value: String): (Int, Long)
  /** Append a task's whole buffer as ONE atomic unit — the executor-side
    * produce of the sink. Keys still choose partitions by hash; atomicity
    * is per producing TASK, so a reader never observes a torn task batch.
    */
  def produceAll(rows: Seq[(String, String)]): Unit
  def endOffsets: Map[Int, Long]
  /** Earliest RETAINED offset per partition — 0 until retention trims
    * (Kafka's `beginningOffsets`). A read below it resumes at it, the
    * `auto.offset.reset=earliest` behavior a consumer of a retention-
    * trimmed topic sees.
    */
  def beginningOffsets: Map[Int, Long]
  /** Retention: drop every record ALL consumer groups have committed
    * past — the `AdminClient.deleteRecords` analog with its target
    * derived from group progress, the safe default for a transport
    * whose consumers checkpoint their own offsets (nothing a group
    * still needs can be dropped). A topic with no commit groups keeps
    * everything: zero groups proves nothing consumed, not everything.
    * Offsets are NOT renumbered — the beginning moves up, ends stay —
    * so committed offsets, fences and in-flight batch ranges all stay
    * valid. Returns the new per-partition beginning offsets.
    *
    * `minFraction` amortizes REPEATED trims (a per-epoch retention
    * policy): a partition only trims when its committed prefix is at
    * least that fraction of its retained records. The file backend's
    * trim rewrites the kept tail, so trimming on every commit would
    * cost O(tail) per epoch; at 0.5 each trim rewrites no more records
    * than it frees, keeping total compaction work linear in records
    * ever produced. 0 (the default) trims whatever is trimmable — the
    * exact one-shot `deleteRecords` call.
    */
  def truncateToCommitted(minFraction: Double = 0.0): Map[Int, Long]
  private[streaming] def read(p: Int, from: Long, max: Int): Seq[QueueRecord]
  /** Durable committed offsets per consumer group. */
  private[streaming] final def committed(group: String): Map[Int, Long] =
    committedRaw(group)
  /** Commit a USER-chosen group's offsets. The reserved `.durable`
    * suffix is rejected HERE — at the contract, not only in the
    * connector — so no path into the commit namespace (a
    * [[ContractConsumer]], a test harness, a future caller) can alias
    * another group's durable-progress line and skew retention
    * decisions; the only way to write under the suffix is
    * [[commitDurable]].
    */
  private[streaming] final def commit(group: String, offs: Map[Int, Long]): Unit = {
    QueueTopic.requireUnreserved(group)
    commitRaw(group, offs)
  }
  /** Advance `group`'s durable-progress line (`<group>.durable`) — the
    * connector's post-batch-commit write that retention trims to
    * instead of the planning-time ack ([[QueueTopic.retentionLines]]).
    */
  private[streaming] final def commitDurable(group: String,
      offs: Map[Int, Long]): Unit = {
    QueueTopic.requireUnreserved(group)
    commitRaw(group + ".durable", offs)
  }
  private[streaming] final def committedDurable(group: String): Map[Int, Long] =
    committedRaw(group + ".durable")
  protected def committedRaw(group: String): Map[Int, Long]
  protected def commitRaw(group: String, offs: Map[Int, Long]): Unit
  /** Idempotent-producer fence primitive: returns true iff this
    * (query, epoch, write-partition) is ABOVE the partition's
    * high-water mark, and advances the mark. Epochs of a streaming
    * query are strictly increasing per partition (micro-batch N
    * completes before N+1 starts), so a replayed epoch is exactly
    * "epochId <= high-water": state is one long per (query,
    * partition), bounded for the life of the query, instead of one
    * fence entry per epoch forever. The production sink does NOT call
    * this followed by [[produceAll]] — that ordering has a crash hole
    * — it calls [[produceFenced]], which is the two fused atomically;
    * this primitive remains for fence-semantics tests.
    */
  private[streaming] def beginTaskEpoch(queryId: String, epochId: Long,
      partitionId: Int): Boolean
  /** The sink's executor-side produce, fenced and ATOMIC: iff `epochId`
    * is above the (query, write-partition) high-water mark, append the
    * whole buffer and only then advance the mark — ONE critical
    * section, data strictly before fence. The ordering is the crash
    * contract: fence-first would turn a crash between fence and append
    * into silent data loss (the task retry finds itself fenced and the
    * buffer is gone — at-most-once); data-first makes a crash mid-
    * produce at-least-once (the retry re-appends; a broker-side
    * transaction is what would roll the partial batch back), while
    * Spark-level task retries and epoch replays remain exactly-once.
    * Returns whether the buffer was appended.
    */
  private[streaming] def produceFenced(queryId: String, epochId: Long,
      partitionId: Int, rows: Seq[(String, String)]): Boolean
}

object QueueTopic {
  /** Every commit-namespace write validates here (see
    * [[QueueTopic.commit]]): `<group>.durable` is the connector
    * reader's durable-progress line, and a user group literally named
    * that way would alias another group's line.
    */
  private[streaming] def requireUnreserved(group: String): Unit =
    require(!group.endsWith(".durable"),
      s"queue group '$group': the '.durable' suffix is reserved for the " +
        "reader's durable-progress line (written via commitDurable)")

  /** The per-group lines retention may trim to, with `<group>.durable`
    * overrides applied. A connector reader ACKs at planning (the S4
    * ack-before-process contract), so its plain group commit can run
    * one IN-FLIGHT batch ahead of durable processing; it records the
    * durably-completed line under `<group>.durable` (seeded at query
    * start, advanced at each delivered micro-batch commit). Retention
    * must trim to the durable line when one exists: trimming to the
    * ack could delete records a crash-replayed batch still needs, and
    * earliest-reset would then turn the replay into a silently EMPTY
    * batch — reintroducing exactly the ack-before-process loss window
    * the checkpoint upgrade closes. A durable line with no base group
    * (seeded, nothing planned yet) bounds the trim by itself; a plain
    * group with no durable line (a [[ContractConsumer]], which
    * commits after processing) is its own durable line.
    */
  private[streaming] def retentionLines(
      all: Map[String, Map[Int, Long]]): Iterable[Map[Int, Long]] =
    all.map { case (g, offs) =>
      if (g.endsWith(".durable")) offs
      else all.getOrElse(g + ".durable", offs)
    }
}

final case class QueueRecord(partition: Int, offset: Long,
    key: String, value: String)

/** A group consumer: polls forward from its position, commits survived
  * offsets; a NEW instance of the same group resumes from the commit.
  */
final class ContractConsumer(topic: QueueTopic, group: String) {
  // position starts at the group's committed offsets (Kafka's
  // auto.offset.reset=earliest below the first commit)
  private val position: mutable.Map[Int, Long] =
    mutable.Map((0 until topic.nPartitions).map(p =>
      p -> topic.committed(group).getOrElse(p, 0L)): _*)

  /** One poll: up to maxPoll records per partition from the current
    * position; advances the POSITION, not the commit.
    */
  def poll(maxPoll: Int): Seq[QueueRecord] = {
    val out = (0 until topic.nPartitions).flatMap { p =>
      topic.read(p, position(p), maxPoll)
    }
    out.groupBy(_.partition).foreach { case (p, rs) =>
      position(p) = rs.map(_.offset).max + 1
    }
    out
  }

  /** Commit everything polled so far (next restart resumes after it). */
  def commitSync(): Unit = topic.commit(group, position.toMap)

  def lag: Long =
    topic.endOffsets.map { case (p, end) => end - position(p) }.sum
}
