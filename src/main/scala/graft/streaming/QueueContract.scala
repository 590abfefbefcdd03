package graft.streaming

import scala.collection.mutable

/** One record as [[FileTopic]] delivers it. */
final case class QueueRecord(partition: Int, offset: Long,
    key: String, value: String)

/** A group consumer: polls forward from its position, commits survived
  * offsets; a NEW instance of the same group resumes from the commit.
  */
final class ContractConsumer(topic: FileTopic, group: String) {
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
