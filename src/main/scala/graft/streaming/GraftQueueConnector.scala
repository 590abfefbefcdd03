package graft.streaming

import java.util
import scala.collection.mutable
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.connector.catalog.{SupportsRead, SupportsWrite, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read.{InputPartition, PartitionReader, PartitionReaderFactory, Scan, ScanBuilder}
import org.apache.spark.sql.connector.read.streaming.{MicroBatchStream, Offset, ReadLimit, ReadMaxRows, SupportsAdmissionControl, SupportsTriggerAvailableNow}
import org.apache.spark.sql.connector.write.{DataWriter, LogicalWriteInfo, PhysicalWriteInfo, Write, WriteBuilder, WriterCommitMessage}
import org.apache.spark.sql.connector.write.streaming.{StreamingDataWriterFactory, StreamingWrite}
import org.apache.spark.sql.sources.DataSourceRegister
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.unsafe.types.UTF8String

/** S3/S4 — the message-bus transport as a real Structured Streaming
  * connector: `readStream.format("graftqueue")` consumes and
  * `writeStream.format("graftqueue")` produces against a named
  * [[FileTopic]], with offsets, consumer groups, poll batching and
  * commit semantics backed by the broker contract [[FileTopic]] documents
  * (the reference's RabbitMQ fabric, queue.js:206-305). With this, the
  * graph's stage handoffs run through `format(...)` exactly as they would
  * through the Kafka connector — only the format string changes.
  *
  * Options: `topic` (required), `dir` (required: the base directory; the
  * topic lives at `dir/topic`, shared by every JVM that names the same
  * directory — the reference's actual process topology), `partitions`
  * (topic width at creation, default 4), `group` (consumer group for
  * reads, default "default"), `maxpoll` (per-partition records per
  * micro-batch — the `maxOffsetsPerTrigger` analogue and the contract's
  * poll bound; 0 = unbounded), `retain` (`committed` makes this reader
  * run retention after each durable micro-batch commit — trimming
  * records every group has consumed, amortized at the 0.5 fraction — so
  * a long-running deployment's disk is bounded by consumer lag without
  * an out-of-band `truncateToCommitted` admin call; default `off`).
  *
  * Semantics mapped onto the Spark connector surface:
  *  - source offsets are the per-partition log offsets; `initialOffset`
  *    resumes from the GROUP's durable commit (a fresh checkpoint of the
  *    same group does not re-read acked records — the S4 ack contract);
  *  - `commit(end)` after each completed micro-batch advances the group
  *    commit, so redelivery happens only for polled-but-uncommitted
  *    batches: at-least-once from the broker, exactly-once end-to-end via
  *    Spark's checkpointed offsets (S7);
  *  - the sink produces FROM THE TASK at task-commit time — each
  *    `DataWriter` buffers its rows and appends them to the topic in one
  *    atomic section under a (queryId, epochId, partitionId) fence, the
  *    idempotent-producer analogue: a replayed epoch (sink-side retry
  *    after a crash between task success and offset-log write) finds its
  *    per-partition fences taken and appends nothing; a task retried
  *    BEFORE its commit left no rows, so the retry appends cleanly. The
  *    `WriterCommitMessage` carries only a row COUNT — the driver's epoch
  *    commit is pure metadata, so no data-proportional bytes ever cross
  *    the driver (exactly the property a Kafka producer has).
  *
  * Scale notes: the topic, its group commits AND the idempotence fence
  * are file-backed, so separate producer/consumer PROCESSES interoperate
  * (FileTopicSpec forks a real second JVM against it). Against a real
  * broker the task-side `produceAll` becomes a producer client and the
  * fence becomes producer idempotence/transactions; reads are
  * partition-parallel (one InputPartition per queue partition) and
  * writes are fully task-parallel end to end, the driver seeing only
  * counts.
  */
object QueueRegistry {
  // (name, dir) -> topic instance cache: state lives on disk, the cache
  // only avoids re-opening the topic per call
  private val topics = mutable.Map.empty[(String, String), FileTopic]

  /** The topic `name` under the base directory `dir` (`dir/name`),
    * created with `nPartitions` partitions if it does not exist yet.
    */
  def topic(name: String, dir: String, nPartitions: Int = 4): FileTopic =
    synchronized {
      topics.getOrElseUpdate((name, dir),
        new FileTopic(java.nio.file.Paths.get(dir, name), nPartitions))
    }
}

class GraftQueueProvider extends TableProvider with DataSourceRegister {
  override def shortName(): String = "graftqueue"
  override def inferSchema(options: CaseInsensitiveStringMap): StructType =
    GraftQueueTable.readSchema
  override def getTable(schema: StructType, partitioning: Array[Transform],
      properties: util.Map[String, String]): Table =
    new GraftQueueTable(properties)
}

object GraftQueueTable {
  val readSchema: StructType = StructType(Seq(
    StructField("partition", IntegerType, nullable = false),
    StructField("offset", LongType, nullable = false),
    StructField("key", StringType, nullable = true),
    StructField("value", StringType, nullable = true)))
}

class GraftQueueTable(props: util.Map[String, String])
    extends Table with SupportsRead with SupportsWrite {
  private def opt(k: String, dflt: String): String = {
    val v = props.get(k); if (v == null) dflt else v
  }
  private val topicName = {
    val t = props.get("topic")
    require(t != null && t.nonEmpty, "graftqueue requires option 'topic'")
    t
  }
  private val nPartitions = opt("partitions", "4").toInt
  private val group = {
    val g = opt("group", "default")
    // `<group>.durable` is the reader's own durable-progress line in the
    // topic's commit namespace (FileTopic.retentionLines); a user group
    // literally named that way would alias another group's durable line
    // and corrupt retention decisions
    require(!g.endsWith(".durable"),
      s"graftqueue group '$g': the '.durable' suffix is reserved for the " +
        "reader's durable-progress line")
    g
  }
  private val maxPoll = opt("maxpoll", "0").toInt
  private val dir = {
    val d = props.get("dir")
    require(d != null && d.nonEmpty,
      "graftqueue requires option 'dir' (the topic's base directory)")
    d
  }
  // retain=committed: this reader also runs retention after each durable
  // micro-batch commit, trimming records every group has consumed
  private val retain = opt("retain", "off") match {
    case "off" => false
    case "committed" => true
    case other => throw new IllegalArgumentException(
      s"graftqueue option retain='$other'; expected 'off' or 'committed'")
  }

  override def name(): String = s"graftqueue:$topicName"
  override def schema(): StructType = GraftQueueTable.readSchema
  override def capabilities(): util.Set[TableCapability] =
    util.EnumSet.of(TableCapability.MICRO_BATCH_READ,
      TableCapability.STREAMING_WRITE)

  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    new ScanBuilder {
      override def build(): Scan = new Scan {
        override def readSchema(): StructType = GraftQueueTable.readSchema
        override def toMicroBatchStream(checkpointLocation: String): MicroBatchStream =
          new GraftQueueMicroBatchStream(topicName, dir, nPartitions, group,
            maxPoll, retain)
      }
    }

  override def newWriteBuilder(info: LogicalWriteInfo): WriteBuilder = {
    val schema = info.schema()
    val queryId = info.queryId()
    new WriteBuilder {
      override def build(): Write = new Write {
        override def toStreaming: StreamingWrite =
          new GraftQueueStreamingWrite(topicName, dir, nPartitions, schema,
            queryId)
      }
    }
  }
}

/** Per-partition offset map with manual JSON (de)serialization — the
  * checkpointed offset token.
  */
case class QueueOffset(offs: Map[Int, Long]) extends Offset {
  override def json(): String =
    offs.toSeq.sortBy(_._1).map { case (p, o) => s""""$p":$o""" }
      .mkString("{", ",", "}")
}

object QueueOffset {
  def fromJson(s: String): QueueOffset = QueueOffset(
    s.trim.stripPrefix("{").stripSuffix("}").split(",")
      .filter(_.nonEmpty)
      .map { kv =>
        val Array(k, v) = kv.split(":")
        k.trim.stripPrefix("\"").stripSuffix("\"").toInt -> v.trim.toLong
      }.toMap)
}

class GraftQueueMicroBatchStream(topicName: String, dir: String,
    nPartitions: Int, group: String, maxPoll: Int, retain: Boolean = false)
    extends MicroBatchStream with SupportsAdmissionControl
    with SupportsTriggerAvailableNow {
  private def topic = QueueRegistry.topic(topicName, dir, nPartitions)

  // This group's DURABLE progress line, distinct from its planning-time
  // ack (S4 ack-before-process): the ack runs one in-flight batch ahead
  // of what has durably completed, so retention keyed on it could trim
  // records a crash-replayed batch still needs. Seeded at every query
  // (re)start so the group is never invisible to another reader's
  // retention before its first completed batch; advanced only in
  // commit(), i.e. only past batches Spark has durably finished.
  if (topic.committedDurable(group).isEmpty)
    topic.commitDurable(group, topic.beginningOffsets)
  // AvailableNow drain target, captured at query start: without
  // implementing SupportsTriggerAvailableNow, Spark's wrapper collapses
  // the drain into ONE batch and the poll bound never applies.
  @volatile private var drainEnd: Option[Map[Int, Long]] = None

  override def prepareForTriggerAvailableNow(): Unit =
    drainEnd = Some(topic.endOffsets)

  override def initialOffset(): Offset = {
    val committed = topic.committed(group)
    // a NEW group on a retention-trimmed topic starts at the earliest
    // RETAINED record (auto.offset.reset=earliest), so planned batch
    // ranges only ever cover records that exist; an existing group's
    // commit is always >= the beginning (retention trims to the MIN
    // committed across groups, which includes it)
    val beginning = topic.beginningOffsets
    QueueOffset((0 until topic.nPartitions)
      .map(p => p -> math.max(committed.getOrElse(p, 0L),
        beginning.getOrElse(p, 0L))).toMap)
  }

  override def getDefaultReadLimit: ReadLimit =
    if (maxPoll > 0) ReadLimit.maxRows(maxPoll.toLong) else ReadLimit.allAvailable()

  override def latestOffset(start: Offset, limit: ReadLimit): Offset = {
    val s = start.asInstanceOf[QueueOffset].offs
    val end = drainEnd.getOrElse(topic.endOffsets)
    val capped = limit match {
      // per-partition poll bound, like ContractConsumer.poll(maxPoll)
      case r: ReadMaxRows => end.map { case (p, e) =>
        p -> math.min(e, s.getOrElse(p, 0L) + r.maxRows()) }
      case _ => end
    }
    QueueOffset(capped)
  }

  override def latestOffset(): Offset =
    throw new UnsupportedOperationException(
      "latestOffset(Offset, ReadLimit) is used (SupportsAdmissionControl)")

  override def planInputPartitions(start: Offset, end: Offset): Array[InputPartition] = {
    val s = start.asInstanceOf[QueueOffset].offs
    val e = end.asInstanceOf[QueueOffset].offs
    // ACK-BEFORE-PROCESS (the reference consumer's semantics,
    // queue.js:268-280: noAck/deliver-then-process): the group offset
    // advances when the batch is handed to processing, not after it
    // lands. Spark's checkpointed offset log is what upgrades this to
    // effective exactly-once (S7) — and it must, because Spark only
    // delivers `commit(n)` when batch n+1 starts, so a drain-and-stop
    // trigger would otherwise never commit its last batch. max()-merged
    // in the topic, so checkpoint-replayed batches are idempotent here.
    topic.commit(group, e)
    e.toSeq.sortBy(_._1).flatMap { case (p, to) =>
      val from = s.getOrElse(p, 0L)
      if (to > from)
        Some(QueueInputPartition(topicName, dir, p, from, to): InputPartition)
      else None
    }.toArray
  }

  override def createReaderFactory(): PartitionReaderFactory =
    new QueuePartitionReaderFactory

  /** Micro-batch completed durably -> advance the group's ack (the S4
    * "ack after the batch survives" contract; max-merged no-op when the
    * planning ack already covered `end`) AND its durable line — batch
    * `end` has finished and entered Spark's commit log, so records
    * below it will never be replanned. With `retain=committed` this is
    * also the retention point — the broker-side log cleaner a
    * deployment without an out-of-band admin needs, keeping disk
    * bounded by consumer lag instead of stream lifetime. Retention
    * trims to the min over every group's DURABLE line
    * ([[FileTopic.retentionLines]]), so neither this query's own
    * in-flight batch (ack ahead of `end`) nor another crashed reader's
    * replayed batch can lose records to the trim. The 0.5 fraction
    * amortizes the file backend's tail rewrite (see
    * [[FileTopic.truncateToCommitted]]).
    */
  override def commit(end: Offset): Unit = {
    val offs = end.asInstanceOf[QueueOffset].offs
    topic.commit(group, offs)
    topic.commitDurable(group, offs)
    if (retain) { topic.truncateToCommitted(0.5); () }
  }

  override def deserializeOffset(json: String): Offset = QueueOffset.fromJson(json)
  override def stop(): Unit = ()
}

case class QueueInputPartition(topicName: String, dir: String,
    partition: Int, from: Long, to: Long) extends InputPartition

class QueuePartitionReaderFactory extends PartitionReaderFactory {
  /** Rows per poll call while walking a planned range. Bounds task
    * memory by the chunk, not the batch: an unbounded (`maxpoll=0`)
    * trigger over a deep backlog plans one range per partition however
    * large the lag is — materializing it in one `read` would hold the
    * whole backlog on-heap (and `(to - from).toInt` would overflow past
    * 2^31 records, silently planning an EMPTY read for the range: a
    * completed batch with its data skipped). 64k keeps each refill one
    * channel-open round while the iterator stays O(chunk).
    */
  private val Chunk = 1 << 16

  override def createReader(partition: InputPartition): PartitionReader[InternalRow] = {
    val qp = partition.asInstanceOf[QueueInputPartition]
    val topic = QueueRegistry.topic(qp.topicName, qp.dir)
    new PartitionReader[InternalRow] {
      private var pos = qp.from
      private var chunk: Iterator[QueueRecord] = Iterator.empty
      private var cur: QueueRecord = _
      private def refill(): Boolean = {
        while (!chunk.hasNext && pos < qp.to) {
          val max = math.min(qp.to - pos, Chunk.toLong).toInt
          val batch = topic.read(qp.partition, pos, max)
          if (batch.isEmpty) pos = qp.to // range fully retention-trimmed
          else {
            // a read below a retention beginning resumes at the earliest
            // retained record (offsets are the records' own), so advance
            // by what the topic RETURNED and keep only what the plan
            // covers — never spin on a trimmed prefix, never emit past
            // `to`
            pos = batch.last.offset + 1
            chunk = batch.iterator.filter(_.offset < qp.to)
          }
        }
        chunk.hasNext
      }
      override def next(): Boolean = {
        val h = refill()
        if (h) cur = chunk.next()
        h
      }
      override def get(): InternalRow = new GenericInternalRow(Array[Any](
        cur.partition, cur.offset,
        if (cur.key == null) null else UTF8String.fromString(cur.key),
        if (cur.value == null) null else UTF8String.fromString(cur.value)))
      override def close(): Unit = ()
    }
  }
}

/** Streaming sink, executor-side produce: each task buffers its rows and
  * appends them to the topic atomically AT TASK COMMIT under the
  * topic's (queryId, epochId, partitionId) fence; the commit message
  * carries only a count, so the driver's epoch commit is pure metadata.
  *
  * Failure matrix (the idempotent-producer semantics, no transactions):
  *  - task fails BEFORE its commit: nothing appended, fence untaken, the
  *    retry appends cleanly;
  *  - task succeeds but the EPOCH is replayed (crash before the offset
  *    log write): the replayed task finds its fence taken, appends
  *    nothing — per-partition exactly-once;
  *  - epoch aborts after SOME tasks committed: those rows remain visible
  *    (Kafka's non-transactional producer has the same window); the
  *    replay fences them, so no duplicates.
  */
class GraftQueueStreamingWrite(topicName: String, dir: String,
    nPartitions: Int, schema: StructType, queryId: String)
    extends StreamingWrite {
  private val keyIdx = schema.fieldNames.indexOf("key")
  private val valIdx = schema.fieldNames.indexOf("value")
  require(valIdx >= 0, "graftqueue sink requires a 'value' string column")

  override def createStreamingWriterFactory(info: PhysicalWriteInfo): StreamingDataWriterFactory =
    new QueueWriterFactory(topicName, dir, nPartitions, queryId, keyIdx,
      valIdx)

  // tasks already produced; the epoch commit is metadata-only
  override def commit(epochId: Long, messages: Array[WriterCommitMessage]): Unit = ()

  override def abort(epochId: Long, messages: Array[WriterCommitMessage]): Unit = ()
}

/** Metadata-only commit message — row COUNT, never row payloads. */
case class QueueTaskMeta(partitionId: Int, epochId: Long, rows: Long)
    extends WriterCommitMessage

class QueueWriterFactory(topicName: String, dir: String, nPartitions: Int,
    queryId: String, keyIdx: Int, valIdx: Int)
    extends StreamingDataWriterFactory {
  override def createWriter(partitionId: Int, taskId: Long,
      epochId: Long): DataWriter[InternalRow] =
    new DataWriter[InternalRow] {
      private val buf = mutable.Buffer.empty[(String, String)]
      override def write(row: InternalRow): Unit = {
        val k = if (keyIdx >= 0 && !row.isNullAt(keyIdx))
          row.getUTF8String(keyIdx).toString else null
        val v = if (!row.isNullAt(valIdx))
          row.getUTF8String(valIdx).toString else null
        buf += ((k, v))
      }
      override def commit(): WriterCommitMessage = {
        // the executor-side produce: fence check, append, fence advance
        // in ONE topic-side critical section (data strictly before
        // fence — a crash between a taken fence and the append would
        // otherwise lose the buffer to a fenced retry). The fence lives
        // on disk WITH the topic, so epoch replay is idempotent across
        // processes too.
        QueueRegistry.topic(topicName, dir, nPartitions)
          .produceFenced(queryId, epochId, partitionId, buf.toSeq)
        QueueTaskMeta(partitionId, epochId, buf.size.toLong)
      }
      override def abort(): Unit = buf.clear()
      override def close(): Unit = ()
    }
}
