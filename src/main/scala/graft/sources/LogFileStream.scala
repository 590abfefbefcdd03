package graft.sources

import java.util
import scala.jdk.CollectionConverters._
import com.fasterxml.jackson.databind.ObjectMapper
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileStatus, Path}
import org.apache.spark.paths.SparkPath
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.connector.catalog.{SupportsRead, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read.{InputPartition, PartitionReader, PartitionReaderFactory, Scan, ScanBuilder}
import org.apache.spark.sql.connector.read.streaming.{MicroBatchStream, Offset, ReadLimit, ReadMaxFiles, SupportsAdmissionControl, SupportsTriggerAvailableNow}
import org.apache.spark.sql.execution.datasources.{HadoopFileLinesReader, PartitionedFile}
import org.apache.spark.sql.sources.DataSourceRegister
import org.apache.spark.sql.types.{StringType, StructField, StructType}
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.unsafe.types.UTF8String
import org.apache.spark.util.SerializableConfiguration

/** The tailing source behind [[LogFileSource.stream]]:
  * `readStream.format("graftlogs").option("maxFilesPerTrigger", n)
  * .load(glob)` yields one row per line, `(file, value)`.
  *
  * Planning runs no Spark job. Each trigger lists the glob with one
  * driver-side Hadoop `globStatus`; the glob names files (directories
  * it matches are not descended into). Spark's text `FileStreamSource`
  * instead re-lists every file it has ever admitted into an
  * `InMemoryFileIndex` on each query start and builds another over each
  * batch, and above `parallelPartitionDiscovery.threshold` paths each
  * index is a Spark listing job — on a live tail those jobs, not the
  * lines, were the cost of a stage-1 call.
  *
  * Contract (the one Spark's file source gives, made explicit):
  *  - a file is admitted once, when first listed, and read whole —
  *    writers publish complete files (write aside, rename in); a file
  *    that grows after admission is not re-read;
  *  - admission order is oldest modification time first, then path;
  *    `maxFilesPerTrigger` is the per-batch bound (`ReadLimit.maxFiles`);
  *  - under `Trigger.AvailableNow` the listing is taken once at query
  *    start and drained in bounded batches; under any other trigger
  *    (stage 1's stats query runs on `ProcessingTime(0)`) every trigger
  *    lists, and an idle one costs that listing, not a pass over every
  *    file ever admitted;
  *  - hidden names (`_*`, `.*`) are skipped, as Spark's file index does.
  *
  * The offset is the JSON list of every admitted file with its length
  * at admission ([[LogFileOffset]]), in admission order. Spark writes it
  * to the checkpoint's offset log, so a resumed query — after a stop or
  * a SIGKILL — replans each logged batch from the log alone: the same
  * files, read to the same lengths. The list grows with the files a
  * query has ever admitted, like the seen-file log of Spark's source.
  *
  * A batch's files are packed by size into at most `defaultParallelism`
  * partitions, so a hundred small rotated files are a few tasks, not a
  * hundred. Lines are split as Spark's text source splits them (the
  * same Hadoop line reader: LF, CR or CRLF, compression codecs by file
  * suffix), and `file` is the URI string `input_file_name()` reports
  * for the same file in a batch read.
  */
class LogFileProvider extends TableProvider with DataSourceRegister {
  override def shortName(): String = "graftlogs"
  override def inferSchema(options: CaseInsensitiveStringMap): StructType =
    LogFileTable.schema
  override def getTable(schema: StructType, partitioning: Array[Transform],
      properties: util.Map[String, String]): Table =
    new LogFileTable(properties)
}

object LogFileTable {
  val schema: StructType = StructType(Seq(
    StructField("file", StringType, nullable = false),
    StructField("value", StringType)))
}

class LogFileTable(props: util.Map[String, String])
    extends Table with SupportsRead {
  private val glob = {
    val p = props.get("path")
    require(p != null && p.nonEmpty, "graftlogs requires a path (glob)")
    p
  }
  private val maxFiles =
    Option(props.get("maxFilesPerTrigger")).map(_.toInt).getOrElse(Int.MaxValue)
  require(maxFiles > 0, s"graftlogs maxFilesPerTrigger=$maxFiles; must be > 0")

  override def name(): String = s"graftlogs:$glob"
  override def schema(): StructType = LogFileTable.schema
  override def capabilities(): util.Set[TableCapability] =
    util.EnumSet.of(TableCapability.MICRO_BATCH_READ)

  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    () => new Scan {
      override def readSchema(): StructType = LogFileTable.schema
      override def toMicroBatchStream(checkpointLocation: String): MicroBatchStream = {
        val sc = SparkSession.active.sparkContext
        new LogFileMicroBatchStream(glob, maxFiles, sc.defaultParallelism,
          sc.hadoopConfiguration)
      }
    }
}

/** One admitted file: its URI string and its length when admitted. */
case class LogFile(path: String, length: Long)

/** Every file admitted so far, in admission order — the checkpointed
  * offset token. Each batch appends to its start offset, so a batch's
  * files are the suffix of its end offset past its start.
  */
case class LogFileOffset(files: Vector[LogFile]) extends Offset {
  override def json(): String = {
    val root = LogFileOffset.mapper.createObjectNode()
    val arr = root.putArray("files")
    files.foreach(f => arr.addObject().put("path", f.path).put("length", f.length))
    LogFileOffset.mapper.writeValueAsString(root)
  }
}

object LogFileOffset {
  private val mapper = new ObjectMapper()

  def fromJson(s: String): LogFileOffset = {
    val files = mapper.readTree(s).get("files")
    if (files == null)
      throw new IllegalStateException(
        s"offset $s was not written by the graftlogs source; a checkpoint " +
          "from Spark's text file source cannot be resumed by it — start " +
          "stage 1 from a fresh checkpoint directory")
    LogFileOffset(files.elements().asScala.map(f =>
      LogFile(f.get("path").asText(), f.get("length").asLong())).toVector)
  }
}

/** The files a `graftlogs` glob names, by the source's own rule. Stage 1
  * lists them the same way to know which files a call must see consumed.
  */
object LogFileMicroBatchStream {
  /** A file the glob names now, with its modification time. */
  case class Listed(file: LogFile, mtime: Long)

  /** One driver-side glob over files; directories it matches are not
    * descended into, and hidden names are skipped.
    */
  def list(glob: String, conf: Configuration): Seq[Listed] = {
    val pattern = new Path(glob)
    val fs = pattern.getFileSystem(conf)
    def visible(st: FileStatus): Boolean = {
      val n = st.getPath.getName
      st.isFile && !n.startsWith("_") && !n.startsWith(".")
    }
    // a glob match reads `file:/x` where a directory listing (and so the
    // batch read's input_file_name()) reads `file:///x`: re-qualify
    // against the filesystem so both paths name a file the same way
    def uri(p: Path): String =
      SparkPath.fromPath(fs.makeQualified(Path.getPathWithoutSchemeAndAuthority(p)))
        .urlEncoded
    Option(fs.globStatus(pattern)).toSeq.flatten.filter(visible).map(st =>
      Listed(LogFile(uri(st.getPath), st.getLen), st.getModificationTime))
  }
}

class LogFileMicroBatchStream(glob: String, maxFiles: Int, parallelism: Int,
    conf: Configuration)
    extends MicroBatchStream with SupportsAdmissionControl
    with SupportsTriggerAvailableNow {
  import LogFileMicroBatchStream.Listed

  // AvailableNow drains the listing taken at query start, as Spark's
  // file source does; without it every batch would re-list
  @volatile private var drainListing: Option[Seq[Listed]] = None

  override def prepareForTriggerAvailableNow(): Unit =
    drainListing = Some(list())

  private def list(): Seq[Listed] = LogFileMicroBatchStream.list(glob, conf)

  // The paths of `last`, the offset latestOffset last returned. A running
  // query polls with that offset as its start, so an idle poll costs
  // the listing and not a set rebuilt from every file ever admitted; a
  // start that is not `last` (a query resumed from its checkpoint)
  // rebuilds it.
  private var last: LogFileOffset = LogFileOffset(Vector.empty)
  private var seen: Set[String] = Set.empty

  override def initialOffset(): Offset = LogFileOffset(Vector.empty)

  override def getDefaultReadLimit: ReadLimit = ReadLimit.maxFiles(maxFiles)

  override def latestOffset(start: Offset, limit: ReadLimit): Offset = {
    val s = start.asInstanceOf[LogFileOffset]
    if (s != last) { last = s; seen = s.files.iterator.map(_.path).toSet }
    val fresh = drainListing.getOrElse(list())
      .filterNot(l => seen(l.file.path))
      .sortBy(l => (l.mtime, l.file.path))
    val admitted = limit match {
      case m: ReadMaxFiles => fresh.take(m.maxFiles())
      case _ => fresh
    }
    if (admitted.nonEmpty) {
      last = LogFileOffset(s.files ++ admitted.map(_.file))
      seen ++= admitted.iterator.map(_.file.path)
    }
    last
  }

  override def latestOffset(): Offset =
    throw new UnsupportedOperationException(
      "latestOffset(Offset, ReadLimit) is used (SupportsAdmissionControl)")

  /** The batch's files, packed largest first onto the least-loaded of at
    * most `parallelism` partitions.
    */
  override def planInputPartitions(start: Offset, end: Offset): Array[InputPartition] = {
    val before = start.asInstanceOf[LogFileOffset].files.size
    val files = end.asInstanceOf[LogFileOffset].files.drop(before)
    val bins = Array.fill(math.min(files.size, parallelism))(
      (0L, Vector.empty[LogFile]))
    files.sortBy(f => -f.length).foreach { f =>
      val i = bins.indices.minBy(bins(_)._1)
      bins(i) = (bins(i)._1 + f.length, bins(i)._2 :+ f)
    }
    bins.map(b => LogFileSplit(b._2): InputPartition)
  }

  override def createReaderFactory(): PartitionReaderFactory =
    new LogFileReaderFactory(new SerializableConfiguration(conf))

  override def deserializeOffset(json: String): Offset = LogFileOffset.fromJson(json)
  override def commit(end: Offset): Unit = ()
  override def stop(): Unit = ()
  // the source's description in query progress, named after its glob
  // as Spark's `FileStreamSource[<path>]` is
  override def toString: String = s"LogFileSource[$glob]"
}

case class LogFileSplit(files: Vector[LogFile]) extends InputPartition

class LogFileReaderFactory(conf: SerializableConfiguration)
    extends PartitionReaderFactory {
  override def createReader(partition: InputPartition): PartitionReader[InternalRow] = {
    val files = partition.asInstanceOf[LogFileSplit].files.iterator
    new PartitionReader[InternalRow] {
      private var file: UTF8String = _
      private var lines: HadoopFileLinesReader = _
      private var value: UTF8String = _

      override def next(): Boolean = {
        while (lines == null || !lines.hasNext) {
          close()
          if (!files.hasNext) return false
          val f = files.next()
          file = UTF8String.fromString(f.path)
          // one split of the admitted length, under the text reader's
          // split rule (the lines that start in it)
          lines = new HadoopFileLinesReader(PartitionedFile(InternalRow.empty,
            SparkPath.fromUrlString(f.path), 0L, f.length), conf.value)
        }
        value = UTF8String.fromBytes(lines.next().copyBytes())
        true
      }

      override def get(): InternalRow =
        new GenericInternalRow(Array[Any](file, value))

      override def close(): Unit =
        if (lines != null) { lines.close(); lines = null }
    }
  }
}
