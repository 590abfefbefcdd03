package graft.streaming

import java.net.URI
import java.nio.file.Files
import java.nio.file.attribute.PosixFilePermissions
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FSDataInputStream, FileStatus, FileSystem,
  LocalFileSystem, Path, PathFilter, RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.spark.sql.execution.streaming.checkpointing.{
  CheckpointFileManager, FileSystemBasedCheckpointFileManager}

/** A streaming checkpoint manager that forks no process for a local
  * checkpoint file.
  *
  * Spark's default manager writes through Hadoop's `FileContext`. Without
  * libhadoop, Hadoop's local file system forks `chmod` for every file and
  * directory it creates, and `FileContext` rename forks `readlink` on
  * top. Every offset, commit, state-delta and sink-log file of a
  * micro-batch paid for several forks: one 8 s `stream_live` benchmark
  * run at 4 cores forked 4,992 processes, 4,676 of them under the
  * checkpoint manager (`tools/forks.py`).
  *
  * For a `file:` path this is Spark's `FileSystemBasedCheckpointFileManager`
  * (temp file, then `FileSystem.rename`, which is `rename(2)` within one
  * local file system) over a `LocalFileSystem` that sets permissions
  * through `java.nio`. It writes the same file names, modes and `.crc`
  * sidecars as the default, and `createAtomic(p, overwriteIfPossible =
  * false)` still refuses an existing `p`. Any other scheme goes to
  * Spark's default manager unchanged.
  *
  * Spark picks the manager by class name from
  * `spark.sql.streaming.checkpointFileManagerClass`; [[ApmGraph]] sets it
  * for every stage unless the session names a manager itself.
  */
class LocalCheckpointFileManager(path: Path, hadoopConf: Configuration)
    extends CheckpointFileManager {

  private val scheme = Option(path.toUri.getScheme)
    .getOrElse(FileSystem.getDefaultUri(hadoopConf).getScheme)

  private val inner: CheckpointFileManager =
    if (scheme == "file")
      new FileSystemBasedCheckpointFileManager(path, hadoopConf) {
        override protected val fs: FileSystem =
          LocalCheckpointFileManager.localFileSystem(hadoopConf)
      }
    else {
      val conf = new Configuration(hadoopConf)
      conf.unset(LocalCheckpointFileManager.ClassKey)
      CheckpointFileManager.create(path, conf)
    }

  override def createAtomic(p: Path, overwriteIfPossible: Boolean)
      : CheckpointFileManager.CancellableFSDataOutputStream =
    inner.createAtomic(p, overwriteIfPossible)
  override def open(p: Path): FSDataInputStream = inner.open(p)
  override def list(p: Path, filter: PathFilter): Array[FileStatus] =
    inner.list(p, filter)
  override def mkdirs(p: Path): Unit = inner.mkdirs(p)
  override def exists(p: Path): Boolean = inner.exists(p)
  override def delete(p: Path): Unit = inner.delete(p)
  override def isLocal: Boolean = inner.isLocal
  override def createCheckpointDirectory(): Path =
    inner.createCheckpointDirectory()
  override def close(): Unit = inner.close()
}

object LocalCheckpointFileManager {

  /** The session key Spark reads the manager's class name from. */
  val ClassKey = "spark.sql.streaming.checkpointFileManagerClass"

  /** Hadoop's raw local file system with `setPermission` done in-process.
    * Checkpoint files and directories get Hadoop's default modes less the
    * umask, never a sticky bit, which `fromString` would refuse.
    */
  private final class NioPermissionRawFileSystem extends RawLocalFileSystem {
    override def setPermission(p: Path, permission: FsPermission): Unit = {
      Files.setPosixFilePermissions(pathToFile(p).toPath,
        PosixFilePermissions.fromString(permission.toString))
      ()
    }
  }

  /** A checksummed `file:` file system over the fork-free raw layer, as
    * `FileSystem.get` would build it for `conf`, but uncached.
    */
  private def localFileSystem(conf: Configuration): FileSystem = {
    val fs = new LocalFileSystem(new NioPermissionRawFileSystem)
    fs.initialize(URI.create("file:///"), conf)
    fs
  }
}
