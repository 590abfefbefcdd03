package graft.streaming

import java.nio.file.Files
import java.nio.file.attribute.PosixFilePermissions
import org.apache.hadoop.fs.{LocalFileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission

/** Hadoop's checksummed `file:` file system, except that it sets
  * permissions in-process. Without libhadoop, Hadoop's own forks `chmod`
  * for every file and directory it creates. [[ApmGraph]] installs this
  * class as `fs.file.impl` for the graph's sessions.
  */
class NioLocalFileSystem extends LocalFileSystem(new NioLocalFileSystem.Raw)

object NioLocalFileSystem {

  /** Hadoop's raw local file system with `setPermission` done through
    * `java.nio`. The graph's files and directories get Hadoop's default
    * modes less the umask, never a sticky bit, which `fromString` would
    * refuse.
    */
  private final class Raw extends RawLocalFileSystem {
    override def setPermission(p: Path, permission: FsPermission): Unit = {
      Files.setPosixFilePermissions(pathToFile(p).toPath,
        PosixFilePermissions.fromString(permission.toString))
      ()
    }
  }
}
