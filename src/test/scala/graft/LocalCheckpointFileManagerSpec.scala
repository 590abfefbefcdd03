package graft

import java.net.URI
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths, Path => JPath}
import java.util.concurrent.ConcurrentLinkedQueue
import scala.jdk.CollectionConverters._
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileAlreadyExistsException, Path, RawLocalFileSystem}
import org.apache.spark.sql.execution.streaming.checkpointing.CheckpointFileManager
import org.scalatest.funsuite.AnyFunSuite
import graft.streaming.LocalCheckpointFileManager

/** [[LocalCheckpointFileManager]] against Spark's default checkpoint
  * manager: each operation is run through both, on sibling directories
  * or the same one, and must leave the same files, modes and errors.
  */
class LocalCheckpointFileManagerSpec extends AnyFunSuite {

  private val conf = new Configuration()

  private def local(dir: JPath): CheckpointFileManager =
    new LocalCheckpointFileManager(new Path(dir.toUri), conf)

  /** Spark's default: what `CheckpointFileManager.create` picks when no
    * manager class is configured.
    */
  private def default(dir: JPath): CheckpointFileManager = {
    val c = new Configuration(conf)
    c.unset(LocalCheckpointFileManager.ClassKey)
    CheckpointFileManager.create(new Path(dir.toUri), c)
  }

  private def write(fm: CheckpointFileManager, file: JPath, text: String,
      overwrite: Boolean = false): Unit = {
    val out = fm.createAtomic(new Path(file.toUri), overwrite)
    out.write(text.getBytes(UTF_8))
    out.close()
  }

  private def names(dir: JPath): Set[String] =
    Files.list(dir).iterator().asScala.map(_.getFileName.toString).toSet

  private def mode(p: JPath): String =
    java.nio.file.attribute.PosixFilePermissions
      .toString(Files.getPosixFilePermissions(p))

  test("createAtomic + close publishes the bytes with a .crc sidecar, " +
      "in the default manager's mode") {
    val dir = Files.createTempDirectory("ckpt_fm_publish")
    write(local(dir), dir.resolve("0"), "v1\n{}")
    write(default(dir), dir.resolve("1"), "v1\n{}")
    assert(Files.readString(dir.resolve("0")) == "v1\n{}")
    assert(names(dir) == Set("0", ".0.crc", "1", ".1.crc"),
      s"temp files or sidecars differ: ${names(dir)}")
    assert(mode(dir.resolve("0")) == mode(dir.resolve("1")))
    assert(mode(dir.resolve(".0.crc")) == mode(dir.resolve(".1.crc")))
  }

  test("cancel leaves neither the file nor a temp file behind") {
    val dir = Files.createTempDirectory("ckpt_fm_cancel")
    val out = local(dir).createAtomic(new Path(dir.resolve("0").toUri), false)
    out.write("partial".getBytes(UTF_8))
    out.cancel()
    assert(names(dir).isEmpty, s"left behind: ${names(dir)}")
  }

  test("createAtomic(overwrite = false) over an existing file fails as " +
      "the default manager does, and keeps the old bytes") {
    val dir = Files.createTempDirectory("ckpt_fm_overwrite")
    Seq("local" -> local(dir), "default" -> default(dir)).foreach {
      case (name, fm) =>
        val f = dir.resolve(name)
        write(fm, f, "first")
        intercept[FileAlreadyExistsException](write(fm, f, "second"))
        assert(Files.readString(f) == "first", name)
        write(fm, f, "third", overwrite = true)
        assert(Files.readString(f) == "third", name)
    }
  }

  test("list, exists, delete and mkdirs behave as the default manager's") {
    /** One script of operations; what each step observes. */
    def script(fm: CheckpointFileManager, root: JPath): Seq[Any] = {
      def p(rel: String) = new Path(root.resolve(rel).toUri)
      fm.mkdirs(p("a/b"))
      val dirMode = mode(root.resolve("a/b"))
      write(fm, root.resolve("a/b/1"), "x")
      write(fm, root.resolve("a/b/2"), "y")
      val listed = fm.list(p("a/b")).map(_.getPath.getName).sorted.toSeq
      val filtered = fm.list(p("a/b"), (q: Path) => q.getName == "2")
        .map(_.getPath.getName).toSeq
      val before = Seq(fm.exists(p("a/b/1")), fm.exists(p("a/b/9")))
      fm.delete(p("a/b/1"))
      fm.delete(p("a/b/9"))
      val after = Seq(fm.exists(p("a/b/1")), names(root.resolve("a/b")))
      fm.delete(p("a"))
      Seq(listed, filtered, before, after, fm.exists(p("a")), fm.isLocal,
        dirMode)
    }
    val l = Files.createTempDirectory("ckpt_fm_ops_local")
    val d = Files.createTempDirectory("ckpt_fm_ops_default")
    val got = script(local(l), l)
    assert(got == script(default(d), d))
    assert(got.take(4) == Seq(Seq("1", "2"), Seq("2"), Seq(true, false),
      Seq(false, Set("2", ".2.crc"))))
  }

  test("a path on another scheme goes to Spark's default manager") {
    val dir = Files.createTempDirectory("ckpt_fm_scheme")
    val c = new Configuration(conf)
    c.set("fs.ckpttest.impl", classOf[RecordingFileSystem].getName)
    c.setBoolean("fs.ckpttest.impl.disable.cache", true)
    RecordingFileSystem.renamed.clear()
    val target = new Path(s"ckpttest://${dir.resolve("0").toUri.getPath}")
    val out = new LocalCheckpointFileManager(target, c).createAtomic(target, false)
    out.write("x".getBytes(UTF_8))
    out.close()
    // Spark's default falls back to FileSystem calls on a scheme without
    // a FileContext binding; they reach the scheme's own file system,
    // which keeps no .crc sidecar.
    assert(RecordingFileSystem.renamed.asScala.toSeq.map(_.getName) == Seq("0"))
    assert(names(dir) == Set("0"))
  }
}

/** A raw local file system mounted on the `ckpttest:` scheme that
  * records the destination of every rename.
  */
class RecordingFileSystem extends RawLocalFileSystem {
  override def getUri: URI = URI.create("ckpttest:///")
  override def getScheme: String = "ckpttest"
  override def pathToFile(p: Path): java.io.File =
    Paths.get(p.toUri.getPath).toFile
  override def rename(src: Path, dst: Path): Boolean = {
    RecordingFileSystem.renamed.add(dst)
    super.rename(src, dst)
  }
}

object RecordingFileSystem {
  val renamed = new ConcurrentLinkedQueue[Path]()
}
