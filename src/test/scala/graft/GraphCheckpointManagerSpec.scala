package graft

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path => JPath}
import scala.jdk.CollectionConverters._
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileAlreadyExistsException, Path}
import org.apache.spark.sql.execution.streaming.checkpointing.{
  CheckpointFileManager, FileSystemBasedCheckpointFileManager}
import org.scalatest.funsuite.AnyFunSuite
import graft.streaming.{ApmGraph, NioLocalFileSystem}

/** The graph's checkpoint manager, Spark's
  * `FileSystemBasedCheckpointFileManager` over [[NioLocalFileSystem]],
  * against Spark's default checkpoint manager: each operation is run
  * through both, on sibling directories or the same one, and must leave
  * the same files, modes and errors.
  */
class GraphCheckpointManagerSpec extends AnyFunSuite with TestSession {

  /** A query's Hadoop conf on a session that [[ApmGraph.prepareStreams]]
    * set up. A new session, so the shared one keeps its conf.
    */
  private lazy val graphConf: Configuration = {
    val s = spark.newSession()
    ApmGraph.prepareStreams(s)
    s.sessionState.newHadoopConf()
  }

  /** The manager Spark builds for a graph stage's checkpoint. */
  private def graph(dir: JPath): CheckpointFileManager =
    CheckpointFileManager.create(new Path(dir.toUri), graphConf)

  /** Spark's default: what `CheckpointFileManager.create` picks when no
    * manager class and no file system are configured.
    */
  private def default(dir: JPath): CheckpointFileManager =
    CheckpointFileManager.create(new Path(dir.toUri), new Configuration())

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
    val fm = graph(dir)
    assert(fm.isInstanceOf[FileSystemBasedCheckpointFileManager])
    assert(new Path(dir.toUri).getFileSystem(graphConf)
      .isInstanceOf[NioLocalFileSystem])
    write(fm, dir.resolve("0"), "v1\n{}")
    write(default(dir), dir.resolve("1"), "v1\n{}")
    assert(Files.readString(dir.resolve("0")) == "v1\n{}")
    assert(names(dir) == Set("0", ".0.crc", "1", ".1.crc"),
      s"temp files or sidecars differ: ${names(dir)}")
    assert(mode(dir.resolve("0")) == mode(dir.resolve("1")))
    assert(mode(dir.resolve(".0.crc")) == mode(dir.resolve(".1.crc")))
  }

  test("cancel leaves neither the file nor a temp file behind") {
    val dir = Files.createTempDirectory("ckpt_fm_cancel")
    val out = graph(dir).createAtomic(new Path(dir.resolve("0").toUri), false)
    out.write("partial".getBytes(UTF_8))
    out.cancel()
    assert(names(dir).isEmpty, s"left behind: ${names(dir)}")
  }

  test("createAtomic(overwrite = false) over an existing file fails as " +
      "the default manager does, and keeps the old bytes") {
    val dir = Files.createTempDirectory("ckpt_fm_overwrite")
    Seq("graph" -> graph(dir), "default" -> default(dir)).foreach {
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
    val g = Files.createTempDirectory("ckpt_fm_ops_graph")
    val d = Files.createTempDirectory("ckpt_fm_ops_default")
    val got = script(graph(g), g)
    assert(got == script(default(d), d))
    assert(got.take(4) == Seq(Seq("1", "2"), Seq("2"), Seq(true, false),
      Seq(false, Set("2", ".2.crc"))))
  }
}
