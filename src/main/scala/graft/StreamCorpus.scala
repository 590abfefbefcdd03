package graft

import java.nio.file.{Files, Path, Paths, StandardCopyOption}
import java.nio.file.attribute.FileTime

/** The synthesized log corpus of the streaming scaling probe
  * (tools.StreamScaleProbe), with its growth axes (host/interval
  * counts, sentinel offset) as named parameters instead of silently
  * edited constants. The specs publish their log files through
  * [[publish]].
  *
  * Shape: per host, `nIntervals` 10-second intervals x 4 services x 3
  * lines; elapsed drifts into the 150 ms hard-max band late in each
  * 1200-interval block (`i % 1200 > 900`) so the vote/cooldown stages
  * do real work, and the slow band REPEATS per block so the work mix
  * is invariant when a probe scales `nIntervals` (for nIntervals =
  * 1200 the predicate equals the historical `i > 900`).
  */
object StreamCorpus {
  val t0 = 1578391200000L // 2020-01-07T10:00:00Z
  private val services = Seq("S:checkout", "S:search", "S:cart", "S:login")
  private val fmt = java.time.format.DateTimeFormatter
    .ofPattern("yyyy-MM-dd HH:mm:ss,SSS")
    .withZone(java.time.ZoneOffset.UTC)

  /** Write `nHosts` host logs under `logsDir/net/host<i>/server.log`;
    * returns the total line count.
    */
  def writeHosts(logsDir: String, nHosts: Int, nIntervals: Int): Long = {
    var nLines = 0L
    (0 until nHosts).foreach { s =>
      val sb = new StringBuilder
      var id = 0
      (0 until nIntervals).foreach { i =>
        services.foreach { svc =>
          (0 until 3).foreach { j =>
            val ms = t0 + i * 10000L + j * 3000L
            val elapsed =
              100L + (if (i % 1200 > 900 && j == 0) 200L else (i + j) % 40)
            sb.append(s"[$id] ${fmt.format(
              java.time.Instant.ofEpochMilli(ms))} " +
              s"[a:b:42] INFO CommonTiming::Stop $svc handled in time $elapsed\n")
            id += 1; nLines += 1
          }
        }
      }
      publish(Paths.get(logsDir, "net", s"host$s", "server.log"), sb.toString)
    }
    nLines
  }

  /** The far-future sentinel that closes every real window on the next
    * stage-1 drain; `offsetMs` past `t0` must clear the corpus's whole
    * event-time span (1e8 ms clears a 1200-interval corpus; a
    * time-scaled corpus needs more).
    */
  def writeSentinel(logsDir: String, offsetMs: Long): Unit =
    publish(Paths.get(logsDir, "net", "zz", "server.log"), s"[999999] ${
      fmt.format(java.time.Instant.ofEpochMilli(t0 + offsetMs))} " +
      "[a:b:42] INFO CommonTiming::Stop S:checkout handled in time 1\n")

  /** Writes `content` to the log file `target` so that a tailing reader
    * sees all of it or none: it goes to the hidden `.<name>` beside
    * `target` (the `graftlogs` source skips hidden names), gets `mtimeMs`
    * as its modification time if one is given, and is renamed in. The
    * source reads a file once, at the length it first lists, so a log
    * written in place could be admitted short (the source's contract,
    * LogFileStream.scala).
    */
  def publish(target: Path, content: String,
      mtimeMs: Option[Long] = None): Unit = {
    Files.createDirectories(target.getParent)
    val tmp = target.resolveSibling(s".${target.getFileName}")
    Files.writeString(tmp, content)
    mtimeMs.foreach(ms => Files.setLastModifiedTime(tmp, FileTime.fromMillis(ms)))
    Files.move(tmp, target, StandardCopyOption.ATOMIC_MOVE)
    ()
  }
}
