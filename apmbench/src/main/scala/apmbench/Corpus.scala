package apmbench

import java.nio.file.{Files, Path, StandardCopyOption}

/** The stream workloads' log corpus: `nHosts` hosts, one std
  * CommonTiming exit line per (interval, service, slot), three slots per
  * 10 s interval, in the line format `graft.StreamCorpus` writes. The seed
  * picks each host's phase in a periodic slow-response burst, so alerts
  * fire all through the corpus instead of only near its end.
  */
final case class Corpus(seed: Long, nHosts: Int, nIntervals: Int) {
  import Corpus._

  private val rng = new java.util.Random(seed)
  private val period = 12 + rng.nextInt(9)
  private val burst = 3 + rng.nextInt(3)
  private val phase = Array.fill(nHosts)(rng.nextInt(period))

  val linesPerInterval: Int = services.size * slots

  def eventMs(interval: Int, slot: Int): Long = t0 + interval * 10000L + slot * 3000L

  /** The lines host `h` logs in `interval`, in event-time order. */
  def intervalLines(h: Int, interval: Int): Seq[String] =
    for (slot <- 0 until slots; (svc, s) <- services.zipWithIndex) yield {
      val slow = (interval + phase(h)) % period < burst && slot == 0
      val elapsed = 100L + (if (slow) 200L else (interval + slot + h) % 40)
      val id = interval * linesPerInterval + slot * services.size + s
      s"[$id] ${fmt.format(java.time.Instant.ofEpochMilli(eventMs(interval, slot)))} " +
        s"[a:b:42] INFO CommonTiming::Stop $svc handled in time $elapsed\n"
    }

  def hostDir(logsDir: Path, h: Int): Path = logsDir.resolve("net").resolve(s"host$h")

  /** One `server.log` per host holding the whole corpus; returns the
    * line count.
    */
  def writeAll(logsDir: Path): Long = {
    (0 until nHosts).foreach { h =>
      val sb = new StringBuilder
      (0 until nIntervals).foreach(i => intervalLines(h, i).foreach(sb.append))
      val p = hostDir(logsDir, h).resolve("server.log")
      Files.createDirectories(p.getParent)
      Files.writeString(p, sb.toString)
    }
    nHosts.toLong * nIntervals * linesPerInterval
  }

  /** Writes `lines` to `target` so that it appears whole: the file is
    * written under `staging` and renamed into place.
    */
  def publish(staging: Path, target: Path, lines: Seq[String]): Unit = {
    Files.createDirectories(staging)
    Files.createDirectories(target.getParent)
    val tmp = staging.resolve(target.getParent.getFileName.toString + "-" +
      target.getFileName.toString)
    Files.writeString(tmp, lines.mkString)
    Files.move(tmp, target, StandardCopyOption.ATOMIC_MOVE)
    ()
  }
}

object Corpus {
  val t0: Long = graft.StreamCorpus.t0
  val services: Seq[String] = Seq("S:checkout", "S:search", "S:cart", "S:login")
  val slots = 3
  /** Past the event-time span of any corpus the benchmark writes. */
  val sentinelOffsetMs = 100000000L
  private val fmt = java.time.format.DateTimeFormatter
    .ofPattern("yyyy-MM-dd HH:mm:ss,SSS")
    .withZone(java.time.ZoneOffset.UTC)

  /** The far-future line that closes every real window. */
  def writeSentinel(logsDir: Path): Unit =
    graft.StreamCorpus.writeSentinel(logsDir.toString, sentinelOffsetMs)
}
