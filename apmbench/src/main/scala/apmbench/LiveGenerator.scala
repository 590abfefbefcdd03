package apmbench

import java.nio.file.Path
import scala.collection.mutable

/** Open-loop load for `stream_live`: one thread that publishes corpus
  * interval `k` as one rotated chunk file per host (`server.log.<k>`) at
  * `startUs + k * periodUs` on the wall clock, whether or not the
  * pipeline has caught up. A chunk spans 6 s of event time, inside the
  * graph's 10 s lateness, so a drain that sees only some hosts' chunks of
  * an interval drops nothing.
  *
  * Each file's due and visible times are recorded; a file made visible
  * more than one period after it was due counts as a late write.
  */
final class LiveGenerator(corpus: Corpus, logsDir: Path, periodUs: Long,
    startUs: Long, stopUs: Long) extends Thread("apmbench-generator") {
  import LiveGenerator.Written

  setDaemon(true)
  private val written = mutable.ArrayBuffer.empty[Written]
  @volatile private var linesVisible = 0L
  @volatile private var failure: Option[Throwable] = None

  def lines: Long = linesVisible
  def error: Option[Throwable] = failure
  def log: Seq[Written] = written.synchronized(written.toList)

  override def run(): Unit =
    try {
      val staging = logsDir.resolve("staging")
      var k = 0
      while (k < corpus.nIntervals && startUs + k * periodUs < stopUs) {
        val dueUs = startUs + k * periodUs
        val waitUs = dueUs - Clock.nowUs()
        if (waitUs > 0) Thread.sleep(waitUs / 1000, ((waitUs % 1000) * 1000).toInt)
        (0 until corpus.nHosts).foreach { h =>
          val target = corpus.hostDir(logsDir, h).resolve(s"server.log.$k")
          corpus.publish(staging, target, corpus.intervalLines(h, k))
          val visibleUs = Clock.nowUs()
          written.synchronized {
            written += Written(k, h, dueUs, visibleUs, corpus.linesPerInterval,
              corpus.eventMs(k, 0), corpus.eventMs(k, Corpus.slots - 1))
          }
          linesVisible += corpus.linesPerInterval
        }
        k += 1
      }
    } catch { case t: Throwable => failure = Some(t) }
}

object LiveGenerator {
  final case class Written(interval: Int, host: Int, dueUs: Long,
      visibleUs: Long, lines: Int, minEventMs: Long, maxEventMs: Long) {
    def toMap: Map[String, Any] = Map("interval" -> interval, "host" -> host,
      "due_us" -> dueUs, "visible_us" -> visibleUs, "lines" -> lines,
      "min_event_ms" -> minEventMs, "max_event_ms" -> maxEventMs)
  }
}

/** Wall clock in microseconds, the time base file mtimes share. */
object Clock {
  def nowUs(): Long = {
    val i = java.time.Instant.now()
    i.getEpochSecond * 1000000L + i.getNano / 1000
  }
}
