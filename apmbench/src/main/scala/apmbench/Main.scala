package apmbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Path, Paths}
import org.apache.spark.apmbench.Tracer
import org.apache.spark.sql.SparkSession
import scala.collection.mutable

/** The benchmark's JVM side. Runs one workload against the program's
  * public entry points and writes every raw measurement to `--out` as
  * JSON; `run.py` turns those into the reported metrics and runs the
  * oracle checks that need Python.
  *
  * Usage: apmbench.Main --workload <stream_live|batch_mix>
  *   --seed <n> --seconds <s> --trace <0|1> --work <dir> --out <file>
  *   [--data <dir>] [--max-files <n>]
  */
object Main {
  final case class Args(workload: String, seed: Long, seconds: Double,
      trace: Boolean, work: Path, out: Path, data: Option[Path],
      maxFiles: Option[Int])

  def parse(argv: Array[String]): Args = {
    val m = argv.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    Args(m("workload"), m("seed").toLong, m("seconds").toDouble,
      m.getOrElse("trace", "0") == "1", Paths.get(m("work")).toAbsolutePath,
      Paths.get(m("out")).toAbsolutePath, m.get("data").map(Paths.get(_).toAbsolutePath),
      m.get("max-files").map(_.toInt))
  }

  val cores: Int = Runtime.getRuntime.availableProcessors

  /** One local session sized to the machine, configured as graft.Bench
    * configures its own, with every scratch directory inside `work`.
    */
  def session(work: Path): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("apmbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.codegen.cache.maxEntries", "10000")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
      .config("spark.sql.streaming.checkpointLocation", work.resolve("ckpt").toString)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  private val osBean = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]
  def cpuS(): Double = osBean.getProcessCpuTime / 1e9
  def nowS(): Double = System.nanoTime() / 1e9

  def peakRssKb(): Long =
    try {
      val line = scala.io.Source.fromFile("/proc/self/status").getLines()
        .find(_.startsWith("VmHWM:")).getOrElse("")
      line.replaceAll("[^0-9]", "").toLong
    } catch { case _: Throwable => -1L }

  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) Double.NaN
    else if (s.size % 2 == 1) s(s.size / 2)
    else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  /** Shared state of one run: the session, the tracer when tracing, and
    * the raw result being assembled.
    */
  final class Run(val args: Args) {
    val jvmStartMs: Long = ManagementFactory.getRuntimeMXBean.getStartTime
    val result = mutable.LinkedHashMap.empty[String, Any]
    val opSpans = mutable.ArrayBuffer.empty[Map[String, Any]]
    var spark: SparkSession = _
    var tracer: Option[Tracer] = None

    /** Sets the session up `rounds` times (build it, then `prepare`); the
      * first round also counts JVM start-up. Reports the median round as
      * `setup_s`.
      */
    def setUp(rounds: Int)(prepare: => Unit): Unit = {
      val times = (0 until rounds).map { r =>
        if (spark != null) {
          spark.stop()
          SparkSession.clearActiveSession()
          SparkSession.clearDefaultSession()
        }
        val t0 = if (r == 0) jvmStartMs / 1000.0 else System.currentTimeMillis() / 1000.0
        spark = session(args.work)
        prepare
        System.currentTimeMillis() / 1000.0 - t0
      }
      mark("setup")
      result("setup_rounds_s") = times
      result("setup_s") = median(times)
    }

    /** Runs the workload's untimed first operation (reported as
      * `warmup_s`): the cold drain or pass that loads classes and fills
      * the codegen cache before anything is timed.
      */
    def warmUp(body: => Unit): Unit = {
      val t0 = nowS()
      body
      result("warmup_s") = nowS() - t0
      mark("warmup")
    }

    /** Marks the start of the timed section (and of tracing). */
    def beginTimed(): Unit = {
      mark("timed_start")
      if (args.trace) {
        val t = new Tracer(spark)
        t.start()
        tracer = Some(t)
      }
    }

    /** Times `body` as operation `op` (a span with its layer counters when
      * tracing) and returns its wall seconds and the value.
      */
    def timed[T](op: String, kind: String, parent: String)(body: => T): (Double, T) = {
      spark.sparkContext.setLocalProperty(Tracer.OpKey, op)
      val startMs = System.currentTimeMillis()
      val t0 = nowS()
      val v = try body finally spark.sparkContext.setLocalProperty(Tracer.OpKey, null)
      val wall = nowS() - t0
      opSpans += Map("op" -> op, "kind" -> kind, "parent" -> parent,
        "start_ms" -> startMs, "end_ms" -> (startMs + math.round(wall * 1000)),
        "wall_s" -> wall)
      (wall, v)
    }

    def endTimed(): Unit = {
      tracer.foreach(_.flush())
      mark("timed_end")
    }

    /** Records when a phase of the run ended, in seconds since JVM start. */
    def mark(phase: String): Unit =
      phases += phase -> (System.currentTimeMillis() - jvmStartMs) / 1000.0
    private val phases = mutable.LinkedHashMap.empty[String, Double]

    def finish(): Unit = {
      tracer.foreach { t =>
        t.flush()
        result("ops") = opSpans.map { s =>
          s ++ t.opSummary(s("op").toString, s("start_ms").asInstanceOf[Long],
            s("end_ms").asInstanceOf[Long])
        }.toList
        result("progress") = t.progressRecords
        result("spans") = t.spans
        t.stop()
      }
      if (tracer.isEmpty) result("ops") = opSpans.toList
      mark("finish")
      result("phases_s") = phases
      result("peak_rss_kb") = peakRssKb()
      result("cores") = cores
      Files.createDirectories(args.out.getParent)
      Files.writeString(args.out, Json.render(result))
      if (spark != null) spark.stop()
    }
  }

  def main(argv: Array[String]): Unit = {
    val args = parse(argv)
    Files.createDirectories(args.work)
    val run = new Run(args)
    run.result("workload") = args.workload
    run.result("seed") = args.seed
    args.workload match {
      case "stream_live" => StreamWorkloads.live(run)
      case "batch_mix" => BatchMix.run(run)
      case w => throw new IllegalArgumentException(s"unknown workload $w")
    }
    run.finish()
  }
}
