package graft
import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.databind.node.{JsonNodeFactory, ObjectNode}
import org.apache.spark.sql.{DataFrame, SparkSession}
import java.lang.management.ManagementFactory
import java.math.RoundingMode
import java.nio.file.{Files, Paths}
import scala.collection.mutable

/** Benchmark main. Times every registered query except
  * `SparkEntry.oracleOnly` standalone, the same bodies Verify checks.
  * Prints two bare JSON lines, the compact total LAST (see [[main]]), so
  * the driver's extractor can't miss it regardless of logger prefixes,
  * and writes the full artifact to /tmp/bench.json.
  *
  * Timing discipline (this box has documented episodic host-level vCPU
  * stalls — wall>>cpu with idle load — that min-of-2 didn't survive):
  *   - median of 3 passes per query;
  *   - if max/min spread across the 3 exceeds 5x, up to 2 extra passes are
  *     taken and the median of all collected passes is reported;
  *   - process-CPU seconds are recorded per query alongside wall time, so
  *     a host stall (wall >> cpu) is self-evident in the artifact.
  * Queries are materialized via the `noop` sink, not count(): count() lets
  * Catalyst prune every unevaluated projection, which under-reports any
  * query whose cost is in the computed columns.
  */
object Bench {
  /** The JSON writer for Bench's lines and the tools' records. Its node
    * factory keeps a BigDecimal's trailing zeros, so a [[decimal]]
    * prints with exactly the digits it was rounded to; Jackson escapes
    * every string and writes numbers independent of the default locale.
    */
  val json: ObjectMapper = new ObjectMapper()
    .setNodeFactory(JsonNodeFactory.withExactBigDecimals(true))

  /** `v` rounded half-up to `digits` decimals. */
  def decimal(v: Double, digits: Int = 3): java.math.BigDecimal =
    java.math.BigDecimal.valueOf(v).setScale(digits, RoundingMode.HALF_UP)

  private def errorsNode(parent: ObjectNode, errors: Map[String, String]): Unit = {
    val node = parent.putObject("errors")
    errors.toSeq.sorted.foreach { case (k, v) => node.put(k, v) }
  }

  /** The compact final stdout line: headline scalars only (see the
    * clip note in [[main]]).
    */
  def compactLine(total: Double, nQueries: Int, errors: Map[String, String],
      calib: Double, sfDir: String): String = {
    val line = json.createObjectNode()
      .put("metric", "total").put("value", decimal(total)).put("unit", "sec")
      .put("n_queries", nQueries)
    errorsNode(line, errors)
    line.put("calib", decimal(calib)).put("sf", sfDir)
      .put("detail", "bench_out.json")
    json.writeValueAsString(line)
  }

  /** The files a run's full JSON goes to: always `/tmp/bench.json`. A
    * full-suite run also writes the repo-visible `bench_out.json` and a
    * per-core-count copy (the driver benches the same tree at two core
    * counts back to back, and one file per count keeps both runs'
    * detail). A `SPARK_GRAFT_ONLY` run writes only the `/tmp` copy, so
    * its partial map never overwrites the committed full-suite files.
    */
  def outputPaths(filtered: Boolean, cpus: Int): Seq[String] =
    "/tmp/bench.json" +:
      (if (filtered) Nil else Seq("bench_out.json", s"bench_out_c$cpus.json"))

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = GraftSession.defaultCpus
    val spark = GraftSession(cpus)
    val osBean = ManagementFactory.getOperatingSystemMXBean
      .asInstanceOf[com.sun.management.OperatingSystemMXBean]
    // Run-attribution context (round 6: the driver's run of identical
    // code landed a uniform 1.19x slower than the builder's committed
    // artifact — neither artifact carried anything to attribute the
    // delta to). Two instruments, both in the FILE artifact:
    //  - /proc/loadavg at start and end — names concurrent host load;
    //  - a fixed-work single-thread calibration spin (pure JVM, no
    //    Spark), timed at start and end: the ratio of two runs'
    //    calib_sec is the host-speed scalar to normalize their query
    //    times by (a stalled/oversubscribed box shows up here, a plan
    //    regression does not).
    def loadavg(): String =
      try Files.readString(Paths.get("/proc/loadavg")).trim
        .split(" ").take(3).mkString(",")
      catch { case _: Throwable => "" }
    def calibrate(): Double = {
      def spin(): Double = {
        val t0 = System.nanoTime()
        var x = 88172645463325252L; var i = 0
        while (i < 400000000) { // xorshift64, fixed work, ~0.5 s unloaded
          x ^= x << 13; x ^= x >>> 7; x ^= x << 17; i += 1
        }
        if (x == 42L) System.err.println("") // keep the loop live
        (System.nanoTime() - t0) / 1e9
      }
      val xs = Seq(spin(), spin(), spin()).sorted
      xs(1)
    }
    val loadStart = loadavg()
    val calibStart = calibrate()
    // Warm the JVM (codegen, parquet reader, shuffle machinery) so the
    // first measured query doesn't absorb one-time init cost.
    spark.range(1000000L).selectExpr("sum(id)").collect()
    spark.read.parquet(s"$sfDir/region.parquet").count()

    val errors = mutable.Map.empty[String, String]
    // Returns (wallSec, cpuSec); a crashed query is marked, not hidden.
    def timeOnce(name: String,
        fn: (SparkSession, String) => DataFrame): (Double, Double) = {
      val c0 = osBean.getProcessCpuTime
      val t0 = System.nanoTime()
      try fn(spark, sfDir).write.format("noop").mode("overwrite").save()
      catch { case e: Throwable =>
        System.err.println(s"[bench] $name FAILED: ${e.getClass.getName}: ${e.getMessage}")
        errors(name) = e.getClass.getSimpleName
      }
      val r = ((System.nanoTime() - t0) / 1e9, (osBean.getProcessCpuTime - c0) / 1e9)
      // progress trace on stderr (driver reads only the stdout JSON)
      System.err.println(f"[bench] $name wall=${r._1}%.2f cpu=${r._2}%.2f")
      // GC between PASSES, outside the timed section: garbage-heavy
      // queries (e.g. the jaccard verification join at 10x data)
      // otherwise pay the previous pass's concurrent-G1 work INSIDE the
      // next pass — observed as 5-8x cpu swings across identical passes
      // (process CPU counts GC threads).
      System.gc()
      r
    }
    def median(xs: Seq[Double]): Double = {
      val s = xs.sorted
      if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
    }
    // Focus filter (comma-separated names; unset = all queries): the way
    // to time one query, e.g. `SPARK_GRAFT_ONLY=r3_alerts runMain
    // graft.Bench`. The driver never sets it, so its runs are always the
    // full suite.
    val only = sys.env.get("SPARK_GRAFT_ONLY")
      .map(_.split(",").map(_.trim).toSet)
    val runList = SparkEntry.queries.toSeq.sortBy(_._1)
      .filter { case (n, _) =>
        only.forall(_.contains(n)) &&
          (!SparkEntry.oracleOnly.contains(n) || only.exists(_.contains(n)))
      }
    val results = runList.map { case (name, fn) =>
      val passes = mutable.Buffer.empty[(Double, Double)]
      passes += timeOnce(name, fn)
      passes += timeOnce(name, fn)
      passes += timeOnce(name, fn)
      var extra = 0
      while (extra < 2 && {
        val ws = passes.map(_._1)
        ws.max / math.max(ws.min, 1e-9) > 5.0
      }) { passes += timeOnce(name, fn); extra += 1 }
      // (per-pass GC inside timeOnce also serves the between-queries
      // role: broadcast/shuffle driver state the ContextCleaner only
      // reclaims on a driver GC never accumulates across the suite)
      (name, median(passes.map(_._1).toSeq), median(passes.map(_._2).toSeq),
        passes.map(_._1).toSeq)
    }
    val total = results.map(_._2).sum
    val loadEnd = loadavg()
    val calibEnd = calibrate()
    val full = json.createObjectNode()
      .put("metric", "total").put("value", decimal(total)).put("unit", "sec")
    val qs = full.putObject("queries")
    val cpu = full.putObject("cpu_sec")
    results.foreach { case (k, w, c, _) =>
      qs.put(k, decimal(w)); cpu.put(k, decimal(c)) }
    // `oracle_only`: registered queries deliberately absent from the
    // timed set (`SparkEntry.oracleOnly`) — the artifact names them so a
    // round-over-round comparison knows the set shrank by design
    val oracleOnly = full.putArray("oracle_only")
    SparkEntry.oracleOnly.toSeq.sorted.foreach(oracleOnly.add)
    // `gc_note`: medians exclude inter-pass GC (System.gc between passes
    // keeps the previous pass's collection work out of the next timed
    // section), which stabilizes medians but means allocation-heavy
    // queries don't pay their GC here.
    full.put("gc_note", "per-query medians exclude inter-pass System.gc")
    errorsNode(full, errors.toMap)
    // run-attribution block: two runs of identical code divide their
    // calib medians to get the host-speed scalar; loadavg names the
    // concurrent load; per-query pass lists expose which passes a stall
    // hit (median-only artifacts hid all of this in round 6)
    full.putObject("calib_sec")
      .put("start", decimal(calibStart)).put("end", decimal(calibEnd))
    full.putObject("loadavg").put("start", loadStart).put("end", loadEnd)
    val passJson = full.putObject("passes")
    results.foreach { case (k, _, _, ps) =>
      val a = passJson.putArray(k)
      ps.foreach(p => a.add(decimal(p)))
    }
    full.put("sf", sfDir)
    // Full artifact (per-query wall + cpu maps, ~4 KB) goes to FILES,
    // because a 4 KB stdout line overflows the driver's log-tail buffer
    // (rounds 1 and 2 both lost the parsed bench signal that way).
    outputPaths(only.nonEmpty, cpus).foreach { path =>
      try Files.writeString(Paths.get(path), json.writeValueAsString(full))
      catch { case e: Throwable =>
        System.err.println(s"[bench] $path write failed: ${e.getMessage}") }
    }
    // COMPACT final stdout line, NO per-query map: three straight rounds
    // proved the driver's log-tail buffer clips anything past a few
    // hundred bytes (r3's 2.8 KB wall-only map still arrived mid-key;
    // the r14 BENCH artifact's stored tail is 2000 chars). The stdout
    // line carries only the headline scalars — total wall, query count,
    // error map, calib, sf — and points at bench_out.json for the
    // per-query detail. Must stay under 400 B.
    val compact = compactLine(total, results.size, errors.toMap, calibEnd,
      sfDir)
    spark.stop()
    // Per-query wall map as its OWN stdout line, printed BEFORE the
    // compact total line (r14 verdict item 1: the driver's PERF
    // per-query comparator has been empty since round 2). Ordering is
    // the clip-safety argument: the log tail keeps the END of stdout,
    // so a clip can only cut this line's HEAD — the compact total line
    // below always survives intact, exactly as it has since round 2. A
    // parser that reads complete `{"metric":...}` lines gains the map
    // when the tail buffer is large enough and sees no change when it
    // is not (a clipped fragment no longer starts with '{' and parses
    // as nothing). Centisecond precision keeps it ~3.5 KB.
    val perQuery = json.createObjectNode()
      .put("metric", "queries").put("unit", "sec").put("cpus", cpus)
    val qsCenti = perQuery.putObject("queries")
    results.foreach { case (k, w, _, _) => qsCenti.put(k, decimal(w, 2)) }
    println(json.writeValueAsString(perQuery))
    // Bare, final stdout line (spark.stop() already happened so nothing
    // logs after it; run/outputStrategy passes it through un-prefixed).
    println(compact)
  }
}
