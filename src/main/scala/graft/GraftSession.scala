package graft

import org.apache.spark.sql.SparkSession

/** The one SparkSession configuration every entry point, tool and test
  * suite runs under, so the settings that decide what a query returns
  * (timezone, nanosecond-timestamp reads) cannot differ between the
  * bench, the oracle dump and the tests. A caller that needs a different
  * setting for its own job sets it with `spark.conf.set` after building.
  *
  * `cpus` defaults to `SPARK_GRAFT_CPUS`, or the machine's core count
  * when that is unset.
  */
object GraftSession {
  def defaultCpus: Int = sys.env.get("SPARK_GRAFT_CPUS").map(_.trim.toInt)
    .getOrElse(Runtime.getRuntime.availableProcessors)

  def builder(cpus: Int = defaultCpus): SparkSession.Builder =
    SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      // the test parquet carries TIMESTAMP(NANOS) columns
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.adaptive.enabled", "true")
      // Static conf, default 100: a suite of wide plans evicts generated
      // classes between passes, so every pass re-runs Janino + JIT
      // (r2_candidates benched 18.3/18.0/7.8 s across its passes with the
      // default; isolated-and-warm the same plan is 2.3 s).
      .config("spark.sql.codegen.cache.maxEntries", "10000")
      .config("spark.ui.enabled", "false")

  def apply(cpus: Int = defaultCpus): SparkSession = {
    val spark = builder(cpus).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}
