package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.scalatest.funsuite.AnyFunSuite
import java.sql.Timestamp
import java.nio.file.Files
import graft.streaming.ApmStreaming

/** End-to-end pieces: driver flagship smoke, SQL-registered extensions,
  * and the streaming sink (S6/S7: foreachBatch + checkpoint).
  */
class IntegrationSpec extends AnyFunSuite with TestSession {

  test("driver flagship entry() returns rows on sf0.001") {
    val df = SparkEntry.entry(spark)
    assert(df.count() > 0)
  }

  test("every registered query has matching column names with its oracle output contract") {
    // structural check: queries and oracleSql keys line up
    val q = SparkEntry.queries.keySet
    val o = SparkEntry.oracleSql.keySet
    assert(o.subsetOf(q), s"oracle keys without query: ${o -- q}")
  }

  test("extensions register SQL functions") {
    import spark.implicits._
    // the shared session is built without extensions: the explicit
    // registration path
    GraftExtensions.register(spark)
    Seq(("abc", Seq(1.0, 2.0, 3.0))).toDF("s", "v").createOrReplaceTempView("ext_t")
    val r = spark.sql(
      """SELECT poly_hash(s) AS h, vec_dot(v, v) AS d,
         array_stats(v).mean AS m FROM ext_t""").collect().head
    val expH = { var h = 0L; "abc".foreach(c => h = (h * 31 + c) % 1000000007L); h }
    assert(r.getLong(0) == expH)
    assert(r.getDouble(1) == 14.0)
    assert(r.getDouble(2) == 2.0)
    def ph(s: String) = { var h = 0L; s.foreach(c => h = (h * 31 + c) % 1000000007L); h }
    val bg = spark.sql("SELECT bigram_hashes('a b c') AS bh")
      .collect().head.getSeq[Long](0)
    assert(bg == Seq(ph("a") * (1L << 31) + ph("a b"),
      ph("b") * (1L << 31) + ph("b c")))
  }

  test("a session built withExtensions resolves the SQL functions and " +
      "runs JaccardJoinRewrite, without GraftExtensions.register") {
    val shared = spark
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
    try {
      val ext = GraftSession.builder(4).withExtensions(new GraftExtensions)
        .getOrCreate()
      assert(ext ne shared)
      assert(ext.sparkContext eq shared.sparkContext)
      val r = ext.sql("""SELECT poly_hash('abc') AS h,
        vec_dot(array(1.0d, 2.0d, 3.0d), array(1.0d, 2.0d, 3.0d)) AS d""")
        .collect().head
      assert(r.getLong(0) == "abc".foldLeft(0L)((h, c) => (h * 31 + c) % 1000000007L))
      assert(r.getDouble(1) == 14.0)
      assert(ext.sessionState.optimizer.batches.flatMap(_.rules)
        .contains(graft.plans.JaccardJoinRewrite))
    } finally {
      SparkSession.setDefaultSession(shared)
      SparkSession.setActiveSession(shared)
    }
  }

  test("oracle-only queries are registered and oracle-gated") {
    val oracleOnly = SparkEntry.oracleOnly
    assert(oracleOnly.nonEmpty)
    assert(oracleOnly.subsetOf(SparkEntry.queries.keySet),
      s"oracle-only but not registered: ${oracleOnly -- SparkEntry.queries.keySet}")
    assert(oracleOnly.subsetOf(SparkEntry.oracleSql.keySet),
      s"oracle-only without oracle SQL: ${oracleOnly -- SparkEntry.oracleSql.keySet}")
  }

  test("full pipeline composes: streaming stats -> parquet -> batch z-score -> alert candidates") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val dir = Files.createTempDirectory("graft_pipe").toString
    val in = MemoryStream[(String, String, Timestamp, Double)]
    val tx = in.toDF.toDF("server", "service", "end_ts", "elapsed")
    val stats = ApmStreaming.slidingStatsStream(tx,
      windowLen = "20 seconds", slide = "10 seconds", lateness = "10 seconds")
    val q = stats.writeStream.outputMode("append")
      .option("checkpointLocation", s"$dir/ckpt")
      .format("parquet").option("path", s"$dir/stats").start()
    try {
      val rnd = new scala.util.Random(41)
      in.addData((0 until 300).map(i =>
        ("s0", "svc", new Timestamp(i * 1000L), 50.0 + rnd.nextDouble() * 10)))
      q.processAllAvailable()
      in.addData(("s0", "svc", new Timestamp(600000L), 1.0)) // advance watermark
      q.processAllAvailable()
    } finally q.stop()
    val statsBatch = spark.read.parquet(s"$dir/stats")
    assert(statsBatch.count() > 10)
    val scored = graft.operators.Alerts.candidates(
      graft.operators.ZScore.zScoreWindowed(statsBatch,
        Seq(graft.operators.ZScore.LagCfg(3, 2.0, 0.0))),
      graft.operators.Alerts.AlertCfg(hardMaxMs = 55.0))
    val rows = scored.collect()
    assert(rows.nonEmpty)
    // the hard-max rule should flag some windows (means hover ~55)
    assert(rows.exists(_.getAs[Int]("bad") == 1))
  }

  test("streaming sink: micro-batches land in parquet with checkpoint") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val dir = Files.createTempDirectory("graft_sink").toString
    val in = MemoryStream[(String, String, Timestamp, Double)]
    val tx = in.toDF.toDF("server", "service", "end_ts", "elapsed")
    val q = ApmStreaming.sinkToParquet(tx, s"$dir/out", s"$dir/ckpt",
      trigger = "1 seconds")
    try {
      in.addData(("s0", "svc", new Timestamp(1000), 1.0),
        ("s0", "svc", new Timestamp(2000), 2.0))
      q.processAllAvailable()
      in.addData(("s1", "svc", new Timestamp(3000), 3.0))
      q.processAllAvailable()
      val written = spark.read.parquet(s"$dir/out/batch_*")
      assert(written.count() == 3)
      // checkpoint exists (S7 resume state)
      assert(new java.io.File(s"$dir/ckpt").exists())
    } finally q.stop()
  }
}
