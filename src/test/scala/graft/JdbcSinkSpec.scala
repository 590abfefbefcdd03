package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import java.util.concurrent.atomic.AtomicBoolean
import graft.streaming.{ApmStreaming, JdbcSink}

/** S6 against a LIVE database: embedded Apache Derby (shipped in Spark's
  * own jar directory) stands in for the reference's Postgres
  * (stream_insert_db.js:277-353). Verifies the real `df.write.jdbc`
  * path — table auto-create, multi-row batched INSERT, append-mode
  * retries — plus the jsonb stats column round-trip and the failed-batch
  * requeue driving an actual DB that goes down and recovers.
  */
class JdbcSinkSpec extends AnyFunSuite with TestSession {

  // keep derby.log out of the repo working dir
  System.setProperty("derby.stream.error.file", "/tmp/graft_derby.log")

  private def derbyUrl(): String = {
    val dir = java.nio.file.Files.createTempDirectory("graft_derby")
    s"jdbc:derby:$dir/db;create=true"
  }

  private def readTable(url: String, table: String): DataFrame =
    spark.read.jdbc(url, table, new java.util.Properties())

  test("tx rows batch-insert into Derby and read back identical") {
    val url = derbyUrl()
    val sf = "/root/testdata/sf0.001"
    val tx = graft.operators.Parsing.parseRoundtrip(spark, sf)
      .limit(500).cache()
    JdbcSink.writeBatch(tx, url, "tx")
    val back = readTable(url, "tx")
    assert(back.count() == tx.count())
    // cell-exact, null-safe: canonical sorted row renderings match
    def canon(df: DataFrame): Seq[String] = {
      val ordered = df.select(tx.columns.sorted.map(col).toIndexedSeq: _*)
      ordered.collect().map(_.toString).sorted.toSeq
    }
    assert(canon(back) == canon(tx))
    tx.unpersist(); ()
  }

  test("stats jsonb column survives the DB round-trip via from_json") {
    val url = derbyUrl()
    val cand = SparkEntry.entry(spark).limit(200).cache()
    val rows = JdbcSink.statsTableRows(cand)
    JdbcSink.writeBatch(rows, url, "stats")
    val back = readTable(url, "stats")
    assert(back.count() == rows.count())
    // parse the json payload read back FROM THE DB and check one nested
    // field against the flat source column (entries.js:120-151 shape).
    // Join on the table's FULL natural key incl. lag: a limited sample
    // of the candidates frame may contain both lags of one
    // (server, service, ts_ms) — the key triple alone is not unique.
    val parsed = back.select(col("server"), col("service"), col("ts_ms"),
      col("lag").cast("int").as("lag"),
      get_json_object(col("stats_json"), "$.averagesignal")
        .cast("int").as("sig_back"))
    val src = cand.select(col("server"), col("service"), col("ts_ms"),
      col("lag").cast("int").as("lag"),
      col("average_signal").cast("int").as("sig_src"))
    val joined = parsed.join(src, Seq("server", "service", "ts_ms", "lag"))
    assert(joined.count() == rows.count())
    assert(joined.filter(
      !(col("sig_back") <=> col("sig_src"))).isEmpty)
    cand.unpersist(); ()
  }

  test("postgres dialect: the stats table is created with a JSONB " +
      "payload column and inserted with ?::jsonb placeholder casts " +
      "(recording pgjdbc-shaped driver double)") {
    // No Postgres server or driver jar exists in this container, so the
    // dialect is pinned at the JDBC wire surface: a recording driver
    // double registered under jdbc:postgresql: captures the DDL, the
    // prepared INSERT text and every batched parameter row.
    import scala.jdk.CollectionConverters._
    PgDriverDouble.ensureRegistered()
    PgDriverDouble.reset()
    val url = "jdbc:postgresql://dbhost:5432/apm"
    // the REAL shaping function feeds the writer: statsTableRows' output
    // order must match the dialect's declaration order
    val cand = SparkEntry.entry(spark).limit(50).cache()
    val shaped = JdbcSink.statsTableRows(cand).cache()
    assert(shaped.columns.toSeq == JdbcSink.PgStats.columns.map(_._1))
    JdbcSink.writeBatch(shaped, url, "stats")
    // DDL: jsonb payload column (entries.js:120-151 / stream_insert_db
    // .js:153), idempotent create
    assert(PgDriverDouble.ddl.asScala.toList == List(
      "CREATE TABLE IF NOT EXISTS stats (ts_ms BIGINT, " +
        "server VARCHAR(256), service VARCHAR(256), lag INT, " +
        "tpm DOUBLE PRECISION, stats_json JSONB)"))
    // INSERT: explicit jsonb cast on the payload placeholder (the
    // pg-promise `:json` ColumnSet equivalent)
    assert(PgDriverDouble.insertSqls.asScala.toSet == Set(
      "INSERT INTO stats (ts_ms, server, service, lag, tpm, stats_json) " +
        "VALUES (?, ?, ?, ?, ?, ?::jsonb)"))
    // every row arrived batched, values exact, transactions committed
    val got = PgDriverDouble.rows.asScala.map(_.toList).toSet
    val exp = shaped.collect().map(r =>
      (0 until 6).map(i => if (r.isNullAt(i)) null else r.get(i)).toList)
      .toSet
    assert(got.size == shaped.count())
    assert(got == exp, s"param rows diverge; double-only sample: " +
      s"${(got -- exp).take(2)}; frame-only: ${(exp -- got).take(2)}")
    assert(PgDriverDouble.commits.get() >= 1,
      "batched inserts were never committed")
    cand.unpersist(); shaped.unpersist(); ()
  }

  test("flush policy: count-bound batches and time-bound trickle flushes") {
    // The reference flushes its insert buffer at 1000 rows OR 5 s idle
    // (config/apm_config.json:230-231). Spark-side the micro-batch IS
    // the buffer: source admission bounds the count path, the trigger
    // interval bounds the time path. Pin BOTH on the live Derby sink.
    import scala.collection.mutable
    import spark.implicits._
    import graft.streaming.QueueRegistry
    implicit val sqlCtx = spark.sqlContext
    val url = derbyUrl()
    val bound = 1000

    // COUNT path: 2500 queued rows with maxpoll=1000 on a 1-partition
    // topic must arrive as exactly 1000/1000/500-row inserts.
    val topic = "t_flush"
    val dir = java.nio.file.Files.createTempDirectory("graft_flush").toString
    val t = QueueRegistry.topic(topic, dir, nPartitions = 1)
    (0 until 2500).foreach(i => t.produce(null, i.toString))
    val sizes = mutable.Buffer.empty[Long]
    val write: (DataFrame, Long) => Unit = (df, _) => {
      val rows = df.selectExpr("CAST(value AS INT) AS v").cache()
      sizes += rows.count()
      JdbcSink.writeBatch(rows, url, "flushed")
      rows.unpersist(); ()
    }
    val q = ApmStreaming.sinkWithRequeue(
      spark.readStream.format("graftqueue")
        .option("topic", topic).option("dir", dir).option("group", "flush")
        .option("maxpoll", bound).load(),
      s"$dir/ckpt_cnt", s"$dir/park_cnt", write,
      availableNow = true)
    q.awaitTermination()
    assert(sizes.toList == List(1000L, 1000L, 500L),
      s"count-bound flush sizes: $sizes")
    assert(readTable(url, "flushed").count() == 2500L)

    // TIME path: a trickle far below the count bound still flushes per
    // trigger — rows never wait for the buffer to fill.
    val in = MemoryStream[Int]
    sizes.clear()
    val q2 = ApmStreaming.sinkWithRequeue(in.toDF.toDF("value"),
      s"$dir/ckpt_t", s"$dir/park_t", write,
      availableNow = false, trigger = "1 seconds")
    try {
      in.addData(1, 2, 3); q2.processAllAvailable()
      in.addData(4, 5); q2.processAllAvailable()
      assert(sizes.toList == List(3L, 2L),
        s"time-bound flush sizes: $sizes")
      assert(readTable(url, "flushed").count() == 2505L)
    } finally q2.stop()
  }

  test("requeue parks while Derby is down and drains into the live table") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val url = derbyUrl()
    val dir = java.nio.file.Files.createTempDirectory("graft_jrq").toString
    val down = new AtomicBoolean(true)
    val write: (DataFrame, Long) => Unit = (df, _) => {
      if (down.get) throw new RuntimeException("db down")
      JdbcSink.writeBatch(df, url, "vals")
    }
    val in = MemoryStream[Int]
    val q = ApmStreaming.sinkWithRequeue(in.toDF.toDF("v"),
      s"$dir/ckpt", s"$dir/park", write,
      availableNow = false, trigger = "1 seconds")
    val w = new ApmStreaming.RequeueWriter(s"$dir/park", write)
    try {
      in.addData(1, 2, 3); q.processAllAvailable()
      assert(w.parkedBatches().nonEmpty, "batch must park while DB is down")
      down.set(false)
      in.addData(4); q.processAllAvailable()
      val got = readTable(url, "vals").as[Int].collect().toList.sorted
      assert(got == List(1, 2, 3, 4), s"rows: $got")
      assert(w.parkedBatches().isEmpty, "park dir must drain")
    } finally q.stop()
  }
}

/** A recording JDBC driver double registered under `jdbc:postgresql:`
  * (no Postgres driver jar exists in this container): reflection proxies
  * over the java.sql interfaces capture executed DDL, prepared INSERT
  * text, batched parameter rows and commits — the complete wire surface
  * [[graft.streaming.JdbcSink.PgStats]] touches. Unhandled interface
  * methods return type defaults (Spark's writer never reaches them on
  * this path; the dialect writer uses plain JDBC).
  */
object PgDriverDouble {
  import java.lang.reflect.{InvocationHandler, Method, Proxy}

  val ddl = new java.util.concurrent.CopyOnWriteArrayList[String]()
  val insertSqls = new java.util.concurrent.CopyOnWriteArrayList[String]()
  val rows = new java.util.concurrent.CopyOnWriteArrayList[Vector[Any]]()
  val commits = new java.util.concurrent.atomic.AtomicInteger(0)

  def reset(): Unit = {
    ddl.clear(); insertSqls.clear(); rows.clear(); commits.set(0)
  }

  private def dflt(m: Method): AnyRef = m.getReturnType match {
    case java.lang.Boolean.TYPE => java.lang.Boolean.FALSE
    case java.lang.Integer.TYPE => Integer.valueOf(0)
    case java.lang.Long.TYPE => java.lang.Long.valueOf(0L)
    case _ => null
  }

  private def proxy[T](cls: Class[T])(
      pf: PartialFunction[(String, Array[AnyRef]), AnyRef]): T =
    Proxy.newProxyInstance(cls.getClassLoader, Array[Class[_]](cls),
      new InvocationHandler {
        def invoke(p: AnyRef, m: Method, args: Array[AnyRef]): AnyRef = {
          val a = if (args == null) Array.empty[AnyRef] else args
          pf.applyOrElse((m.getName, a),
            (_: (String, Array[AnyRef])) => dflt(m))
        }
      }).asInstanceOf[T]

  private def prepared(sql: String): java.sql.PreparedStatement = {
    val params = scala.collection.mutable.Map.empty[Int, Any]
    val pending = scala.collection.mutable.Buffer.empty[Vector[Any]]
    proxy(classOf[java.sql.PreparedStatement]) {
      case ("setObject", a) =>
        params(a(0).asInstanceOf[Integer].intValue) = a(1); null
      case ("addBatch", _) =>
        val w = if (params.isEmpty) 0 else params.keys.max
        pending += (1 to w).map(params.getOrElse(_, null)).toVector
        null
      case ("executeBatch", _) =>
        insertSqls.add(sql)
        pending.foreach(rows.add)
        val r = new Array[Int](pending.size)
        java.util.Arrays.fill(r, 1)
        pending.clear()
        r
    }
  }

  private def statement(): java.sql.Statement =
    proxy(classOf[java.sql.Statement]) {
      case ("executeUpdate", a) =>
        ddl.add(a(0).asInstanceOf[String]); Integer.valueOf(0)
    }

  private def connection(): java.sql.Connection =
    proxy(classOf[java.sql.Connection]) {
      case ("createStatement", a) if a.isEmpty => statement()
      case ("prepareStatement", a) => prepared(a(0).asInstanceOf[String])
      case ("commit", _) => commits.incrementAndGet(); null
    }

  private lazy val registered: Unit = {
    val d = proxy(classOf[java.sql.Driver]) {
      case ("acceptsURL", a) => java.lang.Boolean.valueOf(
        a(0).asInstanceOf[String].startsWith("jdbc:postgresql:"))
      case ("connect", a) =>
        if (a(0).asInstanceOf[String].startsWith("jdbc:postgresql:"))
          connection()
        else null
    }
    java.sql.DriverManager.registerDriver(d)
  }

  def ensureRegistered(): Unit = registered
}
