package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import scala.util.Random
import graft.functions.RefStats
import graft.operators._

/** Spark-level tests: the distributed operators against their pure-Scala
  * reference ports, on small in-memory data.
  */
class SparkOpsSpec extends AnyFunSuite {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.sql.legacy.parquet.nanosAsLong", "true")
    .config("spark.sql.warehouse.dir",
      java.nio.file.Files.createTempDirectory("graft_wh").toString)
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  private val sf = "/root/testdata/sf0.001"

  test("refPercentile column expression == calcPercentileRef") {
    import spark.implicits._
    val rnd = new Random(3)
    val arrays = (1 to 200).map(i =>
      (i.toLong, Vector.fill(rnd.nextInt(15))(rnd.nextDouble() * 1000).sorted))
    val df = arrays.toDF("id", "arr")
    val got = df.select(col("id"),
        RefStats.refPercentile(col("arr"), 0.75).as("p75"),
        RefStats.refPercentile(col("arr"), 0.95).as("p95"))
      .collect().map(r => r.getLong(0) ->
        (Option(r.get(1)).map(_.asInstanceOf[Double]),
          Option(r.get(2)).map(_.asInstanceOf[Double]))).toMap
    arrays.foreach { case (id, a) =>
      assert(got(id)._1 == RefStats.calcPercentileRef(a, 75), s"p75 id=$id")
      assert(got(id)._2 == RefStats.calcPercentileRef(a, 95), s"p95 id=$id")
    }
  }

  test("zScoreFold == per-key loop over zScoreStepRef") {
    import spark.implicits._
    val rnd = new Random(5)
    val rows = for {
      srv <- Seq("s0", "s1"); svc <- Seq("a", "b"); i <- 0 until 40
    } yield (srv, svc, i * 1000L, Some(1.0),
      if (rnd.nextDouble() < 0.15) None else Some(rnd.nextDouble() * 100),
      Some(rnd.nextDouble() * 100), Some(rnd.nextDouble() * 100))
    val df = rows.toDF("server", "service", "ts_ms", "tpm", "average", "per75", "per95")
    val cfg = ZScore.LagCfg(5, 2.0, 0.3)
    val got = ZScore.zScoreFold(df, Seq(cfg))
      .select("server", "service", "ts_ms", "average_avg", "average_signal")
      .collect()
      .map(r => ((r.getString(0), r.getString(1), r.getLong(2)),
        (Option(r.get(3)).map(_.asInstanceOf[Double]), r.getInt(4)))).toMap
    // naive per-key replay
    rows.groupBy(r => (r._1, r._2)).foreach { case ((srv, svc), rs) =>
      val lst = scala.collection.mutable.Queue.empty[Option[Double]]
      rs.sortBy(_._3).foreach { case (_, _, ts, _, a, _, _) =>
        val (infl, avg, _, _, sig) =
          RefStats.zScoreStepRef(cfg.lag, cfg.threshold, cfg.influence, a, lst.toIndexedSeq)
        if (lst.size >= cfg.lag) lst.dequeue()
        lst.enqueue(infl)
        val (gAvg, gSig) = got((srv, svc, ts))
        assert(gAvg == avg && gSig == sig, s"$srv/$svc@$ts")
      }
    }
  }

  test("volumeZScorePrefix == brute-force window over per-bucket counts") {
    import spark.implicits._
    val rnd = new Random(7)
    val interval = 1000L
    // two keys, bursty counts, plus a constant-rate key (σ==0 quirk)
    val rows = (for {
      (srv, svc) <- Seq(("s0", "a"), ("s0", "b"), ("s1", "c")); i <- 0 until 60
      n = if (svc == "c") 2
          else if (rnd.nextDouble() < 0.1) 0
          else 1 + rnd.nextInt(if (i == 45) 50 else 5)
      j <- 0 until n
    } yield (srv + svc + i + "_" + j, srv, svc, i * interval + j, 1.0))
      .toDF("log_id", "server", "service", "end_ms", "elapsed")
    val cfg = ZScore.LagCfg(5, 2.0, 0.0)
    val got = ZScore.volumeZScorePrefix(rows, interval, Seq(cfg))
      .collect().map(r => ((r.getString(0), r.getString(1), r.getLong(2)),
        (r.getLong(4), Option(r.get(5)).map(_.asInstanceOf[Double]), r.getInt(8)))).toMap
    // brute-force replay over the dense count series
    val counts = rows.groupBy(col("server"), col("service"),
        expr(s"end_ms div $interval").as("b"))
      .count().collect()
      .map(r => ((r.getString(0), r.getString(1)), r.getLong(2) -> r.getLong(3)))
      .groupBy(_._1).view.mapValues(_.map(_._2).toMap).toMap
    val allB = 0L until 60L
    var checked = 0
    counts.foreach { case (key, byB) =>
      val series = allB.map(b => byB.getOrElse(b, 0L))
      allB.zipWithIndex.foreach { case (b, i) =>
        val (gN, gAvg, gSig) = got((key._1, key._2, b * interval))
        assert(gN == series(i), s"$key b=$b n")
        if (i < cfg.lag) assert(gAvg.isEmpty && gSig == 0, s"$key b=$b warmup")
        else {
          val w = series.slice(i - cfg.lag, i).map(_.toDouble)
          val m = w.sum / cfg.lag
          val msq = w.map(x => (x - m) * (x - m)).sum / cfg.lag
          assert(gAvg.exists(a => math.abs(a - m) < 1e-9), s"$key b=$b avg")
          val expSig =
            if (msq > 0 && math.abs(series(i) - m) > cfg.threshold * math.sqrt(msq))
              (if (series(i) > m) 1 else -1) else 0
          assert(gSig == expSig, s"$key b=$b sig got=$gSig exp=$expSig")
          checked += 1
        }
      }
    }
    assert(checked > 100)
    // the constant-rate key must never signal (σ==0 ⇒ undefined)
    assert(got.collect { case ((_, "c", _), (_, _, s)) => s }.forall(_ == 0))
  }

  test("histQuantile: approx within ~binW of exact, state bounded by bins") {
    val binW = 4.0
    val rows = ApmStats.histQuantile(spark, sf, binW).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val (n, nBins) = (r.getLong(2), r.getLong(3))
      assert(nBins <= 130, s"state must be bounded by value range/binW: $nBins")
      assert(nBins <= n)
      // midpoint grid: approx values sit on (k+0.5)*binW
      Seq(4, 5).foreach { i =>
        val a = r.getDouble(i) / binW - 0.5
        assert(math.abs(a - math.rint(a)) < 1e-9, s"not a midpoint: ${r.getDouble(i)}")
      }
      assert(r.getDouble(8) == r.getDouble(4) - r.getDouble(6))
    }
    // precise semantic: approx(p) == midpoint of the bin holding the
    // rank-ceil(p*n) order statistic (first bin where cum mass >= p*n).
    // (|err| is NOT binW-bounded in general: the exact formula averages
    // two adjacent order statistics, which in a sparse tail may sit many
    // bins apart — the err columns measure that realized gap.)
    val byKey = graft.Tables.txBase(spark, sf).collect()
      .map(r => ((r.getString(1), r.getString(2)), r.getDouble(4)))
      .groupBy(_._1).view.mapValues(_.map(_._2).sorted).toMap
    rows.foreach { r =>
      val vals = byKey((r.getString(0), r.getString(1)))
      Seq((0.75, 4), (0.95, 5)).foreach { case (p, i) =>
        val rank = math.ceil(p * vals.length).toInt
        val expBin = math.floor(vals(rank - 1) / binW)
        assert(r.getDouble(i) == (expBin + 0.5) * binW,
          s"${r.getString(0)}/${r.getString(1)} p=$p")
      }
    }
  }

  test("pagerank: closed mass, teleport floor, degree-monotone on cliques") {
    val rows = Dedup.pagerank(spark, sf, iters = 8).collect()
    assert(rows.nonEmpty, "LSH graph at sf0.001 must have edges")
    val n = rows.length
    // no dangling nodes => power iteration conserves total mass exactly
    val mass = rows.map(_.getDouble(2)).sum
    assert(math.abs(mass - 1.0) < 1e-9, s"mass $mass")
    // every rank is strictly above the damped teleport floor
    rows.foreach { r =>
      assert(r.getDouble(2) > 0.15 / n * 0.999, r.toString)
      assert(r.getLong(1) >= 1)
    }
  }

  test("slidingHistQuantile: per-window approx == bin of rank-ceil(p*n) value") {
    val (interval, winN, binW) = (600000L, 30, 4.0)
    val ev = graft.Tables.txBase(spark, sf).collect()
      .map(r => ((r.getString(1), r.getString(2)),
        r.getLong(3) / interval, r.getDouble(4)))
    val byKey = ev.groupBy(_._1)
    val got = ApmStats.slidingHistQuantile(spark, sf, interval, winN, binW)
      .collect().map(r => ((r.getString(0), r.getString(1), r.getLong(2)),
        (r.getLong(3), r.getDouble(4), r.getDouble(5)))).toMap
    var checked = 0
    byKey.foreach { case (key, rows) =>
      val buckets = rows.map(_._2)
      (buckets.min to buckets.max).foreach { w =>
        val vals = rows.filter(r => r._2 > w - winN && r._2 <= w).map(_._3).sorted
        got.get((key._1, key._2, w * interval)) match {
          case None => assert(vals.isEmpty, s"$key w=$w missing")
          case Some((n, a75, a95)) =>
            assert(n == vals.length, s"$key w=$w n")
            Seq((0.75, a75), (0.95, a95)).foreach { case (p, a) =>
              val rank = math.ceil(p * vals.length).toInt
              val expBin = math.floor(vals(rank - 1) / binW)
              assert(a == (expBin + 0.5) * binW, s"$key w=$w p=$p")
            }
            checked += 1
        }
      }
    }
    assert(checked > 500)
  }

  test("madOutliers == brute per-key median/MAD replay") {
    val k = 3.0
    val got = ZScore.madOutliers(spark, sf, k).collect()
      .map(r => ((r.getString(0), r.getString(1)),
        (r.getLong(2), r.getDouble(3), r.getDouble(4), r.getLong(5)))).toMap
    val byKey = graft.Tables.txBase(spark, sf).collect()
      .map(r => ((r.getString(1), r.getString(2)), r.getDouble(4)))
      .groupBy(_._1).view.mapValues(_.map(_._2)).toMap
    assert(got.keySet == byKey.keySet)
    byKey.foreach { case (key, vals) =>
      val med = RefStats.calcPercentileRef(vals.sorted.toIndexedSeq, 50).get
      val devs = vals.map(v => math.abs(v - med))
      val mad = RefStats.calcPercentileRef(devs.sorted.toIndexedSeq, 50).get
      val nOut = if (mad > 0) devs.count(_ > k * mad).toLong else 0L
      val (gN, gMed, gMad, gOut) = got(key)
      assert(gN == vals.length && gMed == med && gMad == mad && gOut == nOut,
        s"$key got=${got(key)} exp=($med,$mad,$nOut)")
    }
  }

  test("temperatureMix: tempered shares normalize and damp toward uniform") {
    val rows = Curation.temperatureMix(spark, sf).collect()
      .map(r => (r.getString(0), r.getDouble(2), r.getDouble(3)))
    assert(rows.length > 1)
    assert(math.abs(rows.map(_._2).sum - 1.0) < 1e-9, "raw shares sum")
    assert(math.abs(rows.map(_._3).sum - 1.0) < 1e-9, "tempered shares sum")
    // alpha<1 damping: every head source (share above uniform) loses
    // share, every tail source gains — order preserved
    val n = rows.length
    rows.foreach { case (src, raw, temp) =>
      if (raw > 1.0 / n) assert(temp < raw, s"$src head must damp")
      if (raw < 1.0 / n) assert(temp > raw, s"$src tail must boost")
    }
    val byRaw = rows.sortBy(_._2).map(_._1).toSeq
    val byTemp = rows.sortBy(_._3).map(_._1).toSeq
    assert(byRaw == byTemp, "temperature preserves source ordering")
  }

  test("alerts two-phase fold == interleaved reference fold") {
    import spark.implicits._
    val rnd = new Random(13)
    val rows = (0 until 400).map { i =>
      (s"srv${rnd.nextInt(2)}", s"svc${rnd.nextInt(3)}", Seq(6, 144)(rnd.nextInt(2)),
        i * 1000L, if (rnd.nextDouble() < 0.55) 1 else 0)
    }.map { case (srv, svc, lag, ts, bad) =>
      (srv, svc, lag, ts, bad, if (bad == 1) "cause" else "")
    }
    val cfg = Alerts.AlertCfg(windowSz = 8, voteThreshold = 4, cooldownMs = 20000L)
    val df = rows.toDF("server", "service", "lag", "ts_ms", "bad", "causes")
    val got = Alerts.alerts(df, cfg)
      .collect().map(r => (r.getLong(0), r.getString(1), r.getString(2), r.getInt(3), r.getString(4)))
      .sortBy(r => (r._1, r._2, r._4))
    val exp = Alerts.alertsRef(rows.map(r => (r._1, r._2, r._3, r._4, r._5 == 1, r._6)), cfg)
      .sortBy(r => (r._1, r._2, r._4))
    assert(got.toSeq == exp)
  }

  test("alertsFull == fired set + byte-assembled al entry per alert") {
    import spark.implicits._
    // candidates-shaped frame: two services, 30 intervals, a consecutive
    // bad run so the vote counter fires; per95 None exercises the ""
    // null rendering inside the nested fs block
    val rows = for {
      svc <- Seq("svcA", "svcB"); i <- 0 until 30
    } yield ("srv0", svc, 6, i * 10000L, 1.0 + i,
      100.0 + i, Some(90.0), Some(85.0), Some(95.0), 0,
      110.0 + i, Some(91.0), Some(86.0), Some(96.0), 1,
      if (i % 3 == 0) None: Option[Double] else Some(120.0 + i),
      Some(92.0), Some(87.0), Some(97.0), 0)
    val base = rows.toDF("server", "service", "lag", "ts_ms", "tpm",
      "average", "average_avg", "average_lb", "average_ub", "average_signal",
      "per75", "per75_avg", "per75_lb", "per75_ub", "per75_signal",
      "per95", "per95_avg", "per95_lb", "per95_ub", "per95_signal")
    val cand = base
      .withColumn("causes", when(col("ts_ms") < 100000L, lit("cause")).otherwise(lit("")))
      .withColumn("bad", (col("causes") =!= "").cast("int"))
    val cfg = Alerts.AlertCfg(windowSz = 5, voteThreshold = 3, cooldownMs = 25000L)
    val fired = Alerts.alerts(cand, cfg).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2), r.getInt(3), r.getString(4)))
      .toSet
    assert(fired.nonEmpty, "fixture produced no alerts")
    val full = Alerts.alertsFull(cand, cfg).collect()
    assert(full.map(r => (r.getLong(0), r.getString(1), r.getString(2),
      r.getInt(3), r.getString(4))).toSet == fired)
    full.foreach { r =>
      val entry = r.getString(5)
      val p = entry.split("\\|", -1)
      assert(p(0) == "al" && p(1).toLong == r.getLong(0) &&
        p(2).toLong == r.getLong(0) && p(3) == r.getString(1) &&
        p(4) == r.getString(2) && p(5) == r.getString(4), entry)
      val nested = p(6).replace('&', '|').split("\\|", -1)
      assert(nested(0) == "fs" && nested(1).toLong == r.getLong(0) &&
        nested(4).toInt == r.getInt(3), entry)
      // per95 None on every 3rd interval renders as "" in its z-block
      val p95block = nested(8).split(":", -1)
      val i = (r.getLong(0) / 10000L).toInt
      assert((p95block(0) == "") == (i % 3 == 0), entry)
    }
  }

  test("zScoreFold == zScoreWindowed when no signal fires (no feedback)") {
    import spark.implicits._
    val rnd = new Random(29)
    val rows = for {
      srv <- Seq("s0", "s1"); svc <- Seq("a", "b"); i <- 0 until 50
    } yield (srv, svc, i * 1000L, Some(1.0),
      Some(rnd.nextDouble() * 100), Some(rnd.nextDouble() * 100),
      Some(rnd.nextDouble() * 100))
    val df = rows.toDF("server", "service", "ts_ms", "tpm", "average", "per75", "per95")
    // threshold so large that |x-avg| can never exceed t*sd -> influence
    // feedback never engages -> both variants see identical raw windows.
    val cfg = ZScore.LagCfg(lag = 7, threshold = 1e9, influence = 0.9)
    val cols = Seq("server", "service", "ts_ms", "average_avg", "average_lb",
      "per75_avg", "per95_avg", "average_signal")
    def canon(d: org.apache.spark.sql.DataFrame) =
      d.select(cols.head, cols.tail: _*).collect()
        .map(r => (r.getString(0), r.getString(1), r.getLong(2)) ->
          cols.drop(3).indices.map(i => Option(r.get(i + 3))).toList)
        .toMap
    val a = canon(ZScore.zScoreFold(df, Seq(cfg)))
    val b = canon(ZScore.zScoreWindowed(df, Seq(cfg)))
    assert(a.size == b.size && a.keySet == b.keySet)
    a.foreach { case (k, v) => assert(v == b(k), s"$k") }
  }

  test("vec_sum == aggregate((a,x)=>a+x) HOF fold, bit-exact incl. empty") {
    import spark.implicits._
    val rnd = new Random(41)
    // mixed magnitudes + signs so accumulation ORDER matters in the ulps
    val arrays = (1 to 300).map(i => (i.toLong,
      Seq.fill(rnd.nextInt(40))(
        (rnd.nextDouble() - 0.3) * math.pow(10, rnd.nextInt(6)))))
    val df = arrays.toDF("id", "arr")
    val got = df.select(col("id"),
        graft.functions.VecOps.vec_sum(col("arr")).as("native"),
        aggregate(col("arr"), lit(0.0), (a, x) => a + x).as("hof"))
      .collect()
    assert(got.length == 300)
    got.foreach { r =>
      assert(java.lang.Double.doubleToLongBits(r.getDouble(1)) ==
        java.lang.Double.doubleToLongBits(r.getDouble(2)),
        s"id=${r.getLong(0)}: native=${r.getDouble(1)} hof=${r.getDouble(2)}")
    }
  }

  test("vec_sum nulls on a null element like the HOF fold, interpreted == codegen") {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types._
    val schema = StructType(Seq(StructField("id", LongType),
      StructField("arr", ArrayType(DoubleType, containsNull = true))))
    val df = spark.createDataFrame(spark.sparkContext.parallelize(Seq(
      Row(1L, Seq(1.5, null, 2.0)), Row(2L, Seq(1.5, 2.0)), Row(3L, null),
      Row(4L, Seq.empty[Double]), Row(5L, Seq(null)))), schema)
    def run(codegen: Boolean): Seq[(Long, Option[Double], Option[Double])] = {
      spark.conf.set("spark.sql.codegen.factoryMode",
        if (codegen) "CODEGEN_ONLY" else "NO_CODEGEN")
      spark.conf.set("spark.sql.codegen.wholeStage", codegen.toString)
      try df.select(col("id"),
          graft.functions.VecOps.vec_sum(col("arr")),
          aggregate(col("arr"), lit(0.0), (a, x) => a + x))
        .collect().toSeq
        .map(r => (r.getLong(0), Option(r.get(1)).map(_.asInstanceOf[Double]),
          Option(r.get(2)).map(_.asInstanceOf[Double])))
        .sortBy(_._1)
      finally {
        spark.conf.unset("spark.sql.codegen.factoryMode")
        spark.conf.unset("spark.sql.codegen.wholeStage")
      }
    }
    val interpreted = run(codegen = false)
    assert(interpreted == run(codegen = true))
    assert(interpreted.map(r => r._1 -> r._2) == Seq(1L -> None, 2L -> Some(3.5),
      3L -> None, 4L -> Some(0.0), 5L -> None))
    interpreted.foreach(r => assert(r._2 == r._3, s"id=${r._1}: native vs HOF"))
  }

  test("zScoreWindowed stacked lags == union of single-lag evaluations") {
    // r15 restructured zScoreWindowed from union-per-lag to a stacked
    // explode; a single-lag call degenerates to the old per-branch
    // computation, so unioning single-lag calls IS the former shape.
    import spark.implicits._
    val rnd = new Random(57)
    val rows = for {
      srv <- Seq("s0", "s1"); svc <- Seq("purchase", "click"); i <- 0 until 60
    } yield (srv, svc, i * 1000L, Some(rnd.nextDouble()),
      if (rnd.nextInt(10) == 0) None else Some(rnd.nextDouble() * 100),
      Some(rnd.nextDouble() * 100), Some(rnd.nextDouble() * 100))
    val df = rows.toDF("server", "service", "ts_ms", "tpm",
      "average", "per75", "per95")
    val lags = Seq(ZScore.LagCfg(4, 2.0, 0.5), ZScore.LagCfg(12, 1.5, 0.0))
    // exercise the per-(service, lag) threshold override join too
    val ovr = Seq(ZScore.ZOverride("purchase", 4, threshold = Some(0.5)),
      ZScore.ZOverride("click", 12, threshold = Some(3.0)))
    def canon(d: org.apache.spark.sql.DataFrame): Seq[String] = {
      val cols = d.columns.sorted.toIndexedSeq
      d.select(cols.map(col): _*).collect().map(_.toString).sorted.toSeq
    }
    val stacked = canon(ZScore.zScoreWindowed(df, lags, ovr))
    val unioned = canon(lags.map(l => ZScore.zScoreWindowed(df, Seq(l), ovr))
      .reduce(_.unionAll(_)))
    assert(stacked.nonEmpty && stacked == unioned)
  }

  test("zScoreWindowed rejects duplicate lag values, naming them") {
    // the stacked per-lag columns are keyed on the lag value, so two
    // configs with the same lag (even with different thresholds) must
    // fail at the call, not alias each other's columns
    import spark.implicits._
    val df = Seq(("s0", "svc", 0L, Some(1.0), Some(1.0), Some(1.0), Some(1.0)))
      .toDF("server", "service", "ts_ms", "tpm", "average", "per75", "per95")
    val lags = List(ZScore.LagCfg(4, 2.0, 0.5), ZScore.LagCfg(12, 1.5, 0.0),
      ZScore.LagCfg(4, 3.0, 0.0))
    val e = intercept[IllegalArgumentException](ZScore.zScoreWindowed(df, lags))
    assert(e.getMessage == "requirement failed: zScoreWindowed requires " +
      "distinct lag values, got List(4, 12, 4)")
  }

  test("q29 window census == EXISTS/NOT-EXISTS semi+anti reference") {
    // r15 replaced the semi+anti self-join pair with a per-order window
    // census; this pins the equivalence against the declared join form.
    val got = Relational.q29WaitingSupplier(spark, sf).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val li0 = graft.Tables.load(spark, sf, "lineitem")
    val ord0 = graft.Tables.load(spark, sf, "orders")
    val day90Ms = 90L * 86400000L
    val li = li0.select(col("l_orderkey"), col("l_suppkey"),
      graft.Tables.colMillis(li0, "l_shipdate").as("ship_ms"))
    val ord = ord0.select(col("o_orderkey"),
      graft.Tables.colMillis(ord0, "o_orderdate").as("odate_ms"))
    val withLate = li.join(ord, col("l_orderkey") === col("o_orderkey"))
      .withColumn("late",
        (col("ship_ms") > col("odate_ms") + day90Ms).cast("int"))
      .select("l_orderkey", "l_suppkey", "late")
    val other = withLate.select(col("l_orderkey").as("o_k"),
      col("l_suppkey").as("o_s"), col("late").as("o_late"))
    val ref = withLate.filter(col("late") === 1)
      .join(other,
        col("l_orderkey") === col("o_k") && col("l_suppkey") =!= col("o_s"),
        "left_semi")
      .join(other.filter(col("o_late") === 1),
        col("l_orderkey") === col("o_k") && col("l_suppkey") =!= col("o_s"),
        "left_anti")
      .groupBy(col("l_suppkey")).agg(count(lit(1)).as("numwait"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got.nonEmpty && got == ref)
  }

  test("multimodal: parsed container fields invert the synthesis params") {
    val decoded = Multimodal.decodeAll(spark, sf)
      .collect().map(f => f.doc_id -> f).toMap
    assert(decoded.nonEmpty)
    decoded.values.foreach { f =>
      f.doc_id % 3 match {
        case 0 =>
          assert(f.container == "bmp")
          assert(f.width == (f.doc_id % 64).toInt + 1)
          assert(f.height == (f.doc_id % 48).toInt + 1)
          assert(f.n_frames == 1L && f.sample_rate == 0)
        case 1 =>
          assert(f.container == "wav")
          assert(f.sample_rate == 8000 + (f.doc_id % 8).toInt * 1000)
          assert(f.n_frames == (f.doc_id % 1000) + 1)
          assert(f.width == 0 && f.height == 0)
        case _ =>
          assert(f.container == "y4m")
          assert(f.width == 2 * ((f.doc_id % 16).toInt + 1))
          assert(f.height == 2 * ((f.doc_id % 12).toInt + 1))
          assert(f.n_frames == (f.doc_id % 24) + 1)
      }
    }
  }

  test("s6 stats jsonb column: exact byte shape of toPostgresObject") {
    // entries.js:120-151 — 15 lowercase keys in declaration order;
    // nulls explicit (ignoreNullFields=false), doubles shortest-decimal
    val df = spark.range(1).selectExpr(
      "cast(100.5 as double) as average", "cast(101.25 as double) as average_avg",
      "cast(90.0 as double) as average_lb", "cast(null as double) as average_ub",
      "0 as average_signal",
      "cast(1.5 as double) as per75", "cast(2.5 as double) as per75_avg",
      "cast(3.5 as double) as per75_lb", "cast(4.5 as double) as per75_ub",
      "1 as per75_signal",
      "cast(5.5 as double) as per95", "cast(6.5 as double) as per95_avg",
      "cast(7.5 as double) as per95_lb", "cast(8.5 as double) as per95_ub",
      "0 as per95_signal")
    val js = df.select(graft.operators.Alerts.statsJsonCol.as("j"))
      .head.getString(0)
    assert(js ==
      """{"average":100.5,"averageavg":101.25,"averagelb":90.0,""" +
      """"averageub":null,"averagesignal":0,""" +
      """"per75":1.5,"per75avg":2.5,"per75lb":3.5,"per75ub":4.5,"per75signal":1,""" +
      """"per95":5.5,"per95avg":6.5,"per95lb":7.5,"per95ub":8.5,"per95signal":0}""",
      js)
  }

  test("poly_hash expression == reference fold, with codegen") {
    import spark.implicits._
    import graft.functions.PolyHash.poly_hash
    val strs = Seq("", "a", "abc def", "the quick brown fox", "x" * 500)
    val got = strs.toDF("s").select(poly_hash(col("s")).as("h"))
      .collect().map(_.getLong(0))
    val exp = strs.map { s =>
      var h = 0L; s.foreach(c => h = (h * 31 + c) % 1000000007L); h
    }
    assert(got.toSeq == exp)
  }

  test("JaccardJoinRewrite preserves the naive join's exact multiset") {
    import spark.implicits._
    import graft.functions.JaccardSim.jaccard_sim
    if (!spark.experimental.extraOptimizations.contains(
        graft.plans.JaccardJoinRewrite))
      spark.experimental.extraOptimizations =
        spark.experimental.extraOptimizations :+ graft.plans.JaccardJoinRewrite
    val rnd = new Random(11)
    // distinct-element long arrays with engineered overlap, plus a fully
    // DUPLICATED row (id 3): multiplicity must survive the rewrite
    val base = (1L to 30L).map { id =>
      val pool = (0L until 40L).map(x => x * 7L + (id % 5))
      (id, rnd.shuffle(pool).take(20 + rnd.nextInt(15)).toArray)
    }
    val rows = base :+ base(2)
    val df = rows.toDF("id", "sh")
    val t = 0.25
    // inline array_distinct is the documented opt-in for arrays the rule
    // can't trace to ShingleHashes (a LocalRelation's projections are
    // constant-folded away before extraOptimizations run, so an aliased
    // array_distinct would leave no provenance) — a value no-op here
    // since the fixture arrays are already distinct
    val joined = df.as("a").join(df.as("b"),
        col("a.id") < col("b.id") &&
          jaccard_sim(array_distinct(col("a.sh")),
            array_distinct(col("b.sh"))) >= t)
      .select(col("a.id").as("id_a"), col("b.id").as("id_b"))
    // the rewrite must actually be exercised
    val p = joined.queryExecution.executedPlan.toString
    assert(p.contains("Generate explode") && !p.contains("NestedLoop"), p)
    def jac(a: Array[Long], b: Array[Long]): Double = {
      val inter = a.toSet.intersect(b.toSet).size
      inter.toDouble / (a.length + b.length - inter)
    }
    val expected = (for {
      (ia, sa) <- rows; (ib, sb) <- rows
      if ia < ib && jac(sa, sb) >= t
    } yield (ia, ib)).sorted
    val got = joined.collect().map(r => (r.getLong(0), r.getLong(1))).toSeq.sorted
    assert(got == expected,
      s"got ${got.size} pairs, expected ${expected.size}")
    assert(expected.nonEmpty && expected.size > expected.distinct.size,
      "fixture must exercise duplicate-row multiplicity")
  }

  test("JaccardJoinRewrite leaves duplicate-bearing arrays un-rewritten") {
    import spark.implicits._
    import graft.functions.JaccardSim.jaccard_sim
    if (!spark.experimental.extraOptimizations.contains(
        graft.plans.JaccardJoinRewrite))
      spark.experimental.extraOptimizations =
        spark.experimental.extraOptimizations :+ graft.plans.JaccardJoinRewrite
    // off-contract inputs (duplicate elements): the rule must NOT fire —
    // the declared theta-join's own semantics are the ground truth
    val rows = Seq(
      (1L, Array(5L)), (2L, Array(5L, 5L, 5L)), (3L, Array(5L, 6L)),
      (4L, Array(6L, 6L, 7L)))
    val df = rows.toDF("id", "sh")
    val t = 0.9
    val joined = df.as("a").join(df.as("b"),
        col("a.id") < col("b.id") &&
          jaccard_sim(col("a.sh"), col("b.sh")) >= t)
      .select(col("a.id").as("id_a"), col("b.id").as("id_b"))
    val p = joined.queryExecution.executedPlan.toString
    assert(!p.contains("Generate explode"), p)
    def jacRaw(a: Array[Long], b: Array[Long]): Double = {
      val set = a.toSet
      val inter = b.count(set.contains)
      if (a.isEmpty || b.isEmpty) 0.0
      else inter.toDouble / (a.length + b.length - inter)
    }
    val expected = (for {
      (ia, sa) <- rows; (ib, sb) <- rows
      if ia < ib && jacRaw(sa, sb) >= t
    } yield (ia, ib)).sorted
    val got = joined.collect().map(r => (r.getLong(0), r.getLong(1))).toSeq.sorted
    assert(got == expected, s"got $got expected $expected")
    // the fixture includes the pair the old size bound silently dropped
    assert(expected.contains((1L, 2L)))
  }

  test("connectedComponents: chains, stars, singletons, merge order") {
    import spark.implicits._
    // component A: a long chain (tests multi-round convergence /
    // pointer jumping), B: a star centred high with low leaf, C: two
    // chains merged by one cross edge, plus singletons 100, 101
    val edges = Seq(
      (1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L), (5L, 6L), (6L, 7L), // chain
      (50L, 51L), (50L, 52L), (50L, 10L),                         // star
      (20L, 21L), (22L, 23L), (21L, 22L)                          // merged
    )
    val nodes = (edges.flatMap(e => Seq(e._1, e._2)) ++ Seq(100L, 101L))
      .distinct.toDF("doc_id")
    val got = Dedup.connectedComponents(nodes, edges.toDF("id_a", "id_b"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val expected = Map(
      1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L, 5L -> 1L, 6L -> 1L, 7L -> 1L,
      50L -> 10L, 51L -> 10L, 52L -> 10L, 10L -> 10L,
      20L -> 20L, 21L -> 20L, 22L -> 20L, 23L -> 20L,
      100L -> 100L, 101L -> 101L)
    assert(got == expected, got.toSeq.sorted.mkString(", "))
  }

  test("k-means reaches an exact fixpoint on the test embeddings") {
    val vecs = spark.read
      .parquet("/root/testdata/sf0.001/embeddings.parquet")
      .select(col("vec_id"),
        transform(col("embedding"), x => x.cast("double")).as("v"))
    val (cents, iters, moved) = Similarity.kmeansConverged(vecs, maxIters = 25)
    assert(moved == 0.0, s"no fixpoint: moved=$moved after $iters iters")
    assert(iters < 25, s"hit maxIters: $iters")
    val nCells = cents.count()
    assert(nCells >= 2 && nCells <= Similarity.IvfCells, s"cells=$nCells")
    // a fixpoint must survive one more assign+refine round untouched
    val (cents2, iters2, moved2) =
      Similarity.kmeansConverged(vecs, maxIters = 25)
    assert(iters2 == iters && moved2 == 0.0)
  }

  test("kmv_sketch aggregate == relational distinct k-min, with duplicates") {
    import org.apache.spark.sql.functions._
    import graft.functions.KmvSketch.kmv_sketch
    // duplicated + shuffled values: the sketch must dedup exactly like
    // DISTINCT and survive partial/final merge across partitions
    val vals = (1L to 1000L).flatMap(v => Seq(v * 7919 % 104729, v * 7919 % 104729))
    val df = spark.createDataFrame(
      spark.sparkContext.parallelize(vals.map(Tuple1(_)), 7)
        .map(t => org.apache.spark.sql.Row(t._1)),
      org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("h",
          org.apache.spark.sql.types.LongType, nullable = false))))
    val k = 64
    val sketch = df.agg(kmv_sketch(col("h"), k)).head.getSeq[Long](0)
    val expected = vals.distinct.sorted.take(k)
    assert(sketch == expected)
    // k larger than the distinct count → the whole distinct set
    val all = df.agg(kmv_sketch(col("h"), 100000)).head.getSeq[Long](0)
    assert(all == vals.distinct.sorted)
  }

  test("BPE merge fold: greedy left-to-right, overlapping runs") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    // "aaa" + (a,a): first two merge, the merged symbol must NOT re-merge
    // with the trailing 'a' (non-overlapping greedy application)
    val cases = Seq(
      (Seq("a", "a", "a"), "a", "a", Seq("aa", "a")),
      (Seq("a", "a", "a", "a"), "a", "a", Seq("aa", "aa")),
      (Seq("x", "a", "b", "a", "b", "y"), "a", "b", Seq("x", "ab", "ab", "y")),
      (Seq("a"), "a", "a", Seq("a")),
      (Seq.empty[String], "a", "a", Seq.empty[String]))
    cases.foreach { case (in, l, r, want) =>
      val got = Seq(Tuple1(in)).toDF("syms")
        .select(graft.operators.TextAnalysis.applyMerge(col("syms"), l, r))
        .head.getSeq[String](0)
      assert(got == want, s"in=$in merge=($l,$r) got=$got want=$want")
    }
  }

  test("BPE trainer == sequential reference implementation") {
    import org.apache.spark.sql.functions._
    // third independent implementation (pure Scala, no Spark/DuckDB):
    // classic greedy BPE over the same word-frequency table
    val freqs: Map[String, Long] = spark.read
      .parquet(s"$sf/documents.parquet").select(col("text")).collect()
      .flatMap(_.getString(0).trim.toLowerCase.split("\\s+"))
      .groupBy(identity).map { case (w, g) => w -> g.length.toLong }
    var vocab: Map[Vector[String], Long] =
      freqs.map { case (w, f) => w.split("").toVector -> f }
    val want = scala.collection.mutable.Buffer.empty[(Long, String, String, Long)]
    for (round <- 0 until 8) {
      val pc = scala.collection.mutable.Map.empty[(String, String), Long]
      vocab.foreach { case (syms, f) =>
        syms.sliding(2).filter(_.size == 2).foreach { p =>
          pc((p(0), p(1))) = pc.getOrElse((p(0), p(1)), 0L) + f
        }
      }
      val ((l, r), cnt) = pc.minBy { case ((a, b), c) => (-c, a, b) }
      want += ((round.toLong, l, r, cnt))
      vocab = vocab.groupMapReduce { case (syms, _) =>
        syms.foldLeft(Vector.empty[String]) { (acc, x) =>
          if (acc.nonEmpty && acc.last == l && x == r)
            acc.init :+ (l + r)
          else acc :+ x
        }
      } { case (_, f) => f } (_ + _)
    }
    val got = graft.operators.TextAnalysis.bpeTrain(spark, sf).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2), r.getLong(3)))
      .toSeq.sortBy(_._1)
    assert(got == want.toSeq, s"got=$got\nwant=$want")
  }

  test("cmsTopk: count-min guarantee holds corpus-wide (est >= exact, " +
    "exact counts correct)") {
    // probe EVERY word (k larger than the vocabulary), not just the
    // top-k slice the registered query emits
    val rows = TextAnalysis.cmsTopk(spark, sf, k = 1000000).collect()
    val freqs: Map[String, Long] = spark.read
      .parquet(s"$sf/documents.parquet").select(col("text")).collect()
      .flatMap(_.getString(0).trim.toLowerCase.split("\\s+"))
      .groupBy(identity).map { case (w, g) => w -> g.length.toLong }
    assert(rows.length == freqs.size, s"${rows.length} vs ${freqs.size}")
    rows.foreach { r =>
      val (w, exact, est, over) =
        (r.getString(r.fieldIndex("w")), r.getLong(r.fieldIndex("exact_cnt")),
          r.getLong(r.fieldIndex("est_cnt")),
          r.getLong(r.fieldIndex("overestimate")))
      assert(exact == freqs(w), s"exact count wrong for '$w'")
      assert(est >= exact && over == est - exact, s"CMS bound violated for '$w'")
    }
  }

  test("rankSelect == element at rank of the fully sorted value list") {
    // cast before collecting: testdata regenerates per round with
    // physical-type drift, and a bare getLong pins the parquet type
    val vals = spark.read.parquet(s"$sf/documents.parquet")
      .select(col("n_chars").cast("long")).collect().map(_.getLong(0)).sorted
    val got = TextAnalysis.rankSelect(spark, sf).collect()
      .map(r => r.getInt(r.fieldIndex("p")) ->
        (r.getLong(r.fieldIndex("quantile")), r.getLong(r.fieldIndex("rank"))))
      .toMap
    Seq(50, 90, 99).foreach { p =>
      val k = (vals.length - 1).toLong * p / 100
      assert(got(p) == (vals(k.toInt), k), s"p=$p")
    }
  }

  test("seasonalDecompose == brute per-key loop; additive identity holds") {
    val (interval, period) = (600000L, 144)
    val ev = graft.Tables.txBase(spark, sf).collect()
      .map(r => ((r.getString(1), r.getString(2)), r.getLong(3) / interval))
    val keys = ev.map(_._1).distinct
    val (mn, mx) = (ev.map(_._2).min, ev.map(_._2).max)
    val cnts = ev.groupBy(identity).map { case (k, v) => k -> v.length.toLong }
    val got = ApmStats.seasonalDecompose(spark, sf, interval, period)
      .collect().map(r => ((r.getString(0), r.getString(1), r.getLong(2)),
        (r.getLong(3), r.getDouble(4), r.getDouble(5), r.getDouble(6)))).toMap
    assert(got.size == keys.length * (mx - mn + 1 - (period - 1)),
      s"full-window row count ${got.size}")
    var checked = 0
    keys.foreach { key =>
      val series = (mn to mx).map(b => cnts.getOrElse((key, b), 0L)).toArray
      // integer-exact brute: trailing-window sums, then per-phase means
      val trendNum = series.indices.drop(period - 1).map(i =>
        (i - period + 1 to i).map(series).sum)
      val detNum = trendNum.zipWithIndex.map { case (tn, j) =>
        period * series(j + period - 1) - tn }
      val byPhase = detNum.zipWithIndex
        .groupBy { case (_, j) => (mn + j + period - 1) % period }
      byPhase.foreach { case (phase, ds) =>
        val sNum = ds.map(_._1).sum
        ds.foreach { case (dn, j) =>
          val b = mn + j + period - 1
          val (cnt, trend, seas, resid) = got((key._1, key._2, b * interval))
          assert(cnt == series(j + period - 1), s"$key b=$b cnt")
          assert(trend == trendNum(j).toDouble / period, s"$key b=$b trend")
          assert(seas == sNum.toDouble / (period.toDouble * ds.length),
            s"$key b=$b seasonal")
          // additive identity: the three parts re-assemble the series
          assert(math.abs((trend + seas + resid) - cnt) < 1e-9,
            s"$key b=$b identity")
          checked += 1
        }
      }
    }
    assert(checked > 1000)
  }

  test("NfcNormalize: composes combining sequences, identity on composed, " +
      "null-safe; unicodeRepair recovers planted ground truth") {
    import graft.functions.NfcNormalize.nfc_normalize
    import spark.implicits._
    val rows = Seq(
      ("cafe\u0301", "caf\u00e9"),   // decomposed -> composed
      ("caf\u00e9", "caf\u00e9"),    // already composed: identity
      ("plain ascii", "plain ascii"),
      ("A\u030a", "\u00c5"))         // A + ring -> Angstrom A
    rows.foreach { case (in, want) =>
      val got = Seq(Tuple1(in)).toDF("s")
        .select(nfc_normalize(col("s"))).head.getString(0)
      assert(got == want, s"NFC($in)")
    }
    val n = Seq(Tuple1(null.asInstanceOf[String])).toDF("s")
      .select(nfc_normalize(col("s"))).head
    assert(n.isNullAt(0), "null propagates")
    // planted-truth invariants of the registered t23 query at test scale
    val r = TextAnalysis.unicodeRepair(spark, sf)
      .agg(sum("repair_exact"), sum("nfc_changed"), sum("n_ctl_stripped"),
        sum("n_moji_residue"), count(lit(1))).head
    val total = r.getLong(4)
    assert(r.getLong(0) == total, "every doc repairs to its expected text")
    assert(r.getLong(1) == (0L until total).count(_ % 3 == 0),
      "NFC fires exactly on the combining-plant docs")
    assert(r.getLong(2) == (0L until total).count(_ % 5 == 0),
      "one control char stripped per BEL-plant doc")
    assert(r.getLong(3) == (0L until total).count(_ % 7 == 0),
      "one residue char per out-of-table-plant doc")
  }

  test("suffixRuns: planted fixture — maximal runs, boundaries, sub-k runs") {
    import spark.implicits._
    val R = (0 until 40).map(i => s"r$i").mkString(" ")   // 40-token run
    val S = (0 until 12).map(i => s"s$i").mkString(" ")   // exactly minRun
    val T = (0 until 11).map(i => s"t$i").mkString(" ")   // minRun - 1
    val U = (0 until 7).map(i => s"u$i").mkString(" ")    // below k=8
    val docs = Seq(
      (0L, s"f0 f1 f2 $R $S"),            // run starts at 3; S at 43
      (1L, s"g0 g1 g2 g3 g4 g5 $R x0"),   // run starts at 6 (offset -3)
      (2L, s"h0 h1 $S y0 $U"),            // S at 2; U below gram size
      (3L, s"$T z0 $U"),                  // T sub-minRun, U sub-k
      (4L, s"w0 $T"))                     // T at 1 vs doc 3's 0
      .toDF("doc_id", "text")
    docs.withColumn("lang", lit("en")).withColumn("source", lit("src"))
      .withColumn("n_chars", length(col("text")).cast("long"))
      .write.mode("overwrite")
      .parquet(java.nio.file.Files.createTempDirectory("graft_d10")
        .resolve("documents.parquet").toString match { case p0 =>
          val d = new java.io.File(p0).getParentFile.getAbsolutePath
          sys.props.put("graft.d10.fixture", d); p0 })
    val dir = sys.props("graft.d10.fixture")
    val got = Dedup.suffixRuns(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4))).toSet
    // the 40-token run offset by 3 words (defeats a fixed 16-word
    // stride: no stride boundary aligns across the two docs) comes back
    // as ONE maximal run; the 12-token run sits exactly on minRun; the
    // 11-token and 7-token overlaps are rejected by minRun and gram
    // size respectively.
    assert(got == Set((0L, 1L, 3L, 6L, 40L), (0L, 2L, 43L, 2L, 12L)),
      s"got $got")
  }

  test("suffixRuns == brute-force string-equality maximal runs (sf corpus)") {
    val k = 8
    val minRun = 12
    val docsArr = spark.read.parquet(s"$sf/documents.parquet")
      .select("doc_id", "text").collect()
      .map(r => r.getLong(0) ->
        r.getString(1).trim.toLowerCase.replaceAll("\\s+", " ").split(" "))
      .sortBy(_._1)
    // candidate pairs: docs sharing at least one k-gram STRING (so the
    // brute side is hash-free — it independently checks PolyHash
    // collisions never inflated a run on this corpus)
    val gmap = scala.collection.mutable.Map.empty[String,
      scala.collection.mutable.ArrayBuffer[(Long, Int)]]
    for ((id, ws) <- docsArr; i <- 0 to ws.length - k)
      gmap.getOrElseUpdate(ws.slice(i, i + k).mkString(" "),
        scala.collection.mutable.ArrayBuffer.empty) += ((id, i))
    val matches = scala.collection.mutable.Map.empty[(Long, Long),
      scala.collection.mutable.ArrayBuffer[(Int, Int)]]
    for (occ <- gmap.values; (a, pa) <- occ; (b, pb) <- occ if a < b)
      matches.getOrElseUpdate((a, b),
        scala.collection.mutable.ArrayBuffer.empty) += ((pa, pb))
    val want = scala.collection.mutable.Set.empty[(Long, Long, Long, Long, Long)]
    for (((a, b), ms) <- matches; ((off), grp) <- ms.groupBy { case (pa, pb) => pa - pb }) {
      val ps = grp.map(_._1).distinct.sorted
      // islands of consecutive positions
      var runStart = ps.head
      var prev = ps.head
      def close(last: Int): Unit = {
        val runTokens = last - runStart + k
        if (runTokens >= minRun)
          want += ((a, b, runStart.toLong, (runStart - off).toLong,
            runTokens.toLong))
      }
      for (p <- ps.tail) {
        if (p != prev + 1) { close(prev); runStart = p }
        prev = p
      }
      close(prev)
    }
    val got = Dedup.suffixRuns(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4))).toSet
    assert(got.nonEmpty, "corpus has verbatim cross-doc runs")
    assert(got == want.toSet, s"diff: extra=${got -- want} missing=${want.toSet -- got}")
  }

  test("Markup extraction: planted failure modes, pre verbatim, inline links") {
    val rows = Markup.extract(spark, sf).collect()
    assert(rows.length > 0)
    rows.foreach { r =>
      val id = r.getLong(r.fieldIndex("doc_id"))
      val exact = r.getInt(r.fieldIndex("extract_exact"))
      val (nc, nkc) = (r.getLong(r.fieldIndex("n_content")),
        r.getLong(r.fieldIndex("n_kept_content")))
      val nk = r.getLong(r.fieldIndex("n_kept"))
      assert(exact == (if (id % 5 != 0 && id % 7 != 0) 1 else 0),
        s"doc $id exactness")
      assert((nkc < nc) == (id % 5 == 0), s"doc $id recall miss")
      assert((nk > nkc) == (id % 7 == 0), s"doc $id precision miss")
    }
    val texts = Markup.extractedText(spark, sf).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2), r.getString(3)))
    texts.foreach { case (id, html, extracted, expected) =>
      // nav/footer boilerplate never leaks through
      assert(!extracted.contains("home") || expected.contains("home"))
      assert(!extracted.contains("sitemap"))
      if (id % 4 == 0) {
        // <pre> body preserved VERBATIM, inner markup untouched
        assert(extracted.contains(
          s"""code_$id alpha <a href="/k">q</a> beta"""), s"doc $id pre")
      }
      if (id % 3 == 0) {
        // the inline <a> was flattened, not dropped: first paragraph's
        // first word survives in the extraction
        assert(!extracted.contains("href=\"/x\""), s"doc $id link tag")
      }
      if (id % 5 == 0)
        assert(!extracted.contains("extra1"), s"doc $id degraded dropped")
      if (id % 7 == 0)
        assert(extracted.contains("accept cookies"), s"doc $id cookie kept")
      if (id % 5 != 0 && id % 7 != 0)
        assert(extracted == expected, s"doc $id roundtrip")
    }
  }

  test("spanScrub == brute interval union of the doc_b-side run intervals") {
    val runs = Dedup.suffixRuns(spark, sf).collect()
      .map(r => (r.getLong(1), r.getLong(3), r.getLong(3) + r.getLong(4)))
    val expectedRemoved: Map[Long, Long] = runs.groupBy(_._1).map {
      case (d, ivs0) =>
        val ivs = ivs0.map(t => (t._2, t._3)).distinct.sorted
        var total = 0L
        var lo = ivs.head._1
        var hi = ivs.head._2
        ivs.tail.foreach { case (s0, e0) =>
          if (s0 > hi) { total += hi - lo; lo = s0; hi = e0 }
          else if (e0 > hi) hi = e0
        }
        total += hi - lo
        d -> total
    }
    assert(expectedRemoved.nonEmpty, "corpus must contain scrubable runs")
    val got = Dedup.spanScrub(spark, sf).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getLong(3)))
      .toMap
    got.foreach { case (d, (nTok, nRem, kept)) =>
      assert(nRem == expectedRemoved.getOrElse(d, 0L), s"doc $d removed")
      assert(kept == nTok - nRem, s"doc $d kept")
      assert(nRem <= nTok, s"doc $d bounds")
    }
    assert(got.keySet.size == got.size &&
      expectedRemoved.keySet.subsetOf(got.keySet))
    // multi-interval docs must occur for the sweep to be exercised
    val multi = runs.groupBy(_._1).exists { case (d, ivs) =>
      ivs.map(t => (t._2, t._3)).distinct.size > 1
    }
    assert(multi, "fixture must exercise multi-interval docs")
  }

  test("spanScrub merges OVERLAPPING intervals (planted fixture)") {
    import spark.implicits._
    // doc 2's text is three 20-token blocks P Q R; doc 0 shares P+Q
    // (doc-2 interval [0, 40)), doc 1 shares Q+R ([20, 60)) — the two
    // intervals overlap on Q, so a correct union removes 60 tokens,
    // while per-interval summing would claim 80
    val P = (0 until 20).map(i => s"p$i").mkString(" ")
    val Q = (0 until 20).map(i => s"q$i").mkString(" ")
    val R = (0 until 20).map(i => s"r$i").mkString(" ")
    val docs = Seq(
      (0L, s"$P $Q"),
      (1L, s"$Q $R"),
      (2L, s"$P $Q $R"))
      .toDF("doc_id", "text")
      .withColumn("lang", lit("en")).withColumn("source", lit("src"))
      .withColumn("n_chars", length(col("text")).cast("long"))
    val dir = java.nio.file.Files.createTempDirectory("graft_d11").toString
    docs.write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val runs = Dedup.suffixRuns(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(3),
        r.getLong(3) + r.getLong(4)))
    val ivs2 = runs.filter(_._2 == 2L).map(t => (t._3, t._4)).distinct
    assert(ivs2.length == 2 &&
      ivs2.exists { case (s0, e0) => ivs2.exists { case (s1, e1) =>
        (s0, e0) != (s1, e1) && s1 < e0 && s0 < e1 } },
      s"fixture must give doc 2 two OVERLAPPING intervals: ${ivs2.toSeq}")
    val got = Dedup.spanScrub(spark, dir).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(got(2L) == ((60L, 60L)),
      s"union must merge the overlap (60 tokens, not 80): ${got(2L)}")
    // doc 1 loses its Q+R copy to doc 0's Q? no — doc 0 and doc 1 share
    // only Q (20 tokens >= minRun): doc 1's scrubbed span is [0, 20)
    assert(got(1L) == ((40L, 20L)), s"doc 1: ${got(1L)}")
    assert(got(0L) == ((40L, 0L)), s"doc 0 is canonical: ${got(0L)}")
  }

  test("holtForecast == sequential reference recursion, bit-exact") {
    val intervalMs = 3600000L
    val (alpha, beta) = (0.5, 0.25)
    val dense = ApmStats.denseBuckets(spark, sf, intervalMs)
      .select("server", "service", "bucket", "cnt").collect()
      .map(r => ((r.getString(0), r.getString(1)), (r.getLong(2), r.getLong(3))))
      .groupBy(_._1).map { case (k, v) => k -> v.map(_._2).sortBy(_._1) }
    val want = scala.collection.mutable.Map.empty[
      (String, String, Long), (Double, Double, Double, Double)]
    dense.foreach { case ((srv, svc), series) =>
      var l = series(0)._2.toDouble
      var b = series(1)._2.toDouble - series(0)._2.toDouble
      series.drop(1).foreach { case (bucket, cnt) =>
        val y = cnt.toDouble
        val f = l + b
        val l1 = alpha * y + (1 - alpha) * f
        val b1 = beta * (l1 - l) + (1 - beta) * b
        want((srv, svc, bucket * intervalMs)) = (y, f, l1, b1)
        l = l1; b = b1
      }
    }
    val got = ApmStats.holtForecast(spark, sf, intervalMs).collect()
    assert(got.length == want.size, s"${got.length} vs ${want.size}")
    got.foreach { r =>
      val k = (r.getString(0), r.getString(1), r.getLong(2))
      val (y, f, l1, b1) = want(k)
      // exact equality: both sides evaluate the identical fp expression
      assert(r.getDouble(3) == y && r.getDouble(4) == f &&
        r.getDouble(6) == l1 && r.getDouble(7) == b1, s"$k")
      assert(r.getDouble(5) == y - f, s"$k err")
    }
  }

  test("keyframes partition each video exactly into its m7 shots") {
    val cuts = graft.operators.Multimodal.sceneCuts(spark, sf).collect()
      .map(c => c.doc_id -> c).toMap
    val kfs = graft.operators.Multimodal.keyframes(spark, sf).collect()
      .groupBy(_.doc_id)
    assert(kfs.keySet == cuts.keySet, "same eligible video set")
    kfs.foreach { case (id, rows) =>
      val c = cuts(id)
      assert(rows.length == c.n_cuts + 1, s"vid $id one keyframe per shot")
      assert(rows.map(_.shot_len).sum == c.n_frames, s"vid $id partition")
      val sorted = rows.sortBy(_.keyframe_idx)
      assert(sorted.head.keyframe_idx == 0L, s"vid $id starts at frame 0")
      assert(sorted.map(_.shot_idx).toSeq == sorted.indices.map(_.toLong),
        s"vid $id shot numbering")
      sorted.sliding(2).foreach {
        case Array(a, b) =>
          assert(a.keyframe_idx + a.shot_len == b.keyframe_idx,
            s"vid $id contiguous shots")
        case _ =>
      }
      if (c.n_cuts > 0)
        assert(sorted(1).keyframe_idx == c.first_cut,
          s"vid $id second shot starts at first cut")
    }
    // the planted variants guarantee multi-shot coverage
    assert(kfs.exists(_._2.length > 1), "fixture must contain cuts")
  }

  test("attribution == brute per-conversion first/last/count") {
    val lookback = 86400000L
    val evs = graft.Tables.load(spark, sf, "events")
      .select(col("event_id"), col("user_id"),
        graft.Tables.tsMillis(graft.Tables.load(spark, sf, "events")).as("ms"),
        col("event_type")).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getString(3)))
    val touchTypes = Set("click", "view", "signup")
    val byUser = evs.groupBy(_._2)
    val want = evs.filter(_._4 == "purchase").map { case (cid, uid, cms, _) =>
      val ts = byUser(uid).filter(t => touchTypes(t._4) &&
        t._3 <= cms && t._3 > cms - lookback)
      if (ts.isEmpty) cid -> (("none", "none", 0L))
      else {
        val first = ts.minBy(t => (t._3, t._1))._4
        val last = ts.maxBy(t => (t._3, t._1))._4
        cid -> ((first, last, ts.length.toLong))
      }
    }.toMap
    val got = Sessionize.attribution(spark, sf).collect()
      .map(r => r.getLong(1) ->
        ((r.getString(3), r.getString(4), r.getLong(5)))).toMap
    assert(got == want,
      s"diff: ${want.keysIterator.filter(k => got.get(k) != want.get(k)).take(3).toList}")
    assert(want.values.exists(_._3 == 0L), "organic conversions present")
    assert(want.values.exists(_._3 > 1L), "multi-touch present")
  }

  test("mixtureSample: audit consistent; planted fixture hits both regimes") {
    import spark.implicits._
    // corpus run: rates bounded, audit columns consistent with the data
    val d = graft.Tables.load(spark, sf, "documents")
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n"), sum("n_chars").as("c"))
      .collect().map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
    val rows = Curation.mixtureSample(spark, sf).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5), r.getLong(6)))
    assert(rows.map(_._1).toSet == d.keySet, "every source audited")
    rows.foreach { case (src, _, ct, tgt, rate, nk, ck) =>
      assert(rate >= 0L && rate <= 1000L, s"$src rate $rate")
      assert(ct == d(src)._2, s"$src chars_total")
      assert(nk <= d(src)._1 && ck <= ct, s"$src kept exceeds corpus")
      if (rate == 1000L) assert(nk == d(src)._1 && ck == ct,
        s"$src rate 1000 must keep everything")
    }
    assert(rows.exists(_._5 < 1000L), "no source was down-sampled")
    // planted fixture: one giant source (must be down-sampled to its
    // allocation) and one tiny source (under target -> keeps all)
    val fix = ((0L until 400L).map(i => (i, "giant", 1000L)) ++
      Seq((1000L, "tiny", 50L))).toDF("doc_id", "source", "n_chars")
    val fr = Curation.mixtureSampleFrom(fix).collect()
      .map(r => r.getString(0) -> (r.getLong(4), r.getLong(5), r.getLong(6)))
      .toMap
    assert(fr("tiny")._1 == 1000L && fr("tiny")._2 == 1L &&
      fr("tiny")._3 == 50L, s"tiny source must keep all: ${fr("tiny")}")
    assert(fr("giant")._1 < 1000L && fr("giant")._2 < 400L,
      s"giant source must be down-sampled: ${fr("giant")}")
  }
}
