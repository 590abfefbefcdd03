package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.operators.Layout

/** Output-layout queries: compaction planning, bloom-filter skipping and
  * Z-order clustering (the preconditions for row-group/file pruning to
  * pay off).
  */
class LayoutSpec extends AnyFunSuite with TestSession {

  test("bloomSkip: no false negatives, clustering concentrates probes") {
    val rows = graft.operators.Layout.bloomSkip(spark, "/root/testdata/sf0.001").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4)))
    assert(rows.nonEmpty)
    rows.foreach { case (lay, u, actual, maybe, fp) =>
      assert(maybe >= actual, s"$lay/$u bloom false negative")
      assert(fp == maybe - actual, s"$lay/$u fp arithmetic")
      assert(actual >= 1, s"$lay/$u probe user must exist")
    }
    val byUser = rows.groupBy(_._2)
    byUser.foreach { case (u, rs) =>
      val ins = rs.find(_._1 == "insertion").get._3
      val clu = rs.find(_._1 == "clustered").get._3
      assert(clu <= ins, s"user $u: clustering cannot spread the key")
    }
    // the structural claim: clustered layouts concentrate every probe
    // into a small fraction of the insertion layout's file count
    val insTot = rows.filter(_._1 == "insertion").map(_._3).sum
    val cluTot = rows.filter(_._1 == "clustered").map(_._3).sum
    assert(cluTot * 4 < insTot,
      s"clustered $cluTot vs insertion $insTot files touched")
    // regression pin for the documented silent failure mode: the first
    // single-LCG hash draft produced ZERO bloom collisions at every
    // scale (lattice artifact), which killed fp_files as a measurement.
    // At sf0.01 (150 users, ~97/file) a healthy 256-bit bloom MUST show
    // false positives on the unclustered layout; a degenerate hash
    // shows none and fails here.
    val rows01 = graft.operators.Layout.bloomSkip(spark,
      "/root/testdata/sf0.01").collect()
      .map(r => (r.getString(0), r.getLong(4)))
    assert(rows01.exists { case (lay, fp) => lay == "insertion" && fp > 0 },
      "insertion-layout blooms must collide at sf0.01 — " +
        "a zero-fp result means the hash lattice regressed")
  }

  test("q30/q31 file assignment: every window runs over an aggregated " +
    "bin relation, never the raw events scan") {
    // the 100x shape pin: file ids come from equal-depth range
    // boundaries over a DOMAIN-bounded bin relation (the a9/q32
    // metadata-window discipline), so no WindowExec may consume the
    // events table directly — that was the single-task ntile funnel
    // this assignment replaced
    import org.apache.spark.sql.execution.window.WindowExec
    import org.apache.spark.sql.execution.aggregate.{BaseAggregateExec}
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      for ((name, df) <- Seq(
          ("q30", Layout.zorderLayout(spark, "/root/testdata/sf0.001")),
          ("q31", Layout.bloomSkip(spark, "/root/testdata/sf0.001")))) {
        val windows = df.queryExecution.executedPlan.collect {
          case w: WindowExec => w }
        assert(windows.nonEmpty, s"$name: expected bin-relation windows")
        windows.foreach { w =>
          val aggBelow = w.child.collect {
            case a: BaseAggregateExec => a }.nonEmpty
          assert(aggBelow,
            s"$name: WindowExec consumes a non-aggregated input — " +
              "the events-table window funnel regressed")
        }
      }
    } finally spark.conf.set("spark.sql.adaptive.enabled", "true")
  }

  test("compactionPlan: partition of all files, contiguous time ranges, " +
    "fill discipline") {
    import org.apache.spark.sql.functions._
    val sf = "/root/testdata/sf0.001"
    val nBins = 32
    val plan = graft.operators.Layout.compactionPlan(spark, sf, nBins)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4)))
      .sortBy(_._1)
    // recompute the file metadata independently
    val ev = graft.Tables.load(spark, sf, "events")
    val files = ev.select(graft.Tables.colMillis(ev, "ts").as("ms"),
        col("event_type"))
      .collect().map(r => (r.getLong(0) / 3600000L, r.getString(1)))
      .groupBy(_._1)
      .map { case (hr, xs) => hr -> (48L * xs.length +
        xs.map(_._2.length.toLong).sum) }
    val total = files.values.sum
    val target = math.max(1L, total / nBins)
    // every file accounted for exactly once; bytes conserved
    assert(plan.map(_._2).sum == files.size.toLong, "file count partition")
    assert(plan.map(_._3).sum == total, "bytes conserved")
    // bins contiguous + non-overlapping in time, in bin_id order
    plan.sliding(2).foreach {
      case Array((b1, _, _, _, hi1), (b2, _, _, lo2, _)) =>
        assert(b1 < b2 && hi1 < lo2, s"bins $b1/$b2 overlap or disorder")
      case _ =>
    }
    plan.foreach { case (b, _, _, lo, hi) => assert(lo <= hi, s"bin $b") }
    // fill discipline of running-sum assignment: every bin but the last
    // reaches the target once its LAST file lands (cum crosses the
    // boundary), so bin_bytes + target > target i.e. no bin except the
    // last can be "tiny" relative to one file: each non-final bin's
    // bytes plus its successor's first file must exceed target
    val maxFile = files.values.max
    plan.dropRight(1).foreach { case (b, _, bytes, _, _) =>
      assert(bytes + maxFile > target,
        s"bin $b underfilled beyond one-file slack: $bytes vs $target")
    }
    assert(plan.length >= 2, "plan must produce multiple bins")
  }
}
