package graft

import org.scalatest.funsuite.AnyFunSuite

/** Plan-quality regression tests: the physical plans the engine is
  * designed around (pushdown, pruning, broadcast, codegen) must not
  * silently regress.
  */
class PlanSpec extends AnyFunSuite with TestSession {

  private val sf = "/root/testdata/sf0.001"

  private def plan(name: String): String =
    SparkEntry.queries(name)(spark, sf).queryExecution.executedPlan.toString

  test("j2 enrichment: dimension side broadcasts, scans prune columns") {
    val p = plan("j2_enrichment")
    assert(p.contains("BroadcastHashJoin"), p)
    // orders scan must not read all columns
    assert(p.contains("ReadSchema: struct<o_orderkey:bigint,o_custkey:bigint,o_totalprice:double>"), p)
  }

  test("q3 join: filters push to parquet scans") {
    val p = plan("q3_join")
    assert(p.contains("PushedFilters: [IsNotNull(c_mktsegment), EqualTo(c_mktsegment,BUILDING)"), p)
    assert(p.contains("BroadcastHashJoin"), p)
  }

  test("q1 agg: partial aggregation before the exchange") {
    val p = plan("q1_agg")
    // two HashAggregates around one exchange = map-side combine
    assert("HashAggregate".r.findAllIn(p).length >= 2, p)
    assert(p.contains("ReadSchema: struct<l_quantity:double,l_extendedprice:double,l_returnflag:string,l_linestatus:string>")
      || p.contains("ReadSchema: struct<l_returnflag:string,l_linestatus:string,l_quantity:double,l_extendedprice:double>"), p)
  }

  test("t4 fingerprint: PolyHash runs inside WholeStageCodegen") {
    val df = SparkEntry.queries("t4_fingerprint")(spark, sf)
    val p = df.queryExecution.executedPlan.toString
    // "*(1)" prefixes mark WholeStageCodegen stages in plan toString
    assert(p.contains("*(1) Project") && p.contains("polyhash"), p)
    // no shuffle at all for the embarrassingly-parallel scan layer
    assert(!p.contains("Exchange"), p)
  }

  test("a1 bucketize: single shuffle keyed on the group-by keys") {
    val p = plan("a1_bucketize")
    assert("Exchange hashpartitioning".r.findAllIn(p).length == 1, p)
  }

  test("q6 scan: every predicate incl. the date range reaches the scan") {
    // formatted mode: plan toString elides long PushedFilters lists
    val p = SparkEntry.queries("q6_scan")(spark, sf)
      .queryExecution.explainString(
        org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
    assert(p.contains("GreaterThanOrEqual(l_shipdate,"), p)
    assert(p.contains("LessThan(l_shipdate,"), p)
    assert(p.contains("GreaterThanOrEqual(l_discount,0.05)"), p)
  }

  test("keyed folds keep explicit parallelism (AQE must not coalesce to 1)") {
    // regression pin for the AQE small-shuffle coalescing trap: a keyed
    // repartition without an explicit N was merged into ONE partition,
    // serializing the CPU-heavy sequential folds (20-100x wall blowups).
    import graft.operators.{ApmStats, ZScore}
    val fold = ZScore.zScoreFold(ApmStats.slidingStats(spark, sf))
    val n = fold.rdd.getNumPartitions
    assert(n >= spark.sparkContext.defaultParallelism, s"fold partitions=$n")
  }

  test("z6 prefix z-score: pure window plan, no per-row window arrays") {
    val p = plan("z6_zscore_prefix")
    // the whole point of the prefix-sum formulation: no collect_list
    // materializing O(lag) values per row anywhere in the plan
    assert(!p.contains("collect_list"), p)
    assert(p.contains("RunningWindowFunction") || p.contains("Window"), p)
  }

  test("a9 histogram quantile: histogram leg partial-aggregates before its exchange") {
    val p = plan("a9_hist_quantile")
    // bin counting must map-side combine (partial_count before exchange)
    assert(p.contains("partial_count"), p)
    // exact leg joins back on a tiny per-key frame — broadcastable
    assert(p.contains("BroadcastHashJoin") || p.contains("SortMergeJoin"), p)
  }

  test("e4 pca covariance: one aggregate, partial moments before the " +
      "single exchange, no explode below it") {
    val p = plan("e4_pca_cov")
    // partial fixed_point_moments must combine map-side: one buffer per
    // partition crosses the (single) exchange
    assert(p.contains("partial_fixed_point_moments"), p)
    assert("Exchange".r.findAllIn(p).length == 1, p)
    // the Generate (cell explode) happens AFTER the aggregate, on 1 row
    val genIdx = p.indexOf("Generate")
    val aggIdx = p.indexOf("ObjectHashAggregate")
    assert(genIdx >= 0 && aggIdx >= 0 && genIdx < aggIdx,
      s"explode must sit above the aggregate in the plan tree: $p")
  }

  test("e7 pca residual: map-only scan, p1/p2 folds stay in the " +
      "initial accumulator, never inside a per-element lambda") {
    val p = plan("e7_pca_residual")
    // single column-pruned scan, no exchange anywhere in the data path
    assert(!p.contains("Exchange"), p)
    // regression guard for the CollapseProject O(d^2) inlining: the two
    // projection folds must sit in the outer fold's INITIAL struct
    // (evaluated once per row) — the bad shape re-evaluates them inside
    // the per-element merge lambda, d times per row
    // (r14: the projections are the native vecdot expression now — same
    // fold order, still evaluated once per row in the initial struct)
    assert(p.contains("struct(s, 0.0, p1, vecdot("),
      s"p1/p2 folds not in the initial accumulator: $p")
  }

  test("a12 seasonal: two window passes over one scaffold, no self-join") {
    val p = plan("a12_seasonal")
    // the seasonal mean must be the second window, never an agg joined
    // back to its own source (Catalyst gives that no subtree reuse — it
    // scanned and windowed the scaffold twice)
    assert("\\bWindow\\b".r.findAllIn(p).length == 2, p)
    assert(!p.contains("SortMergeJoin"), p)
    // joins present are only the scaffold's broadcast cross/left fills
    assert(!p.contains("ShuffledHashJoin"), p)
  }

  test("c19 shuffle shards: map-only shard assignment, one exchange for ranks") {
    val p = plan("c19_shuffle_shards")
    // shard = hash mod — must not introduce its own exchange; the single
    // shuffle is the per-shard ranking window
    assert("Exchange hashpartitioning".r.findAllIn(p).length == 1, p)
    assert(!p.contains("Exchange rangepartitioning"), p)
  }

  test("t20 chunking: shuffle-free explode over the scan") {
    val df = SparkEntry.queries("t20_chunking")(spark, sf)
    val p = df.queryExecution.executedPlan.toString
    assert(p.contains("Generate explode"), p)
    assert(!p.contains("Exchange hashpartitioning"), p)
  }

  test("w5 co-occurrence: distinct presence projection precedes the pair join") {
    val p = plan("w5_cooccur")
    // the pair join must consume aggregated (distinct) presence rows,
    // never raw events: a HashAggregate below the self-join on each side
    assert("HashAggregate".r.findAllIn(p).length >= 2, p)
    assert(!p.contains("CartesianProduct"), p)
  }

  test("c18 pagerank: no cartesian anywhere in the iterative plan") {
    val p = plan("c18_pagerank")
    assert(!p.contains("CartesianProduct"), p)
    // teleport scalar rides a broadcast, not a driver collect
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastExchange"), p)
  }

  test("q26 compaction: one exchange, max_by partial-aggregates map-side") {
    val p = plan("q26_compaction")
    assert("Exchange hashpartitioning".r.findAllIn(p).length == 1, p)
    // the win vs the window formulation: PARTIAL max_by collapses each
    // input split to one row per key before the exchange (the window
    // version must shuffle every raw row). Struct payloads force
    // SortAggregate (grouping-key sort), which is fine — the shuffle
    // volume reduction is the scale property.
    assert("SortAggregate|HashAggregate".r.findAllIn(p).length >= 2, p)
    assert(p.contains("partial") && p.contains("max_by"), p)
  }

  test("a11 LOCF: both carry-forward windows share one keyed sort") {
    val p = plan("a11_locf_fill")
    assert("Sort ".r.findAllIn(p).length <= 2, p) // scaffold + window sort
    assert(!p.contains("CartesianProduct") ||
      p.contains("BroadcastNestedLoopJoin"), p) // scaffold cross join is broadcast
  }

  test("q4 EXISTS runs as a left-semi join (no post-join distinct)") {
    val p = plan("q4_semi")
    assert(p.contains("LeftSemi"), p)
    assert(!p.contains("CartesianProduct") && !p.contains("NestedLoop"), p)
  }

  test("q22 absence check runs as a left-anti join") {
    val p = plan("q22_anti")
    assert(p.contains("LeftAnti"), p)
  }

  test("q17 correlated avg is ONE window shuffle, not a self-join") {
    val p = plan("q17_avg_sub")
    assert(p.contains("Window"), p)
    // one lineitem scan only: the agg-then-self-join formulation would
    // scan the fact table twice
    assert("Scan parquet".r.findAllIn(p).count(_ => true) == 2, p) // lineitem + part
  }

  test("q10 date range and returnflag push to the parquet scans") {
    val p = SparkEntry.queries("q10_returns")(spark, sf)
      .queryExecution.explainString(
        org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
    assert(p.contains("EqualTo(l_returnflag,R)"), p)
    assert(p.contains("GreaterThanOrEqual(o_orderdate,"), p)
  }

  test("c6 pii scrub is shuffle-free above its scan") {
    val p = plan("c6_pii_scrub")
    assert("Exchange hashpartitioning".r.findAllIn(p).isEmpty, p)
  }

  test("q20 range join runs as a block equi-join, never a nested loop") {
    val p = plan("q20_range_join")
    assert(!p.contains("CartesianProduct") && !p.contains("NestedLoop"), p)
    assert(p.contains("BroadcastHashJoin") || p.contains("SortMergeJoin"), p)
  }

  test("q21 rollup expands grouping sets before one partial-agg exchange") {
    val p = plan("q21_rollup")
    assert(p.contains("Expand"), p)
    assert("Exchange hashpartitioning".r.findAllIn(p).length == 1, p)
  }

  test("q5 star join: dims broadcast, facts sort-merge, no cartesian") {
    val p = plan("q5_region_rev")
    assert(!p.contains("CartesianProduct"), p)
    assert(p.contains("BroadcastHashJoin"), p)
  }

  test("c8 snapshot diff runs as one full-outer hash join") {
    val p = plan("c8_snapshot_diff")
    assert(p.contains("FullOuter"), p)
    assert(!p.contains("CartesianProduct") && !p.contains("NestedLoop"), p)
  }

  test("d8 span dedup: keyed aggregations only, no pair join") {
    val p = plan("d8_span_dedup")
    // per-span document frequency, never pairwise: no self-join of the
    // span table on doc pairs — every join is on the span hash or doc_id
    assert(!p.contains("CartesianProduct") && !p.contains("NestedLoop"), p)
    assert("HashAggregate".r.findAllIn(p).length >= 4, p) // map-side combines
  }

  test("d7 jaccard theta-join is rewritten to an inverted-index equi-join") {
    val p = plan("d7_jaccard_join")
    // the declared plan is an all-pairs theta-join; the optimizer rule
    // must turn it into explode + hash/merge equi-join on the shingle key
    assert(!p.contains("CartesianProduct") && !p.contains("NestedLoop"), p)
    assert(p.contains("Generate explode"), p)
    assert(p.contains("HashJoin") || p.contains("SortMergeJoin"), p)
  }

  test("c11 incremental delta runs as a left-anti fingerprint join") {
    val p = plan("c11_incremental")
    assert(p.contains("LeftAnti"), p)
    assert(!p.contains("CartesianProduct") && !p.contains("NestedLoop"), p)
  }

  test("c10 data card: doc-keyed joins, no cartesian, combined aggs") {
    val p = plan("c10_data_card")
    assert(!p.contains("CartesianProduct") && !p.contains("NestedLoop"), p)
    // map-side partials around the source aggregation exchanges
    assert("HashAggregate".r.findAllIn(p).length >= 4, p)
  }

  test("d5 simhash pairs: 16-bit bands (65536-value keyspace, not 256)") {
    import org.apache.spark.sql.functions._
    // construction pin: 16-bit bands
    assert(graft.operators.Dedup.SimhashBandBits == 16)
    val sig = graft.operators.Dedup.simhash(spark, sf)
    val mx = sig.agg(max("sig_lo"), max("sig_hi")).head
    assert(mx.getLong(0) < (1L << 32) && mx.getLong(1) < (1L << 32))
    // observed band-key diversity must exceed the former 8-bit ceiling —
    // with 256-value bands this count could never pass 256
    val keys = sig.select(explode(array(
      col("sig_lo") % 65536, shiftright(col("sig_lo"), 16),
      col("sig_hi") % 65536, shiftright(col("sig_hi"), 16))).as("bk"))
      .distinct().count()
    assert(keys > 256, s"distinct 16-bit band keys=$keys")
    val p = plan("d5_simhash_pairs")
    assert(!p.contains("CartesianProduct") && !p.contains("NestedLoop"), p)
  }

  test("d6 multi-band LSH: equi-join on band keys, 2^16 per band") {
    // construction pin: OR over 4 independent 16-plane signatures
    assert(graft.operators.Similarity.LshBandBits == 16)
    assert(graft.operators.Similarity.LshBands >= 2)
    val p = plan("d6_dedup_embed")
    assert(!p.contains("CartesianProduct"), p)
    // the candidate join must be a shuffled/broadcast EQUI join keyed on
    // (band, bkey); the only nested-loop allowed is the 64-row broadcast
    // hyperplane scaffold (same pattern as the IVF centroid cross join)
    assert(p.contains("Join [band") || p.contains("Join [bkey") ||
      "(SortMerge|BroadcastHash|ShuffledHash)Join \\[?band".r.findFirstIn(p).nonEmpty, p)
    val nestedLoops = "BroadcastNestedLoopJoin".r.findAllIn(p).length
    assert(nestedLoops <= 2 && p.contains("LocalTableScan"), p)
  }

  test("t12 sample quantile: k-min side is TakeOrdered, never a full sort") {
    val p = plan("t12_len_quantile")
    assert(p.contains("TakeOrderedAndProject(limit=256"), p)
    // documents scan prunes to the two needed columns
    assert(p.contains("ReadSchema: struct<doc_id:bigint,n_chars:bigint>"), p)
  }

  test("q8 market share: part-type filter pushes to scan, semis broadcast") {
    val p = plan("q8_mkt_share")
    assert(p.contains("PushedFilters: [IsNotNull(p_type), EqualTo(p_type,PROMO)"), p)
    assert(p.contains("LeftSemi"), p)
    assert(!p.contains("CartesianProduct") && !p.contains("NestedLoop"), p)
  }

  test("t13 kmv aggregate: object-hash partial/final, no distinct shuffle") {
    val p = plan("t13_kmv_agg")
    // partial sketch before the exchange: only sketches cross the wire
    assert(p.contains("ObjectHashAggregate") && p.contains("partial_kmv_sketch"), p)
    // the t11 shape this replaces is distinct -> TakeOrdered: neither
    // a distinct aggregate nor a sort may appear here
    assert(!p.contains("TakeOrdered") && !p.contains("Sort "), p)
    assert("Exchange hashpartitioning".r.findAllIn(p).isEmpty, p)
  }

  test("w3 retention: shuffles move user-day rows, events scan prunes") {
    val p = plan("w3_retention")
    // raw events collapse to distinct (user, day) before any join; the
    // scan prunes to exactly (ts, user_id) — ts's physical type varies
    // with how the fixture generator wrote it (nano-long vs timestamp)
    assert("ReadSchema: struct<ts:[^,>]+,user_id:bigint>".r
      .findFirstIn(p).isDefined, p)
    assert(!p.contains("CartesianProduct") && !p.contains("NestedLoop"), p)
  }

  test("d9 line dedup: keyed aggs + anti-join, no pair join") {
    val p = plan("d9_line_dedup")
    // df count, anti-join on the segment hash, doc-keyed rebuild — all
    // keyed; nothing pairwise
    assert(p.contains("LeftAnti"), p)
    assert(!p.contains("CartesianProduct") && !p.contains("NestedLoop"), p)
    assert("HashAggregate".r.findAllIn(p).length >= 4, p)
  }

  test("c12 source cap: two-phase top-k, salted then per-source window") {
    val p = plan("c12_source_cap")
    // phase 1 partitions by (source, salt): its exchange key must carry
    // the pmod salt; phase 2 re-partitions by source alone
    assert(p.contains("pmod"), p)
    assert("Exchange hashpartitioning".r.findAllIn(p).length == 2, p)
    assert("RunningWindowFunction|Window".r.findAllIn(p).nonEmpty, p)
  }

  test("t14 bpe pairs: map-side combine on the pair agg, no shuffle " +
    "beyond vocab + pair keys") {
    val p = plan("t14_bpe_pairs")
    // vocab groupBy(w) + pair groupBy(l, r), both with partial aggs
    assert("HashAggregate".r.findAllIn(p).length >= 4, p)
    assert(!p.contains("CartesianProduct") && !p.contains("NestedLoop"), p)
  }

  test("q9 profit: part filter + dims broadcast, fact joins only shuffle") {
    val p = plan("q9_profit")
    // part (name-filtered) and supplier->nation broadcast; the substring
    // filter reaches the part scan as a pushed Contains
    assert("BroadcastHashJoin".r.findAllIn(p).length >= 2, p)
    assert(p.contains("StringContains(p_name,bolt)"), p)
    assert(!p.contains("CartesianProduct") && !p.contains("NestedLoop"), p)
  }

  test("q16 supplier count: NOT IN is a broadcast anti-join, distinct " +
    "count is two-phase") {
    val p = plan("q16_supplier_cnt")
    assert(p.contains("LeftAnti"), p)
    // countDistinct compiles to partial/final HashAggregate pairs, never
    // a separate distinct shuffle of raw lineitem rows
    assert("HashAggregate".r.findAllIn(p).length >= 2, p)
    // brand/type/size predicates push to the part scan (the In(p_size,…)
    // list is also pushed but falls past toString's truncation width)
    assert(p.contains("Not(EqualTo(p_brand,Brand#17))"), p)
  }

  test("c16 topic clusters: corpus flows through broadcast assignment " +
    "and keyed aggs only") {
    val p = plan("c16_topic_clusters")
    // nearest-centroid assignment is a broadcast nested loop over the
    // |cells|-row centroid table (a deliberate scaffold, like the lag
    // table) — never a shuffled pair join of corpus rows
    assert(!p.contains("CartesianProduct"), p)
    assert("BroadcastNestedLoopJoin|BroadcastHashJoin".r.findAllIn(p).nonEmpty, p)
  }

  test("t17 bm25: top-k is TakeOrdered, df table broadcasts") {
    val p = plan("t17_bm25")
    // the global top-k must be per-partition heaps merged on the driver,
    // never a single-partition global sort
    assert(p.contains("TakeOrderedAndProject"), p)
    assert(p.contains("BroadcastHashJoin"), p)
  }

  test("q24 unpivot: melt is a per-row Expand, one partial-agg exchange") {
    val p = plan("q24_unpivot")
    assert(p.contains("Expand"), p)
    // only the |metrics|-group aggregate shuffles, with map-side combine
    assert("Exchange hashpartitioning".r.findAllIn(p).length == 1, p)
    assert(p.contains("partial_count") || p.contains("partial_"), p)
  }

  test("t19 rank select: no corpus-wide sort — histogram + bucket-scoped " +
    "window only") {
    val p = plan("t19_rank_select")
    // the histogram/prefix-sum stage ran eagerly into the checkpointed
    // bucket table, so the final plan is: broadcast the rank targets,
    // ONE window exchange over bucket-scoped rows — never a corpus sort
    assert("Exchange hashpartitioning".r.findAllIn(p).length == 1, p)
    assert(p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("TakeOrdered") && !p.contains("CartesianProduct"), p)
  }

  test("c17 pps sample: prefix sum is bucket-parallel, offsets broadcast") {
    val p = plan("c17_pps_sample")
    // local running sums partition by the hash bucket (parallel), never
    // one global single-task window over corpus rows
    assert("hashpartitioning\\(bkt".r.findFirstIn(p).isDefined, p)
    assert(p.contains("BroadcastHashJoin"), p)
  }

  test("runtime bloom filter prunes the fact side of a selective join") {
    // At 100 TB the win of Spark's runtime row-level filtering: a
    // selective dimension filter is turned into a bloom filter that
    // prunes the fact scan BEFORE the join shuffle. Thresholds are
    // lowered to make the tiny local tables eligible — the assertion is
    // that the injected BloomFilter aggregate/probe appears in the plan.
    val s = spark
    val mod = Seq(
      "spark.sql.optimizer.runtime.bloomFilter.enabled" -> "true",
      "spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold" -> "10GB",
      "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold" -> "0",
      // a broadcast-able creation side would make the join broadcast and
      // the rule (correctly) skip injection — model the 100 TB case where
      // both sides shuffle by disabling auto-broadcast
      "spark.sql.autoBroadcastJoinThreshold" -> "-1",
      "spark.sql.adaptive.enabled" -> "false")
    val saved = mod.map { case (k, _) => k -> s.conf.getOption(k) }
    mod.foreach { case (k, v) => s.conf.set(k, v) }
    try {
      import org.apache.spark.sql.functions._
      val li = s.read.parquet(s"$sf/lineitem.parquet")
      val ord = s.read.parquet(s"$sf/orders.parquet")
        .filter(col("o_orderpriority") === "1-URGENT")
      val j = li.join(ord, li("l_orderkey") === ord("o_orderkey"))
        .groupBy("o_orderpriority").count()
      val p = j.queryExecution.optimizedPlan.toString
      assert(p.contains("bloom_filter_agg") || p.contains("BloomFilter"),
        s"runtime bloom filter not injected:\n$p")
    } finally saved.foreach {
      case (k, Some(v)) => s.conf.set(k, v)
      case (k, None)    => s.conf.unset(k)
    }
  }
}
