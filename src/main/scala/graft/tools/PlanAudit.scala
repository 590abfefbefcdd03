package graft.tools

import java.nio.file.{Files, Paths}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan, WholeStageCodegenExec}
import org.apache.spark.sql.execution.exchange.{BroadcastExchangeExec, ShuffleExchangeExec}
import org.apache.spark.sql.execution.joins.{BroadcastHashJoinExec, BroadcastNestedLoopJoinExec, CartesianProductExec, ShuffledHashJoinExec, SortMergeJoinExec}

/** Suite-wide physical-plan audit: walks EVERY registered query's
  * executed plan (AQE off, so the static shape is what's judged) and
  * counts the node kinds the engine's scale story depends on — parquet
  * scans, shuffle/broadcast exchanges, join strategies, whole-stage
  * codegen spans — then flags the two shapes that must never appear
  * unannounced at 100 TB: `CartesianProductExec` and
  * `BroadcastNestedLoopJoinExec`. PlansMain/PlanSpec pin the flagship
  * plans in depth; this audit is the breadth guarantee that NO query,
  * present or future, quietly grows an all-pairs join. The same check
  * runs in the test suite (PlanAuditSpec), so a regression fails CI,
  * and `runMain graft.tools.PlanAudit` writes the reviewable
  * PLAN_AUDIT.json artifact.
  *
  * A cartesian is never allowed; nested-loop joins must match the
  * per-query count pinned in [[pinnedBnlj]] exactly — each pinned one is
  * a BROADCAST of a deliberately tiny (constant, scalar-aggregate, or
  * model-scale) frame, the documented dense-scaffold / config / model
  * idioms, never data x data.
  */
object PlanAudit {

  final case class QueryAudit(name: String, scans: Int, shuffles: Int,
      broadcasts: Int, bhj: Int, smj: Int, shj: Int, cartesian: Int,
      bnlj: Int, codegenSpans: Int, flagged: Seq[String])

  /** Per-query EXACT BroadcastNestedLoopJoin count (absent = 0). Every
    * pinned nested-loop is a deliberate broadcast of a BOUNDED side —
    * the data side streams past it — in one of four idioms; any change
    * in any count, up or down (or a cartesian anywhere, which has no
    * whitelist), fails the audit and PlanAuditSpec until consciously
    * re-pinned.
    */
  // (r14 re-pin: the IVF-PQ index builds carry `cell` through the PQ
  // assignment instead of re-joining it on n_id, so every query that
  // trains or re-encodes an index lost the duplicated residual-corpus
  // subtree and its broadcast joins — counts shrank accordingly.)
  val pinnedBnlj: Map[String, Int] = Map(
    // dense scaffold / per-key bucket bounds crossed onto the stream
    // (scaffold size = keys x windows, data-independent)
    "a5_sliding_stats" -> 1, "a10_sliding_hist" -> 1, "a11_locf_fill" -> 1,
    "a12_seasonal" -> 1, "w7_active_users" -> 1,
    // a13: the dense-scaffold keys x buckets broadcast cross (the same
    // denseBuckets idiom a11/a12 pin)
    "a13_holt_forecast" -> 1,
    // alert/z-score config-override struct (J4/Z1): a constant 1-row
    // settings frame every stage crosses in
    "r2_candidates" -> 1, "r3_alerts" -> 1, "r5_assembly" -> 1,
    "r7_digest" -> 1, "s6_db_stats" -> 1, "s8_email_rows" -> 1,
    "s8_email_digest" -> 1, "z2_zscore_win" -> 1, "z2_zscore_fold" -> 1,
    "z6_zscore_prefix" -> 2,
    // 1-row scalar-aggregate broadcast (corpus totals, global averages,
    // quantile thresholds) — the SQL scalar-subquery shape
    "q11_scalar_having" -> 1, "q22_anti" -> 1, "q28_set_ops" -> 3,
    "t9_lm_score" -> 1, "t11_kmv_distinct" -> 1, "t12_len_quantile" -> 1,
    "t17_bm25" -> 1, "t19_rank_select" -> 2, "w2_funnel" -> 2,
    "w5_cooccur" -> 1, "d6_dedup_embed" -> 1, "d6_embed_recall" -> 3,
    // d6_recall_sampled: the hash-sampled truth side broadcast against
    // the full base (the O(N^2/k) scale dial), embedNearDup's broadcast
    // plane table, and the two 1-row recall aggregates crossed
    "d6_recall_sampled" -> 3,
    "e3_matryoshka" -> 4,
    // trained-model broadcast: centroids / codebooks / PageRank mass —
    // model-scale rows, never the corpus
    "c9_semdedup" -> 3, "c16_topic_clusters" -> 1, "c18_pagerank" -> 9,
    "s3_knn_ivf" -> 2, "s7_ivfpq" -> 2, "s9_ivf_stats" -> 3,
    // s16 serves from the STORED index: the only BNLJ left is the query
    // probe's broadcast of the 8-row centroid table (training's two
    // k-means broadcasts are gone from the plan — that's the point)
    "s16_index_serve" -> 1,
    // s18 trains on the base cut, encodes the remainder with frozen
    // artifacts and serves over the union: every nested loop is a
    // broadcast of the 1-row scalar cut or the 8-row centroid table
    // (base-filter, new-filter, 3x train assign, new-vector assign,
    // residual joins, query probe) — scalar/model-scale idioms all
    "s18_index_append" -> 5,
    // probe/query-point broadcast (a handful of vectors) and the exact
    // top-k frame a recall measurement joins back in
    "s1_knn_brute" -> 1, "s4_ivf_recall" -> 3, "s6_pq_recall" -> 1,
    "s8_ivfpq_recall" -> 3, "s10_pq_refine" -> 1,
    // s11: the 20-row query-code frame broadcast across the candidate
    // code scan (the Hamming shortlist pass; rerank joins are equi BHJ)
    "s11_hamming_rerank" -> 1,
    // s12: the nQ-row query-vector broadcast of the dense leg (the
    // knnBrute baseline shape) and the 1-row corpus-stats frame the
    // BM25 leg crosses in (t17's idiom); every lexical join is equi BHJ
    "s12_rrf_fusion" -> 2,
    // s17 = the s12 chain (its 2) + the truth leg's query-broadcast
    // cosine scan (nQ=8 rows broadcast into the corpus — sampled-truth
    // idiom, bounded by construction)
    "s17_rank_metrics" -> 3,
    // s13: the nQ-row query broadcast of the prefix-8 funnel mouth (the
    // one corpus-wide stage); stages 2/3 are shortlist equi BHJs
    "s13_mrl_funnel" -> 1,
    // s15: the nQ-row broadcasts of its two dense legs — the exact
    // truth leg (s12's knnBrute shape) and the Hamming code scan (s11's
    // shape); the shared lexical leg is eagerly checkpointed at
    // construction, so its 1-row stats cross never appears in the
    // audited plan, and all rerank/fusion joins are equi BHJ/SMJ
    "s15_fused_hybrid" -> 2,
    // q30: per layout leg, the 1-row hour-origin scalar crossed onto
    // the events scan plus the 1-row total-count divisor crossed onto
    // the bin relation (the equal-depth range-boundary assignment)
    "q30_zorder" -> 4,
    // q31: per layout leg, the 1-row (key-min, bin-width) scalar
    // crossed onto the events scan — once for the membership rows,
    // twice more inside the bin→file map's re-derived subtree — plus
    // the 1-row total-count divisor; all scalar-aggregate idioms (the
    // bin→file map join itself is an equi BHJ)
    "q31_bloom_skip" -> 8,
    // s14: the post-filter leg's nQ-row query broadcast only — the
    // pre-filter leg's label predicate becomes the JOIN KEY (BHJ with
    // the id-inequality as residual), the filtered-ANN point made by
    // the plan itself
    "s14_filtered_knn" -> 1,
    // s19 = s7's trained-model broadcasts (3: 2x k-means assign + query
    // probe centroids); the tombstone exclusion itself is an id-keyed
    // broadcast ANTI join (equi, not nested-loop)
    "s19_index_delete" -> 2,
    // s20 = the s18 frozen-append chain (9) + the exact-truth leg's
    // nQ-row query broadcast (the s4/s8 recall idiom; the truth scan is
    // shared between the two recall legs, so it appears once) + the
    // retrained leg's s7 chain (3) when run standalone — 13 total,
    // every one a 1-row-scalar, 8-row-centroid or nQ-row broadcast
    "s20_append_drift" -> 8,
    // c25: the 1-row (corpus_chars, share_sum) scalar aggregate crossed
    // onto the per-source totals — once per consumer (rates feed both
    // the sampled aggregate and the audit join)
    "c25_mixture" -> 2,
    // q32: the 1-row total-bytes scalar crossed onto the file-metadata
    // relation (the planner's target computation)
    "q32_compaction_plan" -> 1,
    // s21 standalone = s7's train chain (2 k-means assigns) + per-depth
    // query-probe centroid broadcasts (3 legs x 2: probe + residual) +
    // the shared exact-truth leg's nQ-row query broadcast — all 8-row
    // centroid or nQ-row query frames; the family path serves from the
    // stored snapshot and carries only the per-leg probe broadcasts
    "s21_probe_sweep" -> 6,
    // e8: the nQ-row query broadcast of each brute leg — the SQ8
    // (dequantized-corpus) scan and the exact-truth scan
    "e8_sq8_recall" -> 2)

  private def allNodes(p: SparkPlan): Seq[SparkPlan] = {
    val direct = p.collect { case n => n }
    direct ++ direct.flatMap(_.subqueries.flatMap(allNodes))
  }

  def auditOne(name: String, plan: SparkPlan): QueryAudit = {
    val ns = allNodes(plan)
    val cartesian = ns.count(_.isInstanceOf[CartesianProductExec])
    val bnlj = ns.count(_.isInstanceOf[BroadcastNestedLoopJoinExec])
    val allowed = pinnedBnlj.getOrElse(name, 0)
    // exact equality, not <=: a pin left over after a query DROPS a
    // nested loop would otherwise be silent headroom for a later
    // accidental data-x-data join to hide in
    val flagged =
      (if (cartesian > 0) Seq(s"cartesian product ($cartesian)") else Nil) ++
      (if (bnlj > allowed)
        Seq(s"nested-loop joins grew: $bnlj > pinned $allowed")
      else if (bnlj < allowed)
        Seq(s"nested-loop joins shrank: $bnlj < pinned $allowed — " +
          "re-pin so the audit stays exact")
      else Nil)
    QueryAudit(name,
      scans = ns.count(_.isInstanceOf[FileSourceScanExec]),
      shuffles = ns.count(_.isInstanceOf[ShuffleExchangeExec]),
      broadcasts = ns.count(_.isInstanceOf[BroadcastExchangeExec]),
      bhj = ns.count(_.isInstanceOf[BroadcastHashJoinExec]),
      smj = ns.count(_.isInstanceOf[SortMergeJoinExec]),
      shj = ns.count(_.isInstanceOf[ShuffledHashJoinExec]),
      cartesian = cartesian, bnlj = bnlj,
      codegenSpans = ns.count(_.isInstanceOf[WholeStageCodegenExec]),
      flagged = flagged)
  }

  /** Audit every registered query at `sfDir`. Building a plan is cheap;
    * the handful of eager trainer queries (BPE, k-means, PCA) run their
    * bounded driver loops, same as any Verify pass.
    */
  def auditAll(spark: SparkSession, sfDir: String,
      only: Set[String] = Set.empty): Seq[QueryAudit] =
    graft.SparkEntry.queries.toSeq.sortBy(_._1)
      .filter { case (n, _) => only.isEmpty || only(n) }
      .map { case (name, fn) =>
        auditOne(name, fn(spark, sfDir).queryExecution.executedPlan)
      }

  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.001")
    val out = args.drop(1).headOption.getOrElse("PLAN_AUDIT.json")
    val spark = graft.GraftSession()
    spark.conf.set("spark.sql.adaptive.enabled", "false") // audit the static shape
    val audits = auditAll(spark, sfDir)
    val body = audits.map { a =>
      val extra = if (a.flagged.isEmpty) ""
        else s""","flagged":"${a.flagged.mkString("; ")}""""
      val note = pinnedBnlj.get(a.name)
        .map(m => s""","bnlj_pinned":$m""").getOrElse("")
      s"""  "${a.name}": {"scans":${a.scans},"shuffles":${a.shuffles},""" +
        s""""broadcasts":${a.broadcasts},"bhj":${a.bhj},"smj":${a.smj},""" +
        s""""shj":${a.shj},"cartesian":${a.cartesian},"bnlj":${a.bnlj},""" +
        s""""codegen_spans":${a.codegenSpans}$note$extra}"""
    }.mkString("{\n", ",\n", "\n}")
    Files.writeString(Paths.get(out), body + "\n")
    val bad = audits.filter(_.flagged.nonEmpty)
    println(s"[plan-audit] ${audits.size} queries, " +
      s"${audits.map(_.scans).sum} scans, " +
      s"${audits.map(_.shuffles).sum} shuffles, " +
      s"${audits.map(_.cartesian).sum} cartesian, " +
      s"${audits.map(_.bnlj).sum} bnlj, flagged=${bad.size} -> $out")
    bad.foreach(a => println(s"[plan-audit] FLAGGED ${a.name}: " +
      a.flagged.mkString("; ")))
    spark.stop()
    if (bad.nonEmpty) sys.exit(1)
  }
}
