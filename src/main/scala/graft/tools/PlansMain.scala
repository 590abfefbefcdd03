package graft.tools

import java.nio.file.{Files, Paths}

/** Dev tool: dump `explain("formatted")` physical plans of registered
  * queries.
  *
  * With no query names it writes the flagship queries' plans to
  * PLANS.md — committed evidence for the plan properties the engine is
  * designed around (pushdown, pruning, broadcast, partial aggregation,
  * codegen spans). PlanSpec asserts the load-bearing properties; this
  * artifact makes them reviewable without a REPL.
  *
  * Given registered query names, it prints their plans to stdout
  * instead, so any query's scan pushdown (PushedFilters/ReadSchema),
  * broadcast joins and WholeStageCodegen spans can be reviewed.
  *
  * Usage: runMain graft.tools.PlansMain [sfDir] [outFile]
  *        runMain graft.tools.PlansMain <sfDir> <queryName>...
  */
object PlansMain {
  private val flagships: Seq[(String, String)] = Seq(
    "q6_scan" -> "every predicate incl. the date range reaches the parquet scan (PushedFilters), columns pruned (ReadSchema)",
    "q3_join" -> "dimension filters push to scans; small side broadcasts",
    "j2_enrichment" -> "broadcast dim join + column-pruned orders scan",
    "a5_sliding_stats" -> "two-phase aggregation, dense scaffold from a broadcast cross join, keyed window — shuffles only on (server, service)",
    "z6_zscore_prefix" -> "O(1)-state z-score: pure window functions, no collect_list anywhere",
    "a9_hist_quantile" -> "bin counts partial-aggregate map-side before their exchange",
    "d4_dedup_minhash_lsh" -> "banded signature equi-join — no cartesian, candidates only within band buckets",
    "d7_jaccard_join" -> "the declared all-pairs jaccard theta-join after JaccardJoinRewrite: inverted-index equi-join, no cartesian survives",
    "s3_knn_ivf" -> "IVF search: centroids broadcast as data, cell-keyed candidate shuffle",
    "q26_compaction" -> "CDC latest-wins: partial max_by collapses splits before the single exchange",
    "c19_shuffle_shards" -> "hash-order shuffle: map-only shard assignment, one exchange for per-shard ranking",
    "e4_pca_cov" -> "covariance in ONE aggregate: partial fixed_point_moments per partition (ObjectHashAggregate), a single O(d^2) buffer per partition crosses the exchange — no explode, no per-cell shuffle",
    "e7_pca_residual" -> "reconstruction residual: loadings broadcast as literals, a single column-pruned scan with per-row folds — no join, no exchange in the data path",
    "a12_seasonal" -> "seasonal decomposition: dense scaffold from broadcast-sized cross join, then TWO window passes (trend on key, seasonal on (key, phase)) — no self-join, scaffold scanned once, integer sums end to end")

  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.001")
    val rest = args.drop(1)
    val spark = graft.GraftSession()
    def plan(name: String): String =
      graft.SparkEntry.queries(name)(spark, sfDir).queryExecution
        .explainString(org.apache.spark.sql.execution.FormattedMode)
    if (rest.nonEmpty && rest.forall(graft.SparkEntry.queries.contains)) {
      rest.foreach { name =>
        println(s"\n===================== $name =====================")
        println(plan(name))
      }
    } else {
      val out = rest.headOption.getOrElse("PLANS.md")
      val sb = new StringBuilder
      sb.append("# PLANS — flagship physical plans (generated by graft.tools.PlansMain)\n\n")
      sb.append(s"Source data: `$sfDir`. The load-bearing properties below are\n")
      sb.append("asserted by PlanSpec; this file is the reviewable evidence.\n")
      flagships.foreach { case (name, why) =>
        sb.append(s"\n## $name\n\n$why\n\n```\n${plan(name)}```\n")
      }
      Files.writeString(Paths.get(out), sb.toString)
      println(s"wrote $out (${sb.length} chars)")
    }
    spark.stop()
  }
}
