package apmbench

import graft.SparkEntry
import java.nio.file.Files

/** `batch_mix`: a closed loop over standalone `SparkEntry.queries`, one
  * query at a time, each materialised through the `noop` sink as
  * graft.Bench does. One query per operator module, the module its entry
  * calls; SparkEntry's own TPC-H queries count as `Relational`.
  */
object BatchMix {
  val modules: Seq[(String, Seq[String])] = Seq(
    "ApmStats" -> Seq("a10_sliding_hist"),
    "ZScore" -> Seq("z2_zscore_win"),
    "Alerts" -> Seq("r3_alerts"),
    "Parsing" -> Seq("p5_parse_roundtrip"),
    "Sessionize" -> Seq("w1_sessionize"),
    "Correlation" -> Seq("j5_asof_join"),
    "Relational" -> Seq("q3_join"),
    "Dedup" -> Seq("d9_line_dedup"),
    "Similarity" -> Seq("c16_topic_clusters"),
    "TextAnalysis" -> Seq("t17_bm25"),
    "Curation" -> Seq("c1_corpus_curation"),
    "Multimodal" -> Seq("m6_image_phash"),
    "Pca" -> Seq("e4_pca_cov"))

  val queries: Seq[String] = modules.flatMap(_._2)

  def run(run: Main.Run): Unit = {
    val a = run.args
    val dir = a.data.getOrElse(throw new IllegalArgumentException("--data is required")).toString
    val outDir = a.work.resolve("batch_out")
    run.setUp(3)(run.spark.range(1000000L).selectExpr("sum(id)").collect())

    // Untimed first pass: every query's output goes to parquet for the
    // oracle check, which also warms codegen for the timed passes.
    val errors = scala.collection.mutable.LinkedHashMap.empty[String, String]
    run.warmUp(queries.foreach { q =>
      try SparkEntry.queries(q)(run.spark, dir).coalesce(1).write.mode("overwrite")
        .parquet(outDir.resolve(q).toString)
      catch { case e: Throwable => errors(q) = s"${e.getClass.getName}: ${e.getMessage}" }
    })
    Files.writeString(outDir.resolve("oracle_sql.json"),
      Json.render(queries.map(q => q -> SparkEntry.oracleSql.getOrElse(q, null)).toMap))
    System.gc()

    run.beginTimed()
    val execs = scala.collection.mutable.ArrayBuffer.empty[Map[String, Any]]
    val t0 = Main.nowS()
    var pass = 0
    while (pass < 1 || Main.nowS() - t0 < a.seconds) {
      queries.foreach { q =>
        val c0 = Main.cpuS()
        val (wall, err) = run.timed(q, "query", s"pass$pass") {
          try {
            SparkEntry.queries(q)(run.spark, dir).write.format("noop").mode("overwrite").save()
            None
          } catch { case e: Throwable => Some(s"${e.getClass.getName}: ${e.getMessage}") }
        }
        execs += Map("query" -> q, "pass" -> pass, "wall_s" -> wall,
          "cpu_s" -> (Main.cpuS() - c0), "error" -> err)
        // Between queries and outside the timed span, as graft.Bench does:
        // a query's garbage is not collected inside the next one.
        System.gc()
      }
      pass += 1
    }
    run.endTimed()

    run.result("modules") = modules.map { case (m, qs) => m -> qs }.toMap
    run.result("execs") = execs.toList
    run.result("warm_errors") = errors
    run.result("outputs") = outDir.toString
  }
}
