package graft.tools

/** Dev-only plan auditor: dumps `explain("formatted")` for each registered
  * query so scan pushdown (PushedFilters/ReadSchema), broadcast joins and
  * WholeStageCodegen spans can be reviewed.
  * Usage: runMain graft.tools.ExplainMain <sfDir> [queryName...]
  */
object ExplainMain {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.001")
    val names = if (args.length > 1) args.drop(1).toSet else Set.empty[String]
    val spark = graft.GraftSession()
    graft.SparkEntry.queries
      .filter { case (n, _) => names.isEmpty || names(n) }
      .toSeq.sortBy(_._1)
      .foreach { case (name, fn) =>
        println(s"\n===================== $name =====================")
        try fn(spark, sfDir).explain("formatted")
        catch { case e: Throwable => println(s"explain failed: $e") }
      }
    spark.stop()
  }
}
