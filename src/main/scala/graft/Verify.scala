package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare.
  * Extra args beyond <sfDir> <outDir> are a dev-only query-name filter
  * (the driver always passes exactly two, so its runs dump everything).
  */
object Verify {
  def main(args: Array[String]): Unit = {
    val (sfDir, outDir) = (args(0), args(1))
    val only: Set[String] = args.drop(2).toSet
    val spark = GraftSession()
    new java.io.File(outDir).mkdirs()
    SparkEntry.queries
      .filter { case (n, _) => only.isEmpty || only(n) }
      .foreach { case (name, fn) =>
      try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
      }
    }
    val json = Bench.json.createObjectNode()
    SparkEntry.oracleSql
      .filter { case (k, _) => only.isEmpty || only(k) }
      .foreach { case (k, v) => json.put(k, v) }
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"),
      Bench.json.writeValueAsString(json))
    spark.stop()
  }
}
