package graft.tools

import org.apache.spark.sql.functions._
import graft.operators.Similarity

/** Streaming ANN serve probe (SCALING.md round-14 row): measures
  * [[Similarity.serveStreamWithIndex]] throughput — queries/s through
  * the full streaming path (probe + LUT featurization, stream-static
  * codes join, bounded top-k fold) — against a STORED index at two
  * corpus factors. The index is persisted and loaded back first, so
  * the static side of every micro-batch reads the snapshot parquet
  * (the production serve path) instead of re-deriving training
  * lineage.
  *
  * `runMain graft.tools.ServeStreamProbe [sfDirCsv] [nQueries]`
  */
object ServeStreamProbe {
  def main(args: Array[String]): Unit = {
    val sfDirs = args.headOption
      .getOrElse("/root/testdata/sf0.01,/root/testdata/sf0.1")
      .split(",").map(_.trim).toSeq
    val nQueries = args.drop(1).headOption.map(_.toInt).getOrElse(200)
    val spark = graft.GraftSession()
    import spark.implicits._
    sfDirs.foreach { sf =>
      val all = spark.read.parquet(s"$sf/embeddings.parquet")
        .select(col("vec_id"),
          transform(col("embedding"), x => x.cast("double")).as("v"))
      val nCorpus = all.count()
      val root = java.nio.file.Files
        .createTempDirectory("graft_serve_probe").toString
      Similarity.persistIvfPqIndex(spark, sf, root, "p")
      val idx = Similarity.loadIvfPqIndex(spark, root, "p")
      val rows = all.filter(col("vec_id") < nQueries)
        .as[(Long, Seq[Double])].collect().sortBy(_._1)
      import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
      implicit val sqlCtx = spark.sqlContext
      val in = MemoryStream[(Long, Seq[Double])]
      val q = Similarity.serveStreamWithIndex(
          in.toDF.toDF("vec_id", "v"), idx)
        .writeStream.format("memory").queryName("serve_probe")
        .outputMode("append").start()
      try {
        // warm pass (JIT + codegen + snapshot footer reads), then two
        // timed passes over the same query set in fresh micro-batches
        in.addData(rows.toIndexedSeq: _*); q.processAllAvailable()
        val timed = (1 to 2).map { _ =>
          val t0 = System.nanoTime()
          in.addData(rows.toIndexedSeq: _*); q.processAllAvailable()
          (System.nanoTime() - t0) / 1e9
        }
        val best = timed.min
        val outRows = spark.table("serve_probe").count()
        println(f"""{"probe":"serve_stream","sf":"$sf","corpus":$nCorpus,"queries":${rows.length},"batch_sec":$best%.3f,"qps":${rows.length / best}%.1f,"out_rows":$outRows}""")
      } finally q.stop()
    }
    spark.stop()
  }
}
