package graft.tools

import org.apache.spark.sql.functions._

/** x1 hot-caption skew receipt (SCALING.md round-14 row): the scaladoc
  * claim at Multimodal.crossModalDedup is that `capMax` bounds the
  * per-caption-group fan-out at capMax², so a boilerplate caption shared
  * by MILLIONS of images ("stock photo", watermark text — the classic
  * web-corpus skew) cannot explode the pair join. This probe MEASURES
  * that: it plants a single boilerplate caption on `M` extra image docs
  * at M and 10M, runs x1 on both corpora, and reports wall/cpu plus the
  * decision counts. Flat per-group cost = the 10x-hotter corpus pays
  * ~linear scan growth, zero pair-join growth (the hot group is flagged
  * `hot_caption`, never joined — pairs from it stay 0 at every size).
  *
  * runMain graft.tools.X1SkewProbe [srcSfDir] [mBase]
  */
object X1SkewProbe {
  def main(args: Array[String]): Unit = {
    val src = args.headOption.getOrElse("/root/testdata/sf0.01")
    val mBase = args.drop(1).headOption.map(_.toInt).getOrElse(1000)
    val spark = graft.GraftSession()
    val osBean = java.lang.management.ManagementFactory
      .getOperatingSystemMXBean
      .asInstanceOf[com.sun.management.OperatingSystemMXBean]
    val docs = spark.read.parquet(s"$src/documents.parquet")
    val cols = docs.columns
    Seq(mBase, mBase * 10).foreach { m =>
      // m extra image docs (id % 3 == 0, clear of real ids) sharing ONE
      // boilerplate caption — the planted hot group
      val hot = spark.range(m)
        .select((col("id") * 3 + 30000000L).as("doc_id"))
        .withColumn("text",
          lit("stock photo placeholder caption do not use"))
      val planted = docs.unionByName(
        hot.select(cols.map(c =>
          if (c == "doc_id" || c == "text") col(c)
          else lit(null).cast(docs.schema(c).dataType).as(c)): _*),
        allowMissingColumns = false)
      val dir = s"${System.getProperty("java.io.tmpdir")}/graft_x1skew_$m"
      planted.write.mode("overwrite").parquet(s"$dir/documents.parquet")
      (1 to 3).foreach { pass =>
        val c0 = osBean.getProcessCpuTime
        val t0 = System.nanoTime()
        val out = graft.operators.Multimodal.crossModalDedup(spark, dir)
          .groupBy("decision").count().collect()
          .map(r => (r.getString(0), r.getLong(1))).toMap
        val wall = (System.nanoTime() - t0) / 1e9
        val cpu = (osBean.getProcessCpuTime - c0) / 1e9
        println(f"[x1skew] m=$m pass=$pass wall=$wall%.2f cpu=$cpu%.2f " +
          s"decisions=${out.toSeq.sortBy(_._1).mkString(",")}")
        System.gc()
      }
    }
    spark.stop()
  }
}
