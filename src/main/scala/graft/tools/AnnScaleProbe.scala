package graft.tools

import java.nio.file.Files
import org.apache.spark.sql.functions._
import graft.Bench.{decimal, json}
import graft.operators.Similarity

/** Measures whether the LSH/ANN candidate volume stays LINEAR in corpus
  * replication past the 64-replica rotation cycle — the scale property
  * [[ScaleUp.scaleEmbeddings]]'s sign-flip decorrelation exists to
  * protect. If replica 64 reproduced replica 0 exactly (the pre-fix
  * behavior), every vector would pair with its twin at cosine 1.0 and
  * the multi-band LSH candidate graph would gain a cross-replica clique
  * that no real corpus growth produces.
  *
  * For each factor the probe scales the embeddings table with the SAME
  * production transform ScaleUp uses, then counts through the SAME
  * production pipeline ([[Similarity.embedNearDup]]):
  *  - `candidates`  — band-matching pairs after canonical-witness dedup
  *    (threshold -1.0 accepts every verified pair, so the count IS the
  *    candidate volume the exact-cosine verifier must process);
  *  - `confirmed`   — pairs at the production 0.3 threshold;
  *  - `cross`       — confirmed pairs whose endpoints lie in DIFFERENT
  *    replicas (vec_id div keyOffset): the clique smoking gun — with
  *    working decorrelation this stays ~0; with a duplicated cycle it
  *    jumps by ~pairs-per-replica x replicas.
  *
  * Linearity check: candidates/factor should be ~flat across factors
  * (chance 16-bit band collisions add a mild super-linear term at high
  * N; the clique failure mode is a step jump at factor > 64).
  *
  * Usage: runMain graft.tools.AnnScaleProbe <sfDir> [factor ...]
  * (defaults: 1 64 128)
  */
object AnnScaleProbe {
  def main(args: Array[String]): Unit = {
    val src = args.headOption.getOrElse("/root/testdata/sf0.01")
    val factors =
      if (args.length > 1) args.drop(1).map(_.toInt).toSeq else Seq(1, 64, 128)
    val spark = graft.GraftSession()

    val emb = spark.read.parquet(s"$src/embeddings.parquet")
    val baseRows = emb.count()

    /** The adversarial CONTROL: rotation with NO sign flip, so replica
      * i >= 64 reproduces replica i-64 exactly — the pre-fix transform.
      * The probe must light up on this (cross-replica exact pairs
      * ~ rows x cycles) or its zero on the production transform proves
      * nothing.
      */
    def rotationOnly(f: Int) = {
      val dim = 64
      val rotated = concat(
        slice(col("embedding"), col("rep") % dim + 1,
          lit(dim) - pmod(col("rep"), lit(dim))),
        slice(col("embedding"), lit(1), col("rep") % dim))
      emb.crossJoin(
          spark.range(f.toLong).select(col("id").cast("int").as("rep")))
        .withColumn("embedding",
          when(col("rep") === 0, col("embedding")).otherwise(rotated))
        .withColumn("vec_id",
          col("vec_id") + col("rep").cast("long") * ScaleUp.KeyOffset)
        .select("vec_id", "embedding", "label")
    }

    def leg(name: String, f: Int,
        build: Int => org.apache.spark.sql.DataFrame): String = {
      val dir = Files.createTempDirectory(s"ann_probe_$f").toString
      build(f).repartition(32).write.mode("overwrite")
        .parquet(s"$dir/embeddings.parquet")
      val t0 = System.nanoTime()
      val candidates = Similarity.embedNearDup(spark, dir, -1.0).count()
      val confirmed = Similarity.embedNearDup(spark, dir, 0.3)
      val crossRep = expr(s"id_a div ${ScaleUp.KeyOffset}") =!=
        expr(s"id_b div ${ScaleUp.KeyOffset}")
      val cross = confirmed.filter(crossRep).count()
      val conf = confirmed.count()
      // the clique smoking gun: near-EXACT pairs across replicas
      val exactCross = Similarity.embedNearDup(spark, dir, 0.999)
        .filter(crossRep).count()
      val sec = (System.nanoTime() - t0) / 1e9
      val nRows = baseRows * f
      val perPair = candidates.toDouble / (nRows * (nRows - 1) / 2)
      json.writeValueAsString(json.createObjectNode()
        .put("leg", name).put("factor", f).put("rows", nRows)
        .put("candidates", candidates)
        .put("cand_per_pair", decimal(perPair, 5))
        .put("confirmed", conf).put("cross_replica", cross)
        .put("exact_cross_replica", exactCross).put("sec", decimal(sec, 2)))
    }

    val lines = factors.map(f =>
        leg("production", f, ScaleUp.scaleEmbeddings(spark, emb, _))) :+
      leg("control_rotation_only", factors.max, rotationOnly)
    println(lines.mkString("[", ",\n ", "]"))
    spark.stop()
  }
}
