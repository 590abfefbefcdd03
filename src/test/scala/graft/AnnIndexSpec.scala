package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.operators.Similarity

/** Persisted ANN index serving (s16): the stored-snapshot serve path
  * answers s7's query EXACTLY (parquet round-trips doubles bit-exactly),
  * and its plan carries no training work — the production shape where an
  * index is trained once per corpus snapshot and queried many times.
  */
class AnnIndexSpec extends AnyFunSuite with TestSession {

  private val sf = "/root/testdata/sf0.001"

  test("serve from stored snapshot == train-and-serve, cell-exact") {
    val dir = java.nio.file.Files.createTempDirectory("graft_ann").toString
    val path = Similarity.persistIvfPqIndex(spark, sf, dir, "t1")
    assert(path.endsWith("snapshot_id=t1"))
    def rows(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getLong(3)))
      .toSet
    val served = rows(Similarity.ivfPqServe(spark, sf, dir, "t1"))
    val fresh = rows(Similarity.ivfPq(spark, sf))
    assert(served == fresh, "stored-index serve must equal s7 exactly")
    assert(served.nonEmpty)
  }

  test("the serve plan reads the index and does no training") {
    val dir = java.nio.file.Files.createTempDirectory("graft_ann").toString
    Similarity.persistIvfPqIndex(spark, sf, dir, "t2")
    val served = Similarity.ivfPqServe(spark, sf, dir, "t2")
    val plan = served.queryExecution.optimizedPlan.toString
    // training is characterized by the k-means/PQ refinement fold
    // (sort_array(collect_list(...)) per cell/code); a serve plan that
    // contains it is retraining behind the caller's back
    assert(!plan.contains("collect_list"),
      "serve plan must not contain the training fold")
    // and it must actually read the stored snapshot relations (file
    // paths print in the PHYSICAL plan's FileScan locations)
    assert(served.queryExecution.executedPlan.toString
        .contains("snapshot_id=t2"),
      "serve plan must scan the persisted index parquet")
  }

  test("append freezes the artifacts: base pairs keep their exact scores") {
    import org.apache.spark.sql.functions._
    // the s18 cut at this corpus: max(vec_id)=499 -> 499*3/4 = 374
    val cut = 374L
    val all = spark.read.parquet(s"$sf/embeddings.parquet")
      .select(col("vec_id"),
        transform(col("embedding"), x => x.cast("double")).as("v"))
    val idx = Similarity.ivfPqTrain(all.filter(col("vec_id") < cut))
    val baseOnly = Similarity.ivfPqServeFrom(
        all.filter(col("vec_id") < 20), idx, k = 5, nprobe = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2))
      .toMap
    val appended = Similarity.indexAppendServe(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    // appended vectors actually reach the results...
    assert(appended.exists(_._2 >= cut),
      "no appended vector in the served top-k")
    // ...and every BASE pair that survives the appended top-k carries
    // the identical ADC score it had against the base-only index:
    // adding candidates can only displace, never rescore — the frozen
    // centroids/codebook contract of the refresh path
    appended.filter(_._2 < cut).foreach { case (q, nId, d2) =>
      assert(baseOnly.get((q, nId)).contains(d2),
        s"base pair ($q,$nId) rescored: $d2 vs ${baseOnly.get((q, nId))}")
    }
  }

  test("delete excludes tombstoned ids, promotes survivors, never rescores") {
    def rows(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getLong(3)))
    val full = rows(Similarity.ivfPq(spark, sf))
    val deleted = rows(Similarity.indexDeleteServe(spark, sf))
    // the plant is real: the undeleted top-k DOES contain tombstoned ids
    assert(full.exists(_._2 % 7 == 3),
      "planted truth broken: no tombstoned id in the undeleted top-k")
    // ...and the delete path returns none of them
    assert(!deleted.exists(_._2 % 7 == 3),
      "tombstoned id served after delete")
    // every query still gets a full top-k (promotion from below)
    assert(deleted.groupBy(_._1).forall(_._2.size == 5))
    // surviving (q, n) pairs carry the IDENTICAL ADC score — deleting
    // candidates promotes, never rescores
    val fullScore = full.map(t => (t._1, t._2) -> t._3).toMap
    deleted.foreach { case (q, n, d2, _) =>
      fullScore.get((q, n)).foreach(orig =>
        assert(orig == d2, s"pair ($q,$n) rescored by delete: $d2 vs $orig"))
    }
  }

  test("compacted snapshot serves == tombstone anti-join serve, bit-for-bit") {
    import org.apache.spark.sql.functions._
    val dir = java.nio.file.Files.createTempDirectory("graft_ann").toString
    Similarity.persistIvfPqIndex(spark, sf, dir, "v1")
    val all = spark.read.parquet(s"$sf/embeddings.parquet")
      .select(col("vec_id"),
        transform(col("embedding"), x => x.cast("double")).as("v"))
    val tomb = Similarity.tombstonesOf(all)
    Similarity.compactIvfPqIndex(spark, dir, "v1", "v2", tomb)
    def rows(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getLong(3)))
      .toSet
    val antiJoin = rows(Similarity.indexDeleteServeFrom(spark, sf,
      Similarity.loadIvfPqIndex(spark, dir, "v1")))
    val compacted = rows(Similarity.ivfPqServe(spark, sf, dir, "v2"))
    assert(compacted == antiJoin,
      "compacted-snapshot serve must equal the anti-join serve exactly")
    assert(compacted.nonEmpty)
    // the compacted codes relation physically shrank (tombstones gone
    // from DISK, not merely filtered at read)
    val v1n = spark.read.parquet(s"$dir/snapshot_id=v1/codes").count()
    val v2n = spark.read.parquet(s"$dir/snapshot_id=v2/codes").count()
    assert(v2n < v1n, s"compaction did not shrink codes: $v2n vs $v1n")
  }

  test("probe sweep: exact integer ratios, deeper probes never lose recall") {
    val rows = Similarity.probeSweep(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).sortBy(_._1)
    assert(rows.map(_._1).toSeq == Seq(1L, 2L, 4L))
    rows.foreach { case (np, hits, rec) =>
      assert(hits >= 0L && hits <= 100L, s"nprobe=$np hits=$hits")
      assert(rec == hits.toDouble / 100.0, s"nprobe=$np ratio")
    }
    assert(rows.last._3 >= rows.head._3,
      s"deeper probe lost recall: ${rows.toSeq}")
    assert(rows.last._3 > 0.0)
  }

  test("sq8 recall: exact ratios, int8 costs little on this corpus") {
    val rows = Similarity.sq8Recall(spark, sf).collect()
      .map(r => (r.getLong(0), r.getDouble(1)))
    assert(rows.length == 20, "one recall row per query")
    rows.foreach { case (q, rec) =>
      assert(rec >= 0.0 && rec <= 1.0 && (rec * 5.0) == math.rint(rec * 5.0),
        s"q=$q recall $rec must be an exact k=5 ratio")
    }
    val mean = rows.map(_._2).sum / rows.length
    assert(mean >= 0.8,
      s"int8 scalar quantization should barely move top-5 recall: $mean")
  }

  test("snapshots are independent: serving an absent id fails loudly") {
    val dir = java.nio.file.Files.createTempDirectory("graft_ann").toString
    Similarity.persistIvfPqIndex(spark, sf, dir, "present")
    intercept[Exception] {
      Similarity.ivfPqServe(spark, sf, dir, "absent").collect()
    }
    ()
  }

  test("retention sweep: superseded snapshots serve identically until " +
    "swept, the live one is untouched, dropped ids are gone") {
    import org.apache.spark.sql.functions.col
    val dir = java.nio.file.Files.createTempDirectory("graft_ann").toString
    def rows(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getLong(3)))
      .toSet
    Similarity.persistIvfPqIndex(spark, sf, dir, "0001")
    val serve1Fresh = rows(Similarity.ivfPqServe(spark, sf, dir, "0001"))
    // compaction supersedes 0001 but must not touch it: the old
    // snapshot keeps serving bit-identically until retention drops it
    val idx1 = Similarity.loadIvfPqIndex(spark, dir, "0001")
    Similarity.compactIvfPqIndex(spark, dir, "0001", "0002",
      idx1.codes.select(col("n_id")).filter(col("n_id") % 7 === 3)
        .distinct())
    assert(rows(Similarity.ivfPqServe(spark, sf, dir, "0001")) ==
      serve1Fresh, "superseded snapshot must serve unchanged")
    assert(Similarity.listIndexSnapshots(spark, dir) == Seq("0001", "0002"))
    val serve2Before = rows(Similarity.ivfPqServe(spark, sf, dir, "0002"))
    val (kept, dropped) = Similarity.sweepIndexSnapshots(spark, dir, 1)
    assert(kept == Seq("0002") && dropped == Seq("0001"))
    assert(Similarity.listIndexSnapshots(spark, dir) == Seq("0002"))
    // the survivor serves bit-identically after the sweep...
    assert(rows(Similarity.ivfPqServe(spark, sf, dir, "0002")) ==
      serve2Before, "sweep must not touch the live snapshot")
    // ...and the dropped snapshot is actually gone
    intercept[Exception] {
      Similarity.ivfPqServe(spark, sf, dir, "0001").collect()
    }
    ()
  }

  test("s22 inventory matches the policy-derived oracle shape") {
    val out = Similarity.indexRetention(spark, sf).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getString(2),
        r.getBoolean(3)))
      .sortBy(_._1)
    assert(out.map(_._1).toSeq == Seq("0001", "0002", "0003"))
    // keep-last-2 drops only the oldest, and the filesystem agrees
    assert(out.map(t => (t._3, t._4)).toSeq ==
      Seq(("drop", false), ("keep", true), ("keep", true)))
    // each compaction strictly shrinks the codes relation
    assert(out(0)._2 > out(1)._2 && out(1)._2 > out(2)._2)
  }

  test("snapshot byte-copy reads the source through its own filesystem") {
    spark.sparkContext.hadoopConfiguration
      .set("fs.aliaslocal.impl", classOf[AliasLocalFs].getName)
    val base = java.nio.file.Files.createTempDirectory("graft_copy").toString
    val from = s"$base/from"
    spark.range(20).selectExpr("id", "id * 1.5 AS v")
      .write.parquet(s"$from/centroids")
    spark.range(7).write.parquet(s"$from/codebook")
    // the source lives on another scheme than the destination
    Similarity.copyParquetDir(spark, s"aliaslocal:$from", s"file:$base/to",
      Seq("centroids", "codebook"))
    Seq("centroids", "codebook").foreach { rel =>
      def rows(dir: String) = spark.read.parquet(s"$dir/$rel").collect().toSet
      assert(rows(s"$base/to") == rows(from), rel)
    }
  }
}

/** The local filesystem under a second scheme, `aliaslocal:`. */
class AliasLocalFs extends org.apache.hadoop.fs.RawLocalFileSystem {
  override def getUri: java.net.URI = java.net.URI.create("aliaslocal:///")
  override def getScheme: String = "aliaslocal"
}
