package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.ShutdownDelete
import graft.Tables

/** Similarity search over the `embeddings` table (`vec_id`,
  * `embedding: array<float>`, `label`).
  *
  * - [[knnBrute]] — exact brute-force cosine top-k: the correctness
  *   baseline. Query set x corpus join, ordered-fold dot products (both
  *   engines fold in index order -> bit-stable), rank by rounded
  *   similarity with id tie-break (deterministic top-k).
  * - [[knnLsh]] — the scale path: sign-random-projection LSH. Each vector
  *   is bucketed by the sign pattern of `nBits` fixed pseudo-random
  *   hyperplanes (deterministic constants shared with the oracle);
  *   candidates only meet within a bucket, so the join is equi-key and
  *   shuffle-partitioned by bucket instead of all-pairs. At 100 TB this is
  *   the difference between O(Q*N) and O(Q*N/2^bits) comparisons; recall
  *   is tunable via bits/band count (classic SRP-LSH).
  *
  * Implementation is pure `functions._` (zip_with + aggregate folds) —
  * no UDFs; floats are cast to double before arithmetic so both engines
  * compute IEEE-754 double folds over identical operands.
  */
object Similarity {

  import graft.functions.VecDot.vec_dot
  import graft.functions.VecOps.{vec_d2, vec_sub, vec_sum, struct_vec_mean}
  private def dot(a: Column, b: Column): Column = vec_dot(a, b)
  private def norm(a: Column): Column = sqrt(vec_dot(a, a))

  private def vecsDouble(spark: SparkSession, sfDir: String): DataFrame =
    Tables.load(spark, sfDir, "embeddings").select(
      col("vec_id"), col("label"),
      transform(col("embedding"), x => x.cast("double")).as("v"))

  /** The SRP hyperplane tables are generated for a fixed dimension, so the
    * LSH operators validate it: a vector of any other size fails loudly
    * (instead of silently degrading bucketing via out-of-bounds nulls).
    * The check is fused into the projected column so the optimizer can't
    * prune it.
    */
  val SrpDim = 64
  private def vecsDoubleChecked(spark: SparkSession, sfDir: String): DataFrame =
    Tables.load(spark, sfDir, "embeddings").select(
      col("vec_id"), col("label"),
      when(size(col("embedding")) === SrpDim,
        transform(col("embedding"), x => x.cast("double")))
        .otherwise(raise_error(concat(
          lit(s"SRP-LSH requires embedding dim $SrpDim, got "),
          size(col("embedding")).cast("string")))).as("v"))

  private val vecsDoubleSql =
    """SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS v FROM embeddings"""

  // list_reduce (sequential left fold) rather than list_sum: matches
  // Spark's aggregate() fold bit-for-bit (list_sum's accumulation order
  // is unspecified).
  private def dotSql(a: String, b: String): String =
    s"list_reduce(list_prepend(0.0, list_transform(range(1, len($a)+1), i -> $a[i] * $b[i])), (acc, v) -> acc + v)"
  private def normSql(a: String): String =
    s"sqrt(list_reduce(list_prepend(0.0, list_transform($a, x -> x*x)), (acc, v) -> acc + v))"

  /** Exact top-k cosine neighbors for query vectors (vec_id < nQueries). */
  def knnBrute(spark: SparkSession, sfDir: String,
      k: Int = 5, nQueries: Int = 20): DataFrame = {
    val vecs = vecsDouble(spark, sfDir)
    val q = vecs.filter(col("vec_id") < nQueries)
      .select(col("vec_id").as("q_id"), col("v").as("qv"))
    val c = vecs.select(col("vec_id").as("n_id"), col("v").as("nv"))
    val sims = q.join(c, col("q_id") =!= col("n_id"))
      .withColumn("cos",
        dot(col("qv"), col("nv")) / (norm(col("qv")) * norm(col("nv"))))
    val w = Window.partitionBy("q_id").orderBy(col("cos").desc, col("n_id").asc)
    sims.withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= k)
      .select("q_id", "n_id", "cos", "rank")
  }

  def knnBruteSql(k: Int = 5, nQueries: Int = 20): String =
    s"""WITH vecs AS ($vecsDoubleSql),
        q AS (SELECT vec_id AS q_id, v AS qv FROM vecs WHERE vec_id < $nQueries),
        c AS (SELECT vec_id AS n_id, v AS nv FROM vecs),
        sims AS (
          SELECT q_id, n_id,
            ${dotSql("qv", "nv")} / (${normSql("qv")} * ${normSql("nv")}) AS cos
          FROM q JOIN c ON q_id <> n_id),
        ranked AS (
          SELECT q_id, n_id, cos,
            row_number() OVER (PARTITION BY q_id ORDER BY cos DESC, n_id ASC) AS rank
          FROM sims)
        SELECT q_id, n_id, cos, rank FROM ranked WHERE rank <= $k"""

  /** Fixed pseudo-random hyperplane component for (bit, dim): a cheap
    * deterministic LCG-ish constant in [-0.5, 0.5), identical in both
    * engines (pure integer arithmetic then scale).
    */
  private def planeCoef(bit: Int, dim: Int): Double =
    (((bit * 73L + dim * 179L + 11L) * 2654435761L % 1000L) - 500L) / 1000.0

  val LshBits = 8

  /** SRP-LSH bucketing + within-bucket exact cosine top-k. */
  def knnLsh(spark: SparkSession, sfDir: String,
      k: Int = 5, nQueries: Int = 20): DataFrame = {
    val vecs = vecsDoubleChecked(spark, sfDir)
    val dim = SrpDim
    val bucket = (0 until LshBits).map { bit =>
      val proj = (0 until dim).map(d =>
        element_at(col("v"), d + 1) * lit(planeCoef(bit, d))).reduce(_ + _)
      when(proj >= 0, lit(1L << bit)).otherwise(lit(0L))
    }.reduce(_ + _)
    val bucketed = vecs.withColumn("bucket", bucket)
    val q = bucketed.filter(col("vec_id") < nQueries)
      .select(col("vec_id").as("q_id"), col("v").as("qv"), col("bucket"))
    val c = bucketed.select(col("vec_id").as("n_id"), col("v").as("nv"), col("bucket"))
    val sims = q.join(c, Seq("bucket")).filter(col("q_id") =!= col("n_id"))
      .withColumn("cos",
        dot(col("qv"), col("nv")) / (norm(col("qv")) * norm(col("nv"))))
    val w = Window.partitionBy("q_id").orderBy(col("cos").desc, col("n_id").asc)
    sims.withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= k)
      .select("q_id", "n_id", "bucket", "cos", "rank")
  }

  /** Embedding-cosine near-duplicate pairs: MULTI-BAND SRP-LSH
    * (OR-construction, like MinHash-LSH's bands) — [[LshBands]]
    * independent [[LshBandBits]]-hyperplane signatures; a pair is a
    * candidate iff it agrees on ALL bits of at least one band, then
    * exact cosine verifies >= threshold.
    *
    * Scale shape: the former single 8-bit bucket (2^8 = 256 buckets
    * total) made within-bucket pair generation O(N^2/256) — quadratic at
    * corpus scale. Each band now keys on 2^16 values, so a uniform
    * band bucket holds ~N/65536 vectors, while the OR over 4 bands keeps
    * recall (measured by `d6_embed_recall`, not assumed). The hyperplanes
    * are a broadcast TABLE (64 rows x dim doubles) scored with the native
    * VecDot — not a literal expression tree, which at 64 planes x 64 dims
    * would blow the codegen method limit (the s3 lesson). Candidate dedup
    * is canonical-witness: a pair is kept only at its FIRST matching band
    * (earlier-band keys ride along, 4 longs), so no distinct shuffle over
    * candidate pairs.
    */
  val LshBands = 4
  val LshBandBits = 16

  /** Hyperplane table: one row per bit — (band = bit/16, weight =
    * 1<<(bit%16), pv = the plane's coefficient vector). Deterministic
    * closed-form coefficients shared with the oracle.
    */
  private def srpPlanes(spark: SparkSession): DataFrame = {
    import spark.implicits._
    (0 until LshBands * LshBandBits).map { bit =>
      (bit / LshBandBits, 1L << (bit % LshBandBits),
        (0 until SrpDim).map(d => planeCoef(bit, d)))
    }.toDF("band", "weight", "pv")
  }

  def embedNearDup(spark: SparkSession, sfDir: String,
      threshold: Double = 0.3): DataFrame = {
    val vecs = vecsDoubleChecked(spark, sfDir)
    val bkCols = (0 until LshBands).map { f =>
      sum(when(col("band") === f && dot(col("v"), col("pv")) >= 0,
        col("weight")).otherwise(lit(0L))).as(s"bk$f")
    }
    val sig = vecs.crossJoin(broadcast(srpPlanes(spark)))
      .groupBy("vec_id", "v")
      .agg(bkCols.head, bkCols.tail: _*)
      .select(col("vec_id"), col("v"),
        array((0 until LshBands).map(f => col(s"bk$f")): _*).as("bks"))
    val banded = sig.select(col("vec_id"), col("v"), col("bks"),
      posexplode(col("bks")).as(Seq("band", "bkey")))
    val a = banded.select(col("band"), col("bkey"), col("vec_id").as("id_a"),
      col("v").as("va"), col("bks").as("bks_a"))
    val b = banded.select(col("band"), col("bkey"), col("vec_id").as("id_b"),
      col("v").as("vb"), col("bks").as("bks_b"))
    // canonical witness: drop the pair unless no EARLIER band also matched
    val earlierMatch = size(filter(
      zip_with(slice(col("bks_a"), lit(1), col("band")),
        slice(col("bks_b"), lit(1), col("band")), (x, y) => x === y),
      x => x)) > 0
    a.join(b, Seq("band", "bkey"))
      .filter(col("id_a") < col("id_b") && !earlierMatch)
      .withColumn("cos", dot(col("va"), col("vb")) /
        (norm(col("va")) * norm(col("vb"))))
      .filter(col("cos") >= threshold)
      .select("id_a", "id_b", "cos")
  }

  /** Matching plane coefficients in SQL (same closed-form integer
    * arithmetic, then one double division — bit-identical to
    * [[planeCoef]]).
    */
  private val planesSql: String =
    s"""SELECT CAST(bit // $LshBandBits AS INT) AS band,
          CAST(1 << (bit % $LshBandBits) AS BIGINT) AS weight,
          list_transform(range(0, $SrpDim),
            d -> ((bit*73 + d*179 + 11) * 2654435761 % 1000 - 500) / 1000.0)
            AS pv
        FROM range(0, ${LshBands * LshBandBits}) t(bit)"""

  def embedNearDupSql(threshold: Double = 0.3): String = {
    val bk = (f: Int) =>
      s"""CAST(sum(CASE WHEN band = $f AND ${dotSql("v", "pv")} >= 0
          THEN weight ELSE 0 END) AS BIGINT)"""
    val bandStructs = (0 until LshBands).map { f =>
      s"{'band': $f, 'bkey': bks[${f + 1}]}"
    }.mkString("[", ", ", "]")
    s"""WITH vecs AS ($vecsDoubleSql),
        planes AS ($planesSql),
        sig AS (
          SELECT vec_id, v, [${(0 until LshBands).map(bk).mkString(", ")}] AS bks
          FROM vecs CROSS JOIN planes
          GROUP BY vec_id, v),
        banded AS (
          SELECT vec_id, v, bks, bb.band AS band, bb.bkey AS bkey
          FROM (SELECT vec_id, v, bks, unnest($bandStructs) AS bb FROM sig)),
        cand AS (
          SELECT a.vec_id AS id_a, b.vec_id AS id_b, a.v AS va, b.v AS vb
          FROM banded a JOIN banded b
            ON a.band = b.band AND a.bkey = b.bkey AND a.vec_id < b.vec_id
          WHERE len(list_filter(range(1, a.band + 1),
            i -> a.bks[i] = b.bks[i])) = 0),
        sims AS (
          SELECT id_a, id_b,
            ${dotSql("va", "vb")} / (${normSql("va")} * ${normSql("vb")}) AS cos
          FROM cand)
        SELECT id_a, id_b, cos FROM sims WHERE cos >= $threshold"""
  }

  /** Measured recall of [[embedNearDup]] against the exact all-pairs
    * ground truth (every LSH-found pair is exact-verified, so found ⊆
    * true and recall = n_found/n_true). The all-pairs side is the
    * MEASUREMENT baseline, same role as [[knnBrute]] for the ANN recall
    * queries — the trade the multi-band construction makes is measured,
    * not assumed. TEST-SCALE ONLY by design: the truth leg is O(N²);
    * the corpus-scale path is [[embedRecallSampled]], whose hash-sampled
    * query side holds the exact-truth cost at O(N²/k).
    */
  def embedRecall(spark: SparkSession, sfDir: String,
      threshold: Double = 0.3): DataFrame = {
    val vecs = vecsDouble(spark, sfDir)
    val a = vecs.select(col("vec_id").as("id_a"), col("v").as("va"))
    val b = vecs.select(col("vec_id").as("id_b"), col("v").as("vb"))
    val truePairs = a.join(b, col("id_a") < col("id_b"))
      .withColumn("cos", dot(col("va"), col("vb")) /
        (norm(col("va")) * norm(col("vb"))))
      .filter(col("cos") >= threshold)
      .agg(count(lit(1)).as("n_true"))
    val found = embedNearDup(spark, sfDir, threshold)
      .agg(count(lit(1)).as("n_found"))
    truePairs.crossJoin(found)
      .select(col("n_true"), col("n_found"),
        (col("n_found").cast("double") / col("n_true")).as("recall"))
  }

  /** [[embedRecall]] with a SAMPLED query side — the 100 TB shape of
    * the measurement. The full-recall query's truth leg is the suite's
    * one deliberate all-pairs O(N²) nested loop (fine at test scale,
    * impossible at corpus scale); here the truth is computed only for a
    * deterministic 1-in-`k` hash sample of vectors, EXACT over the full
    * base — O(N²/k) with the same expected recall (each found LSH pair
    * is checked from each sampled endpoint, directed, so the estimate
    * is the recall over sampled queries). The sample predicate is pure
    * i64 arithmetic (Knuth multiplicative hash over a mod-1e8-reduced
    * id — the reduction keeps the product far from i64 overflow at any
    * corpus scale), identical in Spark and the DuckDB oracle.
    */
  def embedRecallSampled(spark: SparkSession, sfDir: String,
      threshold: Double = 0.3, k: Int = 4): DataFrame = {
    val vecs = vecsDouble(spark, sfDir)
    // take HIGH bits of the product (>> 16): the product mod a small k
    // would reduce to id mod k (any odd multiplier is 1 mod small 2^m),
    // i.e. not a hash at all. Sign-preserving % (not pmod) for the id
    // reduction so the arithmetic matches DuckDB's % on a hypothetical
    // negative id (the d4 mutation hash's convention); the final bucket
    // pmod == the SQL's ((x % k) + k) % k guard on any sign.
    def sampled(id: Column): Column =
      pmod(shiftright((id % lit(100000000L)) * lit(2654435761L), 16),
        lit(k.toLong)) === 0L
    val q = vecs.filter(sampled(col("vec_id")))
      .select(col("vec_id").as("id_q"), col("v").as("vq"))
    val base = vecs.select(col("vec_id").as("id_b"), col("v").as("vb"))
    val truth = broadcast(q).join(base, col("id_q") =!= col("id_b"))
      .withColumn("cos", dot(col("vq"), col("vb")) /
        (norm(col("vq")) * norm(col("vb"))))
      .filter(col("cos") >= threshold)
      .agg(count(lit(1)).as("n_true"))
    // each undirected LSH pair, re-read from each SAMPLED endpoint
    val found = embedNearDup(spark, sfDir, threshold)
      .select(explode(array(
        struct(col("id_a").as("id_q"), col("id_b").as("id_x")),
        struct(col("id_b").as("id_q"), col("id_a").as("id_x")))).as("p"))
      .filter(sampled(col("p.id_q")))
      .agg(count(lit(1)).as("n_found"))
    truth.crossJoin(found)
      .select(col("n_true"), col("n_found"),
        (col("n_found").cast("double") / col("n_true")).as("recall"))
  }

  def embedRecallSampledSql(threshold: Double = 0.3, k: Int = 4): String = {
    def sampled(id: String): String =
      s"(((($id % 100000000) * 2654435761) >> 16) % $k + $k) % $k = 0"
    s"""WITH vecs AS ($vecsDoubleSql),
        truep AS (
          SELECT CAST(count(*) AS BIGINT) AS n_true
          FROM vecs a JOIN vecs b ON a.vec_id <> b.vec_id
          WHERE ${sampled("a.vec_id")}
            AND ${dotSql("a.v", "b.v")} /
              (${normSql("a.v")} * ${normSql("b.v")}) >= $threshold),
        pairs AS MATERIALIZED (${embedNearDupSql(threshold)}),
        found AS (
          SELECT CAST(count(*) AS BIGINT) AS n_found
          FROM (
            SELECT * FROM (
              SELECT id_a AS id_q FROM pairs
              UNION ALL
              SELECT id_b AS id_q FROM pairs)
            WHERE ${sampled("id_q")}))
        SELECT n_true, n_found,
          CAST(n_found AS DOUBLE) / n_true AS recall
        FROM truep CROSS JOIN found"""
  }

  def embedRecallSql(threshold: Double = 0.3): String =
    s"""WITH vecs AS ($vecsDoubleSql),
        truep AS (
          SELECT CAST(count(*) AS BIGINT) AS n_true
          FROM vecs a JOIN vecs b ON a.vec_id < b.vec_id
          WHERE ${dotSql("a.v", "b.v")} /
            (${normSql("a.v")} * ${normSql("b.v")}) >= $threshold),
        found AS (
          SELECT CAST(count(*) AS BIGINT) AS n_found
          FROM (${embedNearDupSql(threshold)}))
        SELECT n_true, n_found,
          CAST(n_found AS DOUBLE) / n_true AS recall
        FROM truep CROSS JOIN found"""

  /** IVF-Flat ANN, centroids as DATA (not literals): seed centroids are
    * the first `nCells` corpus vectors (deterministic), refined by
    * `kmeansIters` k-means iterations, and every assignment is a broadcast
    * cross join scored with the native VecDot expression + a
    * map-side-combinable argmax (max over a (sim, -cent_id) struct — no
    * window sort). Queries probe their `nprobe` nearest cells (classic
    * IVF recall/cost dial; the probe ranking is a window over Q×cells
    * rows only, never the corpus).
    *
    * Scale shape: the centroid table stays broadcast-sized at real cell
    * counts (4096 x dim doubles ~ 2 MB), the plan is O(1) wide regardless
    * of nCells (the previous literal-expression-tree formulation blew the
    * 64 KB codegen method limit and shipped MB-size task binaries), and
    * the search shuffle is keyed by cell — O(Q*N*nprobe/nCells)
    * comparisons. Each (query, neighbor) pair meets at most once (a
    * neighbor lives in exactly one home cell), so multi-probe needs no
    * candidate dedup.
    */
  val IvfCells = 8

  /** Nearest-centroid assignment: broadcast cross join + struct-max
    * argmax (ties -> lowest cent_id, deterministic on both engines).
    */
  private def assignCells(vecs: DataFrame, cents: DataFrame): DataFrame =
    vecs.crossJoin(broadcast(cents))
      .withColumn("csim",
        dot(col("v"), col("cv")) / (norm(col("v")) * norm(col("cv"))))
      .groupBy("vec_id", "v")
      .agg(max(struct(col("csim").as("s"), (-col("cent_id")).as("nc"))).as("best"))
      .select(col("vec_id"), col("v"), (-col("best.nc")).cast("long").as("cell"))

  private def assignCellsSql(vecsRel: String, centsRel: String): String =
    s"""SELECT vec_id, v,
          CAST(-struct_extract(max({'s': csim, 'nc': -cent_id}), 'nc') AS BIGINT) AS cell
        FROM (
          SELECT vec_id, v, cent_id,
            ${dotSql("v", "cv")} / (${normSql("v")} * ${normSql("cv")}) AS csim
          FROM ($vecsRel) CROSS JOIN ($centsRel))
        GROUP BY vec_id, v"""

  /** Per-vector `nprobe` nearest centroids. Unlike [[assignCells]] this
    * ranks with a window — acceptable because it only ever runs on the
    * query set (Q×cells rows), never the corpus.
    */
  private def probeCells(qs: DataFrame, cents: DataFrame, nprobe: Int): DataFrame = {
    val scored = qs.crossJoin(broadcast(cents))
      .withColumn("csim",
        dot(col("v"), col("cv")) / (norm(col("v")) * norm(col("cv"))))
    val w = Window.partitionBy("vec_id").orderBy(col("csim").desc, col("cent_id").asc)
    scored.withColumn("pr", row_number().over(w))
      .filter(col("pr") <= nprobe)
      .select(col("vec_id"), col("v"), col("cent_id").as("cell"))
  }

  private def probeCellsSql(qsRel: String, centsRel: String, nprobe: Int): String =
    s"""SELECT vec_id, v, cell FROM (
          SELECT vec_id, v, cent_id AS cell,
            row_number() OVER (PARTITION BY vec_id
                               ORDER BY csim DESC, cent_id ASC) AS pr
          FROM (
            SELECT vec_id, v, cent_id,
              ${dotSql("v", "cv")} / (${normSql("v")} * ${normSql("cv")}) AS csim
            FROM ($qsRel) CROSS JOIN ($centsRel)))
        WHERE pr <= $nprobe"""

  /** One k-means refinement step: per-cell, per-position mean of member
    * vectors as an ordered fold (members sorted by vec_id — bit-identical
    * across engines, unlike an unordered AVG).
    */
  private def refineCents(assigned: DataFrame): DataFrame = {
    val grouped = assigned.groupBy("cell")
      .agg(sort_array(collect_list(struct(col("vec_id"), col("v")))).as("mv"))
    // struct_vec_mean replays the former transform(sequence)/aggregate
    // fold bit-for-bit (per position, member-order accumulation) in one
    // native pass — the HOF form cost O(dim x members) interpreted
    // closure calls per cell.
    grouped.select(
      col("cell").as("cent_id"),
      struct_vec_mean(col("mv")).as("cv"))
  }

  private def refineCentsSql(assignedRel: String): String =
    s"""SELECT cell AS cent_id,
          list_transform(range(1, len(mv[1])+1),
            p -> list_reduce(list_prepend(0.0, list_transform(mv, m -> m[p])),
                   (acc, x) -> acc + x) / CAST(len(mv) AS DOUBLE)) AS cv
        FROM (SELECT cell, list(v ORDER BY vec_id) AS mv
              FROM ($assignedRel) GROUP BY cell)"""

  def knnIvf(spark: SparkSession, sfDir: String,
      k: Int = 5, nQueries: Int = 20, nprobe: Int = 2,
      kmeansIters: Int = 2): DataFrame = {
    val vecs = vecsDouble(spark, sfDir)
    val cents = ivfCentroids(vecs, kmeansIters)
    val assigned = assignCells(vecs, cents)
    val q = probeCells(vecs.filter(col("vec_id") < nQueries)
        .select("vec_id", "v"), cents, nprobe)
      .select(col("vec_id").as("q_id"), col("v").as("qv"), col("cell"))
    val c = assigned.select(col("vec_id").as("n_id"), col("v").as("nv"), col("cell"))
    val sims = q.join(c, Seq("cell")).filter(col("q_id") =!= col("n_id"))
      .withColumn("cos",
        dot(col("qv"), col("nv")) / (norm(col("qv")) * norm(col("nv"))))
    val w = Window.partitionBy("q_id").orderBy(col("cos").desc, col("n_id").asc)
    sims.withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= k)
      .select("q_id", "n_id", "cell", "cos", "rank")
  }

  /** Fixed-iteration k-means centroids from the corpus seeds (a fixed
    * count, so the oracle SQL unrolls the same loop statically).
    */
  def ivfCentroids(vecs: DataFrame, kmeansIters: Int = 2): DataFrame = {
    var cents = vecs.filter(col("vec_id") < IvfCells)
      .select(col("vec_id").as("cent_id"), col("v").as("cv"))
    for (_ <- 0 until kmeansIters)
      cents = refineCents(assignCells(vecs, cents))
    // centroids are a cells x dim table (tiny); truncating their lineage
    // here keeps every consumer plan O(1)-deep instead of inlining the
    // whole k-means chain at each of its ~6 reuse sites
    cents.localCheckpoint()
  }

  /** CTE chain: `vecs0` corpus, k-means iterations, `assigned`
    * (vec_id, v, cell). Returns (ctes, lastCentsName).
    */
  private def ivfCtesSql(kmeansIters: Int,
      corpusRel: String = vecsDoubleSql): (String, String) = {
    val iterCtes = (0 until kmeansIters).map { i =>
      val prev = if (i == 0) "cents0" else s"cents$i"
      s"""a$i AS (${assignCellsSql("SELECT vec_id, v FROM vecs0", s"SELECT * FROM $prev")}),
          cents${i + 1} AS (${refineCentsSql(s"SELECT * FROM a$i")})"""
    }.mkString(",\n        ")
    val last = s"cents$kmeansIters"
    (s"""vecs0 AS ($corpusRel),
        cents0 AS (SELECT vec_id AS cent_id, v AS cv FROM vecs0
                   WHERE vec_id < $IvfCells),
        $iterCtes,
        assigned AS (${assignCellsSql("SELECT vec_id, v FROM vecs0", s"SELECT * FROM $last")})""",
      last)
  }

  def knnIvfSql(k: Int = 5, nQueries: Int = 20, nprobe: Int = 2,
      kmeansIters: Int = 2): String = {
    val (ctes, last) = ivfCtesSql(kmeansIters)
    s"""WITH $ctes,
        q AS (SELECT vec_id AS q_id, v AS qv, cell FROM (
          ${probeCellsSql(s"SELECT vec_id, v FROM vecs0 WHERE vec_id < $nQueries",
            s"SELECT * FROM $last", nprobe)})),
        c AS (SELECT vec_id AS n_id, v AS nv, cell FROM assigned),
        sims AS (
          SELECT q_id, n_id, q.cell AS cell,
            ${dotSql("qv", "nv")} / (${normSql("qv")} * ${normSql("nv")}) AS cos
          FROM q JOIN c ON q.cell = c.cell AND q_id <> n_id),
        ranked AS (
          SELECT q_id, n_id, cell, cos,
            row_number() OVER (PARTITION BY q_id ORDER BY cos DESC, n_id ASC) AS rank
          FROM sims)
        SELECT q_id, n_id, cell, cos, rank FROM ranked WHERE rank <= $k"""
  }

  /** recall@k of the IVF index vs the exact baseline — emitted as a query
    * so the accuracy/cost trade of nprobe=1 is measured, not assumed.
    */
  def ivfRecall(spark: SparkSession, sfDir: String,
      k: Int = 5, nQueries: Int = 20): DataFrame = {
    val brute = knnBrute(spark, sfDir, k, nQueries).select("q_id", "n_id")
    val ivf = knnIvf(spark, sfDir, k, nQueries)
      .select(col("q_id").as("iq"), col("n_id").as("in_"))
    brute.join(ivf,
        col("q_id") === col("iq") && col("n_id") === col("in_"), "left")
      .groupBy("q_id")
      .agg((count(col("iq")) / lit(k.toDouble)).as("recall_at_k"))
  }

  def ivfRecallSql(k: Int = 5, nQueries: Int = 20): String =
    s"""WITH brute AS (SELECT q_id, n_id FROM (${knnBruteSql(k, nQueries)})),
        ivf AS (SELECT q_id AS iq, n_id AS in_ FROM (${knnIvfSql(k, nQueries)}))
        SELECT q_id, count(iq) / CAST($k AS DOUBLE) AS recall_at_k
        FROM brute LEFT JOIN ivf ON q_id = iq AND n_id = in_
        GROUP BY q_id"""

  /** Symmetric int8 embedding quantization (the standard storage/ANN
    * compression for trained-embedding corpora — 4x smaller than f32,
    * recall measured, scale carried per vector):
    * `scale = amax/127`, `q_i = floor(x_i/scale + 0.5)` (round-half-up —
    * pure IEEE divide/add/floor, bit-identical cross-engine; zero vectors
    * quantize to all-zero via the nullif guard). Emits the quantized
    * vector as a comma-joined string (the external harness can't
    * canonicalize list cells) plus the per-vector reconstruction MSE as
    * an ordered fold — the accuracy side of the compression trade,
    * measured not assumed.
    *
    * Scale shape: scan-only, no shuffle; at 100 TB this is a pure map
    * stage writing 1/4 the bytes.
    */
  def embedQuantize(spark: SparkSession, sfDir: String): DataFrame = {
    val vecs = vecsDouble(spark, sfDir)
    val amax = array_max(transform(col("v"), x => abs(x)))
    val scale = amax / lit(127.0)
    val q = transform(col("v"), x =>
      coalesce(floor(x / nullif(col("scale"), lit(0.0)) + lit(0.5)).cast("int"),
        lit(0)))
    val recon = zip_with(col("v"), col("q"),
      (x, qi) => (x - qi.cast("double") * col("scale")) *
        (x - qi.cast("double") * col("scale")))
    vecs
      .withColumn("scale", scale)
      .withColumn("q", q)
      .select(col("vec_id"), col("scale"),
        array_join(col("q").cast("array<string>"), ",").as("qvec"),
        (aggregate(recon, lit(0.0), (acc, e) => acc + e) /
          size(col("v")).cast("double")).as("mse"))
  }

  val embedQuantizeSql: String =
    s"""WITH vecs AS ($vecsDoubleSql),
        s AS (SELECT vec_id, v,
                list_max(list_transform(v, x -> abs(x))) / 127.0 AS scale
              FROM vecs),
        q AS (SELECT vec_id, v, scale,
                list_transform(v, x ->
                  coalesce(CAST(floor(x / nullif(scale, 0.0) + 0.5) AS INT), 0)) AS qv
              FROM s)
        SELECT vec_id, scale,
          array_to_string(list_transform(qv, x -> CAST(x AS VARCHAR)), ',') AS qvec,
          list_reduce(list_prepend(0.0, list_transform(range(1, len(v)+1),
            i -> (v[i] - qv[i] * scale) * (v[i] - qv[i] * scale))),
            (acc, e) -> acc + e) / CAST(len(v) AS DOUBLE) AS mse
        FROM q"""

  /** Words are 32-bit so every shift stays in 0..31 — DuckDB's BIGINT
    * `<<` range-checks (1::BIGINT << 63 is an overflow error), and the
    * general ceil(dim/W)-word layout is what real binary indexes use for
    * arbitrary dimension anyway.
    */
  val BinWordBits = 32

  /** 1-bit sign quantization: bit i of the code is set iff v[i] > 0,
    * packed little-endian into ceil(dim/[[BinWordBits]]) integer words.
    * Pure integer construction — bit-identical across engines.
    */
  private def signCode(v: Column): Column = {
    val w = lit(BinWordBits)
    val bits = transform(v, (x, i) =>
      when(x > lit(0.0), call_function("shiftleft", lit(1L), i % w))
        .otherwise(lit(0L)))
    val nWords = floor((size(v) + lit(BinWordBits - 1)) / w).cast("int")
    transform(sequence(lit(0), nWords - lit(1)), wi =>
      aggregate(slice(bits, wi * w + lit(1), w), lit(0L),
        (acc, b) => acc.bitwiseOR(b)))
  }

  /** popcount(a XOR b) summed over the code words — two integer
    * instructions per word inside whole-stage codegen, vs dim
    * multiply-adds for the float cosine it approximates.
    */
  private def hammingDist(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => bit_count(x.bitwiseXOR(y)).cast("long")),
      lit(0L), (acc, h) => acc + h)

  /** s11: binary-quantize-then-rerank retrieval — the 1-bit compression
    * pattern of binary passage retrieval / BinaryEmbedding search: pack
    * each embedding's coordinate signs into [[BinWordBits]]-bit words
    * (dim 64 -> 8 bytes, a 32x scan-size cut vs float32), shortlist each
    * query's top-`m` by exact Hamming distance over the codes, then
    * rerank ONLY the shortlist with the exact float cosine and emit the
    * top-`k` (sign-projection cosine estimate: Charikar 2002, the same
    * SRP identity [[knnLsh]] buckets with — here used as a distance, not
    * a bucket).
    *
    * Scale shape: the Hamming scan touches an (id, 2-word code) relation
    * — 100 TB of float vectors is ~3 TB of codes, and the per-candidate
    * cost is 2 XOR+popcounts in codegen; the float vectors are read
    * again only for the m rows/query that survive (shortlist hinted
    * broadcast, id-equi-joined back to the vector table). Composes with
    * [[knnIvf]]'s cell routing the way PQ's ADC leg does — the code scan
    * replaces the ADC table walk.
    */
  def hammingRerank(spark: SparkSession, sfDir: String,
      k: Int = 5, m: Int = 20, nQueries: Int = 20): DataFrame = {
    val vecs = vecsDouble(spark, sfDir)
    val codes = vecs.select(col("vec_id"), signCode(col("v")).as("code"))
    val q = codes.filter(col("vec_id") < nQueries)
      .select(col("vec_id").as("q_id"), col("code").as("qc"))
    val c = codes.select(col("vec_id").as("n_id"), col("code").as("cc"))
    val wH = Window.partitionBy("q_id").orderBy(col("ham").asc, col("n_id").asc)
    val short = q.join(c, col("q_id") =!= col("n_id"))
      .withColumn("ham", hammingDist(col("qc"), col("cc")))
      .withColumn("hrank", row_number().over(wH))
      .filter(col("hrank") <= m)
      .select("q_id", "n_id", "ham")
    val qv = vecs.select(col("vec_id").as("q_id"), col("v").as("qv"))
    val nv = vecs.select(col("vec_id").as("n_id"), col("v").as("nv"))
    val wC = Window.partitionBy("q_id").orderBy(col("cos").desc, col("n_id").asc)
    // shortlist is at most nQueries*m rows; join the query vectors in
    // first, then broadcast that joined shortlist into the big nv side
    // (the split form used by mrlFunnel / denseHammingRanks).
    val shortQ = broadcast(short).join(qv, "q_id")
    broadcast(shortQ).join(nv, "n_id")
      .withColumn("cos",
        dot(col("qv"), col("nv")) / (norm(col("qv")) * norm(col("nv"))))
      .withColumn("rank", row_number().over(wC).cast("long"))
      .filter(col("rank") <= k)
      .select("q_id", "n_id", "ham", "cos", "rank")
  }

  def hammingRerankSql(k: Int = 5, m: Int = 20, nQueries: Int = 20): String = {
    val W = BinWordBits
    s"""WITH vecs AS ($vecsDoubleSql),
        bits AS (
          SELECT vec_id, list_transform(range(1, len(v)+1), i ->
            CASE WHEN v[i] > 0 THEN 1::BIGINT << ((i-1) % $W)
                 ELSE 0::BIGINT END) AS b
          FROM vecs),
        codes AS (
          SELECT vec_id,
            list_transform(range(0, CAST(floor((len(b) + ${W - 1}) / ${W}.0) AS INT)), w ->
              list_reduce(list_prepend(0::BIGINT,
                list_transform(range(1, ${W + 1}), j ->
                  CASE WHEN w*$W + j <= len(b) THEN b[w*$W + j]
                       ELSE 0::BIGINT END)),
                (x, y) -> x | y)) AS code
          FROM bits),
        ham AS (
          SELECT q.vec_id AS q_id, c.vec_id AS n_id,
            list_reduce(list_prepend(0::BIGINT,
              list_transform(range(1, len(q.code)+1), w ->
                bit_count(xor(q.code[w], c.code[w]))::BIGINT)),
              (x, y) -> x + y) AS ham
          FROM codes q JOIN codes c
            ON q.vec_id < $nQueries AND q.vec_id <> c.vec_id),
        short AS (
          SELECT q_id, n_id, ham,
            row_number() OVER (PARTITION BY q_id ORDER BY ham ASC, n_id ASC)
              AS hrank
          FROM ham),
        rer AS (
          SELECT s.q_id, s.n_id, s.ham, qt.v AS qv, nt.v AS nv
          FROM short s
            JOIN vecs qt ON qt.vec_id = s.q_id
            JOIN vecs nt ON nt.vec_id = s.n_id
          WHERE s.hrank <= $m),
        scored AS (
          SELECT q_id, n_id, ham,
            ${dotSql("qv", "nv")} / (${normSql("qv")} * ${normSql("nv")}) AS cos
          FROM rer),
        ranked AS (
          SELECT q_id, n_id, ham, cos,
            row_number() OVER (PARTITION BY q_id ORDER BY cos DESC, n_id ASC)
              AS rank
          FROM scored)
        SELECT q_id, n_id, ham, cos, rank FROM ranked WHERE rank <= $k"""
  }

  /** SemDeDup — SEMANTIC deduplication over the embedding space (cf.
    * "SemDeDup: Data-efficient learning at web-scale through semantic
    * deduplication", Abbas et al. 2023, arXiv:2303.09540): k-means
    * clusters the corpus embeddings, then only WITHIN-CLUSTER pairs are
    * cosine-compared; a vector is marked a semantic duplicate iff a
    * lower-id cluster-mate sits at or above the similarity threshold —
    * one deterministic representative survives per semantic group.
    *
    * Scale shape: the cluster id is the BLOCKING key (the paper's core
    * trick) — pair generation is O(Σ|cell|²) instead of O(N²), the
    * centroid table is broadcast ([[assignCells]]' IVF machinery reused
    * verbatim), and the dup flags join back id-keyed. Fixed-iteration
    * k-means keeps the oracle statically expressible.
    */
  def semDedup(spark: SparkSession, sfDir: String,
      threshold: Double = 0.3, kmeansIters: Int = 2): DataFrame = {
    val vecs = vecsDouble(spark, sfDir)
    val assigned = assignCells(vecs, ivfCentroids(vecs, kmeansIters))
    val a = assigned.select(col("cell"), col("vec_id").as("id_a"),
      col("v").as("va"))
    val b = assigned.select(col("cell"), col("vec_id").as("id_b"),
      col("v").as("vb"))
    val dups = a.join(b, Seq("cell")).filter(col("id_a") < col("id_b"))
      .withColumn("cos", dot(col("va"), col("vb")) /
        (norm(col("va")) * norm(col("vb"))))
      .filter(col("cos") >= threshold)
      .select(col("id_b").as("vec_id")).distinct()
    assigned.select("vec_id", "cell")
      .join(dups.withColumn("is_semdup", lit(1)), Seq("vec_id"), "left")
      .select(col("vec_id"), col("cell"),
        coalesce(col("is_semdup"), lit(0)).as("is_semdup"))
  }

  def semDedupSql(threshold: Double = 0.3, kmeansIters: Int = 2): String = {
    val (ctes, _) = ivfCtesSql(kmeansIters)
    s"""WITH $ctes,
        a AS (SELECT cell, vec_id AS id_a, v AS va FROM assigned),
        b AS (SELECT cell, vec_id AS id_b, v AS vb FROM assigned),
        dups AS (
          SELECT DISTINCT id_b AS vec_id
          FROM a JOIN b ON a.cell = b.cell AND a.id_a < b.id_b
          WHERE ${dotSql("va", "vb")} / (${normSql("va")} * ${normSql("vb")})
            >= $threshold)
        SELECT assigned.vec_id, cell,
          CASE WHEN dups.vec_id IS NULL THEN 0 ELSE 1 END AS is_semdup
        FROM assigned LEFT JOIN dups ON assigned.vec_id = dups.vec_id"""
  }

  /** Product quantization (PQ) — the ANN compression that beats scalar
    * int8 at equal bytes: the vector splits into `PqSubspaces`
    * subvectors, each encoded as the id of its nearest codeword from a
    * per-subspace k-means codebook (seeded from the first `PqK` vectors,
    * one refinement pass — fixed so the oracle can mirror it).
    * 64 dims -> 4 bytes/vector here; per-vector squared error is carried
    * so the accuracy cost is measured, not assumed.
    *
    * Relational formulation: the subspace index is DATA — one explode
    * turns (vec, sub) into rows, so a single assign/refine pipeline
    * trains all codebooks at once (no per-subspace loop; the codebook
    * table stays broadcast-sized: subspaces x K x subDim). Assignment is
    * the same broadcast-join + struct-max argmin as IVF; refinement is
    * the ordered per-position mean fold. Codes emit as scalar columns
    * (the external harness cannot canonicalize list cells).
    */
  val PqSubspaces = 4
  val PqK = 16

  /** Per-subspace rows (vec_id[, carry...], sub, sv) from any
    * (vec_id[, carry...], v) frame. `carry` columns (e.g. the home cell)
    * ride along unchanged so downstream consumers don't need to join
    * them back on vec_id (that join forced a SortMergeJoin AND a second
    * evaluation of the whole residual-corpus subtree in ivfPqTrain —
    * two exchanges plus a duplicated scan chain per index build).
    */
  private def pqSubsFrom(vecs: DataFrame, carry: Seq[String] = Nil): DataFrame = {
    val subDim = SrpDim / PqSubspaces
    val keep = col("vec_id") +: carry.map(col)
    vecs.select(keep :+ explode(array(
        (0 until PqSubspaces).map(s => struct(lit(s).as("sub"),
          slice(col("v"), s * subDim + 1, subDim).as("sv"))): _*)).as("x"): _*)
      .select(keep :+ col("x.sub").as("sub") :+ col("x.sv").as("sv"): _*)
  }

  private def pqSubs(spark: SparkSession, sfDir: String): DataFrame =
    pqSubsFrom(vecsDoubleChecked(spark, sfDir).select("vec_id", "v"))

  /** Nearest-codeword assignment. `carry` columns are functionally
    * dependent on vec_id, so adding them to the grouping changes no
    * groups — they just stay addressable without a re-join.
    */
  private def pqAssign(subs: DataFrame, cb: DataFrame,
      carry: Seq[String] = Nil): DataFrame = {
    val keys = Seq("vec_id") ++ carry ++ Seq("sub", "sv")
    subs.join(broadcast(cb), Seq("sub"))
      .withColumn("d2", vec_d2(col("sv"), col("cv")))
      .groupBy(keys.head, keys.tail: _*)
      .agg(max(struct((-col("d2")).as("nd"), (-col("code")).as("nc"))).as("b"))
      .select(keys.map(col) :+
        (-col("b.nc")).cast("int").as("code") :+ (-col("b.nd")).as("d2"): _*)
  }

  /** Trained codebook + final assignment over any (vec_id[, carry], v)
    * frame.
    */
  private def pqTrainedFrom(vecs: DataFrame,
      carry: Seq[String] = Nil): (DataFrame, DataFrame) = {
    val subs = pqSubsFrom(vecs, carry)
    val seed = subs.filter(col("vec_id") < PqK)
      .select(col("sub"), col("vec_id").cast("int").as("code"),
        col("sv").as("cv"))
    // one k-means pass over the seeds (fold order: members by vec_id)
    val refined = pqAssign(subs, seed)
      .groupBy("sub", "code")
      .agg(sort_array(collect_list(struct(col("vec_id"), col("sv")))).as("mv"))
      // struct_vec_mean == the former transform(sequence)/aggregate fold
      // (per position, member-order accumulation), natively
      .select(col("sub"), col("code"), struct_vec_mean(col("mv")).as("cv"))
    // the codebook is subspaces x K x subDim (tiny) — truncate its
    // lineage so the final assignment and every LUT reuse don't re-inline
    // the training chain
    val cb = refined.localCheckpoint()
    (pqAssign(subs, cb, carry), cb)
  }

  private def pqTrained(spark: SparkSession, sfDir: String): (DataFrame, DataFrame) =
    pqTrainedFrom(vecsDoubleChecked(spark, sfDir).select("vec_id", "v"))

  def pqCodes(spark: SparkSession, sfDir: String): DataFrame = {
    val (asg, _) = pqTrained(spark, sfDir)
    def codeAt(s: Int) = max(when(col("sub") === s, col("code"))).as(s"code$s")
    def d2At(s: Int) = max(when(col("sub") === s, col("d2")))
    asg.groupBy("vec_id")
      .agg(codeAt(0), codeAt(1), codeAt(2), codeAt(3),
        // explicit left-to-right sum of the four subspace errors
        ((d2At(0) + d2At(1) + d2At(2) + d2At(3)) / SrpDim).as("mse"))
  }

  private def pqD2Sql(a: String, b: String): String = {
    val subDim = SrpDim / PqSubspaces
    s"""list_reduce(list_prepend(0.0, list_transform(range(1, $subDim + 1),
        i -> ($a[i] - $b[i]) * ($a[i] - $b[i]))), (acc, e) -> acc + e)"""
  }

  /** Shared CTE chain over any (vec_id, v) relation: subspace rows, seed
    * codebook, one k-means pass, final assignment `${p}a1`. `p` prefixes
    * every CTE name so the chain composes with other CTE families.
    */
  private def pqCtesSql(vecsRel: String = vecsDoubleSql,
      p: String = ""): String = {
    val subDim = SrpDim / PqSubspaces
    def assignSql(cbRel: String): String =
      s"""SELECT vec_id, sub, sv,
            CAST(-struct_extract(max({'nd': -d2, 'nc': -code}), 'nc') AS INT) AS code,
            -struct_extract(max({'nd': -d2, 'nc': -code}), 'nd') AS d2
          FROM (
            SELECT vec_id, s.sub AS sub, sv, code,
              ${pqD2Sql("sv", "cv")} AS d2
            FROM ${p}subs s JOIN ($cbRel) cb ON s.sub = cb.sub)
          GROUP BY vec_id, sub, sv"""
    s"""${p}vecs AS ($vecsRel),
        ${p}subs AS (
          SELECT vec_id, sub,
            list_transform(range(1, $subDim + 1), i -> v[sub*$subDim + i]) AS sv
          FROM ${p}vecs CROSS JOIN (SELECT unnest(range(0, $PqSubspaces)) AS sub)),
        ${p}seed AS (SELECT sub, CAST(vec_id AS INT) AS code, sv AS cv
                 FROM ${p}subs WHERE vec_id < $PqK),
        ${p}a0 AS (${assignSql(s"SELECT * FROM ${p}seed")}),
        ${p}refined AS (
          SELECT sub, code,
            list_transform(range(1, $subDim + 1),
              p -> list_reduce(list_prepend(0.0, list_transform(mv, m -> m[p])),
                     (acc, x) -> acc + x) / CAST(len(mv) AS DOUBLE)) AS cv
          FROM (SELECT sub, code, list(sv ORDER BY vec_id) AS mv
                FROM ${p}a0 GROUP BY sub, code)),
        ${p}a1 AS (${assignSql(s"SELECT * FROM ${p}refined")})"""
  }

  def pqCodesSql(): String =
    s"""WITH ${pqCtesSql()}
        SELECT vec_id,
          max(CASE WHEN sub = 0 THEN code END) AS code0,
          max(CASE WHEN sub = 1 THEN code END) AS code1,
          max(CASE WHEN sub = 2 THEN code END) AS code2,
          max(CASE WHEN sub = 3 THEN code END) AS code3,
          (max(CASE WHEN sub = 0 THEN d2 END)
            + max(CASE WHEN sub = 1 THEN d2 END)
            + max(CASE WHEN sub = 2 THEN d2 END)
            + max(CASE WHEN sub = 3 THEN d2 END)) / $SrpDim AS mse
        FROM a1 GROUP BY vec_id"""

  /** PQ search by asymmetric distance computation (ADC): the query stays
    * exact while the corpus is its 4-byte codes. Per query a distance
    * LOOKUP TABLE to every codeword (Q x subspaces x K rows — broadcast-
    * sized) is joined to the corpus codes on (sub, code), so scoring a
    * corpus vector is four table lookups + an explicit 4-term sum —
    * never a touch of the original corpus floats. This is the standard
    * memory-bound ANN serving shape (corpus compressed 64x; at 100 TB
    * the codes fit where the floats could not).
    */
  def pqAdc(spark: SparkSession, sfDir: String,
      k: Int = 5, nQueries: Int = 20): DataFrame = {
    val (asg, cb) = pqTrained(spark, sfDir)
    val qlut = pqSubs(spark, sfDir).filter(col("vec_id") < nQueries)
      .select(col("vec_id").as("q_id"), col("sub"), col("sv"))
      .join(broadcast(cb), Seq("sub"))
      .select(col("q_id"), col("sub"), col("code"),
        vec_d2(col("sv"), col("cv")).as("dq"))
    def dAt(s: Int) = max(when(col("sub") === s, col("dq")))
    val scored = asg.select(col("vec_id").as("n_id"), col("sub"), col("code"))
      .join(broadcast(qlut), Seq("sub", "code"))
      .filter(col("q_id") =!= col("n_id"))
      .groupBy("q_id", "n_id")
      .agg((dAt(0) + dAt(1) + dAt(2) + dAt(3)).as("adc_d2"))
    val w = Window.partitionBy("q_id").orderBy(col("adc_d2").asc, col("n_id").asc)
    scored.withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= k)
      .select("q_id", "n_id", "adc_d2", "rank")
  }

  def pqAdcSql(k: Int = 5, nQueries: Int = 20): String =
    s"""WITH ${pqCtesSql()},
        qlut AS (
          SELECT s.vec_id AS q_id, s.sub AS sub, cb.code AS code,
            ${pqD2Sql("sv", "cv")} AS dq
          FROM subs s JOIN refined cb ON s.sub = cb.sub
          WHERE s.vec_id < $nQueries),
        scored AS (
          SELECT q_id, a1.vec_id AS n_id,
            max(CASE WHEN a1.sub = 0 THEN dq END)
              + max(CASE WHEN a1.sub = 1 THEN dq END)
              + max(CASE WHEN a1.sub = 2 THEN dq END)
              + max(CASE WHEN a1.sub = 3 THEN dq END) AS adc_d2
          FROM a1 JOIN qlut ON a1.sub = qlut.sub AND a1.code = qlut.code
          WHERE q_id <> a1.vec_id
          GROUP BY q_id, a1.vec_id),
        ranked AS (
          SELECT q_id, n_id, adc_d2,
            row_number() OVER (PARTITION BY q_id
                               ORDER BY adc_d2 ASC, n_id ASC) AS rank
          FROM scored)
        SELECT q_id, n_id, adc_d2, rank FROM ranked WHERE rank <= $k"""

  /** recall@k of PQ-ADC against the exact L2 top-k — the measured
    * accuracy cost of the 64x compression (same philosophy as
    * [[ivfRecall]]: the approximation ships with its recall number).
    */
  def pqRecall(spark: SparkSession, sfDir: String,
      k: Int = 5, nQueries: Int = 20): DataFrame = {
    val vecs = vecsDouble(spark, sfDir)
    val q = vecs.filter(col("vec_id") < nQueries)
      .select(col("vec_id").as("q_id"), col("v").as("qv"))
    val c = vecs.select(col("vec_id").as("n_id"), col("v").as("nv"))
    val w = Window.partitionBy("q_id").orderBy(col("d2").asc, col("n_id").asc)
    val exact = q.join(c, col("q_id") =!= col("n_id"))
      .withColumn("d2", vec_d2(col("qv"), col("nv")))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select("q_id", "n_id")
    val adc = pqAdc(spark, sfDir, k, nQueries)
      .select(col("q_id").as("aq"), col("n_id").as("an"))
    exact.join(adc, col("q_id") === col("aq") && col("n_id") === col("an"),
        "left")
      .groupBy("q_id")
      .agg((count(col("aq")) / lit(k.toDouble)).as("recall_at_k"))
  }

  def pqRecallSql(k: Int = 5, nQueries: Int = 20): String =
    s"""WITH vecs AS ($vecsDoubleSql),
        q AS (SELECT vec_id AS q_id, v AS qv FROM vecs WHERE vec_id < $nQueries),
        c AS (SELECT vec_id AS n_id, v AS nv FROM vecs),
        exact AS (
          SELECT q_id, n_id FROM (
            SELECT q_id, n_id,
              row_number() OVER (PARTITION BY q_id ORDER BY d2 ASC, n_id ASC)
                AS rank
            FROM (SELECT q_id, n_id,
                    list_reduce(list_prepend(0.0,
                      list_transform(range(1, len(qv)+1),
                        i -> (qv[i] - nv[i]) * (qv[i] - nv[i]))),
                      (acc, e) -> acc + e) AS d2
                  FROM q JOIN c ON q_id <> n_id))
          WHERE rank <= $k),
        adc AS (SELECT q_id AS aq, n_id AS an FROM (${pqAdcSql(k, nQueries)}))
        SELECT q_id, count(aq) / CAST($k AS DOUBLE) AS recall_at_k
        FROM exact LEFT JOIN adc ON q_id = aq AND n_id = an
        GROUP BY q_id"""

  /** IVF-PQ — the composed production ANN layout (FAISS-style): coarse
    * IVF cells partition the corpus, and each vector stores only the PQ
    * codes of its RESIDUAL (v − cell centroid) under one shared
    * codebook. Search probes `nprobe` cells, builds a per-(query, cell)
    * residual distance LUT, and scores candidates by four code lookups —
    * the index is cells + 4-byte codes; the corpus floats are never
    * touched at query time. Residual quantization is what makes the
    * shared codebook tight: residuals of all cells live near the origin,
    * so codewords spend their resolution on local structure.
    */
  def ivfPq(spark: SparkSession, sfDir: String,
      k: Int = 5, nQueries: Int = 20, nprobe: Int = 2): DataFrame = {
    val vecs = vecsDouble(spark, sfDir).select("vec_id", "v")
    ivfPqServeFrom(vecs.filter(col("vec_id") < nQueries),
      ivfPqTrain(vecs), k, nprobe)
  }

  /** The IVF-PQ index as three relations — exactly what a production
    * serving tier stores: coarse centroids (cells x dim), the shared
    * residual codebook (subspaces x K x subDim) and the corpus codes
    * (one 4-code row set per vector; the floats are NOT part of the
    * index). [[ivfPqTrain]] produces it, [[ivfPqServeFrom]] consumes it
    * — the same value either fresh (s7) or read back from parquet (s16),
    * which is what makes serve == train-and-serve oracle-checkable.
    */
  case class IvfPqIndex(cents: DataFrame, codebook: DataFrame,
      codes: DataFrame)

  /** Training half of [[ivfPq]]: coarse k-means, residual computation,
    * residual-PQ codebook + corpus code assignment.
    */
  private[graft] def ivfPqTrain(vecs: DataFrame): IvfPqIndex = {
    val cents = ivfCentroids(vecs, 2)
    val cellCv = cents.select(col("cent_id").as("cell"), col("cv"))
    val assigned = assignCells(vecs, cents)
    val rcorpus = assigned.join(broadcast(cellCv), Seq("cell"))
      .select(col("vec_id"),
        vec_sub(col("v"), col("cv")).as("v"), col("cell"))
    // `cell` rides through the PQ training as a carry column (it is
    // functionally dependent on vec_id), so the codes relation needs no
    // re-join on n_id — the former join cost a SortMergeJoin (2 Exchange
    // + 2 Sort) AND re-evaluated the whole rcorpus subtree a second time
    val (asgR, cbR) = pqTrainedFrom(
      rcorpus.select("vec_id", "cell", "v"), carry = Seq("cell"))
    val codes = asgR.select(col("vec_id").as("n_id"), col("sub"),
      col("code"), col("cell"))
    IvfPqIndex(cents, cbR, codes)
  }

  /** Query half of [[ivfPq]]: probe `nprobe` cells, per-(query, cell)
    * residual LUT against the codebook, ADC scoring of the probed cells'
    * codes, top-k. Touches only `queries` floats and the index relations
    * — never the corpus vectors.
    */
  private[graft] def ivfPqServeFrom(queries: DataFrame, idx: IvfPqIndex,
      k: Int, nprobe: Int): DataFrame = {
    val subDim = SrpDim / PqSubspaces
    val cellCv = idx.cents.select(col("cent_id").as("cell"), col("cv"))
    val qres = probeCells(queries, idx.cents, nprobe)
      .join(broadcast(cellCv), Seq("cell"))
      .select(col("vec_id").as("q_id"), col("cell"),
        vec_sub(col("v"), col("cv")).as("rv"))
    val qsubs = qres.select(col("q_id"), col("cell"), explode(array(
        (0 until PqSubspaces).map(s => struct(lit(s).as("sub"),
          slice(col("rv"), s * subDim + 1, subDim).as("sv"))): _*)).as("x"))
      .select(col("q_id"), col("cell"), col("x.sub").as("sub"), col("x.sv").as("sv"))
    val qlut = qsubs.join(broadcast(idx.codebook), Seq("sub"))
      .select(col("q_id"), col("cell"), col("sub"), col("code"),
        vec_d2(col("sv"), col("cv")).as("dq"))
    def dAt(s: Int) = max(when(col("sub") === s, col("dq")))
    val scored = idx.codes.join(broadcast(qlut), Seq("cell", "sub", "code"))
      .filter(col("q_id") =!= col("n_id"))
      .groupBy("q_id", "n_id")
      .agg((dAt(0) + dAt(1) + dAt(2) + dAt(3)).as("adc_d2"))
    val w = Window.partitionBy("q_id").orderBy(col("adc_d2").asc, col("n_id").asc)
    scored.withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= k)
      .select("q_id", "n_id", "adc_d2", "rank")
  }

  /** Persist a trained IVF-PQ index under `indexDir/snapshot_id=<id>/`
    * as three parquet relations (the [[IvfPqIndex]] shape) and return
    * the snapshot path. This is the production serving discipline the
    * corpus snapshots (c8/c11) already model, applied to the index:
    * train once per corpus snapshot, serve any number of queries from
    * the stored artifacts with zero training work. Doubles round-trip
    * parquet bit-exactly, so a served result is IDENTICAL to the
    * train-and-serve result — the s16 oracle is s7's.
    */
  def persistIvfPqIndex(spark: SparkSession, sfDir: String,
      indexDir: String, snapshotId: String): String = {
    val dir = s"$indexDir/snapshot_id=$snapshotId"
    val idx = ivfPqTrain(vecsDouble(spark, sfDir).select("vec_id", "v"))
    idx.cents.write.mode("overwrite").parquet(s"$dir/centroids")
    idx.codebook.write.mode("overwrite").parquet(s"$dir/codebook")
    idx.codes.write.mode("overwrite").parquet(s"$dir/codes")
    dir
  }

  /** Read a persisted snapshot back as an [[IvfPqIndex]]. */
  def loadIvfPqIndex(spark: SparkSession, indexDir: String,
      snapshotId: String): IvfPqIndex = {
    val dir = s"$indexDir/snapshot_id=$snapshotId"
    IvfPqIndex(spark.read.parquet(s"$dir/centroids"),
      spark.read.parquet(s"$dir/codebook"),
      spark.read.parquet(s"$dir/codes"))
  }

  /** Answer [[ivfPq]]'s query from a STORED index: no k-means, no PQ
    * training, no corpus-vector scan — the plan reads the three index
    * parquet relations plus the query vectors only (AnnIndexSpec pins
    * the absence of training shapes in the optimized plan).
    */
  def ivfPqServe(spark: SparkSession, sfDir: String, indexDir: String,
      snapshotId: String, k: Int = 5, nQueries: Int = 20,
      nprobe: Int = 2): DataFrame = {
    val queries = vecsDouble(spark, sfDir).select("vec_id", "v")
      .filter(col("vec_id") < nQueries)
    ivfPqServeFrom(queries, loadIvfPqIndex(spark, indexDir, snapshotId),
      k, nprobe)
  }

  /** Encode vectors with a STORED index's artifacts — cell assignment
    * against the frozen centroids, residual against the home cell, PQ
    * codes against the frozen codebook. ZERO training: this is the
    * index-refresh write path ([[indexAppendServe]]), and it is
    * stateless per vector (broadcast centroids + codebook): a new
    * vector's codes depend on nothing but the snapshot.
    */
  private[graft] def encodeWithIndex(vecs: DataFrame, idx: IvfPqIndex): DataFrame = {
    val cellCv = idx.cents.select(col("cent_id").as("cell"), col("cv"))
    val assigned = assignCells(vecs, idx.cents)
    val r = assigned.join(broadcast(cellCv), Seq("cell"))
      .select(col("vec_id"),
        vec_sub(col("v"), col("cv")).as("v"), col("cell"))
    // cell carried through the assignment — no n_id re-join (see
    // ivfPqTrain)
    pqAssign(pqSubsFrom(r.select("vec_id", "cell", "v"), carry = Seq("cell")),
        idx.codebook, carry = Seq("cell"))
      .select(col("vec_id").as("n_id"), col("sub"), col("code"), col("cell"))
  }

  /** s18 — INCREMENTAL index append, the production refresh path that
    * completes the lifecycle (train -> persist -> serve -> APPEND):
    * the index is trained on the base corpus only (vec_id below a 3/4
    * cut of max id — the "yesterday" snapshot), the remaining quarter
    * are new arrivals encoded with the STORED artifacts
    * ([[encodeWithIndex]] — no k-means, no codebook update), their
    * codes appended, and the query served over the union. This is how
    * real ANN deployments absorb ingest between retrains: codebooks
    * freeze at snapshot time and only the codes table grows (quality
    * decays as the distribution drifts — re-train cadence is a policy
    * decision the engine leaves to the caller).
    *
    * The cut is computed IN-PLAN from max(vec_id) (the scalar-aggregate
    * broadcast idiom), so the base/append proportion holds at every
    * corpus scale; the oracle replicates it as a scalar subquery.
    */
  def indexAppendServe(spark: SparkSession, sfDir: String,
      k: Int = 5, nQueries: Int = 20, nprobe: Int = 2): DataFrame = {
    val all = vecsDouble(spark, sfDir).select("vec_id", "v")
    val cut = all.agg(expr("max(vec_id) * 3 div 4").as("cut"))
    val withCut = all.crossJoin(broadcast(cut))
    val baseVecs = withCut.filter(col("vec_id") < col("cut"))
      .select("vec_id", "v")
    val newVecs = withCut.filter(col("vec_id") >= col("cut"))
      .select("vec_id", "v")
    val idx = ivfPqTrain(baseVecs)
    val appended = IvfPqIndex(idx.cents, idx.codebook,
      idx.codes.unionAll(encodeWithIndex(newVecs, idx)))
    ivfPqServeFrom(all.filter(col("vec_id") < nQueries), appended, k, nprobe)
  }

  /** `java.io.tmpdir/<prefix><corpus hash>_<applicationId>`, deleted
    * when the JVM exits.
    */
  private def sessionTempDir(spark: SparkSession, sfDir: String,
      prefix: String): String = {
    val dir = s"${System.getProperty("java.io.tmpdir")}/$prefix" +
      Integer.toHexString(sfDir.hashCode) + "_" +
      spark.sparkContext.applicationId
    ShutdownDelete.register(dir)
    dir
  }

  /** s16 — the end-to-end persist/serve round-trip as a verify entry:
    * train + write the snapshot, then answer from the STORED artifacts.
    * Output (and oracle) are exactly s7's.
    */
  def indexServe(spark: SparkSession, sfDir: String,
      k: Int = 5, nQueries: Int = 20, nprobe: Int = 2): DataFrame = {
    // deterministic per-corpus-per-SESSION location (overwritten each
    // call) rather than a fresh temp dir per invocation — repeated
    // verify/bench cycles within a session reuse one snapshot's disk
    // instead of leaking a full codes table each run, and the JVM
    // deletes it at exit. The applicationId discriminator keeps two
    // concurrent sessions on the same corpus from overwriting each
    // other's snapshot mid-read (parquet mode=overwrite is not atomic).
    val tmp = sessionTempDir(spark, sfDir, "graft_ann_index_")
    persistIvfPqIndex(spark, sfDir, tmp, "s16")
    ivfPqServe(spark, sfDir, tmp, "s16", k, nQueries, nprobe)
  }

  /** The tombstone set for the delete path: ids matching a deterministic
    * revocation policy (`vec_id % 7 == 3` — "every 7th source revoked
    * consent"). A bounded id relation, NEVER a corpus rewrite: at 100 TB
    * deletes arrive as a trickle of ids and the codes table stays
    * immutable until the next compaction.
    */
  private[graft] def tombstonesOf(vecs: DataFrame): DataFrame =
    vecs.select(col("vec_id").as("n_id")).filter(col("n_id") % 7 === 3)

  /** Apply tombstones to an index WITHOUT rewriting it: the codes
    * relation is anti-joined against the tombstone set at serve time.
    * The tombstone side is broadcast (deletes-between-compactions are
    * small by policy), so the serve plan gains one map-side anti-join
    * and zero shuffles; scores of surviving pairs are untouched —
    * deleting candidates can only PROMOTE lower-ranked neighbors, never
    * rescore them (AnnIndexSpec pins both properties).
    */
  private[graft] def withTombstones(idx: IvfPqIndex,
      tomb: DataFrame): IvfPqIndex =
    IvfPqIndex(idx.cents, idx.codebook,
      idx.codes.join(broadcast(tomb), Seq("n_id"), "left_anti"))

  /** s19 — serve AFTER deletes, completing the index lifecycle
    * (train -> persist -> serve -> append -> DELETE -> compact):
    * tombstoned ids are excluded from the candidate codes by a
    * broadcast anti-join at query time — the pre-compaction production
    * shape, where the stored index is immutable and deletes are a
    * side relation. [[compactIvfPqIndex]] is the rewrite half: fold the
    * tombstones into a new snapshot so the anti-join disappears again.
    * Serving from the compacted snapshot equals this query bit-for-bit
    * (AnnIndexSpec) — which is what makes compaction safe to run lazily.
    */
  def indexDeleteServe(spark: SparkSession, sfDir: String,
      k: Int = 5, nQueries: Int = 20, nprobe: Int = 2): DataFrame = {
    val all = vecsDouble(spark, sfDir).select("vec_id", "v")
    indexDeleteServeFrom(spark, sfDir, ivfPqTrain(all), k, nQueries, nprobe)
  }

  /** [[indexDeleteServe]] over an already-trained or loaded index (the
    * spec serves a stored snapshot through it).
    */
  def indexDeleteServeFrom(spark: SparkSession, sfDir: String,
      idx: IvfPqIndex, k: Int = 5, nQueries: Int = 20,
      nprobe: Int = 2): DataFrame = {
    val all = vecsDouble(spark, sfDir).select("vec_id", "v")
    ivfPqServeFrom(all.filter(col("vec_id") < nQueries),
      withTombstones(idx, tombstonesOf(all)), k, nprobe)
  }

  /** Compact a stored snapshot: rewrite it minus the tombstoned ids
    * under a NEW snapshot id (snapshots are immutable — the old one
    * stays addressable until retention drops it, the c8/c11 snapshot
    * discipline). Centroids and codebook are copied unchanged (deletes
    * never retrain); only the codes relation shrinks. Cost is one
    * linear pass over the codes table — the bounded, schedulable
    * rewrite that replaces the per-query anti-join.
    */
  def compactIvfPqIndex(spark: SparkSession, indexDir: String,
      fromId: String, toId: String, tomb: DataFrame): String = {
    val dir = s"$indexDir/snapshot_id=$toId"
    // centroids and codebook are UNCHANGED by compaction (deletes never
    // retrain), so they move as a filesystem byte-copy — bit-identical
    // by construction (stronger than a parquet decode->re-encode) and
    // two fewer Spark jobs per compaction (guide §6: move unchanged
    // bytes once, spend the engine only on the relation that changes).
    copyParquetDir(spark, s"$indexDir/snapshot_id=$fromId", dir,
      Seq("centroids", "codebook"))
    // only the codes relation changes: one anti-join pass over it
    val live = withTombstones(loadIvfPqIndex(spark, indexDir, fromId), tomb)
    live.codes.write.mode("overwrite").parquet(s"$dir/codes")
    dir
  }

  /** Byte-copy `rels` parquet relation dirs from one snapshot dir to
    * another (overwrite). Filesystem metadata+data copy only — no Spark
    * jobs, no decode. Each side resolves its own FileSystem, so the two
    * roots may live on different ones.
    */
  private[graft] def copyParquetDir(spark: SparkSession, fromDir: String,
      toDir: String, rels: Seq[String]): Unit = {
    import org.apache.hadoop.fs.{FileUtil, Path}
    val conf = spark.sparkContext.hadoopConfiguration
    val srcFs = new Path(fromDir).getFileSystem(conf)
    val dstFs = new Path(toDir).getFileSystem(conf)
    rels.foreach { rel =>
      val dst = new Path(s"$toDir/$rel")
      dstFs.delete(dst, true)
      FileUtil.copy(srcFs, new Path(s"$fromDir/$rel"), dstFs, dst,
        false, true, conf)
    }
  }

  def indexDeleteServeSql(k: Int = 5, nQueries: Int = 20,
      nprobe: Int = 2): String =
    ivfPqSql(k, nQueries, nprobe,
      codesWhere = "\n          WHERE r.vec_id % 7 <> 3")

  /** The snapshot ids present under an index root, in id order.
    * Snapshot ids are zero-padded monotonic strings (the c8/c11 corpus
    * snapshot discipline), so lexicographic order IS creation order —
    * retention never needs file timestamps.
    */
  def listIndexSnapshots(spark: SparkSession, indexDir: String)
      : Seq[String] = {
    val p = new org.apache.hadoop.fs.Path(indexDir)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(p)) Seq.empty
    else fs.listStatus(p).toSeq
      .filter(s => s.isDirectory && s.getPath.getName.startsWith("snapshot_id="))
      .map(_.getPath.getName.stripPrefix("snapshot_id="))
      .sorted
  }

  /** Retention sweep over a persisted-index root: keep the newest
    * `keepLast` snapshots, DELETE the rest (directory removal — the
    * compaction/append write path never mutates an existing snapshot,
    * so sweeping is the only deletion in the lifecycle). Returns
    * (kept, dropped) in id order. The production serving tier runs this
    * on a schedule; between sweeps every superseded snapshot stays
    * addressable and serves bit-identically (AnnIndexSpec pins that),
    * which is what makes the sweep safe to run lazily — the same
    * argument [[compactIvfPqIndex]] makes for tombstone folding.
    *
    * Cost: one filesystem listing plus a recursive delete per dropped
    * snapshot — metadata work only, never a data read; at 100 TB the
    * codes relations being deleted are large but deletion is a
    * namespace operation on any real filesystem/object store.
    */
  def sweepIndexSnapshots(spark: SparkSession, indexDir: String,
      keepLast: Int): (Seq[String], Seq[String]) = {
    require(keepLast >= 1, "retention must keep at least one snapshot")
    val ids = listIndexSnapshots(spark, indexDir)
    val (dropped, kept) = ids.splitAt(math.max(0, ids.length - keepLast))
    val root = new org.apache.hadoop.fs.Path(indexDir)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    dropped.foreach { id =>
      fs.delete(new org.apache.hadoop.fs.Path(root, s"snapshot_id=$id"), true)
    }
    (kept, dropped)
  }

  /** s22 — snapshot retention as a verify entry: build the index
    * lifecycle's snapshot chain (full train -> tombstone compaction ->
    * second compaction), run the keep-last-`keepLast` sweep, and emit
    * the per-snapshot inventory with the sweep's decision and the
    * post-sweep filesystem truth. The codes row counts are POLICY-
    * derived (each compaction's tombstone predicate is deterministic),
    * so the whole inventory — sizes, decisions, and which directories
    * actually survived — is closed-form for the oracle: a snapshot
    * inventory is a bounded relation (ids x counts), which is exactly
    * why retention belongs in the engine rather than an ops script.
    */
  def indexRetention(spark: SparkSession, sfDir: String,
      keepLast: Int = 2): DataFrame = {
    import spark.implicits._
    val root = sessionTempDir(spark, sfDir, "graft_ann_retn_")
    val all = vecsDouble(spark, sfDir).select("vec_id", "v")
    // deterministic rerun: clear any previous chain under this root
    val rootPath = new org.apache.hadoop.fs.Path(root)
    val fs = rootPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.delete(rootPath, true)
    // the lifecycle chain: 0001 full -> 0002 folds the %7 revocations ->
    // 0003 additionally folds the %5 batch (compaction tombstones are
    // cumulative — each snapshot is the previous minus its batch)
    val idx = ivfPqTrain(vecsDouble(spark, sfDir).select("vec_id", "v"))
    idx.cents.write.mode("overwrite")
      .parquet(s"$root/snapshot_id=0001/centroids")
    idx.codebook.write.mode("overwrite")
      .parquet(s"$root/snapshot_id=0001/codebook")
    idx.codes.write.mode("overwrite")
      .parquet(s"$root/snapshot_id=0001/codes")
    compactIvfPqIndex(spark, root, "0001", "0002", tombstonesOf(all))
    compactIvfPqIndex(spark, root, "0002", "0003",
      all.select(col("vec_id").as("n_id")).filter(col("n_id") % 5 === 2))
    // inventory BEFORE the sweep (dropped snapshots' sizes must be read
    // while they exist) — a bounded collect: one (id, count) scalar per
    // snapshot
    val ids = listIndexSnapshots(spark, root)
    val sizes = ids.map { id =>
      id -> spark.read.parquet(s"$root/snapshot_id=$id/codes").count()
    }
    val (kept, _) = sweepIndexSnapshots(spark, root, keepLast)
    val after = listIndexSnapshots(spark, root).toSet
    assert(after == kept.toSet, "sweep listing must equal kept set")
    sizes.map { case (id, n) =>
      (id, n, if (kept.contains(id)) "keep" else "drop", after.contains(id))
    }.toDF("snapshot_id", "codes_rows", "decision", "present_after")
  }

  def indexRetentionSql(keepLast: Int = 2): String = {
    // policy-derived inventory: codes carry PqSubspaces rows per live
    // vector; the WHERE chains are the compaction tombstone predicates
    val chain = Seq(
      ("0001", ""),
      ("0002", " WHERE vec_id % 7 <> 3"),
      ("0003", " WHERE vec_id % 7 <> 3 AND vec_id % 5 <> 2"))
    val nDrop = math.max(0, chain.size - keepLast)
    chain.zipWithIndex.map { case ((id, where), i) =>
      val keep = i >= nDrop
      s"""SELECT '$id' AS snapshot_id,
          CAST($PqSubspaces * count(*) AS BIGINT) AS codes_rows,
          '${if (keep) "keep" else "drop"}' AS decision,
          ${if (keep) "TRUE" else "FALSE"} AS present_after
        FROM embeddings$where"""
    }.mkString("\n        UNION ALL\n        ")
  }

  def ivfPqSql(k: Int = 5, nQueries: Int = 20, nprobe: Int = 2,
      codesWhere: String = ""): String = {
    val subDim = SrpDim / PqSubspaces
    val (ctes, last) = ivfCtesSql(2)
    s"""WITH $ctes,
        rcorp AS (
          SELECT a.vec_id AS vec_id,
            list_transform(range(1, $SrpDim + 1), i -> a.v[i] - c.cv[i]) AS v,
            a.cell AS cell
          FROM assigned a JOIN $last c ON a.cell = c.cent_id),
        ${pqCtesSql("SELECT vec_id, v FROM rcorp", "rq_")},
        ccodes AS (
          SELECT r.vec_id AS n_id, r.sub AS sub, r.code AS code, rc.cell AS cell
          FROM rq_a1 r JOIN rcorp rc ON r.vec_id = rc.vec_id$codesWhere),
        qprobe AS (SELECT vec_id AS q_id, v, cell FROM (
          ${probeCellsSql(s"SELECT vec_id, v FROM vecs0 WHERE vec_id < $nQueries",
            s"SELECT * FROM $last", nprobe)})),
        qres AS (
          SELECT q_id, cell,
            list_transform(range(1, $SrpDim + 1), i -> v[i] - cv[i]) AS rv
          FROM qprobe JOIN $last ON cell = cent_id),
        qsubs AS (
          SELECT q_id, cell, sub,
            list_transform(range(1, $subDim + 1), i -> rv[sub*$subDim + i]) AS sv
          FROM qres CROSS JOIN (SELECT unnest(range(0, $PqSubspaces)) AS sub)),
        qlut AS (
          SELECT q_id, s.cell AS cell, s.sub AS sub, cb.code AS code,
            ${pqD2Sql("sv", "cv")} AS dq
          FROM qsubs s JOIN rq_refined cb ON s.sub = cb.sub),
        scored AS (
          SELECT q_id, n_id,
            max(CASE WHEN c.sub = 0 THEN dq END)
              + max(CASE WHEN c.sub = 1 THEN dq END)
              + max(CASE WHEN c.sub = 2 THEN dq END)
              + max(CASE WHEN c.sub = 3 THEN dq END) AS adc_d2
          FROM ccodes c JOIN qlut
            ON c.cell = qlut.cell AND c.sub = qlut.sub AND c.code = qlut.code
          WHERE q_id <> n_id
          GROUP BY q_id, n_id),
        ranked AS (
          SELECT q_id, n_id, adc_d2,
            row_number() OVER (PARTITION BY q_id
                               ORDER BY adc_d2 ASC, n_id ASC) AS rank
          FROM scored)
        SELECT q_id, n_id, adc_d2, rank FROM ranked WHERE rank <= $k"""
  }

  def indexAppendServeSql(k: Int = 5, nQueries: Int = 20,
      nprobe: Int = 2): String = {
    val subDim = SrpDim / PqSubspaces
    val baseRel = s"""SELECT * FROM ($vecsDoubleSql)
      WHERE vec_id < (SELECT max(vec_id) * 3 // 4 FROM ($vecsDoubleSql))"""
    val (ctes, last) = ivfCtesSql(2, baseRel)
    s"""WITH $ctes,
        rcorp AS (
          SELECT a.vec_id AS vec_id,
            list_transform(range(1, $SrpDim + 1), i -> a.v[i] - c.cv[i]) AS v,
            a.cell AS cell
          FROM assigned a JOIN $last c ON a.cell = c.cent_id),
        ${pqCtesSql("SELECT vec_id, v FROM rcorp", "rq_")},
        ccodes AS (
          SELECT r.vec_id AS n_id, r.sub AS sub, r.code AS code,
            rc.cell AS cell
          FROM rq_a1 r JOIN rcorp rc ON r.vec_id = rc.vec_id),
        vall AS ($vecsDoubleSql),
        newv AS (SELECT vec_id, v FROM vall
                 WHERE vec_id >= (SELECT max(vec_id) * 3 // 4 FROM vall)),
        newassigned AS (${assignCellsSql("SELECT vec_id, v FROM newv",
          s"SELECT * FROM $last")}),
        newr AS (
          SELECT a.vec_id AS vec_id,
            list_transform(range(1, $SrpDim + 1), i -> a.v[i] - c.cv[i]) AS v,
            a.cell AS cell
          FROM newassigned a JOIN $last c ON a.cell = c.cent_id),
        newsubs AS (
          SELECT vec_id, sub,
            list_transform(range(1, $subDim + 1),
              i -> v[sub*$subDim + i]) AS sv
          FROM newr CROSS JOIN (SELECT unnest(range(0, $PqSubspaces)) AS sub)),
        newcodes AS (
          SELECT n.vec_id AS n_id, n.sub AS sub, n.code AS code,
            r.cell AS cell
          FROM (
            SELECT vec_id, sub,
              CAST(-struct_extract(max({'nd': -d2, 'nc': -code}), 'nc')
                AS INT) AS code
            FROM (
              SELECT vec_id, s.sub AS sub, code,
                ${pqD2Sql("sv", "cv")} AS d2
              FROM newsubs s JOIN rq_refined cb ON s.sub = cb.sub)
            GROUP BY vec_id, sub) n
          JOIN newr r ON n.vec_id = r.vec_id),
        allcodes AS (
          SELECT * FROM ccodes UNION ALL SELECT * FROM newcodes),
        qprobe AS (SELECT vec_id AS q_id, v, cell FROM (
          ${probeCellsSql(s"SELECT vec_id, v FROM vecs0 WHERE vec_id < $nQueries",
            s"SELECT * FROM $last", nprobe)})),
        qres AS (
          SELECT q_id, cell,
            list_transform(range(1, $SrpDim + 1), i -> v[i] - cv[i]) AS rv
          FROM qprobe JOIN $last ON cell = cent_id),
        qsubs AS (
          SELECT q_id, cell, sub,
            list_transform(range(1, $subDim + 1),
              i -> rv[sub*$subDim + i]) AS sv
          FROM qres CROSS JOIN (SELECT unnest(range(0, $PqSubspaces)) AS sub)),
        qlut AS (
          SELECT q_id, s.cell AS cell, s.sub AS sub, cb.code AS code,
            ${pqD2Sql("sv", "cv")} AS dq
          FROM qsubs s JOIN rq_refined cb ON s.sub = cb.sub),
        scored AS (
          SELECT q_id, n_id,
            max(CASE WHEN c.sub = 0 THEN dq END)
              + max(CASE WHEN c.sub = 1 THEN dq END)
              + max(CASE WHEN c.sub = 2 THEN dq END)
              + max(CASE WHEN c.sub = 3 THEN dq END) AS adc_d2
          FROM allcodes c JOIN qlut
            ON c.cell = qlut.cell AND c.sub = qlut.sub AND c.code = qlut.code
          WHERE q_id <> n_id
          GROUP BY q_id, n_id),
        ranked AS (
          SELECT q_id, n_id, adc_d2,
            row_number() OVER (PARTITION BY q_id
                               ORDER BY adc_d2 ASC, n_id ASC) AS rank
          FROM scored)
        SELECT q_id, n_id, adc_d2, rank FROM ranked WHERE rank <= $k"""
  }

  /** recall@k of IVF-PQ vs exact L2 — probing loss (nprobe cells) and
    * quantization loss (residual codes) measured together.
    */
  def ivfPqRecall(spark: SparkSession, sfDir: String,
      k: Int = 5, nQueries: Int = 20): DataFrame =
    ivfPqRecallFrom(spark, sfDir, ivfPq(spark, sfDir, k, nQueries),
      k, nQueries)

  def ivfPqRecallFrom(spark: SparkSession, sfDir: String,
      approxRes: DataFrame, k: Int = 5, nQueries: Int = 20): DataFrame = {
    val vecs = vecsDouble(spark, sfDir)
    val q = vecs.filter(col("vec_id") < nQueries)
      .select(col("vec_id").as("q_id"), col("v").as("qv"))
    val c = vecs.select(col("vec_id").as("n_id"), col("v").as("nv"))
    val w = Window.partitionBy("q_id").orderBy(col("d2").asc, col("n_id").asc)
    val exact = q.join(c, col("q_id") =!= col("n_id"))
      .withColumn("d2", vec_d2(col("qv"), col("nv")))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select("q_id", "n_id")
    val approx = approxRes
      .select(col("q_id").as("aq"), col("n_id").as("an"))
    exact.join(approx, col("q_id") === col("aq") && col("n_id") === col("an"),
        "left")
      .groupBy("q_id")
      .agg((count(col("aq")) / lit(k.toDouble)).as("recall_at_k"))
  }

  /** s20 — append-DRIFT measurement, the retrain-cadence policy input
    * the s18 scaladoc defers to the caller: recall@k of the
    * frozen-artifact appended index ([[indexAppendServe]] — codebooks
    * trained on the base 3/4, appended quarter encoded without
    * training) vs recall@k of a full retrain ([[ivfPq]]), both against
    * the same exact-L2 truth over the FULL corpus. The retrained
    * recall is the ceiling the frozen index decays from as the
    * appended distribution drifts; a deployment retrains when the gap
    * exceeds its quality budget. Each recall is an integer ratio
    * (hits/k — hash-exact cross-engine); rows are per-query so the
    * tail, not just the mean, is visible.
    *
    * Scale: both approximate legs are the bucketed serve paths; the
    * exact-truth leg is nQ fixed scans (the d6 sampled-truth
    * discipline — at 100 TB you grade on a fixed query sample, never
    * all-pairs).
    */
  def indexAppendDrift(spark: SparkSession, sfDir: String,
      k: Int = 5, nQueries: Int = 20, nprobe: Int = 2): DataFrame = {
    val frozen = ivfPqRecallFrom(spark, sfDir,
        indexAppendServe(spark, sfDir, k, nQueries, nprobe), k, nQueries)
      .withColumnRenamed("recall_at_k", "recall_frozen")
    val retrained = ivfPqRecallFrom(spark, sfDir,
        ivfPq(spark, sfDir, k, nQueries, nprobe), k, nQueries)
      .withColumnRenamed("recall_at_k", "recall_retrained")
    frozen.join(retrained, Seq("q_id"))
  }

  def indexAppendDriftSql(k: Int = 5, nQueries: Int = 20,
      nprobe: Int = 2): String =
    s"""WITH fr AS (SELECT q_id, recall_at_k AS recall_frozen FROM (
          ${ivfPqRecallSql(k, nQueries,
            approxSql = indexAppendServeSql(k, nQueries, nprobe))})),
        rr AS (SELECT q_id, recall_at_k AS recall_retrained FROM (
          ${ivfPqRecallSql(k, nQueries)}))
        SELECT fr.q_id, fr.recall_frozen, rr.recall_retrained
        FROM fr JOIN rr ON fr.q_id = rr.q_id"""

  /** e8 — SQ8 retrieval recall: what e1's int8 quantization COSTS at
    * search time. e1 emits the codes and their MSE; this measures the
    * number that actually gates a deployment — recall@k of the standard
    * asymmetric SQ search (query stays exact float, corpus distances
    * computed against the DEQUANTIZED int8 vectors) vs exact-L2 truth.
    * Completes the quantization menu's quality column: PQ (s6), binary
    * Hamming (s11), MRL prefix (e3), int8 scalar (here).
    *
    * Scale: the scan is s1_knn_brute's nQ-row broadcast shape — SQ is a
    * COMPRESSION layer, not an index; at 100 TB it runs behind IVF
    * pruning (s3/s7) and this query prices the compression alone, the
    * controlled measurement a tuning decision needs.
    */
  def sq8Recall(spark: SparkSession, sfDir: String, k: Int = 5,
      nQueries: Int = 20): DataFrame = {
    val vecs = vecsDouble(spark, sfDir)
    val scale = array_max(transform(col("v"), x => abs(x))) / lit(127.0)
    // e1's exact quantize-dequantize round trip (per-vector scale,
    // floor(x/s + .5), all-zero vectors guarded to q=0)
    val corpus = vecs.withColumn("scale", scale)
      .select(col("vec_id").as("n_id"), transform(col("v"), x =>
        coalesce(floor(x / nullif(col("scale"), lit(0.0)) + lit(0.5))
          .cast("int"), lit(0)).cast("double") * col("scale")).as("nv"))
    val q = vecs.filter(col("vec_id") < nQueries)
      .select(col("vec_id").as("q_id"), col("v").as("qv"))
    val w = Window.partitionBy("q_id").orderBy(col("d2").asc, col("n_id").asc)
    val approx = q.join(corpus, col("q_id") =!= col("n_id"))
      .withColumn("d2", vec_d2(col("qv"), col("nv")))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select("q_id", "n_id")
    ivfPqRecallFrom(spark, sfDir, approx, k, nQueries)
  }

  def sq8RecallSql(k: Int = 5, nQueries: Int = 20): String = {
    val approx =
      s"""WITH vecs_s AS ($vecsDoubleSql),
          sc AS (SELECT vec_id, v,
                   list_max(list_transform(v, x -> abs(x))) / 127.0 AS scale
                 FROM vecs_s),
          r_s AS (SELECT vec_id AS n_id,
                    list_transform(v, x ->
                      coalesce(CAST(floor(x / nullif(scale, 0.0) + 0.5)
                        AS INT), 0) * scale) AS nv
                  FROM sc),
          q_s AS (SELECT vec_id AS q_id, v AS qv FROM vecs_s
                  WHERE vec_id < $nQueries)
          SELECT q_id, n_id FROM (
            SELECT q_id, n_id,
              row_number() OVER (PARTITION BY q_id ORDER BY d2 ASC, n_id ASC)
                AS rank
            FROM (SELECT q_id, n_id,
                    list_reduce(list_prepend(0.0,
                      list_transform(range(1, len(qv)+1),
                        i -> (qv[i] - nv[i]) * (qv[i] - nv[i]))),
                      (acc, e) -> acc + e) AS d2
                  FROM q_s JOIN r_s ON q_id <> n_id))
          WHERE rank <= $k"""
    ivfPqRecallSql(k, nQueries, approxSql = approx)
  }

  /** s21 — the nprobe TUNING CURVE: recall@k of the IVF-PQ index at
    * each probe depth, against one shared exact-L2 truth — the
    * recall-vs-cost sweep every serving deployment runs before picking
    * its operating point (nprobe is THE latency/recall knob of an IVF
    * index; the curve, not any single point, is the tuning artifact).
    * The index is trained ONCE and served at each depth (the
    * train-once/serve-many production loop); recall is a total-hits
    * integer ratio over the fixed query sample (hash-exact
    * cross-engine).
    *
    * Scale: one training pass + |probes| bucketed serves (each touches
    * nprobe/cells of the codes) + one fixed-nQ exact-truth scan shared
    * by every depth — the sweep costs little more than its deepest
    * point.
    */
  def probeSweep(spark: SparkSession, sfDir: String, k: Int = 5,
      nQueries: Int = 20, probes: Seq[Int] = Seq(1, 2, 4)): DataFrame = {
    val idx = ivfPqTrain(vecsDouble(spark, sfDir).select("vec_id", "v"))
    val vecs = vecsDouble(spark, sfDir).select("vec_id", "v")
    val queries = vecs.filter(col("vec_id") < nQueries)
    val q = queries.select(col("vec_id").as("q_id"), col("v").as("qv"))
    val c = vecs.select(col("vec_id").as("n_id"), col("v").as("nv"))
    val w = Window.partitionBy("q_id").orderBy(col("d2").asc, col("n_id").asc)
    // exact truth computed ONCE and collected to a plan literal —
    // bounded at nQueries x k rows (<= 100 here) by construction, the
    // bounded-collect idiom. A localCheckpoint would also share the
    // scan across the |probes| consumers but its blocks outlive the
    // call (nothing here can unpersist a frame the returned lazy plan
    // still references), accumulating across repeated bench/verify
    // invocations; the literal leaks nothing.
    import spark.implicits._
    val exactRows = q.join(c, col("q_id") =!= col("n_id"))
      .withColumn("d2", vec_d2(col("qv"), col("nv")))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select("q_id", "n_id")
      .as[(Long, Long)]
      .collect()
    val exact = exactRows.toSeq.toDF("q_id", "n_id")
    probes.map { np =>
      val approx = ivfPqServeFrom(queries, idx, k, np)
        .select(col("q_id").as("aq"), col("n_id").as("an"))
      exact.join(approx,
          col("q_id") === col("aq") && col("n_id") === col("an"), "left")
        .agg(count(col("aq")).cast("long").as("hits"))
        .select(lit(np.toLong).as("nprobe"), col("hits"),
          (col("hits").cast("double") / lit((nQueries * k).toDouble))
            .as("recall_at_k"))
    }.reduce(_ unionAll _)
  }

  def probeSweepSql(k: Int = 5, nQueries: Int = 20,
      probes: Seq[Int] = Seq(1, 2, 4)): String = {
    val exact =
      s"""WITH vecs_e AS ($vecsDoubleSql),
          q_e AS (SELECT vec_id AS q_id, v AS qv FROM vecs_e
                  WHERE vec_id < $nQueries),
          c_e AS (SELECT vec_id AS n_id, v AS nv FROM vecs_e)
          SELECT q_id, n_id FROM (
            SELECT q_id, n_id,
              row_number() OVER (PARTITION BY q_id ORDER BY d2 ASC, n_id ASC)
                AS rank
            FROM (SELECT q_id, n_id,
                    list_reduce(list_prepend(0.0,
                      list_transform(range(1, len(qv)+1),
                        i -> (qv[i] - nv[i]) * (qv[i] - nv[i]))),
                      (acc, e) -> acc + e) AS d2
                  FROM q_e JOIN c_e ON q_id <> n_id))
          WHERE rank <= $k"""
    probes.map { np =>
      s"""SELECT CAST($np AS BIGINT) AS nprobe,
            CAST(count(aq) AS BIGINT) AS hits,
            CAST(count(aq) AS DOUBLE) / ${(nQueries * k).toDouble}
              AS recall_at_k
          FROM ($exact) e
          LEFT JOIN (SELECT q_id AS aq, n_id AS an
                     FROM (${ivfPqSql(k, nQueries, np)})) a
            ON e.q_id = a.aq AND e.n_id = a.an"""
    }.mkString("\n        UNION ALL\n        ")
  }

  def ivfPqRecallSql(k: Int = 5, nQueries: Int = 20,
      approxSql: String = null): String =
    s"""WITH vecs_e AS ($vecsDoubleSql),
        q_e AS (SELECT vec_id AS q_id, v AS qv FROM vecs_e
                WHERE vec_id < $nQueries),
        c_e AS (SELECT vec_id AS n_id, v AS nv FROM vecs_e),
        exact AS (
          SELECT q_id, n_id FROM (
            SELECT q_id, n_id,
              row_number() OVER (PARTITION BY q_id ORDER BY d2 ASC, n_id ASC)
                AS rank
            FROM (SELECT q_id, n_id,
                    list_reduce(list_prepend(0.0,
                      list_transform(range(1, len(qv)+1),
                        i -> (qv[i] - nv[i]) * (qv[i] - nv[i]))),
                      (acc, e) -> acc + e) AS d2
                  FROM q_e JOIN c_e ON q_id <> n_id))
          WHERE rank <= $k),
        approx AS (SELECT q_id AS aq, n_id AS an
                   FROM (${Option(approxSql).getOrElse(ivfPqSql(k, nQueries))}))
        SELECT q_id, count(aq) / CAST($k AS DOUBLE) AS recall_at_k
        FROM exact LEFT JOIN approx ON q_id = aq AND n_id = an
        GROUP BY q_id"""

  /** ADC + exact-refine re-ranking — the full production serving shape:
    * the compressed index proposes `cand` candidates per query (memory-
    * bound code lookups, never the corpus floats), then the refine
    * stage fetches exact vectors for ONLY those Q·cand candidates and
    * re-ranks to the final top-k. The result carries recall@k for the
    * refined list AND the raw ADC list side by side — the measured
    * recall the refine step buys for an exact-scoring cost of
    * Q·cand instead of Q·N.
    *
    * Scale: the candidate set is broadcast-sized per query batch; the
    * refine join touches `cand/N` of the corpus — at 100 TB that ratio
    * is what makes exact re-ranking affordable at all.
    */
  def pqRefineRecall(spark: SparkSession, sfDir: String,
      k: Int = 5, cand: Int = 25, nQueries: Int = 20): DataFrame = {
    val coarse = pqAdc(spark, sfDir, cand, nQueries)
    val vecs = vecsDouble(spark, sfDir)
    val q = vecs.filter(col("vec_id") < nQueries)
      .select(col("vec_id").as("q_id"), col("v").as("qv"))
    val c = vecs.select(col("vec_id").as("n_id"), col("v").as("nv"))
    val w = Window.partitionBy("q_id").orderBy(col("d2").asc, col("n_id").asc)
    val refined = coarse.select("q_id", "n_id")
      .join(q, "q_id").join(c, "n_id")
      .withColumn("d2", vec_d2(col("qv"), col("nv")))
      .withColumn("rnk", row_number().over(w))
      .filter(col("rnk") <= k)
      .select(col("q_id").as("rq"), col("n_id").as("rn"))
    val adcK = coarse.filter(col("rank") <= k)
      .select(col("q_id").as("aq"), col("n_id").as("an"))
    val exact = q.join(c, col("q_id") =!= col("n_id"))
      .withColumn("d2", vec_d2(col("qv"), col("nv")))
      .withColumn("rnk", row_number().over(w))
      .filter(col("rnk") <= k)
      .select("q_id", "n_id")
    exact
      .join(refined, col("q_id") === col("rq") && col("n_id") === col("rn"), "left")
      .join(adcK, col("q_id") === col("aq") && col("n_id") === col("an"), "left")
      .groupBy("q_id")
      .agg((count(col("rq")) / lit(k.toDouble)).as("recall_refined"),
        (count(col("aq")) / lit(k.toDouble)).as("recall_adc"))
  }

  def pqRefineRecallSql(k: Int = 5, cand: Int = 25,
      nQueries: Int = 20): String = {
    val d2 = """list_reduce(list_prepend(0.0,
          list_transform(range(1, len(qv)+1),
            i -> (qv[i] - nv[i]) * (qv[i] - nv[i]))),
          (acc, e) -> acc + e)"""
    s"""WITH vecs_r AS ($vecsDoubleSql),
        coarse AS (SELECT q_id, n_id, rank
                   FROM (${pqAdcSql(cand, nQueries)})),
        q AS (SELECT vec_id AS q_id, v AS qv FROM vecs_r
              WHERE vec_id < $nQueries),
        c AS (SELECT vec_id AS n_id, v AS nv FROM vecs_r),
        refined AS (
          SELECT q_id AS rq, n_id AS rn FROM (
            SELECT coarse.q_id, coarse.n_id,
              row_number() OVER (PARTITION BY coarse.q_id
                ORDER BY $d2 ASC, coarse.n_id ASC) AS rnk, qv, nv
            FROM coarse JOIN q USING (q_id) JOIN c USING (n_id))
          WHERE rnk <= $k),
        adck AS (SELECT q_id AS aq, n_id AS an FROM coarse
                 WHERE rank <= $k),
        exact AS (
          SELECT q_id, n_id FROM (
            SELECT q_id, n_id,
              row_number() OVER (PARTITION BY q_id
                ORDER BY $d2 ASC, n_id ASC) AS rnk
            FROM q JOIN c ON q_id <> n_id)
          WHERE rnk <= $k)
        SELECT q_id,
          count(rq) / CAST($k AS DOUBLE) AS recall_refined,
          count(aq) / CAST($k AS DOUBLE) AS recall_adc
        FROM exact
        LEFT JOIN refined ON q_id = rq AND n_id = rn
        LEFT JOIN adck ON q_id = aq AND n_id = an
        GROUP BY q_id"""
  }

  def knnLshSql(k: Int = 5, nQueries: Int = 20): String = {
    val dim = SrpDim
    val bucket = (0 until LshBits).map { bit =>
      val proj = (0 until dim).map(d => s"v[${d + 1}] * ${planeCoef(bit, d)}")
        .mkString(" + ")
      s"CASE WHEN ($proj) >= 0 THEN ${1L << bit} ELSE 0 END"
    }.mkString(" + ")
    s"""WITH vecs AS (SELECT *, CAST($bucket AS BIGINT) AS bucket FROM ($vecsDoubleSql)),
        q AS (SELECT vec_id AS q_id, v AS qv, bucket FROM vecs WHERE vec_id < $nQueries),
        c AS (SELECT vec_id AS n_id, v AS nv, bucket FROM vecs),
        sims AS (
          SELECT q_id, n_id, q.bucket AS bucket,
            ${dotSql("qv", "nv")} / (${normSql("qv")} * ${normSql("nv")}) AS cos
          FROM q JOIN c ON q.bucket = c.bucket AND q_id <> n_id),
        ranked AS (
          SELECT q_id, n_id, bucket, cos,
            row_number() OVER (PARTITION BY q_id ORDER BY cos DESC, n_id ASC) AS rank
          FROM sims)
        SELECT q_id, n_id, bucket, cos, rank FROM ranked WHERE rank <= $k"""
  }

  /** IVF index QUALITY statistics — per-cell occupancy plus the
    * imbalance factor `cells * sum(share^2)` (1.0 = perfectly balanced;
    * its value is also the expected slowdown multiple of a random probe
    * vs the balanced index, which is why FAISS reports the same metric).
    * At 100 TB an unbalanced index quietly turns nprobe-bounded search
    * into scans of mega-cells, so the health check is itself a
    * first-class query: one assignment pass, one cell-keyed count.
    */
  def ivfStats(spark: SparkSession, sfDir: String,
      kmeansIters: Int = 2): DataFrame = {
    val vecs = vecsDouble(spark, sfDir).select("vec_id", "v")
    val cells = assignCells(vecs, ivfCentroids(vecs, kmeansIters))
      .groupBy("cell").agg(count(lit(1)).as("n_vecs"))
    val tot = Window.partitionBy(lit(1))
    val shared = cells.withColumn("share",
      col("n_vecs").cast("double") / sum("n_vecs").over(tot))
    // imbalance via a cell-ORDERED fold: a plain sum's accumulation
    // order is unspecified on both engines, and the last-ulp drift
    // would fail the bit-exact gate (cells table is tiny — one row per
    // IVF cell — so the collect_list is a scalar-sized aggregate)
    val imb = shared.agg(
      aggregate(
        sort_array(collect_list(struct(col("cell"),
          (col("share") * col("share")).as("s2")))),
        lit(0.0), (acc, x) => acc + x("s2")).as("sumsq"),
      count(lit(1)).cast("double").as("ncells"))
    shared.crossJoin(broadcast(imb))
      .select(col("cell"), col("n_vecs"), col("share"),
        (col("sumsq") * col("ncells")).as("imbalance"))
  }

  def ivfStatsSql(kmeansIters: Int = 2): String = {
    val (ctes, _) = ivfCtesSql(kmeansIters)
    s"""WITH $ctes,
        cells AS (SELECT cell, CAST(count(*) AS BIGINT) AS n_vecs
                  FROM assigned GROUP BY cell),
        shared AS (
          SELECT cell, n_vecs,
            CAST(n_vecs AS DOUBLE) / sum(n_vecs) OVER () AS share
          FROM cells),
        stats AS (
          SELECT list_reduce(
              list_prepend(0.0, list(share * share ORDER BY cell)),
              (acc, x) -> acc + x) AS sumsq,
            CAST(count(*) AS DOUBLE) AS ncells
          FROM shared)
        SELECT cell, n_vecs, share, sumsq * ncells AS imbalance
        FROM shared, stats"""
  }

  /** Topic clustering for corpus-mix balancing: k-means over the
    * embedding column assigns every document to a cluster; the output is
    * the per-cluster doc count, token mass, token share of the corpus,
    * and (since the synthetic embeddings carry a ground-truth `label`)
    * the majority label and cluster purity — quality measured, not
    * assumed, like the recall queries. This is the shape behind
    * cluster-balanced data mixes (sample per topic instead of per
    * source): at 100 TB the corpus only flows through one broadcast
    * nearest-centroid assignment and two keyed aggregations whose key
    * cardinality is |cells| x |labels| — no pair joins, no windows over
    * corpus rows.
    */
  def topicClusters(spark: SparkSession, sfDir: String,
      kmeansIters: Int = 2): DataFrame = {
    val vecs = vecsDouble(spark, sfDir)
    val ids = vecs.select("vec_id", "v")
    val assigned = assignCells(ids, ivfCentroids(ids, kmeansIters))
    val docs = Tables.load(spark, sfDir, "documents").select(
      col("doc_id"),
      size(split(trim(col("text")), "\\s+")).cast("long").as("n_words"))
    val byLabel = assigned.select("vec_id", "cell")
      .join(vecs.select(col("vec_id"), col("label")), Seq("vec_id"))
      .join(docs, col("vec_id") === col("doc_id"))
      .groupBy("cell", "label")
      .agg(count(lit(1)).as("n_l"), sum("n_words").as("tok_l"))
    val perCell = byLabel.groupBy("cell")
      .agg(sum("n_l").as("n_docs"), sum("tok_l").as("n_tokens"),
        max(struct(col("n_l").as("c"), (-col("label")).as("nl"))).as("mj"))
    val tot = Window.partitionBy(lit(1))
    perCell.select(col("cell").as("cluster"), col("n_docs"),
        col("n_tokens"),
        (col("n_tokens").cast("double") / sum("n_tokens").over(tot))
          .as("token_share"),
        (-col("mj.nl")).cast("long").as("majority_label"),
        (col("mj.c").cast("double") / col("n_docs")).as("purity"))
  }

  def topicClustersSql(kmeansIters: Int = 2): String = {
    val (ctes, _) = ivfCtesSql(kmeansIters)
    s"""WITH $ctes,
        docs AS (SELECT doc_id,
            CAST(len(string_split_regex(trim(text), '\\s+')) AS BIGINT)
              AS n_words
          FROM documents),
        bl AS (
          SELECT a.cell, e.label,
            CAST(count(*) AS BIGINT) AS n_l,
            CAST(sum(d.n_words) AS BIGINT) AS tok_l
          FROM assigned a
          JOIN embeddings e ON a.vec_id = e.vec_id
          JOIN docs d ON a.vec_id = d.doc_id
          GROUP BY a.cell, e.label),
        pc AS (
          SELECT cell AS cluster,
            CAST(sum(n_l) AS BIGINT) AS n_docs,
            CAST(sum(tok_l) AS BIGINT) AS n_tokens,
            CAST(-struct_extract(max({'c': n_l, 'nl': -label}), 'nl')
              AS BIGINT) AS majority_label,
            CAST(struct_extract(max({'c': n_l, 'nl': -label}), 'c')
              AS DOUBLE) / sum(n_l) AS purity
          FROM bl GROUP BY cell)
        SELECT cluster, n_docs, n_tokens,
          CAST(n_tokens AS DOUBLE) / sum(n_tokens) OVER () AS token_share,
          majority_label, purity
        FROM pc"""
  }

  /** Matryoshka-style truncation recall — how much ANN quality survives
    * when only the first `p` dimensions of each embedding are kept
    * (dimension truncation is the cheapest embedding compression: a
    * prefix slice at read time, p/64 of the bytes and FLOPs). For each
    * prefix length, exact top-k under the truncated cosine is compared
    * to the full-dimension ground truth; output is mean recall@k per
    * prefix — measured, not assumed, like every approximate index here.
    * The per-prefix search shares one scan; rows explode x|prefixes|
    * before the per-query window, so cost is |prefixes| brute passes.
    */
  def matryoshkaRecall(spark: SparkSession, sfDir: String,
      k: Int = 5, nQueries: Int = 20,
      prefixes: Seq[Int] = Seq(8, 16, 32)): DataFrame = {
    val full = knnBrute(spark, sfDir, k, nQueries).select("q_id", "n_id")
    val vecs = vecsDouble(spark, sfDir).select("vec_id", "v")
    val perPrefix = prefixes.map { p =>
      val pv = vecs.select(col("vec_id"), slice(col("v"), 1, p).as("v"))
      val q = pv.filter(col("vec_id") < nQueries)
        .select(col("vec_id").as("tq"), col("v").as("qv"))
      val c = pv.select(col("vec_id").as("tn"), col("v").as("nv"))
      val sims = q.join(c, col("tq") =!= col("tn"))
        .withColumn("cos",
          dot(col("qv"), col("nv")) / (norm(col("qv")) * norm(col("nv"))))
      val w = Window.partitionBy("tq").orderBy(col("cos").desc, col("tn").asc)
      val topk = sims.withColumn("rank", row_number().over(w))
        .filter(col("rank") <= k).select("tq", "tn")
      full.join(topk,
          col("q_id") === col("tq") && col("n_id") === col("tn"), "left")
        .agg((count(col("tq")) / (lit(k.toDouble) * nQueries))
          .as("mean_recall"))
        .select(lit(p.toLong).as("prefix_dim"), col("mean_recall"))
    }
    perPrefix.reduce(_.unionAll(_))
  }

  def matryoshkaRecallSql(k: Int = 5, nQueries: Int = 20,
      prefixes: Seq[Int] = Seq(8, 16, 32)): String = {
    val per = prefixes.map { p =>
      s"""SELECT CAST($p AS BIGINT) AS prefix_dim,
            count(tq) / CAST($k * $nQueries AS DOUBLE) AS mean_recall
          FROM brute LEFT JOIN (
            SELECT tq, tn FROM (
              SELECT tq, tn, row_number() OVER (
                  PARTITION BY tq ORDER BY cos DESC, tn ASC) AS rank
              FROM (
                SELECT q.vec_id AS tq, c.vec_id AS tn,
                  ${dotSql("qv", "nv")} / (${normSql("qv")} * ${normSql("nv")})
                    AS cos
                FROM (SELECT vec_id, list_slice(v, 1, $p) AS qv FROM vecs
                      WHERE vec_id < $nQueries) q
                JOIN (SELECT vec_id, list_slice(v, 1, $p) AS nv FROM vecs) c
                  ON q.vec_id <> c.vec_id))
            WHERE rank <= $k) t
          ON brute.q_id = t.tq AND brute.n_id = t.tn"""
    }.mkString("\n UNION ALL ")
    s"""WITH vecs AS ($vecsDoubleSql),
        brute AS (SELECT q_id, n_id FROM (${knnBruteSql(k, nQueries)}))
        $per"""
  }

  /** s13: Matryoshka FUNNEL retrieval — the adaptive-retrieval serving
    * pattern of Matryoshka Representation Learning (Kusupati et al.
    * 2022, arXiv:2205.13147 §4: shortlist with a cheap PREFIX of the
    * embedding, rerank the shortlist with progressively longer
    * prefixes): stage 1 scores the whole corpus on the first `p1` dims
    * and keeps `m1` per query, stage 2 rescores those on `p2` dims and
    * keeps `m2`, stage 3 reranks the survivors with the full vector and
    * emits the top `k`. [[matryoshkaRecall]] (e3) measures what each
    * prefix length loses; this is the operator that SPENDS that
    * knowledge.
    *
    * Scale shape: the only corpus-wide pass touches p1/dim of the
    * vector bytes (dim 64 -> 8: an 8x scan cut, same lever as s11's
    * sign codes — column-pruned storage would lay the prefix out as its
    * own column), and every later stage is an m1- or m2-row shortlist
    * broadcast equi-joined back to the vector table. Each stage is
    * deterministic (id tie-breaks), so the funnel is a pure function of
    * the data and the oracle replays it stage by stage.
    */
  def mrlFunnel(spark: SparkSession, sfDir: String,
      k: Int = 5, m1: Int = 60, m2: Int = 20, nQueries: Int = 20,
      p1: Int = 8, p2: Int = 32): DataFrame = {
    val vecs = vecsDouble(spark, sfDir)
    def pref(c: Column, p: Int): Column = slice(c, 1, p)
    def cosP(a: Column, b: Column, p: Int): Column =
      dot(pref(a, p), pref(b, p)) / (norm(pref(a, p)) * norm(pref(b, p)))
    val q = vecs.filter(col("vec_id") < nQueries)
      .select(col("vec_id").as("q_id"), col("v").as("qv"))
    val c = vecs.select(col("vec_id").as("n_id"), col("v").as("nv"))
    val w1 = Window.partitionBy("q_id").orderBy(col("cos1").desc, col("n_id").asc)
    val s1 = q.join(c, col("q_id") =!= col("n_id"))
      .withColumn("cos1", cosP(col("qv"), col("nv"), p1))
      .withColumn("r1", row_number().over(w1))
      .filter(col("r1") <= m1)
      .select("q_id", "n_id")
    val qv = vecs.select(col("vec_id").as("q_id"), col("v").as("qv"))
    val nv = vecs.select(col("vec_id").as("n_id"), col("v").as("nv"))
    val w2 = Window.partitionBy("q_id").orderBy(col("cos2").desc, col("n_id").asc)
    // s1 is at most nQueries*m1 rows; after picking up each query's
    // full vector it is still tiny, so broadcast the joined shortlist
    // into the big nv side rather than shuffling nv.
    val s1q = broadcast(s1).join(qv, "q_id")
    val s2 = broadcast(s1q).join(nv, "n_id")
      .withColumn("cos2", cosP(col("qv"), col("nv"), p2))
      .withColumn("r2", row_number().over(w2))
      .filter(col("r2") <= m2)
      .select("q_id", "n_id", "qv", "nv")
    val w3 = Window.partitionBy("q_id").orderBy(col("cos").desc, col("n_id").asc)
    s2.withColumn("cos",
        dot(col("qv"), col("nv")) / (norm(col("qv")) * norm(col("nv"))))
      .withColumn("rank", row_number().over(w3).cast("long"))
      .filter(col("rank") <= k)
      .select("q_id", "n_id", "cos", "rank")
  }

  def mrlFunnelSql(k: Int = 5, m1: Int = 60, m2: Int = 20,
      nQueries: Int = 20, p1: Int = 8, p2: Int = 32): String = {
    def cosP(a: String, b: String, p: Int): String = {
      val (sa, sb) = (s"list_slice($a, 1, $p)", s"list_slice($b, 1, $p)")
      s"${dotSql(sa, sb)} / (${normSql(sa)} * ${normSql(sb)})"
    }
    s"""WITH vecs AS ($vecsDoubleSql),
        s1 AS (
          SELECT q_id, n_id FROM (
            SELECT q.vec_id AS q_id, c.vec_id AS n_id,
              row_number() OVER (PARTITION BY q.vec_id
                ORDER BY ${cosP("q.v", "c.v", p1)} DESC, c.vec_id ASC) AS r1
            FROM vecs q JOIN vecs c
              ON q.vec_id < $nQueries AND q.vec_id <> c.vec_id)
          WHERE r1 <= $m1),
        s2 AS (
          SELECT q_id, n_id, qv, nv FROM (
            SELECT s.q_id, s.n_id, qt.v AS qv, nt.v AS nv,
              row_number() OVER (PARTITION BY s.q_id
                ORDER BY ${cosP("qt.v", "nt.v", p2)} DESC, s.n_id ASC) AS r2
            FROM s1 s
              JOIN vecs qt ON qt.vec_id = s.q_id
              JOIN vecs nt ON nt.vec_id = s.n_id)
          WHERE r2 <= $m2)
        SELECT q_id, n_id, cos, rank FROM (
          SELECT q_id, n_id,
            ${dotSql("qv", "nv")} / (${normSql("qv")} * ${normSql("nv")})
              AS cos,
            CAST(row_number() OVER (PARTITION BY q_id
              ORDER BY ${dotSql("qv", "nv")} /
                (${normSql("qv")} * ${normSql("nv")}) DESC, n_id ASC)
              AS BIGINT) AS rank
          FROM s2)
        WHERE rank <= $k"""
  }

  /** s14: FILTERED vector search — the metadata-constrained ANN
    * question every serving stack faces (find nearest neighbors WITH
    * label = X): PRE-filtering applies the predicate before the
    * similarity scan (exact — the predicate pushes into the scan, and
    * label-partitioned storage makes it a partition prune at 100 TB),
    * POST-filtering takes the unfiltered top-`m`, keeps label matches,
    * and serves the best `k` survivors (cheap on an unpartitioned
    * index, but a query whose label is rare in its cosine neighborhood
    * loses recall — the documented failure mode that pushed real
    * vector stores toward filter-aware search). Each query's target
    * label is its own label; the output is the pre-filter truth
    * top-`k` with an `in_post` flag per pair marking membership in the
    * post-filter stack's actual served set, so per-query and aggregate
    * post-filter@k recall at shortlist width `m` are read directly off
    * the relation — measured, not asserted, and the oracle checks the
    * whole comparison.
    *
    * Scale shape: two [[knnBrute]]-shaped passes (nQ-row query
    * broadcasts); the pre-filter leg's predicate reaches the scan
    * (label = q's label inside the join condition), the post-filter leg
    * is s1 + a residual filter on the m-row toplist.
    */
  def filteredKnn(spark: SparkSession, sfDir: String,
      k: Int = 5, m: Int = 10, nQueries: Int = 20): DataFrame = {
    val vecs = vecsDouble(spark, sfDir)
    val q = vecs.filter(col("vec_id") < nQueries)
      .select(col("vec_id").as("q_id"), col("label").as("q_label"),
        col("v").as("qv"))
    val c = vecs.select(col("vec_id").as("n_id"), col("label").as("n_label"),
      col("v").as("nv"))
    val wC = Window.partitionBy("q_id").orderBy(col("cos").desc, col("n_id").asc)
    val pre = q.join(c,
        col("q_id") =!= col("n_id") && col("q_label") === col("n_label"))
      .withColumn("cos",
        dot(col("qv"), col("nv")) / (norm(col("qv")) * norm(col("nv"))))
      .withColumn("rank", row_number().over(wC).cast("long"))
      .filter(col("rank") <= k)
      .select("q_id", "q_label", "n_id", "cos", "rank")
    // a real post-filter stack returns the k best SURVIVORS of the
    // unfiltered top-m — the prank truncation models that, so in_post
    // is membership in the actual served set, not mere shortlist
    // retention (which would overstate recall in label-dense
    // neighborhoods)
    val wP = Window.partitionBy("q_id").orderBy(col("mrank").asc)
    val post = q.join(c, col("q_id") =!= col("n_id"))
      .withColumn("cos",
        dot(col("qv"), col("nv")) / (norm(col("qv")) * norm(col("nv"))))
      .withColumn("mrank", row_number().over(wC))
      .filter(col("mrank") <= m && col("q_label") === col("n_label"))
      .withColumn("prank", row_number().over(wP))
      .filter(col("prank") <= k)
      .select(col("q_id"), col("n_id"), lit(1L).as("in_post"))
    pre.join(post, Seq("q_id", "n_id"), "left_outer")
      .select(col("q_id"), col("q_label"), col("n_id"), col("cos"),
        col("rank"), coalesce(col("in_post"), lit(0L)).as("in_post"))
  }

  def filteredKnnSql(k: Int = 5, m: Int = 10, nQueries: Int = 20): String =
    s"""WITH vecs AS ($vecsDoubleSql),
        q AS (SELECT vec_id AS q_id, label AS q_label, v AS qv FROM vecs
              WHERE vec_id < $nQueries),
        c AS (SELECT vec_id AS n_id, label AS n_label, v AS nv FROM vecs),
        pre AS (
          SELECT q_id, q_label, n_id, cos, rank FROM (
            SELECT q_id, q_label, n_id, cos,
              CAST(row_number() OVER (PARTITION BY q_id
                ORDER BY cos DESC, n_id ASC) AS BIGINT) AS rank
            FROM (SELECT q_id, q_label, n_id,
                    ${dotSql("qv", "nv")} /
                      (${normSql("qv")} * ${normSql("nv")}) AS cos
                  FROM q JOIN c
                    ON q_id <> n_id AND q_label = n_label))
          WHERE rank <= $k),
        post AS (
          SELECT q_id, n_id, CAST(1 AS BIGINT) AS in_post FROM (
            SELECT q_id, n_id,
              row_number() OVER (PARTITION BY q_id ORDER BY mrank ASC)
                AS prank
            FROM (
              SELECT q_id, q_label, n_id, n_label,
                row_number() OVER (PARTITION BY q_id
                  ORDER BY cos DESC, n_id ASC) AS mrank
              FROM (SELECT q_id, q_label, n_id, n_label,
                      ${dotSql("qv", "nv")} /
                        (${normSql("qv")} * ${normSql("nv")}) AS cos
                    FROM q JOIN c ON q_id <> n_id))
            WHERE mrank <= $m AND q_label = n_label)
          WHERE prank <= $k)
        SELECT pre.q_id, pre.q_label, pre.n_id, pre.cos, pre.rank,
          coalesce(post.in_post, CAST(0 AS BIGINT)) AS in_post
        FROM pre LEFT JOIN post
          ON pre.q_id = post.q_id AND pre.n_id = post.n_id"""

  /** s12: HYBRID retrieval — a lexical BM25 leg and a dense cosine leg
    * fused with Reciprocal Rank Fusion (Cormack/Clarke/Buettcher 2009:
    * score = Σ 1/(K + rank_leg), K = 60). The query set is the first
    * `nQ` documents: `documents.doc_id` q is the lexical query (its
    * distinct whitespace tokens are the BM25 terms) and the row-aligned
    * `embeddings.vec_id` q is the dense query — the synthetic tables
    * model "embedding of document i" (TESTDATA.md). Each leg ranks the
    * corpus (self excluded), keeps its top `n`, and the fused score sums
    * the legs' reciprocal ranks; a document found by only one leg
    * contributes only that leg's term — the standard RRF treatment.
    *
    * RRF is the exactness trick here: fusion consumes only INTEGER ranks
    * (1/(60+r) from int r is the same IEEE double in any engine), so
    * cross-engine parity holds even though the legs' raw scores are
    * doubles — the legs themselves reuse the parity disciplines already
    * proven by [[knnBrute]] (ordered dot fold) and
    * [[TextAnalysis.bm25]] (odds-form idf, sorted-term score fold;
    * formula restated here for the per-query term sets).
    *
    * Scale shape: queries are a tiny relation (every broadcast below is
    * O(|q-terms|) or O(nQ·n)). The corpus makes exactly two passes —
    * one tokenize→semi-join→(doc,term) count keyed by the broadcast term
    * universe (the 100 TB cost, one shuffle on doc_id), one code-free
    * cosine scan on the dense side — and the fusion full-outer join is
    * over two nQ·n-row toplists. No leg materializes q×N anywhere except
    * the dense scan itself, which is the [[knnBrute]] baseline shape and
    * swaps for any of the s2-s11 ANN legs unchanged (rank in, rank out).
    *
    * Term selection bounds the lexical join: each query keeps only its
    * `t` RAREST terms by document frequency (df asc, term asc — the
    * highest-idf terms, the ones that dominate any BM25 sum; the same
    * impact-ordered pruning family as WAND/max-score). Without it the
    * per-term join is Σ_w df(w)·|queries containing w| — a stopword
    * shared by every query and every document costs Q·N rows for near-
    * zero score mass. With it the join is ≤ nQ·t·df rows and the worst
    * terms kept are the informative ones.
    */
  def rrfFusion(spark: SparkSession, sfDir: String,
      nQ: Int = 8, n: Int = 30, k: Int = 10, t: Int = 24,
      k1: Double = 1.2, b: Double = 0.75, rrfK: Int = 60): DataFrame =
    rrfFuse(bm25LexRanks(spark, sfDir, nQ, n, t, k1, b),
      denseExactRanks(spark, sfDir, nQ, n), k, rrfK)

  /** BM25 leg of the hybrid retrievers (s12/s15): term-budgeted scores
    * -> per-query lexical top-`n` ranks.
    */
  private def bm25LexRanks(spark: SparkSession, sfDir: String,
      nQ: Int, n: Int, t: Int, k1: Double, b: Double): DataFrame = {
    val docs = Tables.loadSpread(spark, sfDir, "documents")
      .select(col("doc_id"),
        split(trim(lower(col("text"))), "\\s+").as("ws"))
      .select(col("doc_id"), col("ws"),
        size(col("ws")).cast("long").as("dl"))
    // qTerms doubles as the semi-join build side for tf (a semi join
    // needs no distinct build — the former separate `termU` distinct
    // cost one more shuffle inside every evaluation of the tf chain)
    val qTerms = docs.filter(col("doc_id") < nQ)
      .select(col("doc_id").as("q_id"), explode(col("ws")).as("w"))
      .filter(col("w") =!= "").distinct()
      .localCheckpoint()
    val stats = docs.agg(count(lit(1)).as("nd"), sum("dl").as("toktot"))
      .select(col("nd"),
        (col("toktot").cast("double") / col("nd")).as("avgdl"))
    // tf sits under three consumers (df census -> term budget, and the
    // scoring join): left lazy, each broadcast BUILD below re-evaluated
    // the whole corpus tokenize chain (profiled: perTerm cost ≈ 3x a
    // single tf evaluation). Materialize tf once — guide §2.4, "two
    // operations keyed the same way can share one evaluation".
    val tf = docs.select(col("doc_id"), col("dl"), explode(col("ws")).as("w"))
      .join(broadcast(qTerms.select("w")), Seq("w"), "left_semi")
      .groupBy("doc_id", "dl", "w")
      .agg(count(lit(1)).as("tf"))
      .localCheckpoint()
    val dfT = tf.groupBy("w").agg(count(lit(1)).as("df"))
    val wT = Window.partitionBy("q_id").orderBy(col("df").asc, col("w").asc)
    // df >= 2: a df=1 term lives only in the (self-excluded) query doc —
    // maximal idf, zero candidate matches; keeping it would spend the
    // term budget on no-op terms.
    val qSel = qTerms.join(broadcast(dfT), Seq("w"))
      .filter(col("df") >= 2)
      .withColumn("trank", row_number().over(wT))
      .filter(col("trank") <= t)
      .select("q_id", "w")
    val perTerm = tf.join(broadcast(qSel), Seq("w"))
      .filter(col("doc_id") =!= col("q_id"))
      .join(broadcast(dfT), Seq("w"))
      .crossJoin(broadcast(stats))
      .select(col("q_id"), col("doc_id"), col("w"),
        (((col("nd") - col("df")) + lit(0.5)) / (col("df") + lit(0.5)) *
          (col("tf") * lit(k1 + 1) /
            (col("tf") + lit(k1) * (lit(1.0) - lit(b) +
              lit(b) * col("dl") / col("avgdl"))))).as("s"))
    val wLex = Window.partitionBy("q_id")
      .orderBy(col("lex_s").desc, col("doc_id").asc)
    val lex = perTerm.groupBy("q_id", "doc_id")
      .agg(sort_array(collect_list(struct(col("w"), col("s")))).as("ts"))
      .select(col("q_id"), col("doc_id"),
        vec_sum(col("ts").getField("s")).as("lex_s"))
      .withColumn("lex_rank", row_number().over(wLex).cast("long"))
      .filter(col("lex_rank") <= n)
      .select("q_id", "doc_id", "lex_rank")
    lex
  }

  /** Exact brute-force dense leg (s12): per-query cosine top-`n`. */
  private def denseExactRanks(spark: SparkSession, sfDir: String,
      nQ: Int, n: Int): DataFrame = {
    val vecs = vecsDouble(spark, sfDir)
    val qv = vecs.filter(col("vec_id") < nQ)
      .select(col("vec_id").as("q_id"), col("v").as("qv"))
    val cv = vecs.select(col("vec_id").as("doc_id"), col("v").as("nv"))
    val wDen = Window.partitionBy("q_id")
      .orderBy(col("cos").desc, col("doc_id").asc)
    qv.join(cv, col("q_id") =!= col("doc_id"))
      .withColumn("cos",
        dot(col("qv"), col("nv")) / (norm(col("qv")) * norm(col("nv"))))
      .withColumn("dense_rank", row_number().over(wDen).cast("long"))
      .filter(col("dense_rank") <= n)
      .select("q_id", "doc_id", "dense_rank")
  }

  /** Binary-code dense leg (s15): Hamming top-`m` shortlist over the
    * 1-bit sign codes (the s11 memory-bound scan), exact-cosine rerank
    * of the shortlist only, per-query top-`n` — the scale path that
    * never runs the float cosine against the full corpus.
    */
  private def denseHammingRanks(spark: SparkSession, sfDir: String,
      nQ: Int, n: Int, m: Int): DataFrame = {
    val vecs = vecsDouble(spark, sfDir)
    val codes = vecs.select(col("vec_id"), signCode(col("v")).as("code"))
    val q = codes.filter(col("vec_id") < nQ)
      .select(col("vec_id").as("q_id"), col("code").as("qc"))
    val c = codes.select(col("vec_id").as("doc_id"), col("code").as("cc"))
    val wH = Window.partitionBy("q_id")
      .orderBy(col("ham").asc, col("doc_id").asc)
    val short = q.join(c, col("q_id") =!= col("doc_id"))
      .withColumn("ham", hammingDist(col("qc"), col("cc")))
      .withColumn("hrank", row_number().over(wH))
      .filter(col("hrank") <= m)
      .select("q_id", "doc_id")
    val qv = vecs.select(col("vec_id").as("q_id"), col("v").as("qv"))
    val nv = vecs.select(col("vec_id").as("doc_id"), col("v").as("nv"))
    val wC = Window.partitionBy("q_id")
      .orderBy(col("cos").desc, col("doc_id").asc)
    val shortQ = broadcast(short).join(qv, "q_id")
    broadcast(shortQ).join(nv, "doc_id")
      .withColumn("cos",
        dot(col("qv"), col("nv")) / (norm(col("qv")) * norm(col("nv"))))
      .withColumn("dense_rank", row_number().over(wC).cast("long"))
      .filter(col("dense_rank") <= n)
      .select("q_id", "doc_id", "dense_rank")
  }

  /** Reciprocal-rank fusion of a lexical and a dense rank leg. */
  private def rrfFuse(lex: DataFrame, dense: DataFrame, k: Int,
      rrfK: Int): DataFrame = {
    val wF = Window.partitionBy("q_id")
      .orderBy(col("rrf").desc, col("doc_id").asc)
    lex.join(dense, Seq("q_id", "doc_id"), "full_outer")
      .withColumn("rrf",
        coalesce(lit(1.0) / (lit(rrfK) + col("lex_rank")), lit(0.0)) +
          coalesce(lit(1.0) / (lit(rrfK) + col("dense_rank")), lit(0.0)))
      .withColumn("rank", row_number().over(wF).cast("long"))
      .filter(col("rank") <= k)
      .select("q_id", "doc_id", "lex_rank", "dense_rank", "rrf", "rank")
  }

  /** s15: hybrid retrieval at SCALE — s12's fusion with the dense leg
    * served from the s11 binary-code shortlist instead of the exact
    * brute-force scan, plus the fusion-recall measurement against the
    * exact fusion IN the result (the d6_recall_sampled discipline: the
    * quality delta of the approximation is a measured column, not an
    * assumption). The lexical leg is computed ONCE and shared by both
    * fusion variants; only the dense legs differ. At 100 TB the exact
    * leg is the sampled-truth half (nQ stays fixed while the corpus
    * grows — its cost is one scan), and the serving path is the
    * code-scan leg.
    *
    * Output: the approximate fused top-k per query, each row flagged
    * `in_exact` (member of the exact fused top-k), with the per-query
    * match count and recall@k replicated per row (integer-sum window,
    * one final division — deterministic).
    */
  def fusedHybrid(spark: SparkSession, sfDir: String,
      nQ: Int = 8, n: Int = 30, k: Int = 10, t: Int = 24, m: Int = 60,
      k1: Double = 1.2, b: Double = 0.75, rrfK: Int = 60): DataFrame = {
    val lex = bm25LexRanks(spark, sfDir, nQ, n, t, k1, b).localCheckpoint()
    val approx = rrfFuse(lex, denseHammingRanks(spark, sfDir, nQ, n, m),
      k, rrfK)
    val exact = rrfFuse(lex, denseExactRanks(spark, sfDir, nQ, n), k, rrfK)
      .select(col("q_id"), col("doc_id"), lit(1).as("in_exact"))
    val wQ = Window.partitionBy("q_id")
    approx.join(broadcast(exact), Seq("q_id", "doc_id"), "left")
      .withColumn("in_exact", coalesce(col("in_exact"), lit(0)))
      .withColumn("n_match", sum("in_exact").over(wQ).cast("long"))
      .withColumn("recall_at_k",
        col("n_match").cast("double") / lit(k).cast("double"))
      .select("q_id", "doc_id", "rrf", "rank", "in_exact", "n_match",
        "recall_at_k")
  }

  /** Lexical-leg CTE chain shared by the s12/s15 oracles: documents ->
    * term-budgeted BM25 -> per-query lexical top-n (`lex`).
    */
  private def hybridLexCtes(nQ: Int, n: Int, t: Int,
      k1: Double, b: Double): String =
    s"""d AS (
          SELECT doc_id, ws, CAST(len(ws) AS BIGINT) AS dl
          FROM (SELECT doc_id,
                  string_split_regex(trim(lower(text)), '\\s+') AS ws
                FROM documents)),
        qterms AS (
          SELECT DISTINCT doc_id AS q_id, w
          FROM (SELECT doc_id, unnest(ws) AS w FROM d WHERE doc_id < $nQ)
          WHERE w <> ''),
        termu AS (SELECT DISTINCT w FROM qterms),
        stats AS (
          SELECT CAST(count(*) AS BIGINT) AS nd,
            CAST(CAST(sum(dl) AS BIGINT) AS DOUBLE) / count(*) AS avgdl
          FROM d),
        tf AS (
          SELECT doc_id, dl, w, CAST(count(*) AS BIGINT) AS tf
          FROM (SELECT doc_id, dl, unnest(ws) AS w FROM d)
          WHERE w IN (SELECT w FROM termu)
          GROUP BY doc_id, dl, w),
        dft AS (SELECT w, CAST(count(*) AS BIGINT) AS df FROM tf GROUP BY w),
        qsel AS (
          SELECT q_id, w FROM (
            SELECT q_id, w, row_number() OVER (
                PARTITION BY q_id ORDER BY df ASC, w ASC) AS trank
            FROM qterms JOIN dft USING (w)
            WHERE df >= 2)
          WHERE trank <= $t),
        perterm AS (
          SELECT q_id, doc_id, w,
            ((nd - df) + CAST(0.5 AS DOUBLE)) / (df + CAST(0.5 AS DOUBLE)) *
              (tf * CAST(${k1 + 1} AS DOUBLE) /
                (tf + CAST($k1 AS DOUBLE) *
                  (CAST(1.0 AS DOUBLE) - CAST($b AS DOUBLE) +
                   CAST($b AS DOUBLE) * dl / avgdl))) AS s
          FROM tf JOIN qsel USING (w) JOIN dft USING (w)
            CROSS JOIN stats
          WHERE doc_id <> q_id),
        lexs AS (
          SELECT q_id, doc_id,
            list_reduce(list_prepend(0.0,
              list_transform(ts, x -> x.s)), (a, x) -> a + x) AS lex_s
          FROM (SELECT q_id, doc_id, list({'w': w, 's': s} ORDER BY w, s) AS ts
                FROM perterm GROUP BY q_id, doc_id)),
        lex AS (
          SELECT q_id, doc_id, lex_rank FROM (
            SELECT q_id, doc_id, CAST(row_number() OVER (
                PARTITION BY q_id ORDER BY lex_s DESC, doc_id ASC)
              AS BIGINT) AS lex_rank
            FROM lexs)
          WHERE lex_rank <= $n)"""

  /** Exact dense-leg CTEs (`vecs`, `dense`) — the brute-force cosine. */
  private def denseExactCtes(nQ: Int, n: Int): String =
    s"""vecs AS ($vecsDoubleSql),
        dens AS (
          SELECT q.vec_id AS q_id, c.vec_id AS doc_id,
            ${dotSql("q.v", "c.v")} / (${normSql("q.v")} * ${normSql("c.v")})
              AS cos
          FROM vecs q JOIN vecs c
            ON q.vec_id < $nQ AND q.vec_id <> c.vec_id),
        dense AS (
          SELECT q_id, doc_id, dense_rank FROM (
            SELECT q_id, doc_id, CAST(row_number() OVER (
                PARTITION BY q_id ORDER BY cos DESC, doc_id ASC)
              AS BIGINT) AS dense_rank
            FROM dens)
          WHERE dense_rank <= $n)"""

  /** Hamming-shortlist dense-leg CTEs (`denseh`), over the `vecs` CTE:
    * sign codes -> Hamming top-m -> exact-cosine rerank top-n (the SQL
    * twin of [[denseHammingRanks]]; code construction mirrors
    * [[hammingRerankSql]]).
    */
  private def denseHammingCtes(nQ: Int, n: Int, m: Int): String = {
    val W = BinWordBits
    s"""bits AS (
          SELECT vec_id, list_transform(range(1, len(v)+1), i ->
            CASE WHEN v[i] > 0 THEN 1::BIGINT << ((i-1) % $W)
                 ELSE 0::BIGINT END) AS b
          FROM vecs),
        codes AS (
          SELECT vec_id,
            list_transform(range(0, CAST(floor((len(b) + ${W - 1}) / ${W}.0) AS INT)), w ->
              list_reduce(list_prepend(0::BIGINT,
                list_transform(range(1, ${W + 1}), j ->
                  CASE WHEN w*$W + j <= len(b) THEN b[w*$W + j]
                       ELSE 0::BIGINT END)),
                (x, y) -> x | y)) AS code
          FROM bits),
        hamm AS (
          SELECT q.vec_id AS q_id, c.vec_id AS doc_id,
            list_reduce(list_prepend(0::BIGINT,
              list_transform(range(1, len(q.code)+1), w ->
                bit_count(xor(q.code[w], c.code[w]))::BIGINT)),
              (x, y) -> x + y) AS ham
          FROM codes q JOIN codes c
            ON q.vec_id < $nQ AND q.vec_id <> c.vec_id),
        hshort AS (
          SELECT q_id, doc_id FROM (
            SELECT q_id, doc_id, row_number() OVER (
                PARTITION BY q_id ORDER BY ham ASC, doc_id ASC) AS hrank
            FROM hamm)
          WHERE hrank <= $m),
        hscored AS (
          SELECT s.q_id, s.doc_id,
            ${dotSql("qt.v", "nt.v")} / (${normSql("qt.v")} * ${normSql("nt.v")})
              AS cos
          FROM hshort s
            JOIN vecs qt ON qt.vec_id = s.q_id
            JOIN vecs nt ON nt.vec_id = s.doc_id),
        denseh AS (
          SELECT q_id, doc_id, dense_rank FROM (
            SELECT q_id, doc_id, CAST(row_number() OVER (
                PARTITION BY q_id ORDER BY cos DESC, doc_id ASC)
              AS BIGINT) AS dense_rank
            FROM hscored)
          WHERE dense_rank <= $n)"""
  }

  /** One RRF fusion CTE over `lex` and a dense relation. */
  private def rrfFusedCte(name: String, denseRel: String,
      rrfK: Int): String =
    s"""$name AS (
          SELECT coalesce(l.q_id, e.q_id) AS q_id,
            coalesce(l.doc_id, e.doc_id) AS doc_id,
            l.lex_rank, e.dense_rank,
            coalesce(CAST(1.0 AS DOUBLE) / ($rrfK + l.lex_rank),
              CAST(0 AS DOUBLE)) +
            coalesce(CAST(1.0 AS DOUBLE) / ($rrfK + e.dense_rank),
              CAST(0 AS DOUBLE)) AS rrf
          FROM lex l FULL JOIN $denseRel e
            ON l.q_id = e.q_id AND l.doc_id = e.doc_id)"""

  def rrfFusionSql(nQ: Int = 8, n: Int = 30, k: Int = 10, t: Int = 24,
      k1: Double = 1.2, b: Double = 0.75, rrfK: Int = 60): String =
    s"""WITH ${hybridLexCtes(nQ, n, t, k1, b)},
        ${denseExactCtes(nQ, n)},
        ${rrfFusedCte("fused", "dense", rrfK)}
        SELECT q_id, doc_id, lex_rank, dense_rank, rrf, rank FROM (
          SELECT *, CAST(row_number() OVER (
              PARTITION BY q_id ORDER BY rrf DESC, doc_id ASC)
            AS BIGINT) AS rank
          FROM fused)
        WHERE rank <= $k"""

  def fusedHybridSql(nQ: Int = 8, n: Int = 30, k: Int = 10, t: Int = 24,
      m: Int = 60, k1: Double = 1.2, b: Double = 0.75,
      rrfK: Int = 60): String =
    s"""WITH ${hybridLexCtes(nQ, n, t, k1, b)},
        ${denseExactCtes(nQ, n)},
        ${denseHammingCtes(nQ, n, m)},
        ${rrfFusedCte("fuseda", "denseh", rrfK)},
        ${rrfFusedCte("fusede", "dense", rrfK)},
        ranka AS (
          SELECT q_id, doc_id, rrf, rank FROM (
            SELECT *, CAST(row_number() OVER (
                PARTITION BY q_id ORDER BY rrf DESC, doc_id ASC)
              AS BIGINT) AS rank
            FROM fuseda)
          WHERE rank <= $k),
        ranke AS (
          SELECT q_id, doc_id FROM (
            SELECT *, row_number() OVER (
                PARTITION BY q_id ORDER BY rrf DESC, doc_id ASC) AS rank
            FROM fusede)
          WHERE rank <= $k)
        SELECT q_id, doc_id, rrf, rank, in_exact,
          CAST(sum(in_exact) OVER (PARTITION BY q_id) AS BIGINT) AS n_match,
          CAST(CAST(sum(in_exact) OVER (PARTITION BY q_id) AS BIGINT)
            AS DOUBLE) / CAST($k AS DOUBLE) AS recall_at_k
        FROM (
          SELECT a.q_id, a.doc_id, a.rrf, a.rank,
            CAST(e.q_id IS NOT NULL AS INT) AS in_exact
          FROM ranka a LEFT JOIN ranke e
            ON a.q_id = e.q_id AND a.doc_id = e.doc_id)"""

  /** s17 — ranking-quality metrics for the hybrid retriever: the fused
    * top-k (s12's ranking) graded against the exact-cosine top-k truth
    * with the standard order-sensitive retrieval metrics — MRR (rank of
    * the first relevant), AP@k (mean of precision@i over relevant
    * positions, the MAP per-query term) and precision@k. recall@k
    * (s4/s6/s8/e3/s15) says WHETHER the truth was retrieved; these say
    * WHERE it landed, which is what a retriever's consumer experiences.
    *
    * Float-parity discipline (the repo policy): every metric is built
    * from integer ratios — precision@i = (cumulative-relevant at i)/i
    * with the cumulative count an INTEGER window sum — and the only
    * cross-row float accumulation (the AP numerator) is an ordered fold
    * over the per-query rank-sorted contribution list (sort_array +
    * aggregate here, list(... ORDER BY rank) + list_reduce in the
    * oracle), so both engines add identical IEEE doubles in identical
    * order. MRR is a single division; empty-relevance queries yield 0.
    * (nDCG is deliberately NOT offered: its 1/log2(i+1) gains hang the
    * cross-engine hash on two libm implementations agreeing about
    * log(3) — AP@k carries the same position-sensitivity from pure
    * integer ratios, so it is the float-parity-safe choice.)
    *
    * Scale shape: everything downstream of the fused ranking is keyed
    * by q_id over <= k rows per query — the grading cost is O(nQ * k)
    * regardless of corpus size; the truth leg is the same
    * sampled-truth scan s12 already pays (nQ fixed as the corpus
    * grows).
    */
  def rankMetrics(spark: SparkSession, sfDir: String,
      nQ: Int = 8, n: Int = 30, k: Int = 10, t: Int = 24,
      k1: Double = 1.2, b: Double = 0.75, rrfK: Int = 60): DataFrame =
    rankMetricsFrom(
      rrfFusion(spark, sfDir, nQ, n, k, t, k1, b, rrfK)
        .select(col("q_id"), col("doc_id"), col("rank")),
      denseExactRanks(spark, sfDir, nQ, k)
        .select(col("q_id"), col("doc_id"), lit(1).as("rel")), k)

  /** The grading core over any (q_id, doc_id, rank) ranking and
    * (q_id, doc_id, rel=1) truth relation — public so the spec can
    * grade crafted fixtures against hand-computed metrics.
    */
  def rankMetricsFrom(fused: DataFrame, truth: DataFrame,
      k: Int): DataFrame = {
    val rSize = truth.groupBy("q_id").agg(count(lit(1)).as("n_rel_total"))
    val wCum = Window.partitionBy("q_id").orderBy("rank")
    val graded = fused.join(truth, Seq("q_id", "doc_id"), "left")
      .withColumn("rel", coalesce(col("rel"), lit(0)))
      .withColumn("crel", sum("rel").over(wCum))
      .withColumn("contrib", when(col("rel") === 1,
        col("crel").cast("double") / col("rank").cast("double"))
        .otherwise(lit(0.0)))
    graded.groupBy("q_id")
      .agg(sum("rel").cast("long").as("n_rel"),
        min(when(col("rel") === 1, col("rank"))).as("first_rel"),
        sort_array(collect_list(struct(col("rank"), col("contrib"))))
          .as("a"))
      .join(broadcast(rSize), Seq("q_id"))
      .select(col("q_id"), col("n_rel"), col("n_rel_total"),
        (col("n_rel").cast("double") / lit(k.toDouble)).as("precision_at_k"),
        coalesce(lit(1.0) / col("first_rel").cast("double"), lit(0.0))
          .as("mrr"),
        (vec_sum(col("a").getField("contrib")) /
          least(lit(k.toLong), col("n_rel_total")).cast("double"))
          .as("ap_at_k"))
  }

  def rankMetricsSql(nQ: Int = 8, n: Int = 30, k: Int = 10, t: Int = 24,
      k1: Double = 1.2, b: Double = 0.75, rrfK: Int = 60): String =
    s"""WITH fusedk AS (
          SELECT q_id, doc_id, rank
          FROM (${rrfFusionSql(nQ, n, k, t, k1, b, rrfK)})),
        truthk AS (SELECT q_id, doc_id FROM (
          SELECT q_id, doc_id, row_number() OVER (
              PARTITION BY q_id ORDER BY cos DESC, doc_id ASC) AS r
          FROM (
            SELECT q.vec_id AS q_id, c.vec_id AS doc_id,
              ${dotSql("q.v", "c.v")} /
                (${normSql("q.v")} * ${normSql("c.v")}) AS cos
            FROM ($vecsDoubleSql) q JOIN ($vecsDoubleSql) c
              ON q.vec_id < $nQ AND q.vec_id <> c.vec_id))
          WHERE r <= $k),
        rsize AS (
          SELECT q_id, CAST(count(*) AS BIGINT) AS n_rel_total
          FROM truthk GROUP BY 1),
        graded AS (
          SELECT f.q_id, f.rank,
            CAST(t.q_id IS NOT NULL AS INT) AS rel
          FROM fusedk f LEFT JOIN truthk t
            ON f.q_id = t.q_id AND f.doc_id = t.doc_id),
        cum AS (
          SELECT q_id, rank, rel,
            CAST(sum(rel) OVER (PARTITION BY q_id ORDER BY rank)
              AS BIGINT) AS crel
          FROM graded),
        contrib AS (
          SELECT q_id, rank, rel,
            CASE WHEN rel = 1
              THEN CAST(crel AS DOUBLE) / CAST(rank AS DOUBLE)
              ELSE 0.0 END AS c
          FROM cum),
        agg AS (
          SELECT q_id, CAST(sum(rel) AS BIGINT) AS n_rel,
            min(CASE WHEN rel = 1 THEN rank END) AS first_rel,
            list_reduce(list_prepend(0.0, list(c ORDER BY rank)),
              (x, y) -> x + y) AS apsum
          FROM contrib GROUP BY q_id)
        SELECT a.q_id, a.n_rel, r.n_rel_total,
          CAST(a.n_rel AS DOUBLE) / $k.0 AS precision_at_k,
          coalesce(1.0 / CAST(first_rel AS DOUBLE), 0.0) AS mrr,
          apsum / CAST(least($k, r.n_rel_total) AS DOUBLE) AS ap_at_k
        FROM agg a JOIN rsize r ON a.q_id = r.q_id"""
}
