package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables
import graft.functions.PolyHash.{poly_hash, sql => polySql}
import graft.functions.MinHashSig.min_hash_sig
import graft.functions.ShingleHashes.{shingle_hashes, shingle_hashes_pos}

/** Deduplication operators for the training-data pipeline: exact
  * (hash-groupBy), MinHash+LSH, SimHash, and n-gram Jaccard. All built on
  * the codegen'd [[graft.functions.PolyHash]] so Spark and the DuckDB
  * oracle hash identically.
  *
  * Scale notes: exact dedup is one shuffle on the fingerprint (map-side
  * combinable min). MinHash/LSH is the classic shingle -> k minhashes ->
  * banded bucket-join pipeline: candidate generation never compares all
  * pairs — only docs sharing a band bucket meet, which is the whole point
  * at 100 TB (the band explode is x(#bands) rows, the bucket join shuffles
  * on the band hash, and the final Jaccard verify touches only candidate
  * pairs). SimHash reduces each doc to one 64-bit-ish signature -> near-dup
  * search by signature bucketing.
  */
object Dedup {

  private def normText: Column =
    regexp_replace(lower(trim(col("text"))), "\\s+", " ")
  private[operators] val normTextSql =
    "regexp_replace(lower(trim(text)), '\\s+', ' ', 'g')"

  /** Documents scan for the shingle pipelines. Higher-order-function
    * lambdas (zip_with/transform/aggregate) are interpreted per row, so
    * their cost is CPU-bound and embarrassingly parallel — but a small
    * corpus arriving as one parquet file is ONE partition, serializing
    * all of it on a single core. Spread rows across the cores when the
    * scan is under-split; at real scale input splits >> cores and this
    * is a no-op (no extra shuffle).
    */
  private[operators] def docs(spark: SparkSession, sfDir: String): DataFrame =
    Tables.loadSpread(spark, sfDir, "documents")

  /** Exact dedup by content fingerprint: canonical = min doc_id per
    * normalized-text hash; `is_dup` marks losers.
    */
  def exact(spark: SparkSession, sfDir: String): DataFrame = {
    val d = Tables.load(spark, sfDir, "documents")
      .withColumn("fp", poly_hash(normText))
    val canon = d.groupBy("fp").agg(min("doc_id").as("canonical_id"))
    d.join(canon, Seq("fp"))
      .select(col("doc_id"), col("fp"), col("canonical_id"),
        (col("doc_id") =!= col("canonical_id")).cast("int").as("is_dup"))
  }

  val exactSql: String =
    s"""WITH d AS (SELECT doc_id, ${polySql(normTextSql)} AS fp FROM documents),
        canon AS (SELECT fp, min(doc_id) AS canonical_id FROM d GROUP BY fp)
        SELECT doc_id, fp, canonical_id,
          CAST(doc_id <> canonical_id AS INT) AS is_dup
        FROM d JOIN canon USING (fp)"""

  // ---------------------------------------------------------------- shingles

  /** Distinct PolyHash values of the word 3-gram shingles, via the fused
    * native [[graft.functions.ShingleHashes]] expression (one codegen'd
    * pass, zero per-gram allocation). History of this hot path: the naive
    * `transform(sequence(...), element_at)` HOF benched 9 s at sf0.1; a
    * slice+zip_with reformulation got it to ~1 s of shingle construction
    * but still materialized every shingle string, ran the lambdas
    * interpreted, and shuffled string keys; the fused expression removes
    * all three (the downstream identity of a shingle is its hash anyway).
    */
  private[operators] def shingleHashes: Column = shingle_hashes(normText, 3)

  /** Matching DuckDB fragment over a words-list expression: build the
    * gram strings, hash each, THEN distinct — hash-distinct exactly like
    * the native expression (the hash is the shingle identity).
    */
  private[operators] def shingleHashesSql(w: String): String =
    s"""list_distinct(CASE WHEN len($w) >= 3
        THEN list_transform(range(1, len($w)-1),
          i -> ${polySql(s"$w[i] || ' ' || $w[i+1] || ' ' || $w[i+2]")})
        ELSE [${polySql(s"array_to_string($w, ' ')")}] END)"""

  /** N-gram Jaccard near-dup: candidate pairs limited to same-`source`
    * docs (a cheap blocking key), exact Jaccard over distinct shingle
    * sets, pairs >= threshold.
    */
  /** Inverted-index formulation: explode shingles, equi-join on
    * (source, shingle), count common shingles per pair -> |A∩B|;
    * |A∪B| = |A|+|B|-|A∩B|. Never materializes all pairs — only pairs
    * sharing >= 1 shingle meet (identical output: any pair above the
    * threshold shares shingles). This is the 100 TB shape: one shuffle on
    * the shingle key + one count aggregation, vs the quadratic
    * per-pair array-distinct of the naive form (which benched 32 s at
    * sf0.1 and would never finish at scale).
    */
  /** Document-frequency cap: shingles appearing in more than `dfCap` docs
    * (boilerplate — "terms of service ...") are dropped from the inverted
    * index BEFORE the self-join. Without it, one hot shingle shared by 10^6
    * docs yields 10^12 candidate pairs from a single key at corpus scale.
    * Trade-off (documented, standard stop-shingle practice): pairs whose
    * only common shingles are hot lose recall, and `inter` undercounts
    * capped pairs; with dfCap well above the corpus's max DF (6 here) the
    * output is byte-identical while the plan carries the scale guard.
    */
  def ngramJaccard(spark: SparkSession, sfDir: String, threshold: Double = 0.4,
      dfCap: Int = 1000): DataFrame = {
    // the inverted index is keyed by shingle HASH (long), not the shingle
    // string: 8-byte shuffle keys instead of ~20-char strings, and the
    // join is a long equi-join — same pairs (the hash is the identity)
    // d feeds the hot-shingle census and both join sides; materialize
    // once so the normalize+shingle pass runs once, not 3x
    val d = docs(spark, sfDir)
      .select(col("doc_id"), col("source"), shingleHashes.as("sh"))
      .withColumn("n", size(col("sh")))
      .localCheckpoint()
    val tok = d.select(col("source"), col("doc_id"), col("n"),
      explode(col("sh")).as("s"))
    // hot-shingle set is usually tiny, but its worst case is bounded by
    // tokens/dfCap — at 100 TB that can exceed broadcast limits, so no
    // broadcast hint: AQE picks broadcast when the build side is actually
    // small and falls back to a shuffled anti-join when it isn't (the
    // anti-join is correct either way)
    val hot = tok.groupBy("source", "s").agg(count(lit(1)).as("df"))
      .filter(col("df") > dfCap).select("source", "s")
    val kept = tok.join(hot, Seq("source", "s"), "left_anti")
    val a = kept.select(col("source"), col("doc_id").as("id_a"),
      col("n").as("n_a"), col("s"))
    val b = kept.select(col("source"), col("doc_id").as("id_b"),
      col("n").as("n_b"), col("s"))
    // size filter (PPJoin-style): jaccard >= t forces
    // t*n_a <= n_b <= n_a/t, so size-incompatible candidates drop
    // BEFORE the pair-count aggregation — at corpus scale this is the
    // difference between aggregating every co-occurrence and only the
    // plausibly-similar ones (output provably unchanged)
    a.join(b, Seq("source", "s")).filter(col("id_a") < col("id_b") &&
        col("n_b") >= lit(threshold) * col("n_a") &&
        col("n_a") >= lit(threshold) * col("n_b"))
      .groupBy("source", "id_a", "id_b", "n_a", "n_b")
      .agg(count(lit(1)).as("inter"))
      .withColumn("jaccard",
        col("inter").cast("double") / (col("n_a") + col("n_b") - col("inter")))
      .filter(col("jaccard") >= threshold)
      .select(col("source"), col("id_a"), col("id_b"), col("jaccard"))
  }

  def ngramJaccardSql(threshold: Double = 0.4, dfCap: Int = 1000): String = {
    val sh = shingleHashesSql("string_split(" + normTextSql + ", ' ')")
    s"""WITH d AS (SELECT doc_id, source, $sh AS sh FROM documents),
        tok0 AS (SELECT source, doc_id, len(sh) AS n, unnest(sh) AS s FROM d),
        hot AS (SELECT source, s FROM (
                  SELECT source, s, count(*) AS df FROM tok0 GROUP BY 1, 2)
                WHERE df > $dfCap),
        tok AS (SELECT tok0.* FROM tok0 ANTI JOIN hot USING (source, s)),
        pairs AS (
          SELECT a.source AS source, a.doc_id AS id_a, b.doc_id AS id_b,
            a.n AS n_a, b.n AS n_b, count(*) AS inter
          FROM tok a JOIN tok b
            ON a.source = b.source AND a.s = b.s AND a.doc_id < b.doc_id
            AND b.n >= $threshold * a.n AND a.n >= $threshold * b.n
          GROUP BY 1, 2, 3, 4, 5)
        SELECT source, id_a, id_b,
          CAST(inter AS DOUBLE) / (n_a + n_b - inter) AS jaccard
        FROM pairs
        WHERE CAST(inter AS DOUBLE) / (n_a + n_b - inter) >= $threshold"""
  }

  // ------------------------------------------------------- declarative jaccard

  /** The same n-gram Jaccard dedup written the way a USER would write it:
    * a self-join whose condition bounds `jaccard_sim` — an all-pairs
    * theta-join as declared. [[graft.plans.JaccardJoinRewrite]] (injected
    * below; library sessions get it via `GraftExtensions`) rewrites the
    * plan into the inverted-index equi-join of [[ngramJaccard]]
    * automatically, so the declarative form executes at the blocked
    * shape's cost. PlanSpec pins the absence of a nested-loop join;
    * the DuckDB oracle runs the naive form — output must be identical.
    */
  def jaccardJoin(spark: SparkSession, sfDir: String,
      threshold: Double = 0.4): DataFrame = {
    import graft.functions.JaccardSim.jaccard_sim
    if (!spark.experimental.extraOptimizations.contains(
        graft.plans.JaccardJoinRewrite))
      spark.experimental.extraOptimizations =
        spark.experimental.extraOptimizations :+ graft.plans.JaccardJoinRewrite
    val d = docs(spark, sfDir).select(col("doc_id"), shingleHashes.as("sh"))
    val a = d.as("a")
    val b = d.as("b")
    a.join(b, col("a.doc_id") < col("b.doc_id") &&
        jaccard_sim(col("a.sh"), col("b.sh")) >= threshold)
      .select(col("a.doc_id").as("id_a"), col("b.doc_id").as("id_b"),
        jaccard_sim(col("a.sh"), col("b.sh")).as("jaccard"))
  }

  /** Oracle: the naive all-pairs join verbatim (DuckDB is fine with it at
    * oracle scale). Both engines compute |∩| and |∪| as integers and do
    * one IEEE division — bit-identical.
    */
  def jaccardJoinSql(threshold: Double = 0.4): String = {
    val sh = shingleHashesSql("string_split(" + normTextSql + ", ' ')")
    s"""WITH d AS (SELECT doc_id, $sh AS sh FROM documents),
        p AS (
          SELECT a.doc_id AS id_a, b.doc_id AS id_b,
            CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE) /
              (len(a.sh) + len(b.sh) - len(list_intersect(a.sh, b.sh))) AS jaccard
          FROM d a JOIN d b ON a.doc_id < b.doc_id)
        SELECT id_a, id_b, jaccard FROM p WHERE jaccard >= $threshold"""
  }

  // ---------------------------------------------------------------- minhash

  /** k hash families h_i(x) = (a_i*x + b_i) mod p over the shingle
    * PolyHash. Constants are fixed (deterministic, shared with the
    * oracle).
    */
  val MinhashK = 12
  val MinhashBands = 4 // 4 bands x 3 rows
  private val P = 2147483647L
  private def aConst(i: Int): Long = 2 * i + 3
  private def bConst(i: Int): Long = 7 * i + 1

  /** Column-level MinHash signature over an arbitrary text column. */
  def minhashSigCol(text: Column): Column =
    min_hash_sig(
      shingle_hashes(regexp_replace(lower(trim(text)), "\\s+", " "), 3),
      (0 until MinhashK).map(aConst), (0 until MinhashK).map(bConst), P)

  /** Column-level LSH band keys for a signature column: array of
    * (band, bkey) structs, bkey = the band's `rows` minima joined with
    * ':' (same shape as the batch banding and the oracle).
    */
  def bandStructsCol(sig: Column): Column = {
    val rows = MinhashK / MinhashBands
    array((0 until MinhashBands).map { bIdx =>
      struct(lit(bIdx).as("band"),
        concat_ws(":", (0 until rows).map(r =>
          element_at(sig, bIdx * rows + r + 1)): _*).as("bkey"))
    }: _*)
  }

  /** Per-doc MinHash signature (array of k minima), via the one-pass
    * native [[graft.functions.MinHashSig]] fold (was k interpreted
    * `transform`+`array_min` sweeps over the hash array).
    */
  def minhashSignatures(spark: SparkSession, sfDir: String): DataFrame =
    docs(spark, sfDir)
      .select(col("doc_id"), col("source"),
        minhashSigCol(col("text")).as("sig"))

  def minhashSignaturesSql: String = {
    val sh = shingleHashesSql("string_split(" + normTextSql + ", ' ')")
    val sigs = (0 until MinhashK).map { i =>
      s"list_min(list_transform(hs, h -> (h*${aConst(i)} + ${bConst(i)}) % $P))"
    }.mkString("[", ", ", "]")
    s"""SELECT doc_id, source, $sigs AS sig FROM (
          SELECT doc_id, source, $sh AS hs
          FROM documents)"""
  }

  /** MinHash signatures flattened for the oracle (list columns hash
    * differently across engines in some drivers — emit scalar columns).
    */
  def minhash(spark: SparkSession, sfDir: String): DataFrame = {
    val sigs = minhashSignatures(spark, sfDir)
    sigs.select(Seq(col("doc_id"), col("source")) ++
      (0 until MinhashK).map(i => element_at(col("sig"), i + 1).as(s"mh_$i")): _*)
  }

  val minhashSql: String = {
    val cols = (0 until MinhashK).map(i => s"sig[${i + 1}] AS mh_$i").mkString(", ")
    s"SELECT doc_id, source, $cols FROM ($minhashSignaturesSql)"
  }

  /** MinHash+LSH near-dup pairs: band the signature (bands of rows),
    * bucket-join on (band index, band hash), verify candidates with the
    * signature-estimated Jaccard, keep pairs >= threshold.
    */
  def minhashLsh(spark: SparkSession, sfDir: String, threshold: Double = 0.4): DataFrame = {
    val sigs = minhashSignatures(spark, sfDir)
    val banded = sigs.select(col("doc_id"),
      explode(bandStructsCol(col("sig"))).as("b"))
      .select(col("doc_id"), col("b.band"), col("b.bkey"))
    // dedupe candidates on ids only (cheap), then re-attach signatures —
    // distinct over array columns benched 10x slower and ships the
    // signatures through the band shuffle for nothing.
    val a = banded.select(col("band"), col("bkey"), col("doc_id").as("id_a"))
    val bb = banded.select(col("band"), col("bkey"), col("doc_id").as("id_b"))
    val cand = a.join(bb, Seq("band", "bkey"))
      .filter(col("id_a") < col("id_b"))
      .select("id_a", "id_b").distinct()
    cand
      .join(sigs.select(col("doc_id").as("id_a"), col("sig").as("sig_a")), Seq("id_a"))
      .join(sigs.select(col("doc_id").as("id_b"), col("sig").as("sig_b")), Seq("id_b"))
      .withColumn("est_jaccard",
        size(filter(zip_with(col("sig_a"), col("sig_b"), (x, y) =>
          when(x === y, 1).otherwise(0)), v => v === 1)).cast("double") / MinhashK)
      .filter(col("est_jaccard") >= threshold)
      .select("id_a", "id_b", "est_jaccard")
  }

  def minhashLshSql(threshold: Double = 0.4): String = {
    val rows = MinhashK / MinhashBands
    val bandStructs = (0 until MinhashBands).map { bIdx =>
      val key = (0 until rows).map(r => s"CAST(sig[${bIdx * rows + r + 1}] AS VARCHAR)")
        .mkString(" || ':' || ")
      s"{'band': $bIdx, 'bkey': $key}"
    }.mkString("[", ", ", "]")
    s"""WITH sigs AS ($minhashSignaturesSql),
        banded AS (
          SELECT doc_id, b.band AS band, b.bkey AS bkey
          FROM (SELECT doc_id, unnest($bandStructs) AS b FROM sigs)),
        cand AS (
          SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
          FROM banded a JOIN banded b
            ON a.band = b.band AND a.bkey = b.bkey AND a.doc_id < b.doc_id),
        withsig AS (
          SELECT id_a, id_b, sa.sig AS sig_a, sb.sig AS sig_b
          FROM cand
          JOIN sigs sa ON cand.id_a = sa.doc_id
          JOIN sigs sb ON cand.id_b = sb.doc_id)
        SELECT id_a, id_b,
          CAST(len(list_filter(list_zip(sig_a, sig_b),
            p -> p[1] = p[2])) AS DOUBLE) / $MinhashK AS est_jaccard
        FROM withsig
        WHERE CAST(len(list_filter(list_zip(sig_a, sig_b),
            p -> p[1] = p[2])) AS DOUBLE) / $MinhashK >= $threshold"""
  }

  /** Measured RECALL of the MinHash-LSH pipeline against the exact
    * n-gram Jaccard truth — the text-dedup twin of the embedding
    * family's recall measurements (d6_embed_recall, s4/s6/s8): every
    * approximate retrieval structure in this engine ships with its
    * recall measured against the exact baseline, and until this query
    * the d-family's was only argued from banding theory. Truth = the
    * exact inverted-index pairs at the threshold ([[ngramJaccard]]);
    * found = the banded+signature-estimated pairs ([[minhashLsh]]).
    * Reported per exact-jaccard decile bucket, so the expected recall
    * cliff just above the threshold (signature estimation error +
    * band-collision probability (1-(1-s^r)^b) both bite hardest there)
    * is visible rather than averaged away; the corpus's own near-dups
    * all sit >= 0.9, so the cliff range itself is populated by the
    * controlled-mutation fixture ([[recallCliff]], d4_recall_cliff)
    * and its theory-tolerance assertion (LshRecallCliffSpec).
    * Counts are exact integers;
    * recall is the one terminal division; the bucket key floors a
    * double both engines derive from identical integer ratios.
    *
    * Scale: both inputs are the already-blocked shapes (inverted index
    * with DF cap + size filter; banded equi-join) — the recall JOIN
    * itself is pair-keyed on longs, linear in the truth set. Truth is
    * [[ngramJaccard]]'s within-source pairs (its blocking key); LSH
    * finds a superset universe, so the join direction measures recall
    * of exactly the pairs the exact operator defines. Data note: the
    * driver's synthetic corpus has no mid-jaccard near-dups — its
    * seeded pairs sit in the >= 0.9 bucket, where the banding math
    * (1-(1-s^r)^b = 0.995 at s = 0.9, r = 3, b = 4) predicts the
    * measured recall 1.0; a real corpus populates the cliff buckets
    * just above the threshold.
    */
  def lshRecall(spark: SparkSession, sfDir: String,
      threshold: Double = 0.4): DataFrame = {
    val truth = ngramJaccard(spark, sfDir, threshold)
      .select(col("id_a"), col("id_b"), col("jaccard"))
    val found = minhashLsh(spark, sfDir, threshold)
      .select(col("id_a"), col("id_b"), lit(1).as("hit"))
    truth.join(found, Seq("id_a", "id_b"), "left")
      .select(col("jaccard"), coalesce(col("hit"), lit(0)).as("hit"))
      .groupBy(floor(col("jaccard") * 10).cast("long").as("j_bucket"))
      .agg(count(lit(1)).as("n_true"),
        sum(col("hit")).cast("long").as("n_found"))
      .select(col("j_bucket"), col("n_true"), col("n_found"),
        (col("n_found").cast("double") / col("n_true").cast("double"))
          .as("recall"))
  }

  def lshRecallSql(threshold: Double = 0.4): String =
    s"""WITH truth AS (${ngramJaccardSql(threshold)}),
        found AS (SELECT id_a, id_b, 1 AS hit
                  FROM (${minhashLshSql(threshold)})),
        j AS (SELECT t.jaccard, coalesce(f.hit, 0) AS hit
              FROM truth t LEFT JOIN found f
                ON t.id_a = f.id_a AND t.id_b = f.id_b)
        SELECT CAST(floor(jaccard * 10) AS BIGINT) AS j_bucket,
          CAST(count(*) AS BIGINT) AS n_true,
          CAST(sum(hit) AS BIGINT) AS n_found,
          CAST(sum(hit) AS DOUBLE) / CAST(count(*) AS DOUBLE) AS recall
        FROM j GROUP BY 1"""

  // --------------------------------------------------- recall cliff fixture

  /** Controlled-mutation rates for the recall-CLIFF measurement: each
    * (variant id, drop cut) deletes tokens where a deterministic hash of
    * (doc_id, 1-based token index, variant) mod 997 falls below the cut
    * — i.e. drop probabilities ~3/6/10/15/22 %. A token deletion kills
    * up to 3 word-3-gram shingles and mints bridge shingles across the
    * gap, so these rates land the (orig, mutant) exact Jaccard spread
    * across roughly the 0.3–1.0 range — populating the buckets where
    * the banding probability 1-(1-s^r)^b actually bends, which the
    * corpus's own seeded near-dups (all >= 0.9) cannot.
    */
  val CliffRates: Seq[(Int, Int)] =
    Seq(1 -> 30, 2 -> 60, 3 -> 100, 4 -> 150, 5 -> 220)
  private val CliffMinWords = 20

  /** Deterministic keep-condition shared bit-for-bit with the oracle:
    * positive i64 arithmetic only (doc_id, idx, v all positive), so %
    * agrees across engines without pmod gymnastics. doc_id is reduced
    * mod 1e8 BEFORE the multiply — replicated corpora (ScaleUp) mint
    * doc_ids ~1e12, and 1e12 * 73856093 overflows i64; the reduction
    * is the identity at test scales, so oracle hashes are unchanged.
    */
  private def cliffKeep(docId: Column, idx1: Column, v: Int, cut: Int): Column =
    ((docId % lit(100000000L)) * lit(73856093L) +
      idx1.cast("long") * lit(19349663L) +
      lit(v.toLong * 83492791L)) % lit(997L) >= lit(cut.toLong)

  private def sigOf(hs: Column): Column =
    min_hash_sig(hs, (0 until MinhashK).map(aConst),
      (0 until MinhashK).map(bConst), P)

  /** One row per seeded (orig, mutant) pair: the pair's EXACT shingle
    * Jaccard, whether the banded LSH pipeline would surface it (the
    * pipeline's join condition — some band's `rows` minima all equal —
    * evaluated pairwise), and the per-pair banding theory. Linear in
    * docs x |CliffRates|: the fixture knows its pairs by construction,
    * so no candidate join is needed — this is what makes the cliff
    * measurable at any scale (the corpus-discovery leg, d4_lsh_recall,
    * stays the production-shaped measurement).
    */
  private[graft] def recallCliffPairs(spark: SparkSession, sfDir: String): DataFrame = {
    val base = docs(spark, sfDir)
      .select(col("doc_id"), split(normText, " ").as("w"))
      .filter(size(col("w")) >= CliffMinWords)
    val orig = base
      .select(col("doc_id"),
        shingle_hashes(array_join(col("w"), " "), 3).as("hs0"))
      .select(col("doc_id"), col("hs0"), sigOf(col("hs0")).as("sig0"))
    val variantArr = array(CliffRates.map { case (v, cut) =>
      struct(lit(v).as("v"),
        filter(col("w"), (x, i) =>
          cliffKeep(col("doc_id"), i + 1, v, cut)).as("kept"))
    }: _*)
    val muts = base
      .select(col("doc_id"), explode(variantArr).as("m"))
      .select(col("doc_id"), col("m.v").as("v"),
        array_join(col("m.kept"), " ").as("txt"))
      .select(col("doc_id"), col("v"),
        shingle_hashes(col("txt"), 3).as("hs"))
      .select(col("doc_id"), col("v"), col("hs"), sigOf(col("hs")).as("sig"))
    val rows = MinhashK / MinhashBands
    val bandHit = (0 until MinhashBands).map { b =>
      (0 until rows).map { r =>
        element_at(col("sig0"), b * rows + r + 1) ===
          element_at(col("sig"), b * rows + r + 1)
      }.reduce(_ && _)
    }.reduce(_ || _)
    val inter = size(array_intersect(col("hs0"), col("hs")))
    muts.join(orig, Seq("doc_id"))
      .select(col("doc_id"), col("v"),
        (inter.cast("double") /
          (size(col("hs0")) + size(col("hs")) - inter).cast("double"))
          .as("jaccard"),
        bandHit.cast("int").as("hit"))
  }

  /** Measured per-bucket recall of the banded-LSH candidate step over
    * the controlled-mutation fixture, beside the banding theory
    * 1-(1-s^r)^b at the bucket midpoint. The corpus-discovery recall
    * query (d4_lsh_recall) verifies the >= 0.9 bucket the synthetic
    * corpus populates; THIS query populates the 0.3–0.8 cliff buckets
    * by construction — together they trace the whole curve. The theory
    * column uses only IEEE-exact ops (integer-derived doubles,
    * multiplication, one division), so it hash-matches across engines;
    * the statistical recall-vs-theory tolerance assertion lives in
    * LshRecallCliffSpec (a hash gate cannot express "within 4 sigma").
    */
  def recallCliff(spark: SparkSession, sfDir: String): DataFrame = {
    val m = (col("j_bucket").cast("double") + lit(0.5)) / lit(10.0)
    val s3 = m * m * m
    val d = lit(1.0) - s3
    recallCliffPairs(spark, sfDir)
      .select(floor(col("jaccard") * 10).cast("long").as("j_bucket"),
        col("hit"))
      .groupBy("j_bucket")
      .agg(count(lit(1)).as("n_pairs"), sum(col("hit")).cast("long").as("n_found"))
      .select(col("j_bucket"), col("n_pairs"), col("n_found"),
        (col("n_found").cast("double") / col("n_pairs").cast("double"))
          .as("recall"),
        (lit(1.0) - d * d * d * d).as("theory_mid"))
  }

  def recallCliffSql: String = {
    val w = s"string_split($normTextSql, ' ')"
    val variants = CliffRates.map { case (v, cut) => s"($v, $cut)" }
      .mkString(", ")
    val sigs = (0 until MinhashK).map { i =>
      s"list_min(list_transform(hs, h -> (h*${aConst(i)} + ${bConst(i)}) % $P))"
    }.mkString("[", ", ", "]")
    val rows = MinhashK / MinhashBands
    val bandHit = (0 until MinhashBands).map { b =>
      (0 until rows).map { r =>
        s"sig0[${b * rows + r + 1}] = sig[${b * rows + r + 1}]"
      }.mkString("(", " AND ", ")")
    }.mkString(" OR ")
    s"""WITH base AS (
          SELECT doc_id, $w AS w FROM documents WHERE len($w) >= $CliffMinWords),
        orig AS (
          SELECT doc_id, hs AS hs0, $sigs AS sig0 FROM (
            SELECT doc_id, ${shingleHashesSql("w")} AS hs FROM base)),
        kept AS (
          SELECT doc_id, mv.v AS v,
            list_filter(w, (x, i) ->
              ((doc_id % 100000000)*73856093 + i*19349663 + mv.v*83492791) % 997 >= mv.cut)
              AS w2
          FROM base, (VALUES $variants) AS mv(v, cut)),
        muts AS (
          SELECT doc_id, v, hs, $sigs AS sig FROM (
            SELECT doc_id, v, ${shingleHashesSql("w2")} AS hs FROM kept)),
        pairs AS (
          SELECT CAST(floor((CAST(len(list_intersect(hs0, hs)) AS DOUBLE) /
              CAST(len(hs0) + len(hs) - len(list_intersect(hs0, hs))
                   AS DOUBLE)) * 10) AS BIGINT) AS j_bucket,
            CAST($bandHit AS INT) AS hit
          FROM muts JOIN orig USING (doc_id)),
        agg AS (
          SELECT j_bucket, CAST(count(*) AS BIGINT) AS n_pairs,
            CAST(sum(hit) AS BIGINT) AS n_found
          FROM pairs GROUP BY 1),
        thry AS (
          SELECT j_bucket, n_pairs, n_found,
            CAST(n_found AS DOUBLE) / CAST(n_pairs AS DOUBLE) AS recall,
            (CAST(j_bucket AS DOUBLE) + 0.5) / 10.0 AS m
          FROM agg)
        SELECT j_bucket, n_pairs, n_found, recall,
          1.0 - (1.0 - m*m*m)*(1.0 - m*m*m)*(1.0 - m*m*m)*(1.0 - m*m*m)
            AS theory_mid
        FROM thry"""
  }

  // ------------------------------------------------------------- clustering

  /** Connected components by min-label propagation with pointer jumping.
    *
    * `nodes`: one column `doc_id`; `pairs`: undirected edges as
    * (`id_a`, `id_b`). Returns (doc_id, label) where label is the
    * component's minimum doc_id — a fixpoint, so the result is
    * independent of how many rounds convergence took.
    *
    * Scale shape: each round is a neighbor-min shuffle plus a
    * label-of-label ("pointer jump") join over the LABEL table only —
    * the corpus text never enters the loop. Pointer jumping halves path
    * lengths each round, so convergence is O(log diameter) rounds (the
    * large-star/small-star family). The loop is driver-coordinated; each
    * round's result is `localCheckpoint`ed so lineage (and replanning
    * cost) stays O(1) per round instead of compounding. The convergence
    * check is FUSED into the round: the previous label rides through a
    * co-keyed join in the same checkpointed plan, so the per-round diff
    * is a cheap scan of the already-materialized blocks instead of a
    * separate join+isEmpty probe job.
    */
  private[graft] def connectedComponents(nodes: DataFrame,
      pairs: DataFrame, maxRounds: Int = 32): DataFrame = {
    val edges = pairs.select(col("id_a").as("src"), col("id_b").as("dst"))
      .union(pairs.select(col("id_b").as("src"), col("id_a").as("dst")))
      .localCheckpoint()
    var labels = nodes.select(col("doc_id"), col("doc_id").as("label"))
      .localCheckpoint()
    var converged = false
    var round = 0
    while (!converged && round < maxRounds) {
      val viaEdges = edges
        .join(labels.select(col("doc_id").as("src"), col("label")), "src")
        .select(col("dst").as("doc_id"), col("label"))
      // toDF mints fresh attribute ids per branch: both branches carry
      // `label` aliased from the same source attr, and Union constraint
      // propagation chokes on the shared id otherwise
      val stepped = labels.toDF("doc_id", "label")
        .union(viaEdges.toDF("doc_id", "label"))
        .groupBy("doc_id").agg(min("label").as("label"))
      // pointer jump: label := label(label). Every label IS a doc_id
      // (min over doc ids), so the self-join is total.
      val jumped = stepped.as("s")
        .join(stepped.select(col("doc_id").as("p_id"), col("label").as("p_label")),
          col("s.label") === col("p_id"))
        .select(col("s.doc_id").as("doc_id"), col("p_label").as("label"))
      val marked = jumped
        .join(labels.select(col("doc_id"), col("label").as("old")), "doc_id")
        .select(col("doc_id"), col("label"),
          (col("label") =!= col("old")).cast("long").as("changed"))
        .localCheckpoint()
      converged = marked.agg(sum("changed")).first().getLong(0) == 0L
      labels = marked.select("doc_id", "label")
      round += 1
    }
    labels
  }

  /** Near-dup CLUSTERING: connected components over the MinHash-LSH
    * candidate pair graph — the step that turns pairwise near-dup hits
    * into dedup decisions, as in large-corpus curation pipelines: each
    * cluster keeps exactly one canonical doc (its minimum doc_id).
    * Singletons are their own cluster. The DuckDB oracle computes the
    * same fixpoint by transitive closure (recursive CTE), so agreement
    * is exact regardless of round counts.
    */
  def dupClusters(spark: SparkSession, sfDir: String,
      threshold: Double = 0.4): DataFrame = {
    val pairs = minhashLsh(spark, sfDir, threshold).select("id_a", "id_b")
    val nodes = Tables.load(spark, sfDir, "documents").select("doc_id")
    connectedComponents(nodes, pairs)
      .select(col("doc_id"), col("label").as("cluster_id"),
        (col("doc_id") === col("label")).cast("int").as("is_canonical"))
  }

  def dupClustersSql(threshold: Double = 0.4): String =
    s"""WITH RECURSIVE
        pairs AS (SELECT id_a, id_b FROM (${minhashLshSql(threshold)})),
        edges AS (SELECT id_a AS src, id_b AS dst FROM pairs
                  UNION ALL
                  SELECT id_b AS src, id_a AS dst FROM pairs),
        reach AS (
          SELECT doc_id, doc_id AS r FROM documents
          UNION
          SELECT reach.doc_id, e.dst AS r
          FROM reach JOIN edges e ON reach.r = e.src)
        SELECT doc_id, min(r) AS cluster_id,
          CAST(doc_id = min(r) AS INT) AS is_canonical
        FROM reach GROUP BY doc_id"""

  /** PageRank over the near-dup candidate graph — iterative relational
    * computation as a first-class operator, and a principled canonical-
    * document signal: in a near-dup cluster the highest-centrality doc is
    * the one most "representative" of the duplicated content (cf. min-id
    * canonicalization in [[dupClusters]], which is arbitrary).
    *
    * Fixed `iters` power-iteration rounds with damping 0.85 over the
    * symmetrized LSH pair graph (restricted to nodes with >=1 edge, so
    * there are no dangling nodes and mass accounting is closed). Each
    * round is ONE shuffle: edges join ranks (broadcast-sized rank side at
    * test scale, hash join at corpus scale) then a keyed aggregation on
    * the destination. Per-target contribution sums are ordered folds
    * (sorted by source id) so Spark and the DuckDB oracle — the same
    * rounds unrolled as a CTE chain — agree bit-for-bit. Edges are
    * localCheckpoint'ed once; the LSH banding never re-runs inside the
    * loop. Driver holds no data — only the loop counter.
    */
  def pagerank(spark: SparkSession, sfDir: String,
      threshold: Double = 0.4, iters: Int = 8): DataFrame = {
    val pairs = minhashLsh(spark, sfDir, threshold).select("id_a", "id_b")
    val edges = pairs.select(col("id_a").as("src"), col("id_b").as("dst"))
      .union(pairs.select(col("id_b").as("src"), col("id_a").as("dst")))
      .localCheckpoint()
    val deg = edges.groupBy("src").agg(count(lit(1)).as("deg"))
    val nF = deg.agg(count(lit(1)).as("n"))
    var ranks = deg.crossJoin(broadcast(nF))
      .select(col("src").as("doc_id"),
        (lit(1.0) / col("n").cast("double")).as("r"))
    (0 until iters).foreach { _ =>
      ranks = edges
        .join(ranks.select(col("doc_id").as("src"), col("r")), "src")
        .join(deg, "src")
        .select(col("dst"), col("src"),
          (col("r") / col("deg").cast("double")).as("contrib"))
        .groupBy("dst")
        .agg(sort_array(collect_list(struct(col("src"), col("contrib")))).as("cs"))
        .crossJoin(broadcast(nF))
        .select(col("dst").as("doc_id"),
          (lit(0.15) / col("n").cast("double") + lit(0.85) *
            graft.functions.VecOps.vec_sum(col("cs").getField("contrib")))
            .as("r"))
    }
    ranks.join(deg.select(col("src").as("doc_id"), col("deg")), "doc_id")
      .select(col("doc_id"), col("deg"), col("r").as("pr"))
  }

  /** Oracle: the identical rounds unrolled as a non-recursive CTE chain
    * (it0..itN), contribution sums as source-ordered folds.
    */
  def pagerankSql(threshold: Double = 0.4, iters: Int = 8): String = {
    val step = (i: Int) =>
      s"""it${i + 1} AS (
          SELECT e.dst AS doc_id,
            0.15 / CAST(nn.n AS DOUBLE) + 0.85 * ${graft.functions.RefStats
              .foldSumSql(s"list(p.r / CAST(d.deg AS DOUBLE) ORDER BY e.src)")} AS r
          FROM edges e
          JOIN it$i p ON e.src = p.doc_id
          JOIN deg d ON e.src = d.src, nn
          GROUP BY e.dst, nn.n)"""
    s"""WITH
        pairs AS MATERIALIZED (
          SELECT id_a, id_b FROM (${minhashLshSql(threshold)})),
        edges AS MATERIALIZED (
          SELECT id_a AS src, id_b AS dst FROM pairs
          UNION ALL
          SELECT id_b AS src, id_a AS dst FROM pairs),
        deg AS MATERIALIZED (
          SELECT src, count(*) AS deg FROM edges GROUP BY src),
        nn AS (SELECT count(*) AS n FROM deg),
        it0 AS (
          SELECT src AS doc_id, 1.0 / CAST(nn.n AS DOUBLE) AS r
          FROM deg, nn),
        ${(0 until iters).map(step).mkString(",\n")}
        SELECT r.doc_id, CAST(d.deg AS BIGINT) AS deg, r.r AS pr
        FROM it$iters r JOIN deg d ON r.doc_id = d.src"""
  }

  /** Generalized k-word shingle oracle fragment (the k=3 helper above
    * special-cases the Jaccard family's gram size).
    */
  private[operators] def spanHashes(k: Int): Column = shingle_hashes(normText, k)
  private[operators] def shingleHashesSqlK(w: String, k: Int): String = {
    val gram = (0 until k).map(j => s"$w[i+$j]").mkString(" || ' ' || ")
    s"""list_distinct(CASE WHEN len($w) >= $k
        THEN list_transform(range(1, len($w)-${k - 2}),
          i -> ${polySql(gram)})
        ELSE [${polySql(s"array_to_string($w, ' ')")}] END)"""
  }

  /** Exact repeated-SPAN detection — the exact-substring dedup signal
    * (cf. "Deduplicating Training Data Makes Language Models Better":
    * verbatim spans repeated across documents are memorization fuel even
    * when whole docs aren't near-dups). Each doc emits its distinct
    * `spanWords`-word rolling spans as 8-byte hashes (the fused
    * [[graft.functions.ShingleHashes]] expression with k=spanWords); a
    * span's document frequency comes from one map-side-combinable count,
    * and each doc reports how much of it is cross-document boilerplate.
    * Shuffles: span-hash count, span-hash join-back, doc_id aggregation
    * — all keyed, no pair explosion (this is per-span df, not pairwise
    * similarity).
    */
  def spanDedup(spark: SparkSession, sfDir: String,
      spanWords: Int = 16, maxFrac: Double = 0.2): DataFrame = {
    // d feeds three consumers (span census, join-back, final doc list);
    // materialize once so the normalize+shingle pass runs once, not 3x
    val d = docs(spark, sfDir)
      .select(col("doc_id"), shingle_hashes(normText, spanWords).as("sp"))
      .withColumn("n_spans", size(col("sp")).cast("long"))
      .localCheckpoint()
    val spans = d.select(col("doc_id"), col("n_spans"), explode(col("sp")).as("h"))
    val repeated = spans.groupBy("h").agg(count(lit(1)).as("df"))
      .filter(col("df") > 1).select("h")
    val repCnt = spans.join(repeated, Seq("h"))
      .groupBy("doc_id").agg(count(lit(1)).as("n_repeated"))
    d.select("doc_id", "n_spans")
      .join(repCnt, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_spans"),
        coalesce(col("n_repeated"), lit(0L)).as("n_repeated"),
        (coalesce(col("n_repeated"), lit(0L)) / col("n_spans"))
          .as("repeated_frac"))
      .withColumn("span_contaminated",
        (col("repeated_frac") > maxFrac).cast("int"))
  }

  def spanDedupSql(spanWords: Int = 16, maxFrac: Double = 0.2): String = {
    val sp = shingleHashesSqlK("string_split(" + normTextSql + ", ' ')", spanWords)
    s"""WITH d AS (SELECT doc_id, $sp AS sp FROM documents),
        ds AS (SELECT doc_id, CAST(len(sp) AS BIGINT) AS n_spans, sp FROM d),
        spans AS (SELECT doc_id, n_spans, unnest(sp) AS h FROM ds),
        repeated AS (SELECT h FROM (SELECT h, count(*) AS df FROM spans
                     GROUP BY h) WHERE df > 1),
        repcnt AS (SELECT doc_id, count(*) AS n_repeated
                   FROM spans JOIN repeated USING (h) GROUP BY doc_id)
        SELECT ds.doc_id, ds.n_spans,
          coalesce(repcnt.n_repeated, 0) AS n_repeated,
          coalesce(repcnt.n_repeated, 0) / ds.n_spans AS repeated_frac,
          CAST(coalesce(repcnt.n_repeated, 0) / ds.n_spans > $maxFrac AS INT)
            AS span_contaminated
        FROM ds LEFT JOIN repcnt ON ds.doc_id = repcnt.doc_id"""
  }

  /** Exact-substring dedup at SUFFIX granularity (d10) — maximal shared
    * verbatim token runs across document pairs, the longest-common-
    * substring semantics production suffix-array dedup implements (cf.
    * the d8 scaladoc's paper): for every pair of docs sharing a verbatim
    * run of >= minRun tokens, emit the run's start position in each doc
    * and its exact token length. d8 answers "how much of this doc is
    * repeated SOMEWHERE" (per-span df); d10 reconstructs WHERE and HOW
    * LONG, pairwise — a 40-token run offset by 3 words between two docs
    * comes back as one (doc_a, doc_b, start_a, start_b, 40) row.
    *
    * Sorted-suffix formulation, shuffle-bounded: every position's k-gram
    * hash ([[graft.functions.ShingleHashesPos]], fused positional
    * variant) -> hot-gram DF cap (d1's guard: boilerplate grams with
    * more than dfCap occurrences are dropped BEFORE the pair join, so
    * the join fan-out is bounded by dfCap^2 per gram, never corpus^2) ->
    * equi-join on gram hash -> gaps-and-islands merge per (pair,
    * alignment offset): consecutive matching positions collapse to one
    * maximal run of count + k - 1 tokens. Shuffles: gram-hash count,
    * gram-hash join, one (pair, offset) window — all keyed, no
    * cartesian. Run identity is hash-based (PolyHash mod 1e9+7), the
    * same trade every hash-dedup family here makes.
    */
  def suffixRuns(spark: SparkSession, sfDir: String, k: Int = 8,
      minRun: Int = 12, dfCap: Int = 128): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    // g feeds the df census and both sides of the pair self-join;
    // materialize once so the positional-shingle pass runs once, not 3x
    val g = docs(spark, sfDir)
      .select(col("doc_id"),
        posexplode(shingle_hashes_pos(normText, k)).as(Seq("pos", "h")))
      .select(col("doc_id"), col("pos").cast("long").as("pos"), col("h"))
      .localCheckpoint()
    val keep = g.groupBy("h").agg(count(lit(1)).as("c"))
      .filter(col("c") <= dfCap).select("h")
    val gg = g.join(keep, Seq("h"))
    val m = gg.as("a").join(gg.as("b"),
        col("a.h") === col("b.h") && col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"),
        col("a.pos").as("pa"), col("b.pos").as("pb"))
      .withColumn("off", col("pa") - col("pb"))
    val w = Window.partitionBy("doc_a", "doc_b", "off").orderBy("pa")
    m.withColumn("island", col("pa") - row_number().over(w))
      .groupBy("doc_a", "doc_b", "off", "island")
      .agg(min("pa").as("start_a"), min("pb").as("start_b"),
        (count(lit(1)) + lit(k - 1).cast("long")).as("run_tokens"))
      .filter(col("run_tokens") >= minRun)
      .select("doc_a", "doc_b", "start_a", "start_b", "run_tokens")
  }

  /** The d10 CTE chain ending in `runs(doc_a, doc_b, start_a, start_b,
    * run_tokens)` — shared by the run query and the scrub apply.
    */
  private def suffixRunsCtes(k: Int, minRun: Int, dfCap: Int): String = {
    val gram = s"array_to_string(list_slice(ws, CAST(pos+1 AS INT), " +
      s"CAST(pos+$k AS INT)), ' ')"
    s"""toks AS (
          SELECT doc_id, string_split($normTextSql, ' ') AS ws
          FROM documents),
        g AS (
          SELECT doc_id, pos, ${polySql(gram)} AS h
          FROM (SELECT doc_id, ws, unnest(range(len(ws)-$k+1)) AS pos
                FROM toks WHERE len(ws) >= $k)),
        keep AS (SELECT h FROM (SELECT h, count(*) AS c FROM g GROUP BY h)
                 WHERE c <= $dfCap),
        gg AS (SELECT g.* FROM g JOIN keep USING (h)),
        m AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
                a.pos AS pa, b.pos AS pb, a.pos - b.pos AS off
              FROM gg a JOIN gg b
                ON a.h = b.h AND a.doc_id < b.doc_id),
        isl AS (SELECT doc_a, doc_b, off, pa, pb,
                pa - row_number() OVER (
                  PARTITION BY doc_a, doc_b, off ORDER BY pa) AS island
                FROM m),
        runs AS (
          SELECT doc_a, doc_b, CAST(min(pa) AS BIGINT) AS start_a,
            CAST(min(pb) AS BIGINT) AS start_b,
            CAST(count(*) + $k - 1 AS BIGINT) AS run_tokens
          FROM isl
          GROUP BY doc_a, doc_b, off, island
          HAVING count(*) + $k - 1 >= $minRun)"""
  }

  def suffixRunsSql(k: Int = 8, minRun: Int = 12, dfCap: Int = 128): String =
    s"""WITH ${suffixRunsCtes(k, minRun, dfCap)}
        SELECT doc_a, doc_b, start_a, start_b, run_tokens FROM runs"""

  /** d10 APPLIED — exact-substring scrub (d11): for every doc, the
    * verbatim token spans it shares with an EARLIER doc (its doc_b-side
    * [[suffixRuns]] intervals — the canonical lower-id copy keeps its
    * text, the later copy is scrubbed, the dedupApply convention) are
    * unioned into disjoint intervals and the doc's scrubbed size
    * reported. This is the contamination cut production suffix-dedup
    * pipelines apply: verbatim repeats >= minRun tokens survive only in
    * their first document.
    *
    * Interval union is the classic sweep, relationally: distinct
    * intervals ordered by (start, end), an island opens where start
    * exceeds the running max end of everything before it (ROWS frame),
    * island id = running sum of opens, then min(start)/max(end) per
    * island. One (doc, interval) window over the run set — the run set
    * is pairs-bounded, orders of magnitude smaller than the corpus, so
    * the apply step adds no corpus-scale shuffle beyond d10 itself.
    */
  def spanScrub(spark: SparkSession, sfDir: String, k: Int = 8,
      minRun: Int = 12, dfCap: Int = 128): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val iv = suffixRuns(spark, sfDir, k, minRun, dfCap)
      .select(col("doc_b").as("doc_id"), col("start_b").as("s"),
        (col("start_b") + col("run_tokens")).as("e"))
      .distinct()
    val wPrev = Window.partitionBy("doc_id").orderBy(col("s"), col("e"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val wSum = Window.partitionBy("doc_id").orderBy(col("s"), col("e"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val removed = iv
      .withColumn("prevmax", max("e").over(wPrev))
      .withColumn("opens",
        (col("prevmax").isNull || col("s") > col("prevmax")).cast("int"))
      .withColumn("isl", sum("opens").over(wSum))
      .groupBy("doc_id", "isl")
      .agg(min("s").as("lo"), max("e").as("hi"))
      .groupBy("doc_id")
      .agg(sum(col("hi") - col("lo")).as("n_removed"))
    docs(spark, sfDir)
      .select(col("doc_id"),
        size(split(normText, " ")).cast("long").as("n_tokens"))
      .join(removed, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_tokens"),
        coalesce(col("n_removed"), lit(0L)).as("n_removed"),
        (col("n_tokens") - coalesce(col("n_removed"), lit(0L)))
          .as("kept_tokens"),
        (coalesce(col("n_removed"), lit(0L)).cast("double") /
          col("n_tokens")).as("scrub_frac"))
  }

  def spanScrubSql(k: Int = 8, minRun: Int = 12, dfCap: Int = 128): String =
    s"""WITH ${suffixRunsCtes(k, minRun, dfCap)},
        iv AS (
          SELECT DISTINCT doc_b AS doc_id, start_b AS s,
            start_b + run_tokens AS e
          FROM runs),
        swept AS (
          SELECT doc_id, s, e,
            CASE WHEN max(e) OVER (PARTITION BY doc_id ORDER BY s, e
                ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) IS NULL
              OR s > max(e) OVER (PARTITION BY doc_id ORDER BY s, e
                ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
              THEN 1 ELSE 0 END AS opens
          FROM iv),
        sisl AS (
          SELECT doc_id, s, e,
            sum(opens) OVER (PARTITION BY doc_id ORDER BY s, e
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS isl_id
          FROM swept),
        removed AS (
          SELECT doc_id, CAST(sum(hi - lo) AS BIGINT) AS n_removed
          FROM (SELECT doc_id, isl_id, min(s) AS lo, max(e) AS hi
                FROM sisl GROUP BY doc_id, isl_id)
          GROUP BY doc_id),
        dn AS (
          SELECT doc_id,
            CAST(len(string_split($normTextSql, ' ')) AS BIGINT)
              AS n_tokens
          FROM documents)
        SELECT dn.doc_id, dn.n_tokens,
          coalesce(removed.n_removed, 0) AS n_removed,
          dn.n_tokens - coalesce(removed.n_removed, 0) AS kept_tokens,
          CAST(coalesce(removed.n_removed, 0) AS DOUBLE) / dn.n_tokens
            AS scrub_frac
        FROM dn LEFT JOIN removed ON dn.doc_id = removed.doc_id"""

  /** Near-dup removal APPLIED — the curated corpus after dropping every
    * non-canonical cluster member (the step the pair/cluster operators
    * exist for). Canonical survivors carry their cluster size so
    * downstream mixing can weight by collapsed duplicates. Shape: the
    * cluster frame is doc-keyed; one groupBy on cluster_id for sizes,
    * then doc-keyed joins — no new corpus-scale shuffle beyond
    * [[dupClusters]] itself.
    */
  def dedupApply(spark: SparkSession, sfDir: String,
      threshold: Double = 0.4): DataFrame = {
    val clusters = dupClusters(spark, sfDir, threshold)
    val sizes = clusters.groupBy("cluster_id")
      .agg(count(lit(1)).as("cluster_size"))
    clusters.filter(col("is_canonical") === 1)
      .join(sizes, Seq("cluster_id"))
      .join(Tables.load(spark, sfDir, "documents")
        .select("doc_id", "source", "n_chars"), Seq("doc_id"))
      .select("doc_id", "cluster_size", "source", "n_chars")
  }

  def dedupApplySql(threshold: Double = 0.4): String =
    s"""WITH clustered AS (${dupClustersSql(threshold)}),
        sizes AS (SELECT cluster_id, count(*) AS cluster_size
                  FROM clustered GROUP BY cluster_id)
        SELECT c.doc_id, s.cluster_size, d.source, d.n_chars
        FROM clustered c
        JOIN sizes s ON c.cluster_id = s.cluster_id
        JOIN documents d ON c.doc_id = d.doc_id
        WHERE c.is_canonical = 1"""

  // ---------------------------------------------------------------- simhash

  /** SimHash: 64-bit signature as two packed 32-bit halves (`sig_lo` =
    * bands 0-1, `sig_hi` = bands 2-3), each band a 16-bit sub-signature
    * voted over an independent affine remix of the shingle hashes
    * ([[graft.functions.SimHashBands]] — the remix is required because
    * PolyHash values carry < 30 bits, so a direct 64-bit vote would have
    * constant high bits). Two halves rather than one packed long keep
    * every value under 2^32 and non-negative, so the DuckDB oracle's
    * integer `//`/`%` band extraction is exact and nothing approaches
    * BIGINT overflow on either engine.
    */
  val SimhashBandBits = 16
  // independent affine families (LCG-style odd multipliers, < 2^31;
  // h < 2^30 keeps h*a + b well inside BIGINT on both engines)
  private val shA = Seq(1103515245L, 1566083941L, 1812433253L, 1664525L)
  private val shB = Seq(12345L, 1013904223L, 2531011L, 1566083941L)

  private def sigHalf(hi: Boolean): Column = {
    val f = if (hi) 2 else 0
    graft.functions.SimHashBands.sim_hash_bands(col("hs"),
      shA.slice(f, f + 2), shB.slice(f, f + 2), P, SimhashBandBits)
  }
  private def sigHalfSql(hi: Boolean): String = {
    val f = if (hi) 2 else 0
    graft.functions.SimHashBands.sql("hs",
      shA.slice(f, f + 2), shB.slice(f, f + 2), P, SimhashBandBits)
  }

  def simhash(spark: SparkSession, sfDir: String): DataFrame =
    docs(spark, sfDir)
      .select(col("doc_id"), shingleHashes.as("hs"))
      .select(col("doc_id"), sigHalf(hi = false).as("sig_lo"),
        sigHalf(hi = true).as("sig_hi"))

  val simhashSql: String = {
    val sh = shingleHashesSql("string_split(" + normTextSql + ", ' ')")
    s"""SELECT doc_id, ${sigHalfSql(hi = false)} AS sig_lo,
          ${sigHalfSql(hi = true)} AS sig_hi
        FROM (SELECT doc_id, $sh AS hs FROM documents)"""
  }

  /** SimHash near-dup PAIRING: band the 64-bit signature into 4 16-bit
    * band keys (65 536 values per band — at 10^9 docs a uniform band
    * bucket holds ~N/2^16 docs, vs ~N/2^8 under the former 8-bit bands
    * whose within-bucket pair generation went quadratic) and bucket-join
    * on (band, bkey), then verify candidates by 64-bit Hamming distance
    * (popcount of XOR, summed over the two halves). By pigeonhole, any
    * pair within `maxHamming` <= 3 bit flips shares at least one intact
    * 16-bit band, so the bucket join is lossless for the verify
    * threshold — the same capture argument as MinHash-LSH, in Hamming
    * space. One shuffle on the band key; candidates dedup on ids before
    * the verify.
    */
  def simhashPairs(spark: SparkSession, sfDir: String,
      maxHamming: Int = 3): DataFrame = {
    val sig = simhash(spark, sfDir)
    val mask = (1 << SimhashBandBits) - 1
    val banded = sig.select(col("doc_id"), col("sig_lo"), col("sig_hi"),
      explode(array(
        struct(lit(0).as("band"), col("sig_lo").bitwiseAND(mask).as("bkey")),
        struct(lit(1).as("band"),
          shiftright(col("sig_lo"), SimhashBandBits).as("bkey")),
        struct(lit(2).as("band"), col("sig_hi").bitwiseAND(mask).as("bkey")),
        struct(lit(3).as("band"),
          shiftright(col("sig_hi"), SimhashBandBits).as("bkey")))).as("bb"))
      .select(col("doc_id"), col("sig_lo"), col("sig_hi"),
        col("bb.band"), col("bb.bkey"))
    val a = banded.select(col("band"), col("bkey"), col("doc_id").as("id_a"),
      col("sig_lo").as("lo_a"), col("sig_hi").as("hi_a"))
    val b = banded.select(col("band"), col("bkey"), col("doc_id").as("id_b"),
      col("sig_lo").as("lo_b"), col("sig_hi").as("hi_b"))
    a.join(b, Seq("band", "bkey")).filter(col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"), col("lo_a"), col("hi_a"),
        col("lo_b"), col("hi_b")).distinct()
      .withColumn("hamming",
        (bit_count(col("lo_a").bitwiseXOR(col("lo_b"))) +
          bit_count(col("hi_a").bitwiseXOR(col("hi_b")))).cast("int"))
      .filter(col("hamming") <= maxHamming)
      .select("id_a", "id_b", "hamming")
  }

  def simhashPairsSql(maxHamming: Int = 3): String = {
    val m = 1 << SimhashBandBits
    val bandStructs = Seq(
      s"{'band': 0, 'bkey': sig_lo % $m}",
      s"{'band': 1, 'bkey': sig_lo // $m}",
      s"{'band': 2, 'bkey': sig_hi % $m}",
      s"{'band': 3, 'bkey': sig_hi // $m}").mkString("[", ", ", "]")
    s"""WITH sig AS ($simhashSql),
        banded AS (
          SELECT doc_id, sig_lo, sig_hi, bb.band AS band, bb.bkey AS bkey
          FROM (SELECT doc_id, sig_lo, sig_hi, unnest($bandStructs) AS bb
                FROM sig)),
        cand AS (
          SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b,
            a.sig_lo AS lo_a, a.sig_hi AS hi_a,
            b.sig_lo AS lo_b, b.sig_hi AS hi_b
          FROM banded a JOIN banded b
            ON a.band = b.band AND a.bkey = b.bkey AND a.doc_id < b.doc_id)
        SELECT id_a, id_b,
          CAST(bit_count(xor(lo_a, lo_b)) + bit_count(xor(hi_a, hi_b))
            AS INT) AS hamming
        FROM cand
        WHERE bit_count(xor(lo_a, lo_b)) + bit_count(xor(hi_a, hi_b))
          <= $maxHamming"""
  }

  // ------------------------------------------------------------ line dedup

  /** Line-level dedup APPLIED (RefinedWeb/CCNet-style): segment each doc
    * into consecutive non-overlapping `segWords`-word units (the stand-in
    * for "lines" — this corpus has no newlines), drop every unit whose
    * text recurs in MORE THAN ONE distinct document, and rebuild the
    * cleaned text in original order. Complements [[spanDedup]], which only
    * SCORES rolling-span boilerplate — this is the removal step that
    * actually edits the corpus.
    *
    * Scale shape: segments shuffle once on their 8-byte [[PolyHash]] for
    * the distinct-doc df (two-level keyed agg — (h, doc_id) then (h), both
    * map-side combinable; no count-distinct state), once more for the
    * anti-join against the duplicated-hash set. The expensive
    * explode->shuffle->sorted-collect rebuild runs ONLY for docs that
    * actually lost a segment (semi-join on the touched doc set): typical
    * corpora are >90% untouched, and an untouched doc's cleaned text is
    * just its segments rejoined — a map-side projection, no shuffle. The
    * per-group rebuild state stays bounded by document length, never
    * corpus-scale, and there are no pair joins anywhere, so cost is
    * linear in corpus size at any scale factor.
    */
  def lineDedup(spark: SparkSession, sfDir: String,
      segWords: Int = 8): DataFrame = {
    val words = split(normText, " ")
    val nSeg = ceil(size(words).cast("double") / segWords).cast("int")
    val segsCol = when(size(words) === 0, array().cast("array<string>"))
      .otherwise(transform(sequence(lit(0), nSeg - 1),
        i => array_join(slice(words, i * segWords + 1, lit(segWords)), " ")))
    // The segmented corpus feeds four consumers (dup census, touched set,
    // rebuild, passthrough); materialize it ONCE (eager localCheckpoint —
    // one working-set write, the same durability point a production
    // pipeline would checkpoint) so the normalization regex + segment
    // assembly don't re-run per consumer. Downstream re-evaluations then
    // only re-explode cheap precomputed arrays.
    val d = docs(spark, sfDir)
      .select(col("doc_id"), segsCol.as("segs"))
      .localCheckpoint()
    // segRows feeds three consumers (dup census, touched set, rebuild);
    // materialize it too so the explode+hash runs once, not 3x
    val segRows = d
      .select(col("doc_id"), posexplode(col("segs")).as(Seq("pos", "seg")))
      .withColumn("h", poly_hash(col("seg")))
      .localCheckpoint()
    val dup = segRows.groupBy("h", "doc_id").agg(count(lit(1)).as("c"))
      .groupBy("h").agg(count(lit(1)).as("ddf"))
      .filter(col("ddf") > 1).select("h")
    // docs owning at least one duplicated segment — only these rebuild
    val touched = segRows.join(dup, Seq("h"), "left_semi")
      .select("doc_id").distinct()
    val rebuilt = segRows.join(touched, Seq("doc_id"), "left_semi")
      .join(dup, Seq("h"), "left_anti")
      .groupBy("doc_id").agg(
        count(lit(1)).as("n_kept"),
        array_join(transform(
          array_sort(collect_list(struct(col("pos"), col("seg")))),
          x => x("seg")), " ").as("clean_text"))
    val touchedOut = d.join(touched, Seq("doc_id"), "left_semi")
      .select(col("doc_id"), size(col("segs")).cast("long").as("n_segs"))
      .join(rebuilt, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_segs"),
        (col("n_segs") - coalesce(col("n_kept"), lit(0L))).as("n_removed"),
        coalesce(col("clean_text"), lit("")).as("clean_text"))
    // untouched docs pass through: cleaned text == segments rejoined
    val untouchedOut = d.join(touched, Seq("doc_id"), "left_anti")
      .select(col("doc_id"), size(col("segs")).cast("long").as("n_segs"),
        lit(0L).as("n_removed"),
        array_join(col("segs"), " ").as("clean_text"))
    touchedOut.unionByName(untouchedOut)
  }

  def lineDedupSql(segWords: Int = 8): String =
    s"""WITH d AS (
          SELECT doc_id, string_split($normTextSql, ' ') AS w
          FROM documents),
        segd AS (
          SELECT doc_id,
            CASE WHEN len(w) = 0 THEN []
            ELSE list_transform(
              range(CAST(ceil(len(w) / $segWords.0) AS BIGINT)),
              i -> array_to_string(
                w[1 + i * $segWords : (i + 1) * $segWords], ' '))
            END AS segs
          FROM d),
        segr AS (
          SELECT doc_id, unnest(range(len(segs))) AS pos,
            unnest(segs) AS seg
          FROM segd),
        segh AS (SELECT doc_id, pos, seg, ${polySql("seg")} AS h FROM segr),
        dup AS (
          SELECT h FROM (
            SELECT h, count(DISTINCT doc_id) AS ddf FROM segh GROUP BY h)
          WHERE ddf > 1),
        kept AS (SELECT * FROM segh ANTI JOIN dup USING (h)),
        reb AS (
          SELECT doc_id, CAST(count(*) AS BIGINT) AS n_kept,
            array_to_string(list(seg ORDER BY pos), ' ') AS clean_text
          FROM kept GROUP BY doc_id)
        SELECT segd.doc_id, CAST(len(segs) AS BIGINT) AS n_segs,
          CAST(len(segs) - coalesce(n_kept, 0) AS BIGINT) AS n_removed,
          coalesce(clean_text, '') AS clean_text
        FROM segd LEFT JOIN reb USING (doc_id)"""
}
