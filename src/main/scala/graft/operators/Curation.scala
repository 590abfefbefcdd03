package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.Tables
import graft.functions.PolyHash.{poly_hash, sql => polySql}

/** The end-to-end training-data curation pipeline — the composition the
  * individual operators exist for: quality-gate the corpus, drop
  * duplicates (keep the canonical doc per content fingerprint), and
  * annotate survivors with language, token counts and fingerprint.
  *
  * Everything is a composition of the already-verified operators
  * ([[TextAnalysis]], [[Dedup]]) — one scan feeds all annotations, the
  * only shuffle is the dedup groupBy on the fingerprint, and the quality
  * gate prunes before it (filter-early). At 100 TB this is the shape of
  * a pre-training data pass: scan -> cheap per-doc features -> one
  * content-key shuffle -> curated output.
  */
object Curation {

  def curate(spark: SparkSession, sfDir: String): DataFrame = {
    val quality = TextAnalysis.quality(spark, sfDir)
      .select("doc_id", "n_words", "stopword_ratio", "quality_ok")
    val lang = TextAnalysis.langId(spark, sfDir)
      .select("doc_id", "lang_pred")
    val fp = TextAnalysis.fingerprint(spark, sfDir)
    val qualified = quality.filter(col("quality_ok") === 1)
      .join(fp, Seq("doc_id"))
      .join(lang, Seq("doc_id"))
    // canonical doc per fingerprint as a window-min + filter (r15): the
    // former groupBy + join-back re-evaluated the whole quality/langid/
    // fingerprint chain for the join's second side and shuffled twice;
    // doc_id is unique, so keeping rows where doc_id == min over the
    // fingerprint partition selects exactly the same rows with one
    // evaluation and one shuffle (guide §2.4). The isNotNull filter
    // makes the equivalence unconditional: the former join on the
    // fingerprint key (and the oracle's JOIN) silently dropped any
    // null-fingerprint row, which a window partition would have kept.
    val wFp = Window.partitionBy("fingerprint")
    qualified
      .filter(col("fingerprint").isNotNull)
      .withColumn("canon_id", min("doc_id").over(wFp))
      .filter(col("doc_id") === col("canon_id"))
      .select("doc_id", "fingerprint", "lang_pred", "n_words", "stopword_ratio")
  }

  val curateSql: String =
    s"""WITH q AS (SELECT doc_id, n_words, stopword_ratio, quality_ok
          FROM (${TextAnalysis.qualitySql})),
        l AS (SELECT doc_id, lang_pred FROM (${TextAnalysis.langIdSql})),
        f AS (${TextAnalysis.fingerprintSql}),
        qualified AS (
          SELECT q.doc_id, f.fingerprint, l.lang_pred, q.n_words,
            q.stopword_ratio
          FROM q JOIN f ON q.doc_id = f.doc_id
                 JOIN l ON q.doc_id = l.doc_id
          WHERE q.quality_ok = 1),
        canon AS (SELECT fingerprint, min(doc_id) AS doc_id
                  FROM qualified GROUP BY fingerprint)
        SELECT qualified.doc_id, qualified.fingerprint, lang_pred, n_words,
          stopword_ratio
        FROM qualified JOIN canon
          ON qualified.fingerprint = canon.fingerprint
         AND qualified.doc_id = canon.doc_id"""

  /** Benchmark DECONTAMINATION — flag training docs whose n-gram overlap
    * with an evaluation set is high (test-set leakage removal). The
    * "benchmark" here is the deterministic pseudo-eval subset
    * `doc_id % benchMod = 0`; in production it is the actual eval
    * corpora. Shape: the benchmark's distinct shingle-hash set is
    * broadcast (eval sets are tiny relative to the corpus), each corpus
    * doc's shingles probe it map-side, one count aggregation per doc —
    * the corpus is scanned once and never self-joined. Shingle arrays
    * are distinct by construction ([[Dedup.shingleHashes]]), so the hit
    * count is the distinct-overlap count.
    */
  def decontaminate(spark: SparkSession, sfDir: String,
      benchMod: Long = 47, minOverlap: Double = 0.2): DataFrame = {
    // d feeds the bench set, the probe explode and the final doc list;
    // materialize once so the normalize+shingle pass runs once, not 3x
    val d = Tables.loadSpread(spark, sfDir, "documents")
      .select(col("doc_id"), Dedup.shingleHashes.as("sh"))
      .localCheckpoint()
    val bench = d.filter(col("doc_id") % benchMod === 0)
      .select(explode(col("sh")).as("s")).distinct()
    val corpus = d.filter(col("doc_id") % benchMod =!= 0)
      .select(col("doc_id"), size(col("sh")).cast("long").as("n_sh"),
        col("sh"))
    val hits = corpus.select(col("doc_id"), explode(col("sh")).as("s"))
      .join(broadcast(bench), Seq("s"))
      .groupBy("doc_id").agg(count(lit(1)).as("n_hit"))
    val nHit = coalesce(col("n_hit"), lit(0L))
    corpus.select("doc_id", "n_sh")
      .join(hits, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_sh"), nHit.as("n_hit"),
        (nHit.cast("double") / col("n_sh")).as("overlap"),
        (nHit.cast("double") / col("n_sh") >= minOverlap)
          .cast("int").as("is_contaminated"))
  }

  def decontaminateSql(benchMod: Long = 47, minOverlap: Double = 0.2): String = {
    val sh = Dedup.shingleHashesSql(
      "string_split(" + Dedup.normTextSql + ", ' ')")
    s"""WITH d AS (SELECT doc_id, $sh AS sh FROM documents),
        bench AS (SELECT DISTINCT unnest(sh) AS s FROM d
                  WHERE doc_id % $benchMod = 0),
        corpus AS (SELECT doc_id, len(sh) AS n_sh, sh FROM d
                   WHERE doc_id % $benchMod <> 0),
        tok AS (SELECT doc_id, unnest(sh) AS s FROM corpus),
        hits AS (SELECT doc_id, count(*) AS n_hit
                 FROM tok JOIN bench USING (s) GROUP BY doc_id)
        SELECT c.doc_id, c.n_sh, coalesce(h.n_hit, 0) AS n_hit,
          CAST(coalesce(h.n_hit, 0) AS DOUBLE) / c.n_sh AS overlap,
          CAST(CAST(coalesce(h.n_hit, 0) AS DOUBLE) / c.n_sh >= $minOverlap
            AS INT) AS is_contaminated
        FROM corpus c LEFT JOIN hits h ON c.doc_id = h.doc_id"""
  }

  /** BLOOM-FILTER decontamination — the 100-TB shape of benchmark
    * leakage removal. [[decontaminate]] (c3) broadcasts the benchmark's
    * whole distinct shingle SET and runs every corpus shingle through a
    * broadcast hash join; at pretraining scale even the map-side build
    * of that hash table per task is real cost, and the join's output
    * still aggregates corpus-wide. This variant is the pattern Spark's
    * own runtime row-level filtering (InjectRuntimeFilter) uses, made
    * explicit and EXACT:
    *
    *  1. BUILD a Bloom filter over the benchmark's distinct
    *     `spanWords`-word span hashes, declaratively: k probe positions
    *     per span (`xxhash64(h, seed_i) mod m`), positions packed into
    *     `m/64` words with a `bit_or` aggregate — the only corpus-side
    *     state is m bits however large the benchmark is.
    *  2. COLLECT the words as one bounded array literal (`m/64` longs —
    *     2048 longs = 16 KiB at the default m=2^17, FIXED-size like the
    *     BPE argmax collect, independent of corpus scale) and PROBE it
    *     as a pure
    *     whole-stage-codegen expression over the corpus spans: bit
    *     tests against an array literal — no join, no hash-table build,
    *     no shuffle touches the corpus-scale span stream.
    *  3. EXACT-CONFIRM only the bloom-positive spans (expected
    *     fraction: true leaks + ~(1-e^(-kn/m))^k false positives)
    *     against the benchmark set — the bloom can't miss (no false
    *     negatives), so the final answer equals the exact semi-join the
    *     DuckDB oracle computes, while the joins and the per-doc count
    *     shuffle see only the tiny positive set. The final doc-keyed
    *     left join is the one corpus-scale shuffle, same as c3.
    *
    * Output per corpus doc: distinct span count, leaked-span count,
    * leak fraction, and the any-leak contamination flag.
    */
  def bloomDecon(spark: SparkSession, sfDir: String, benchMod: Long = 47,
      spanWords: Int = 16, mBits: Int = 1 << 17, k: Int = 5): DataFrame = {
    require(mBits % 64 == 0)
    // spanHashes (ShingleHashes) emits DISTINCT hashes by contract (d8
    // relies on the same), so sp needs no extra dedup pass
    // d feeds the bloom build, the exact confirm, the probe stream and
    // the final doc list; materialize once so the normalize+shingle
    // pass runs once, not 4x
    val d = Tables.loadSpread(spark, sfDir, "documents")
      .select(col("doc_id"), Dedup.spanHashes(spanWords).as("sp"))
      .localCheckpoint()
    val bench = d.filter(col("doc_id") % benchMod === 0)
      .select(explode(col("sp")).as("h")).distinct()
    val corpus = d.filter(col("doc_id") % benchMod =!= 0)
    def positions(h: org.apache.spark.sql.Column) =
      (0 until k).map(i => pmod(xxhash64(h, lit(i)), lit(mBits.toLong)))
    // build: position -> (word, bit), OR'd into m/64 words
    val words = bench
      .select(explode(array(positions(col("h")): _*)).as("pos"))
      .select((col("pos") / 64).cast("int").as("w"),
        call_function("shiftleft", lit(1L), (col("pos") % 64).cast("int"))
          .as("m"))
      .groupBy("w").agg(bit_or(col("m")).as("bits"))
    // bounded collect: exactly mBits/64 longs at most, regardless of
    // corpus or benchmark size — the runtime-filter broadcast, as a
    // plan literal
    val arr = new Array[Long](mBits / 64)
    words.collect().foreach(r => arr(r.getInt(0)) = r.getLong(1))
    val bloom = typedLit(arr.toSeq)
    val probe = positions(col("h")).map { pos =>
      (call_function("shiftright",
        element_at(bloom, (pos / 64).cast("int") + 1),
        (pos % 64).cast("int")).bitwiseAND(lit(1L))) === 1L
    }.reduce(_ && _)
    val positive = corpus
      .select(col("doc_id"), explode(col("sp")).as("h"))
      .filter(probe)
    // exact confirm (kills bloom false positives; no hint — the bench
    // side's size is the benchmark's, AQE picks the strategy)
    val leaked = positive.join(bench, Seq("h"), "left_semi")
      .groupBy("doc_id").agg(count(lit(1)).as("n_leaked"))
    val nLeaked = coalesce(col("n_leaked"), lit(0L))
    corpus.select(col("doc_id"), size(col("sp")).cast("long").as("n_spans"))
      .join(leaked, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_spans"), nLeaked.as("n_leaked"),
        (nLeaked.cast("double") / col("n_spans")).as("leak_frac"),
        (nLeaked > 0).cast("int").as("is_contaminated"))
  }

  /** The oracle computes the EXACT semi-join (a bloom with the confirm
    * step is exact, so the SQL needs no bloom).
    */
  def bloomDeconSql(benchMod: Long = 47, spanWords: Int = 16): String = {
    val sp = Dedup.shingleHashesSqlK(
      "string_split(" + Dedup.normTextSql + ", ' ')", spanWords)
    s"""WITH d AS (SELECT doc_id, $sp AS sp FROM documents),
        bench AS (SELECT DISTINCT unnest(sp) AS h FROM d
                  WHERE doc_id % $benchMod = 0),
        corpus AS (SELECT doc_id, sp FROM d WHERE doc_id % $benchMod <> 0),
        cs AS (SELECT doc_id, unnest(sp) AS h FROM corpus),
        hits AS (SELECT doc_id, count(*) AS n_leaked
                 FROM cs JOIN bench USING (h) GROUP BY doc_id)
        SELECT c.doc_id, CAST(len(c.sp) AS BIGINT) AS n_spans,
          coalesce(h.n_leaked, 0) AS n_leaked,
          CAST(coalesce(h.n_leaked, 0) AS DOUBLE) / len(c.sp) AS leak_frac,
          CAST(coalesce(h.n_leaked, 0) > 0 AS INT) AS is_contaminated
        FROM corpus c LEFT JOIN hits h ON c.doc_id = h.doc_id"""
  }

  /** Data-mixture weights — per-source token budgeting: each source's
    * token share of the corpus, and the resampling weight that would
    * equalize sources (`uniform_weight` > 1 ⇒ upsample). One groupBy on
    * source; the share/weight window runs over the handful of
    * post-aggregate rows (one per source), not the corpus.
    */
  /** Temperature-scaled mixture weights — the multilingual/multi-source
    * up-sampling rule (mT5/XLM-R style): sample probability p_i ∝
    * share_i^alpha with alpha=0.5, which damps head sources and boosts
    * the tail. alpha=1/2 is deliberately the exponent computed by
    * `sqrt`: IEEE-754 requires correctly-rounded sqrt, so unlike `pow`
    * or `ln` it is bit-identical across engines and the whole result
    * stays oracle-checkable. The normalizing sum folds in source-name
    * order on both sides. Outputs the raw share, the tempered share,
    * and the per-doc up/down-sampling factor tempered/raw.
    */
  def temperatureMix(spark: SparkSession, sfDir: String): DataFrame = {
    val perSrc = Tables.load(spark, sfDir, "documents")
      .select(col("source"),
        size(split(trim(col("text")), "\\s+")).cast("long").as("n_tok"))
      .groupBy("source")
      .agg(sum("n_tok").as("src_tokens"))
    val all = Window.partitionBy(lit(1))
    val ordered = Window.partitionBy(lit(1)).orderBy("source")
      .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    perSrc
      .withColumn("share",
        col("src_tokens").cast("double") /
          sum("src_tokens").over(all).cast("double"))
      .withColumn("temp_raw", sqrt(col("share")))
      // ordered fold for the normalizer: collect shares sorted by source
      // and left-fold, so Spark and DuckDB sum in the same order
      .withColumn("z", aggregate(
        sort_array(collect_list(struct(col("source"), col("temp_raw")))
          .over(ordered)),
        lit(0.0), (acc, x) => acc + x.getField("temp_raw")))
      .select(col("source"), col("src_tokens"), col("share"),
        (col("temp_raw") / col("z")).as("tempered_share"),
        ((col("temp_raw") / col("z")) / col("share")).as("sample_factor"))
  }

  val temperatureMixSql: String =
    """WITH s AS (
         SELECT source, CAST(sum(CAST(len(string_split_regex(trim(text),
           '\s+')) AS BIGINT)) AS BIGINT) AS src_tokens
         FROM documents GROUP BY source),
       sh AS (
         SELECT source, src_tokens,
           CAST(src_tokens AS DOUBLE) /
             CAST((SELECT sum(src_tokens) FROM s) AS DOUBLE) AS share
         FROM s),
       z AS (
         SELECT list_reduce(list_prepend(0.0,
             list_transform(list(sqrt(share) ORDER BY source), x -> x)),
           (acc, v) -> acc + v) AS z
         FROM sh)
       SELECT source, src_tokens, share,
         sqrt(share) / z AS tempered_share,
         (sqrt(share) / z) / share AS sample_factor
       FROM sh, z"""

  def mixWeights(spark: SparkSession, sfDir: String): DataFrame = {
    val perSrc = Tables.load(spark, sfDir, "documents")
      .select(col("source"),
        size(split(trim(col("text")), "\\s+")).cast("long").as("n_tok"))
      .groupBy("source")
      .agg(count(lit(1)).as("n_docs"), sum("n_tok").as("src_tokens"))
    val all = Window.partitionBy(lit(1))
    perSrc
      .withColumn("total_tokens", sum("src_tokens").over(all))
      .withColumn("n_sources", count(lit(1)).over(all))
      .select(col("source"), col("n_docs"), col("src_tokens"),
        (col("src_tokens").cast("double") / col("total_tokens")).as("share"),
        (col("total_tokens").cast("double") /
          (col("n_sources") * col("src_tokens"))).as("uniform_weight"))
  }

  val mixWeightsSql: String =
    """WITH per AS (
         SELECT source, count(*) AS n_docs,
           CAST(sum(len(string_split_regex(trim(text), '\s+'))) AS BIGINT)
             AS src_tokens
         FROM documents GROUP BY source)
       SELECT source, n_docs, src_tokens,
         CAST(src_tokens AS DOUBLE) / sum(src_tokens) OVER () AS share,
         CAST(sum(src_tokens) OVER () AS DOUBLE)
           / (count(*) OVER () * src_tokens) AS uniform_weight
       FROM per"""

  /** PII detection + redaction — the scrubbing pass of a training-data
    * pipeline: count and redact email / phone / SSN-shaped spans via
    * regex, emitting per-doc PII counts, the redacted text, and a
    * has_pii flag. Pure map-side column expressions (no shuffle; scales
    * with input splits). The synthetic corpus contains no PII, so the
    * input is synthesized deterministically from `customer` (same
    * precedent as the parse-family queries): every engine sees the same
    * lines, and the mod-gates make each PII kind present in only some
    * rows so zero and non-zero counts are both exercised.
    */
  private val emailRe = "[a-z0-9.]+@[a-z0-9.-]+\\.[a-z]{2,}"
  private val phoneRe = "\\+1-[0-9]{3}-[0-9]{4}"
  private val ssnRe = "[0-9]{3}-[0-9]{2}-[0-9]{4}"

  def piiScrub(spark: SparkSession, sfDir: String): DataFrame = {
    val k = col("c_custkey")
    val text = concat(
      lit("Reach "), col("c_name"), lit(" at "),
      lower(regexp_replace(col("c_name"), lit("#"), lit("."))),
      lit("@example.com"),
      when(k % 3 =!= 0,
        concat(lit(" or +1-555-"), lpad((k % 10000).cast("string"), 4, "0")))
        .otherwise(lit("")),
      when(k % 5 === 0,
        concat(lit("; ssn "), lpad((k % 900 + 100).cast("string"), 3, "0"),
          lit("-"), lpad((k % 90 + 10).cast("string"), 2, "0"),
          lit("-"), lpad((k % 9000 + 1000).cast("string"), 4, "0")))
        .otherwise(lit("")),
      lit(" segment "), col("c_mktsegment"))
    val nEmail = size(regexp_extract_all(col("text"), lit(emailRe), lit(0)))
    val nPhone = size(regexp_extract_all(col("text"), lit(phoneRe), lit(0)))
    val nSsn = size(regexp_extract_all(col("text"), lit(ssnRe), lit(0)))
    val redacted = regexp_replace(
      regexp_replace(
        regexp_replace(col("text"), lit(phoneRe), lit("<PHONE>")),
        lit(ssnRe), lit("<SSN>")),
      lit(emailRe), lit("<EMAIL>"))
    Tables.loadSpread(spark, sfDir, "customer")
      .select(k.as("doc_id"), text.as("text"))
      .select(col("doc_id"),
        nEmail.cast("long").as("n_emails"),
        nPhone.cast("long").as("n_phones"),
        nSsn.cast("long").as("n_ssns"),
        redacted.as("redacted"),
        (nEmail + nPhone + nSsn > 0).cast("int").as("has_pii"))
  }

  val piiScrubSql: String =
    s"""WITH synth AS (
          SELECT c_custkey AS doc_id,
            'Reach ' || c_name || ' at '
            || lower(replace(c_name, '#', '.')) || '@example.com'
            || CASE WHEN c_custkey % 3 <> 0
                 THEN ' or +1-555-' || lpad(CAST(c_custkey % 10000 AS VARCHAR), 4, '0')
                 ELSE '' END
            || CASE WHEN c_custkey % 5 = 0
                 THEN '; ssn ' || lpad(CAST(c_custkey % 900 + 100 AS VARCHAR), 3, '0')
                   || '-' || lpad(CAST(c_custkey % 90 + 10 AS VARCHAR), 2, '0')
                   || '-' || lpad(CAST(c_custkey % 9000 + 1000 AS VARCHAR), 4, '0')
                 ELSE '' END
            || ' segment ' || c_mktsegment AS text
          FROM customer)
        SELECT doc_id,
          len(regexp_extract_all(text, '$emailRe')) AS n_emails,
          len(regexp_extract_all(text, '$phoneRe')) AS n_phones,
          len(regexp_extract_all(text, '$ssnRe')) AS n_ssns,
          regexp_replace(regexp_replace(regexp_replace(text,
            '$phoneRe', '<PHONE>', 'g'),
            '$ssnRe', '<SSN>', 'g'),
            '$emailRe', '<EMAIL>', 'g') AS redacted,
          CAST(len(regexp_extract_all(text, '$emailRe'))
            + len(regexp_extract_all(text, '$phoneRe'))
            + len(regexp_extract_all(text, '$ssnRe')) > 0 AS INT) AS has_pii
        FROM synth"""

  /** Corpus snapshot diff — the incremental-update primitive: compare
    * two dataset versions by content fingerprint and classify every doc
    * as added / removed / changed / unchanged (what an incremental
    * training-data refresh feeds downstream instead of reprocessing the
    * corpus). FULL OUTER join on the doc key — one co-partitioned
    * shuffle at scale; fingerprints compare 8-byte hashes, never text.
    * The second snapshot is synthesized deterministically from the
    * first: every 17th doc deleted, every 10th doc's text edited, and a
    * negative-id slice added (a disjoint id namespace, so synthesized
    * "added" ids can never collide with real doc ids at any scale
    * factor) — all four statuses exercised.
    */
  private def fpCol(c: org.apache.spark.sql.Column) =
    poly_hash(regexp_replace(lower(trim(c)), "\\s+", " "))

  /** Snapshot v1: the documents table as-is, fingerprinted. */
  private def v1Fps(spark: SparkSession, sfDir: String): DataFrame =
    Tables.loadSpread(spark, sfDir, "documents")
      .select(col("doc_id"), fpCol(col("text")).as("fp1"))

  /** Snapshot v2, synthesized deterministically from v1 (deletes,
    * edits, negative-id additions — see [[snapshotDiff]]).
    */
  private def v2Fps(spark: SparkSession, sfDir: String): DataFrame = {
    val docs = Tables.loadSpread(spark, sfDir, "documents")
    docs.filter(col("doc_id") % 17 =!= 3)
      .select(col("doc_id"),
        fpCol(when(col("doc_id") % 10 === 0,
          concat(lit("edited "), col("text"))).otherwise(col("text"))).as("fp2"))
      .unionByName(docs.filter(col("doc_id") % 23 === 0)
        .select((-col("doc_id") - 1).as("doc_id"),
          fpCol(col("text")).as("fp2")))
  }

  def snapshotDiff(spark: SparkSession, sfDir: String): DataFrame = {
    val v1 = v1Fps(spark, sfDir)
    val v2 = v2Fps(spark, sfDir)
    v1.join(v2, Seq("doc_id"), "full_outer")
      .select(col("doc_id"),
        when(col("fp1").isNull, "added")
          .when(col("fp2").isNull, "removed")
          .when(col("fp1") === col("fp2"), "unchanged")
          .otherwise("changed").as("status"))
  }

  val snapshotDiffSql: String = {
    val fp = (c: String) =>
      polySql(s"regexp_replace(lower(trim($c)), '\\s+', ' ', 'g')")
    s"""WITH v1 AS (SELECT doc_id, ${fp("text")} AS fp1 FROM documents),
        v2 AS (
          SELECT doc_id,
            ${fp("CASE WHEN doc_id % 10 = 0 THEN 'edited ' || text ELSE text END")}
              AS fp2
          FROM documents WHERE doc_id % 17 <> 3
          UNION ALL
          SELECT -doc_id - 1 AS doc_id, ${fp("text")} AS fp2
          FROM documents WHERE doc_id % 23 = 0)
        SELECT coalesce(v1.doc_id, v2.doc_id) AS doc_id,
          CASE WHEN fp1 IS NULL THEN 'added'
               WHEN fp2 IS NULL THEN 'removed'
               WHEN fp1 = fp2 THEN 'unchanged'
               ELSE 'changed' END AS status
        FROM v1 FULL OUTER JOIN v2 ON v1.doc_id = v2.doc_id"""
  }

  /** Incremental corpus update — the "process only the delta" primitive
    * of a production refresh: emit the new snapshot's docs whose CONTENT
    * fingerprint is absent from the existing corpus (edits count as new
    * content; moved/re-idd docs with unchanged text do not). One
    * anti-join on the 8-byte fingerprint — text never crosses the
    * shuffle, and at 100 TB the existing-corpus side is a fingerprint
    * index, not the corpus. [[snapshotDiff]] classifies the diff by doc
    * id; this emits the content-level WORK LIST the downstream operators
    * (quality, dedup, annotation) actually need to process.
    */
  def incrementalNew(spark: SparkSession, sfDir: String): DataFrame =
    v2Fps(spark, sfDir)
      .join(v1Fps(spark, sfDir).select(col("fp1").as("fp2")),
        Seq("fp2"), "left_anti")
      .select(col("doc_id"), col("fp2").as("fp"))

  val incrementalNewSql: String = {
    val fp = (c: String) =>
      polySql(s"regexp_replace(lower(trim($c)), '\\s+', ' ', 'g')")
    s"""WITH v1 AS (SELECT doc_id, ${fp("text")} AS fp1 FROM documents),
        v2 AS (
          SELECT doc_id,
            ${fp("CASE WHEN doc_id % 10 = 0 THEN 'edited ' || text ELSE text END")}
              AS fp2
          FROM documents WHERE doc_id % 17 <> 3
          UNION ALL
          SELECT -doc_id - 1 AS doc_id, ${fp("text")} AS fp2
          FROM documents WHERE doc_id % 23 = 0)
        SELECT doc_id, fp2 AS fp
        FROM v2 ANTI JOIN v1 ON v2.fp2 = v1.fp1"""
  }

  /** Per-source corpus DATA CARD — the governance artifact a
    * training-data pipeline publishes per ingestion source: document and
    * token counts, quality-pass rate, exact-duplicate rate, and the
    * dominant predicted language, in one row per source. Pure
    * composition of already-verified operators (quality, langid, exact
    * dedup) joined doc-keyed — at scale the per-doc joins co-partition
    * on doc_id and the report aggregation is one groupBy(source) with
    * map-side combine; the language argmax runs over |sources|×|langs|
    * aggregated rows, never corpus rows (struct-max, no window sort).
    */
  def dataCard(spark: SparkSession, sfDir: String): DataFrame = {
    val q = TextAnalysis.quality(spark, sfDir)
      .select("doc_id", "n_words", "quality_ok")
    val l = TextAnalysis.langId(spark, sfDir).select("doc_id", "lang_pred")
    val d = Dedup.exact(spark, sfDir).select("doc_id", "is_dup")
    // per feeds the top-lang vote and the card aggregate; materialize
    // once so the quality/langid/dedup join chain runs once, not twice
    val per = Tables.load(spark, sfDir, "documents")
      .select("doc_id", "source")
      .join(q, Seq("doc_id")).join(l, Seq("doc_id")).join(d, Seq("doc_id"))
      .localCheckpoint()
    val topLang = per.groupBy("source", "lang_pred")
      .agg(count(lit(1)).as("lcnt"))
      .groupBy("source")
      .agg(max(struct(col("lcnt"), col("lang_pred"))).as("t"))
      .select(col("source"), col("t.lang_pred").as("top_lang"))
    per.groupBy("source")
      .agg(count(lit(1)).as("n_docs"),
        sum("n_words").as("n_tokens"),
        sum("quality_ok").as("n_quality_ok"),
        (sum("quality_ok") / count(lit(1))).as("quality_rate"),
        sum("is_dup").as("n_dups"),
        (sum("is_dup") / count(lit(1))).as("dup_rate"))
      .join(topLang, Seq("source"))
  }

  val dataCardSql: String =
    s"""WITH q AS (SELECT doc_id, n_words, quality_ok
          FROM (${TextAnalysis.qualitySql})),
        l AS (SELECT doc_id, lang_pred FROM (${TextAnalysis.langIdSql})),
        dd AS (SELECT doc_id, is_dup FROM (${Dedup.exactSql})),
        per AS (
          SELECT d.doc_id, d.source, q.n_words, q.quality_ok, l.lang_pred,
            dd.is_dup
          FROM documents d
          JOIN q ON d.doc_id = q.doc_id
          JOIN l ON d.doc_id = l.doc_id
          JOIN dd ON d.doc_id = dd.doc_id),
        toplang AS (
          SELECT source,
            struct_extract(max({'lcnt': lcnt, 'lang_pred': lang_pred}),
              'lang_pred') AS top_lang
          FROM (SELECT source, lang_pred, CAST(count(*) AS BIGINT) AS lcnt
                FROM per GROUP BY source, lang_pred)
          GROUP BY source),
        card AS (
          SELECT source, count(*) AS n_docs,
            CAST(sum(n_words) AS BIGINT) AS n_tokens,
            CAST(sum(quality_ok) AS BIGINT) AS n_quality_ok,
            CAST(sum(quality_ok) AS DOUBLE) / count(*) AS quality_rate,
            CAST(sum(is_dup) AS BIGINT) AS n_dups,
            CAST(sum(is_dup) AS DOUBLE) / count(*) AS dup_rate
          FROM per GROUP BY source)
        SELECT card.*, toplang.top_lang
        FROM card JOIN toplang ON card.source = toplang.source"""

  /** Deterministic stratified sampling — reproducible hash-mod sampling
    * with a per-stratum (source) rate, the data-mixing primitive: a doc
    * is kept iff `poly_hash(doc_id:source) mod 1000` falls under its
    * stratum's rate. No RNG state, no seed coordination across
    * executors, rerun-stable, and pure map-side (no shuffle at all);
    * rates here are derived from the source name hash to exercise
    * several strata deterministically (production passes a rate table,
    * broadcast like any config lookup).
    */
  def stratSample(spark: SparkSession, sfDir: String): DataFrame = {
    val rate = poly_hash(col("source")) % 200 + 50
    val keep = poly_hash(concat(col("doc_id").cast("string"), lit(":"),
      col("source"))) % 1000 < rate
    Tables.load(spark, sfDir, "documents")
      .select(col("doc_id"), col("source"))
      .filter(keep)
      .select(col("doc_id"), col("source"),
        rate.cast("long").as("rate_permille"))
  }

  val stratSampleSql: String = {
    val rate = s"${polySql("source")} % 200 + 50"
    val key = polySql("CAST(doc_id AS VARCHAR) || ':' || source")
    s"""SELECT doc_id, source, $rate AS rate_permille
        FROM documents
        WHERE $key % 1000 < $rate"""
  }

  /** c25 — token-budget mixture sampling, the data-MIXING step of a
    * pretraining pipeline: sample each source down so the final mix hits
    * target per-source shares of a global budget (half the corpus chars
    * here). Where c5 applies a given per-source rate, c25 DERIVES the
    * rate from the data: target_chars(s) = budget * share(s) / Σshare,
    * rate(s) = min(1, target_chars(s) / chars(s)) — an under-represented
    * source keeps everything (its rate caps at 1000‰; the shortfall is
    * visible as chars_kept < target_chars in the audit), an
    * over-represented one is down-sampled to its allocation by the
    * deterministic per-doc hash. Shares are data-derived
    * (poly_hash(source) — the stand-in for the config map a real run
    * supplies). All arithmetic is 64-bit integer; the output is the
    * per-source audit a mixture run ships with.
    *
    * Scale: three scans of a three-column projection of documents (the
    * per-source totals feed both the rate table and its normalizing
    * sum, plus the sampled aggregate) with only the ~|sources| rate
    * rows broadcast between them; no shuffle ever touches a text column
    * and no per-doc state exists — the budget math is a tiny relation.
    */
  def mixtureSample(spark: SparkSession, sfDir: String): DataFrame =
    mixtureSampleFrom(Tables.load(spark, sfDir, "documents")
      .select(col("doc_id"), col("source"), col("n_chars")))

  /** Frame form: (doc_id: long, source: string, n_chars: long). */
  private[graft] def mixtureSampleFrom(d: DataFrame): DataFrame = {
    val perSrc = d.groupBy("source")
      .agg(sum(col("n_chars")).as("chars_total"))
      .withColumn("share", (poly_hash(col("source")) % 150 + 25).cast("long"))
    val tot = perSrc.agg(sum(col("chars_total")).as("corpus_chars"),
      sum(col("share")).as("share_sum"))
    val rates = perSrc.crossJoin(broadcast(tot))
      .withColumn("target_chars",
        expr("((corpus_chars div 2) * share) div share_sum"))
      .withColumn("rate_permille",
        least(lit(1000L), expr("(target_chars * 1000) div chars_total")))
      .select("source", "share", "chars_total", "target_chars",
        "rate_permille")
    val keep = poly_hash(concat(col("doc_id").cast("string"), lit(":"),
      col("source"))) % 1000 < col("rate_permille")
    val kept = d
      .join(broadcast(rates.select("source", "rate_permille")), Seq("source"))
      .filter(keep)
      .groupBy("source")
      .agg(count(lit(1)).cast("long").as("n_kept"),
        sum(col("n_chars")).as("chars_kept"))
    rates.join(kept, Seq("source"), "left")
      .select(col("source"), col("share"), col("chars_total"),
        col("target_chars"), col("rate_permille"),
        coalesce(col("n_kept"), lit(0L)).as("n_kept"),
        coalesce(col("chars_kept"), lit(0L)).as("chars_kept"))
  }

  val mixtureSampleSql: String = {
    val share = s"${polySql("source")} % 150 + 25"
    val key = polySql("CAST(d.doc_id AS VARCHAR) || ':' || d.source")
    s"""WITH d AS (SELECT doc_id, source, n_chars FROM documents),
        per AS (SELECT source, CAST(sum(n_chars) AS BIGINT) AS chars_total,
                  CAST($share AS BIGINT) AS share
                FROM d GROUP BY source),
        tot AS (SELECT CAST(sum(chars_total) AS BIGINT) AS corpus_chars,
                  CAST(sum(share) AS BIGINT) AS share_sum FROM per),
        rates AS (SELECT source, share, chars_total,
                    ((corpus_chars // 2) * share) // share_sum AS target_chars,
                    least(1000, ((((corpus_chars // 2) * share) // share_sum)
                      * 1000) // chars_total) AS rate_permille
                  FROM per CROSS JOIN tot),
        kept AS (SELECT d.source AS source,
                   CAST(count(*) AS BIGINT) AS n_kept,
                   CAST(sum(d.n_chars) AS BIGINT) AS chars_kept
                 FROM d JOIN rates r ON d.source = r.source
                 WHERE $key % 1000 < r.rate_permille
                 GROUP BY d.source)
        SELECT r.source, r.share, r.chars_total, r.target_chars,
          r.rate_permille,
          coalesce(k.n_kept, 0) AS n_kept,
          coalesce(k.chars_kept, 0) AS chars_kept
        FROM rates r LEFT JOIN kept k ON r.source = k.source"""
  }

  /** Per-source document cap — keep the top `k` docs of every source by
    * a deterministic preference order (n_chars desc, doc_id asc): the
    * per-domain cap step of web-corpus curation (a handful of giant
    * domains otherwise dominate the training mix).
    *
    * Scale shape: a single `row_number` over source would sort each
    * source inside ONE task — the largest domain (easily billions of
    * rows at 100 TB) becomes a straggler. Top-k is mergeable, so this
    * runs as a salted TWO-PHASE exact top-k: phase 1 ranks within
    * (source, doc_id mod salts) and keeps each shard's local top-k
    * (correct because any global top-k member is necessarily in its own
    * shard's top-k); phase 2 re-ranks the surviving <= salts*k rows per
    * source — per-group work is now bounded by salts*k regardless of
    * domain size. Same result as the naive window, pinned by the oracle,
    * which IS the naive single window.
    */
  def sourceCap(spark: SparkSession, sfDir: String,
      k: Int = 20, salts: Int = 8): DataFrame = {
    val d = Tables.load(spark, sfDir, "documents")
      .select(col("doc_id"), col("source"), col("n_chars"))
    val local = Window.partitionBy(col("source"), pmod(col("doc_id"), lit(salts)))
      .orderBy(col("n_chars").desc, col("doc_id"))
    val global = Window.partitionBy(col("source"))
      .orderBy(col("n_chars").desc, col("doc_id"))
    d.withColumn("lrk", row_number().over(local)).filter(col("lrk") <= k)
      .drop("lrk")
      .withColumn("rk", row_number().over(global).cast("long"))
      .filter(col("rk") <= k)
      .select("source", "doc_id", "n_chars", "rk")
  }

  def sourceCapSql(k: Int = 20): String =
    s"""SELECT source, doc_id, n_chars, rk FROM (
          SELECT source, doc_id, n_chars,
            row_number() OVER (PARTITION BY source
              ORDER BY n_chars DESC, doc_id) AS rk
          FROM documents)
        WHERE rk <= $k"""

  /** Token-budget fill — the APPLY step of data mixing: give every
    * source a token budget and take documents in a deterministic
    * hash-shuffled order until the budget is reached (the doc that
    * crosses the boundary is kept, so every budget is met). The order
    * key is the same `poly_hash(doc_id:source)` as [[stratSample]] —
    * reproducible, uncorrelated with document content.
    *
    * The cumulative token count is an exact DISTRIBUTED PREFIX SUM, not
    * one window per source (which would sort each source inside a single
    * task — the straggler shape at 100 TB): the hash key is range-split
    * into `buckets` ordered chunks, each (source, bucket) computes its
    * local running sum in parallel, bucket totals (sources x buckets
    * rows — tiny) get a cumulative offset per source, and the broadcast
    * offset join turns local sums into global ones. Identical result to
    * the naive per-source window, which is what the oracle runs.
    */
  def mixApply(spark: SparkSession, sfDir: String,
      budget: Long = 800, buckets: Int = 16): DataFrame = {
    val h = poly_hash(concat(col("doc_id").cast("string"), lit(":"),
      col("source")))
    val bsz = 1000000007L / buckets + 1
    // `div` (integer division), not `/`: float-divide-then-truncate is
    // only monotone in h for non-negative hashes — `div` keeps bucket
    // boundaries aligned with the oracle's ORDER BY h prefix sum even
    // if the hash expression ever admits negatives.
    val d = Tables.load(spark, sfDir, "documents").select(
        col("source"), col("doc_id"),
        size(split(trim(col("text")), "\\s+")).cast("long").as("n_tok"),
        h.as("h"))
      .withColumn("bkt", expr(s"h div $bsz").cast("int"))
    val local = Window.partitionBy("source", "bkt")
      .orderBy(col("h"), col("doc_id"))
    val withLocal = d.withColumn("lcum", sum("n_tok").over(local))
    val off = Window.partitionBy("source").orderBy("bkt")
      .rowsBetween(Window.unboundedPreceding, -1)
    val offsets = d.groupBy("source", "bkt")
      .agg(sum("n_tok").as("btok"))
      .select(col("source"), col("bkt"),
        coalesce(sum("btok").over(off), lit(0L)).as("boff"))
    withLocal.join(broadcast(offsets), Seq("source", "bkt"))
      .withColumn("cum_tok", col("lcum") + col("boff"))
      .filter(col("cum_tok") - col("n_tok") < budget)
      .select("source", "doc_id", "n_tok", "cum_tok")
  }

  /** Systematic probability-proportional-to-size sampling — the weighted
    * subsample op (pick documents with probability ∝ token count, e.g.
    * to downweight boilerplate-heavy shards without dropping long docs).
    * Docs are laid on a line in deterministic hash order, each owning a
    * token-length interval via the SAME bucketed global prefix sum as
    * [[mixApply]] (local running sums per hash bucket in parallel, tiny
    * broadcast offset table — no single-task global window); a doc is
    * selected iff its interval contains a multiple of `step`, so
    * inclusion probability is exactly n_tok/step (docs longer than step
    * get a multiplicity column, the standard PPS-with-replacement
    * accounting). All integer arithmetic — no RNG, no floats — so the
    * sample is reproducible and bit-identical cross-engine.
    */
  def ppsSample(spark: SparkSession, sfDir: String,
      step: Long = 500, buckets: Int = 16): DataFrame = {
    val h = poly_hash(concat(col("doc_id").cast("string"), lit("#pps")))
    val d0 = Tables.load(spark, sfDir, "documents").select(
      col("source"), col("doc_id"),
      size(split(trim(col("text")), "\\s+")).cast("long").as("n_tok"),
      h.as("h"))
    val bsz = 1000000007L / buckets + 1
    // `div` (integer division), not `/`: float-divide-then-truncate is
    // only monotone in h for non-negative hashes — `div` keeps bucket
    // boundaries aligned with the oracle's ORDER BY h prefix sum even
    // if the hash expression ever admits negatives.
    val d = d0.withColumn("bkt", expr(s"h div $bsz").cast("int"))
    val local = Window.partitionBy("bkt").orderBy(col("h"), col("doc_id"))
    val withLocal = d.withColumn("lcum", sum("n_tok").over(local))
    // unpartitioned window = single task BY DESIGN: it runs over the
    // bucket RELATION (|buckets| rows, bounded by the bsz policy), never
    // the corpus — the WindowExec warning is expected and harmless here
    val off = Window.orderBy("bkt")
      .rowsBetween(Window.unboundedPreceding, -1)
    val offsets = d.groupBy("bkt").agg(sum("n_tok").as("btok"))
      .select(col("bkt"), coalesce(sum("btok").over(off), lit(0L)).as("boff"))
    withLocal.join(broadcast(offsets), Seq("bkt"))
      .withColumn("cum_tok", col("lcum") + col("boff"))
      .withColumn("n_picks",
        expr(s"cum_tok div $step") - expr(s"(cum_tok - n_tok) div $step"))
      .filter(col("n_picks") > 0)
      .select("source", "doc_id", "n_tok", "cum_tok", "n_picks")
  }

  /** Deterministic global training-order shuffle + sharding — the last
    * step before a corpus feeds a trainer: an order decorrelated from
    * ingestion order (no source/time runs), reproducible across runs,
    * and split into fixed shards for parallel loaders.
    *
    * Hash-order shuffling instead of RNG: position is defined by
    * `poly_hash(doc_id#shuf)` (ties broken by doc_id), so the permutation
    * is a pure function of the corpus — re-runnable, resumable, and
    * cross-engine verifiable. shard = h mod nShards (map-only);
    * pos = rank within the shard (ONE keyed shuffle; each shard sorts
    * independently, so the global sort never serializes — this is
    * exactly `repartition(shard).sortWithinPartitions(h)` as a write
    * plan at 100 TB, with no total-order range exchange).
    */
  def shuffleShards(spark: SparkSession, sfDir: String,
      nShards: Int = 64): DataFrame = {
    val h = poly_hash(concat(col("doc_id").cast("string"), lit("#shuf")))
    Tables.load(spark, sfDir, "documents")
      .select(col("doc_id"), h.as("h"))
      .withColumn("shard", expr(s"h % $nShards"))
      .withColumn("pos", row_number().over(
        Window.partitionBy("shard").orderBy(col("h"), col("doc_id")))
        .cast("long"))
      .select("doc_id", "h", "shard", "pos")
  }

  def shuffleShardsSql(nShards: Int = 64): String = {
    val h = polySql("CAST(doc_id AS VARCHAR) || '#shuf'")
    s"""SELECT doc_id, h, h % $nShards AS shard,
          CAST(row_number() OVER (PARTITION BY h % $nShards
            ORDER BY h, doc_id) AS BIGINT) AS pos
        FROM (SELECT doc_id, $h AS h FROM documents)"""
  }

  /** Leakage-aware train/validation split — the assignment step every
    * eval pipeline needs: docs split by deterministic hash (~10% val),
    * then each VAL doc is checked against its near-dup cluster
    * ([[graft.operators.Dedup.dupClusters]] over the MinHash-LSH pair
    * graph) — if any near-duplicate landed in train, the val doc is
    * flagged `leaked` (its eval score would be memorization, not
    * generalization; cf. the dedup-between-train-and-test findings in
    * the training-data-dedup literature). The honest fix the flag
    * enables — cluster-level splitting — is the `cluster_split` column:
    * the split the doc's whole cluster would get if assigned by its
    * cluster id instead of its doc id (guaranteed leak-free).
    *
    * Scale: hash split is map-only; the cluster join is the LSH pair
    * graph's component table (|docs| rows); leakage is one keyed
    * aggregation per cluster — no pair joins beyond the already-blocked
    * LSH candidates.
    */
  def leakSplit(spark: SparkSession, sfDir: String,
      valPermille: Int = 100): DataFrame = {
    val clusters = graft.operators.Dedup.dupClusters(spark, sfDir)
      .select(col("doc_id"), col("cluster_id"))
    val h = poly_hash(concat(col("doc_id").cast("string"), lit("#split")))
    val hc = poly_hash(concat(col("cluster_id").cast("string"), lit("#split")))
    val split = Tables.load(spark, sfDir, "documents").select(col("doc_id"))
      .join(clusters, Seq("doc_id"))
      .withColumn("split",
        when(h % 1000 < valPermille, lit("val")).otherwise(lit("train")))
    val clusterHasTrain = split.groupBy("cluster_id")
      .agg(max((col("split") === "train").cast("int")).as("has_train"),
        count(lit(1)).as("cluster_size"))
    split.join(clusterHasTrain, Seq("cluster_id"))
      .select(col("doc_id"), col("cluster_id"), col("cluster_size"),
        col("split"),
        (col("split") === "val" && col("has_train") === 1 &&
          col("cluster_size") > 1).cast("int").as("leaked"),
        when(hc % 1000 < valPermille, lit("val")).otherwise(lit("train"))
          .as("cluster_split"))
  }

  def leakSplitSql(valPermille: Int = 100): String = {
    val hc = polySql("CAST(s.cluster_id AS VARCHAR) || '#split'")
    s"""WITH clusters AS (
          SELECT doc_id, cluster_id
          FROM (${graft.operators.Dedup.dupClustersSql()})),
        split AS (
          SELECT d.doc_id AS doc_id, cluster_id,
            CASE WHEN ${polySql("CAST(d.doc_id AS VARCHAR) || '#split'")}
              % 1000 < $valPermille THEN 'val' ELSE 'train' END AS split
          FROM documents d JOIN clusters c ON d.doc_id = c.doc_id),
        ct AS (
          SELECT cluster_id,
            max(CASE WHEN split = 'train' THEN 1 ELSE 0 END) AS has_train,
            count(*) AS cluster_size
          FROM split GROUP BY cluster_id)
        SELECT s.doc_id, s.cluster_id, CAST(cluster_size AS BIGINT)
            AS cluster_size, split,
          CAST(split = 'val' AND has_train = 1 AND cluster_size > 1 AS INT)
            AS leaked,
          CASE WHEN $hc % 1000 < $valPermille THEN 'val' ELSE 'train' END
            AS cluster_split
        FROM split s JOIN ct ON s.cluster_id = ct.cluster_id"""
  }

  def ppsSampleSql(step: Long = 500): String = {
    val h = polySql("CAST(doc_id AS VARCHAR) || '#pps'")
    s"""WITH d AS (
          SELECT source, doc_id,
            CAST(len(string_split_regex(trim(text), '\\s+')) AS BIGINT)
              AS n_tok,
            $h AS h
          FROM documents),
        c AS (
          SELECT source, doc_id, n_tok,
            CAST(sum(n_tok) OVER (ORDER BY h, doc_id) AS BIGINT) AS cum_tok
          FROM d)
        SELECT source, doc_id, n_tok, cum_tok,
          cum_tok // $step - (cum_tok - n_tok) // $step AS n_picks
        FROM c
        WHERE cum_tok // $step - (cum_tok - n_tok) // $step > 0"""
  }

  def mixApplySql(budget: Long = 800): String = {
    val h = polySql("CAST(doc_id AS VARCHAR) || ':' || source")
    s"""WITH d AS (
          SELECT source, doc_id,
            CAST(len(string_split_regex(trim(text), '\\s+')) AS BIGINT)
              AS n_tok,
            $h AS h
          FROM documents),
        c AS (
          SELECT source, doc_id, n_tok,
            CAST(sum(n_tok) OVER (PARTITION BY source
              ORDER BY h, doc_id) AS BIGINT) AS cum_tok
          FROM d)
        SELECT source, doc_id, n_tok, cum_tok FROM c
        WHERE cum_tok - n_tok < $budget"""
  }

  /** FUZZY decontamination — the near-duplicate complement of the exact
    * n-gram [[decontaminate]]: a corpus doc is contaminated if it is a
    * MinHash near-dup of any benchmark doc (paraphrased/partial leaks
    * that exact n-gram overlap misses). Same banding as the dedup
    * family: benchmark band keys (small — benchmarks are thousands of
    * docs, not billions) broadcast against the corpus bands, candidates
    * verified by the signature-estimated Jaccard. The corpus is touched
    * by one signature scan and one broadcast band join — no shuffle of
    * corpus rows at all.
    */
  def fuzzyDecon(spark: SparkSession, sfDir: String,
      benchMod: Long = 47, threshold: Double = 0.4): DataFrame = {
    val sigs = Dedup.minhashSignatures(spark, sfDir).select("doc_id", "sig")
    val bench = sigs.filter(col("doc_id") % benchMod === 0)
    val corpus = sigs.filter(col("doc_id") % benchMod =!= 0)
    def banded(df: DataFrame, id: String) = df
      .select(col("doc_id").as(id), col("sig").as(s"sig_$id"),
        explode(Dedup.bandStructsCol(col("sig"))).as("b"))
      .select(col(id), col(s"sig_$id"), col("b.band"), col("b.bkey"))
    // a (cid, bid) pair can meet in several bands; rather than a distinct
    // over the signature arrays (benched 10x slower in minhashLsh), the
    // per-doc agg counts DISTINCT matching bench ids — est is identical
    // across a pair's duplicate band hits, so max() is unaffected
    val est = size(filter(zip_with(col("sig_cid"), col("sig_bid"),
      (x, y) => when(x === y, 1).otherwise(0)), v => v === 1))
      .cast("double") / Dedup.MinhashK
    val hits = banded(corpus, "cid")
      .join(broadcast(banded(bench, "bid")), Seq("band", "bkey"))
      .withColumn("est", est)
      .groupBy(col("cid").as("doc_id"))
      .agg(
        countDistinct(when(col("est") >= threshold, col("bid")))
          .as("n_matches"),
        max(when(col("est") >= threshold, col("est"))).as("max_est"))
    corpus.select("doc_id").join(hits, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("n_matches"), lit(0L)).as("n_matches"),
        coalesce(col("max_est"), lit(0.0)).as("max_est"),
        (coalesce(col("n_matches"), lit(0L)) > 0).cast("int")
          .as("is_contaminated"))
  }

  def fuzzyDeconSql(benchMod: Long = 47, threshold: Double = 0.4): String = {
    val rows = Dedup.MinhashK / Dedup.MinhashBands
    val bandStructs = (0 until Dedup.MinhashBands).map { bIdx =>
      val key = (0 until rows)
        .map(r => s"CAST(sig[${bIdx * rows + r + 1}] AS VARCHAR)")
        .mkString(" || ':' || ")
      s"{'band': $bIdx, 'bkey': $key}"
    }.mkString("[", ", ", "]")
    val est = s"CAST(len(list_filter(list_zip(sig_cid, sig_bid), " +
      s"p -> p[1] = p[2])) AS DOUBLE) / ${Dedup.MinhashK}"
    s"""WITH sigs AS (SELECT doc_id, sig FROM (${Dedup.minhashSignaturesSql})),
        corpus AS (SELECT * FROM sigs WHERE doc_id % $benchMod <> 0),
        bench AS (SELECT * FROM sigs WHERE doc_id % $benchMod = 0),
        cb AS (SELECT doc_id AS cid, sig AS sig_cid, b.band AS band,
                 b.bkey AS bkey
               FROM (SELECT doc_id, sig, unnest($bandStructs) AS b
                     FROM corpus)),
        bb AS (SELECT doc_id AS bid, sig AS sig_bid, b.band AS band,
                 b.bkey AS bkey
               FROM (SELECT doc_id, sig, unnest($bandStructs) AS b
                     FROM bench)),
        cand AS (SELECT cid, bid, sig_cid, sig_bid
                 FROM cb JOIN bb USING (band, bkey)),
        hits AS (
          SELECT cid AS doc_id,
            CAST(count(DISTINCT CASE WHEN $est >= $threshold
              THEN bid END) AS BIGINT) AS n_matches,
            max(CASE WHEN $est >= $threshold THEN $est END) AS max_est
          FROM cand GROUP BY cid)
        SELECT c.doc_id,
          coalesce(h.n_matches, 0) AS n_matches,
          coalesce(h.max_est, 0.0) AS max_est,
          CAST(coalesce(h.n_matches, 0) > 0 AS INT) AS is_contaminated
        FROM corpus c LEFT JOIN hits h ON c.doc_id = h.doc_id"""
  }

  /** Per-source drop ATTRIBUTION for a composite quality gate — the
    * curation diagnostic every production pipeline reports: for each
    * source, how many documents each rule (Gopher/C4-style length,
    * stopword, word-length, max-word-frequency bounds) would drop, and
    * how many survive all of them. One scan, one map-combinable
    * aggregation keyed by source; rules are pure column expressions, so
    * the whole query is a single shuffle of |sources| partial rows at
    * any corpus size.
    */
  def qualityAttribution(spark: SparkSession, sfDir: String): DataFrame = {
    val words = split(trim(lower(col("text"))), "\\s+")
    val nW = size(words).cast("double")
    val stopList = Seq("the", "a", "of", "and", "to", "in", "is")
    val stopCnt = size(filter(words, w => w.isin(stopList: _*))).cast("double")
    val meanLen = (length(trim(col("text"))).cast("double") - nW + 1) / nW
    // most-frequent-word share via an in-row fold: sort the words, count
    // the longest run (no per-doc explode/agg — stays map-side)
    val sorted = sort_array(words)
    val runs = aggregate(sorted,
      struct(lit("").as("prev"), lit(0L).as("run"), lit(0L).as("best")),
      (acc, w) => {
        val run = when(w === acc("prev"), acc("run") + 1L).otherwise(lit(1L))
        struct(w.as("prev"), run.as("run"),
          greatest(acc("best"), run).as("best"))
      })
    val maxShare = runs("best").cast("double") / nW
    val rLen = (nW >= 10 && nW <= 1000).cast("int")
    val rStop = (stopCnt / nW > 0.01).cast("int")
    val rWordLen = (meanLen >= 2.0 && meanLen <= 12.0).cast("int")
    val rMaxFreq = (maxShare < 0.2).cast("int")
    Tables.load(spark, sfDir, "documents")
      .select(col("source"), rLen.as("ok_len"), rStop.as("ok_stop"),
        rWordLen.as("ok_wordlen"), rMaxFreq.as("ok_maxfreq"))
      .groupBy("source")
      .agg(count(lit(1)).as("n_docs"),
        sum(lit(1) - col("ok_len")).as("drop_len"),
        sum(lit(1) - col("ok_stop")).as("drop_stop"),
        sum(lit(1) - col("ok_wordlen")).as("drop_wordlen"),
        sum(lit(1) - col("ok_maxfreq")).as("drop_maxfreq"),
        sum(col("ok_len") * col("ok_stop") * col("ok_wordlen") *
          col("ok_maxfreq")).as("n_kept"))
  }

  val qualityAttributionSql: String = {
    val stopList = Seq("the", "a", "of", "and", "to", "in", "is")
      .map("'" + _ + "'").mkString("[", ",", "]")
    s"""WITH d AS (
          SELECT source,
            string_split_regex(trim(lower(text)), '\\s+') AS w,
            CAST(length(trim(text)) AS DOUBLE) AS nc
          FROM documents),
        feat AS (
          SELECT source,
            CAST(len(w) AS DOUBLE) AS nw,
            CAST(len(list_filter(w, x -> list_contains($stopList, x)))
              AS DOUBLE) AS stop_cnt,
            (nc - len(w) + 1) / len(w) AS mean_len,
            list_reduce(
              list_prepend({'prev': '', 'run': CAST(0 AS BIGINT),
                            'best': CAST(0 AS BIGINT)},
                list_transform(list_sort(w),
                  x -> {'prev': x, 'run': CAST(0 AS BIGINT),
                        'best': CAST(0 AS BIGINT)})),
              (acc, e) -> CASE WHEN e.prev = acc.prev THEN
                  {'prev': e.prev, 'run': acc.run + 1,
                   'best': greatest(acc.best, acc.run + 1)}
                ELSE {'prev': e.prev, 'run': CAST(1 AS BIGINT),
                      'best': greatest(acc.best, CAST(1 AS BIGINT))} END
            ).best AS max_run
          FROM d),
        flags AS (
          SELECT source,
            CAST(nw >= 10 AND nw <= 1000 AS INT) AS ok_len,
            CAST(stop_cnt / nw > 0.01 AS INT) AS ok_stop,
            CAST(mean_len >= 2.0 AND mean_len <= 12.0 AS INT) AS ok_wordlen,
            CAST(CAST(max_run AS DOUBLE) / nw < 0.2 AS INT) AS ok_maxfreq
          FROM feat)
        SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
          CAST(sum(1 - ok_len) AS BIGINT) AS drop_len,
          CAST(sum(1 - ok_stop) AS BIGINT) AS drop_stop,
          CAST(sum(1 - ok_wordlen) AS BIGINT) AS drop_wordlen,
          CAST(sum(1 - ok_maxfreq) AS BIGINT) AS drop_maxfreq,
          CAST(sum(ok_len * ok_stop * ok_wordlen * ok_maxfreq) AS BIGINT)
            AS n_kept
        FROM flags GROUP BY source"""
  }

  /** c24: DSIR-style data selection — score every out-of-target document
    * by how target-like its hashed n-gram profile is, keep the top k
    * (cf. "Data Selection for Language Models via Importance
    * Resampling", Xie et al. 2023, arXiv:2302.03169: hashed n-gram
    * bag-of-words importance estimators over a target and a raw
    * distribution). Features are word bigrams hashed into `buckets`
    * buckets (the paper's hashing trick; the fused
    * [[graft.functions.BigramHashes]] expression from [[TextAnalysis
    * .lmScore]] so string bytes never leave the map side); the target
    * estimator counts buckets over `lang = targetLang` docs, the raw
    * estimator over the rest, both add-1 smoothed.
    *
    * Parity variant, same discipline as [[TextAnalysis.lmScore]]: the
    * paper's per-doc log-likelihood-ratio sum Σ n_b·(log p̂_b − log q̂_b)
    * is replaced by the RATIO-SPACE mean Σ n_b·(p̂_b/q̂_b) / Σ n_b —
    * `ln`'s last ulp differs between libm and the JVM while these are
    * exact-integer divisions and an order-pinned double fold, so the
    * score (not just the selection) is oracle-exact. Monotone in each
    * bucket ratio; the selection it induces is the top-k of a
    * legitimate importance estimate, documented as the variant it is.
    *
    * Scale shape: the corpus makes ONE pass into (doc, bucket, n) rows
    * keyed by 8-byte hashes; both estimators aggregate those same rows
    * map-side-combinably into ≤`buckets` cells; the weight table is
    * model-scale (1024 rows — broadcast), so scoring is a broadcast
    * join + one doc-keyed aggregation, and the global top-k is
    * orderBy+limit (TakeOrdered: per-partition heaps, never a full
    * sort). The totals live in a window over the 1024-row weight table,
    * not a corpus-side cross join.
    */
  def dsirSelect(spark: SparkSession, sfDir: String,
      targetLang: String = "en", buckets: Int = 1024,
      k: Int = 40): DataFrame = {
    import graft.functions.BigramHashes.{bigram_hashes, Pack}
    val normed = regexp_replace(lower(trim(col("text"))), "\\s+", " ")
    // perDoc feeds three consumers (bucket weights and the scoring
    // join); materialize it once so the bigram explode + groupBy chain
    // doesn't re-run per consumer (it was evaluated 3x as a lazy plan)
    val perDoc = Tables.loadSpread(spark, sfDir, "documents")
      .select(col("doc_id"), col("lang"),
        explode(bigram_hashes(normed)).as("h"))
      .select(col("doc_id"), col("lang"),
        (col("h").bitwiseAND(lit(Pack - 1)) % buckets.toLong).as("b"))
      .groupBy("doc_id", "lang", "b").agg(count(lit(1)).as("n"))
      .localCheckpoint()
    // unpartitioned whole-relation sums over the BUCKET weights frame
    // (<= `buckets` = 1024 rows by construction) — the WindowExec
    // single-partition warning is bounded, not a scale risk
    val whole = Window.partitionBy()
    // one conditional aggregation == the former two filtered groupBys
    // full-outer-joined: same bucket set (buckets with any rows), same
    // integer sums (null when a side has no rows -> coalesce 0).
    // The equivalence assumes lang is NON-NULL (the documents table's
    // contract — lang is a generated label): a null-lang row would fall
    // into neither the `=== targetLang` nor the `=!= targetLang` sum
    // here but would also have been excluded by both former filtered
    // groupBys, so only a bucket whose rows are ALL null-lang could
    // differ (present here with ct=cq=0, absent before).
    val weights = perDoc.groupBy("b").agg(
        sum(when(col("lang") === targetLang, col("n"))).as("ct0"),
        sum(when(col("lang") =!= targetLang, col("n"))).as("cq0"))
      .select(col("b"), coalesce(col("ct0"), lit(0L)).as("ct"),
        coalesce(col("cq0"), lit(0L)).as("cq"))
      .withColumn("st", sum("ct").over(whole))
      .withColumn("sq", sum("cq").over(whole))
      .select(col("b"),
        ((col("ct") + 1).cast("double") / (col("cq") + 1).cast("double") *
          ((col("sq") + buckets.toLong).cast("double") /
            (col("st") + buckets.toLong).cast("double"))).as("w"))
    val scored = perDoc.filter(col("lang") =!= targetLang)
      .join(broadcast(weights), Seq("b"))
      .select(col("doc_id"), col("lang"), col("b"), col("n"),
        (col("n").cast("double") * col("w")).as("c"))
      .groupBy("doc_id", "lang")
      .agg(sort_array(collect_list(struct(col("b"), col("c")))).as("cs"),
        sum("n").as("n_bigrams"))
      .select(col("doc_id"), col("lang"), col("n_bigrams"),
        (graft.functions.VecOps.vec_sum(col("cs").getField("c")) /
          col("n_bigrams")).as("dsir_score"))
    scored.orderBy(col("dsir_score").desc, col("doc_id").asc).limit(k)
      .withColumn("rank", row_number().over(
        Window.orderBy(col("dsir_score").desc, col("doc_id").asc))
        .cast("long"))
  }

  def dsirSelectSql(targetLang: String = "en", buckets: Int = 1024,
      k: Int = 40): String =
    s"""WITH d AS (
          SELECT doc_id, lang,
            string_split_regex(trim(lower(text)), '\\s+') AS ws
          FROM documents),
        perdoc AS (
          SELECT doc_id, lang, b, CAST(count(*) AS BIGINT) AS n
          FROM (SELECT doc_id, lang, ${polySql("g")} % $buckets AS b
                FROM (SELECT doc_id, lang,
                        unnest(list_transform(range(1, len(ws)),
                          i -> ws[i] || ' ' || ws[i+1])) AS g
                      FROM d))
          GROUP BY doc_id, lang, b),
        ct AS (SELECT b, sum(n) AS ct FROM perdoc
               WHERE lang = '$targetLang' GROUP BY b),
        cq AS (SELECT b, sum(n) AS cq FROM perdoc
               WHERE lang <> '$targetLang' GROUP BY b),
        wt AS (
          SELECT b, coalesce(ct, 0) AS ct, coalesce(cq, 0) AS cq,
            sum(coalesce(ct, 0)) OVER () AS st,
            sum(coalesce(cq, 0)) OVER () AS sq
          FROM ct FULL JOIN cq USING (b)),
        w AS (
          SELECT b,
            CAST(ct + 1 AS DOUBLE) / CAST(cq + 1 AS DOUBLE) *
              (CAST(sq + $buckets AS DOUBLE) /
               CAST(st + $buckets AS DOUBLE)) AS w
          FROM wt),
        scored AS (
          SELECT doc_id, lang, CAST(sum(n) AS BIGINT) AS n_bigrams,
            list_reduce(list_prepend(0.0, list_transform(
              list({'b': b, 'c': c} ORDER BY b, c), x -> x.c)),
              (a, x) -> a + x) / CAST(sum(n) AS BIGINT) AS dsir_score
          FROM (SELECT doc_id, lang, b, n, CAST(n AS DOUBLE) * w AS c
                FROM perdoc JOIN w USING (b)
                WHERE lang <> '$targetLang')
          GROUP BY doc_id, lang)
        SELECT doc_id, lang, n_bigrams, dsir_score, rank FROM (
          SELECT *, CAST(row_number() OVER (
              ORDER BY dsir_score DESC, doc_id ASC) AS BIGINT) AS rank
          FROM scored)
        WHERE rank <= $k"""
}
