package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.Tables
import graft.functions.PolyHash.{poly_hash, sql => polySql}

/** Text-analysis operators for the training-data pipeline (BASELINE.json
  * extended surface): language-ID heuristic, quality scoring, token
  * counting, document fingerprinting. All pure column expressions over
  * `documents` — the scan layer prunes to the needed columns and the ops
  * are embarrassingly parallel (no shuffle at all), so they scale linearly
  * with input splits at 100 TB.
  */
object TextAnalysis {

  private val wsSplit = "\\s+"

  /** Token counting — whitespace tokens + a BPE-ish regex token count
    * (letter runs / digit runs / single punctuation marks).
    */
  def tokens(spark: SparkSession, sfDir: String): DataFrame =
    Tables.load(spark, sfDir, "documents").select(
      col("doc_id"),
      size(split(trim(col("text")), wsSplit)).cast("long").as("n_words"),
      size(regexp_extract_all(col("text"),
        lit("[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s]"), lit(0))).cast("long").as("n_bpe_tokens"),
      length(col("text")).cast("long").as("n_chars_computed"),
      col("n_chars"))

  val tokensSql: String =
    """SELECT doc_id,
         len(string_split_regex(trim(text), '\s+')) AS n_words,
         len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]')) AS n_bpe_tokens,
         length(text) AS n_chars_computed, n_chars
       FROM documents"""

  /** Sequence-packing plan (context-window packing for LLM training):
    * docs are packed greedily in a fixed deterministic order (doc_id)
    * within each `source` shard; a doc's pack is
    * `floor(tokens_before / capacity)` and its offset is the running
    * token count before it, i.e. the streaming-order packing plan a
    * sequential packer would produce when documents may span pack
    * boundaries (GPT-style concat-then-chunk packing, not bin packing —
    * deterministic and shuffle-minimal: ONE window over the source
    * shard's doc order, no global sort).
    *
    * Scale shape: partitioned by `source` (shards are the natural
    * pack-group at corpus scale), cumulative sum is a single window
    * over each shard; integer arithmetic end-to-end (exact parity).
    */
  def seqPack(spark: SparkSession, sfDir: String, capacity: Int = 512): DataFrame = {
    val nTok = size(split(trim(col("text")), wsSplit)).cast("long")
    val w = Window.partitionBy("source").orderBy("doc_id")
      .rowsBetween(Window.unboundedPreceding, -1)
    Tables.load(spark, sfDir, "documents")
      .select(col("doc_id"), col("source"), nTok.as("n_tokens"))
      .withColumn("tok_before", coalesce(sum(col("n_tokens")).over(w), lit(0L)))
      .select(col("doc_id"), col("source"), col("n_tokens"),
        (col("tok_before") / capacity).cast("long").as("pack_id"),
        (col("tok_before") % capacity).as("pack_offset"))
  }

  def seqPackSql(capacity: Int = 512): String =
    s"""SELECT doc_id, source, n_tokens,
          tok_before // $capacity AS pack_id,
          tok_before % $capacity AS pack_offset
        FROM (
          SELECT doc_id, source, n_tokens,
            CAST(coalesce(sum(n_tokens) OVER (PARTITION BY source ORDER BY doc_id
              ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT)
              AS tok_before
          FROM (
            SELECT doc_id, source,
              CAST(len(string_split_regex(trim(text), '\\s+')) AS BIGINT) AS n_tokens
            FROM documents))"""

  /** Overlapping fixed-size chunking — the long-document splitter every
    * embedding/RAG ingestion pipeline runs before vectorizing: windows of
    * `chunkTok` whitespace tokens starting every `chunkTok - overlap`
    * tokens, provenance preserved as (doc_id, chunk_idx, start_tok).
    * Final partial windows are kept (chunk_len < chunkTok).
    *
    * Scale shape: scan → per-row explode — embarrassingly parallel, no
    * shuffle; output size is rows x (n/stride), linear in corpus tokens.
    * The split/slice/join pipeline is all codegen'd builtins.
    */
  def chunk(spark: SparkSession, sfDir: String,
      chunkTok: Int = 64, overlap: Int = 16): DataFrame = {
    val stride = chunkTok - overlap
    Tables.loadSpread(spark, sfDir, "documents")
      .select(col("doc_id"), split(trim(col("text")), wsSplit).as("ws"))
      .select(col("doc_id"), col("ws"),
        explode(sequence(lit(0), greatest(size(col("ws")) - 1, lit(0)),
          lit(stride))).as("start"))
      .select(col("doc_id"),
        (col("start").cast("long") / stride).cast("long").as("chunk_idx"),
        col("start").cast("long").as("start_tok"),
        size(slice(col("ws"), col("start") + 1, lit(chunkTok)))
          .cast("long").as("chunk_len"),
        array_join(slice(col("ws"), col("start") + 1, lit(chunkTok)), " ")
          .as("chunk"))
  }

  def chunkSql(chunkTok: Int = 64, overlap: Int = 16): String = {
    val stride = chunkTok - overlap
    s"""SELECT doc_id,
          s // $stride AS chunk_idx,
          CAST(s AS BIGINT) AS start_tok,
          len(list_slice(ws, s + 1, s + $chunkTok)) AS chunk_len,
          array_to_string(list_slice(ws, s + 1, s + $chunkTok), ' ') AS chunk
        FROM (
          SELECT doc_id, ws,
            unnest(range(0, greatest(len(ws), 1), $stride)) AS s
          FROM (SELECT doc_id, string_split_regex(trim(text), '\\s+') AS ws
                FROM documents))"""
  }

  /** Language-ID EVALUATION — the confusion matrix of the n-gram
    * heuristic against the corpus labels, with per-cell share of the
    * true class (recall when pred==label). Classifier quality shipped
    * as a first-class query: a curation pipeline that filters on
    * `lang_pred` should know its per-language error rates, measured on
    * the same engine that applies the filter.
    *
    * Scale: classification is the shuffle-free scan layer; the matrix
    * is one map-side-combinable count over |langs|² cells.
    */
  def langIdEval(spark: SparkSession, sfDir: String): DataFrame = {
    val preds = langId(spark, sfDir)
    val truthTotals = preds.groupBy(col("lang_label"))
      .agg(count(lit(1)).as("n_label"))
    preds.groupBy("lang_label", "lang_pred")
      .agg(count(lit(1)).as("n"))
      .join(truthTotals, Seq("lang_label"))
      .select(col("lang_label"), col("lang_pred"), col("n"), col("n_label"),
        (col("n").cast("double") / col("n_label").cast("double"))
          .as("share_of_label"),
        (col("lang_label") === col("lang_pred")).cast("int").as("is_correct"))
  }

  def langIdEvalSql(langIdRel: String): String =
    s"""SELECT p.lang_label, lang_pred, n, n_label,
          CAST(n AS DOUBLE) / CAST(n_label AS DOUBLE) AS share_of_label,
          CAST(p.lang_label = lang_pred AS INT) AS is_correct
        FROM (SELECT lang_label, lang_pred, count(*) AS n
              FROM ($langIdRel) GROUP BY 1, 2) p
        JOIN (SELECT lang_label, count(*) AS n_label
              FROM ($langIdRel) GROUP BY 1) t
          ON p.lang_label = t.lang_label"""

  private val stopwords = Seq("the", "a", "of", "and", "to", "in", "is")

  /** Quality scoring — length, mean word length, stopword ratio,
    * punctuation ratio, all-caps ratio; plus a composite quality flag
    * (the usual pre-training heuristics, cf. C4/Gopher-style rules).
    */
  def quality(spark: SparkSession, sfDir: String): DataFrame = {
    val words = split(trim(col("text")), wsSplit)
    val nWords = size(words).cast("double")
    val stopCnt = size(filter(words, w => w.isin(stopwords: _*))).cast("double")
    val punctCnt = size(regexp_extract_all(col("text"),
      lit("[^A-Za-z0-9\\s]"), lit(0))).cast("double")
    Tables.load(spark, sfDir, "documents").select(
      col("doc_id"),
      length(col("text")).cast("long").as("n_chars_c"),
      size(words).cast("long").as("n_words"),
      ((length(col("text")).cast("double") - nWords + 1) / nWords).as("mean_word_len"),
      (stopCnt / nWords).as("stopword_ratio"),
      (punctCnt / greatest(length(col("text")).cast("double"), lit(1.0))).as("punct_ratio"),
      (nWords >= 10 && nWords <= 1000 && stopCnt / nWords > 0.01).cast("int").as("quality_ok"))
  }

  val qualitySql: String = {
    val stopList = stopwords.map("'" + _ + "'").mkString("[", ",", "]")
    s"""SELECT doc_id,
         length(text) AS n_chars_c,
         len(w) AS n_words,
         (CAST(length(text) AS DOUBLE) - len(w) + 1) / len(w) AS mean_word_len,
         stop_cnt / len(w) AS stopword_ratio,
         punct_cnt / greatest(CAST(length(text) AS DOUBLE), 1.0) AS punct_ratio,
         CAST(len(w) >= 10 AND len(w) <= 1000 AND stop_cnt / len(w) > 0.01 AS INT) AS quality_ok
       FROM (
         SELECT doc_id, text,
           string_split_regex(trim(text), '\\s+') AS w,
           CAST(len(list_filter(string_split_regex(trim(text), '\\s+'),
             x -> list_contains($stopList, x))) AS DOUBLE) AS stop_cnt,
           CAST(len(regexp_extract_all(text, '[^A-Za-z0-9\\s]')) AS DOUBLE) AS punct_cnt
         FROM documents)"""
  }

  /** N-gram-profile language ID: score each candidate language by its
    * marker-token hit rate; argmax with deterministic (alphabetical)
    * tie-break toward 'und'. Marker sets are ASCII function words — the
    * standard n-gram-heuristic shape, deterministic and oracle-checkable.
    */
  private val langMarkers: Seq[(String, Seq[String])] = Seq(
    "en" -> Seq("the", "a", "of", "and", "is"),
    "es" -> Seq("el", "la", "de", "los", "es"),
    "fr" -> Seq("le", "la", "de", "les", "est"))

  def langId(spark: SparkSession, sfDir: String): DataFrame = {
    // Staged selects (r15): the former single-projection fold inlined
    // each interpreted-HOF score into every later when() branch — after
    // expansion the 'en' score expression appeared ~16x per row. Scoring
    // into named columns first makes the fold reference cheap attributes
    // (CollapseProject never merges a projection that would duplicate a
    // non-cheap expression), so each marker scan runs exactly once.
    val tokenized = Tables.load(spark, sfDir, "documents").select(
      col("doc_id"), col("lang"),
      split(trim(lower(col("text"))), wsSplit).as("ws"))
    val scored = tokenized.select(
      Seq(col("doc_id"), col("lang")) ++ langMarkers.map { case (lang, markers) =>
        (size(filter(col("ws"), w => w.isin(markers: _*)))
          .cast("double") / size(col("ws")).cast("double")).as(s"sc_$lang")
      }: _*)
    val best = langMarkers.foldLeft((lit("und"), lit(0.0))) {
      case ((bl, bs), (lang, _)) =>
        val sc = col(s"sc_$lang")
        (when(sc > bs, lit(lang)).otherwise(bl), when(sc > bs, sc).otherwise(bs))
    }
    scored.select(
      col("doc_id"), col("lang").as("lang_label"),
      best._1.as("lang_pred"), best._2.as("lang_score"))
  }

  val langIdSql: String = {
    def score(markers: Seq[String]) = {
      val lst = markers.map("'" + _ + "'").mkString("[", ",", "]")
      s"CAST(len(list_filter(w, x -> list_contains($lst, x))) AS DOUBLE) / len(w)"
    }
    val cases = langMarkers.map { case (lang, m) => (lang, score(m)) }
    // same left-to-right fold: strictly-greater replaces
    val (predExpr, scoreExpr) = cases.foldLeft(("'und'", "0.0")) {
      case ((bl, bs), (lang, sc)) =>
        (s"CASE WHEN ($sc) > ($bs) THEN '$lang' ELSE ($bl) END",
         s"CASE WHEN ($sc) > ($bs) THEN ($sc) ELSE ($bs) END")
    }
    s"""SELECT doc_id, lang AS lang_label,
          $predExpr AS lang_pred, $scoreExpr AS lang_score
        FROM (SELECT doc_id, lang,
          string_split_regex(trim(lower(text)), '\\s+') AS w
          FROM documents)"""
  }

  /** Repetition filters (Gopher-style, word-level): fraction of words
    * belonging to a repeated word, most-common-word fraction, and
    * most-common-bigram fraction, plus the composite repetitive flag.
    * Two doc_id-keyed aggregations (unigram and bigram counts) joined on
    * doc_id — at scale both shuffles are on the same key and AQE
    * co-partitions them; the bigram list is built in place from the
    * split array (no second scan of the text).
    */
  def repetition(spark: SparkSession, sfDir: String,
      dupThresh: Double = 0.4, bigramThresh: Double = 0.18): DataFrame = {
    // docs feeds the unigram and bigram passes; materialize once so
    // the tokenize split runs once, not per consumer
    val docs = Tables.loadSpread(spark, sfDir, "documents")
      .select(col("doc_id"), split(trim(col("text")), wsSplit).as("ws"))
      .localCheckpoint()
    val uni = docs.select(col("doc_id"), explode(col("ws")).as("w"))
      .groupBy("doc_id", "w").agg(count(lit(1)).as("cnt"))
      .groupBy("doc_id").agg(
        sum(col("cnt")).as("n_words"),
        (sum(when(col("cnt") >= 2, col("cnt")).otherwise(lit(0L))) /
          sum(col("cnt"))).as("dup_word_frac"),
        (max(col("cnt")) / sum(col("cnt"))).as("top_word_frac"))
    // guarded: sequence(1, 0) would yield [1, 0] (descending), not empty
    val bigrams = when(size(col("ws")) > 1,
      transform(sequence(lit(1), size(col("ws")) - 1),
        i => concat_ws(" ", element_at(col("ws"), i), element_at(col("ws"), i + 1))))
      .otherwise(array().cast("array<string>"))
    val bg = docs.select(col("doc_id"), explode(bigrams).as("g"))
      .groupBy("doc_id", "g").agg(count(lit(1)).as("cnt"))
      .groupBy("doc_id").agg((max(col("cnt")) / sum(col("cnt"))).as("tbf"))
    uni.join(bg, Seq("doc_id"), "left_outer")
      .select(col("doc_id"), col("n_words"), col("dup_word_frac"),
        col("top_word_frac"),
        coalesce(col("tbf"), lit(0.0)).as("top_bigram_frac"),
        (col("dup_word_frac") > dupThresh ||
          coalesce(col("tbf"), lit(0.0)) > bigramThresh)
          .cast("int").as("repetitive"))
  }

  def repetitionSql(dupThresh: Double = 0.4, bigramThresh: Double = 0.18): String =
    s"""WITH d AS (SELECT doc_id, string_split_regex(trim(text), '\\s+') AS ws
          FROM documents),
        uni AS (
          SELECT doc_id, CAST(sum(cnt) AS BIGINT) AS n_words,
            sum(CASE WHEN cnt >= 2 THEN cnt ELSE 0 END) / sum(cnt) AS dup_word_frac,
            max(cnt) / sum(cnt) AS top_word_frac
          FROM (SELECT doc_id, w, count(*) AS cnt
                FROM (SELECT doc_id, unnest(ws) AS w FROM d)
                GROUP BY doc_id, w)
          GROUP BY doc_id),
        bg AS (
          SELECT doc_id, max(cnt) / sum(cnt) AS tbf
          FROM (SELECT doc_id, g, count(*) AS cnt
                FROM (SELECT doc_id,
                        unnest(list_transform(range(1, len(ws)),
                          i -> ws[i] || ' ' || ws[i+1])) AS g FROM d)
                GROUP BY doc_id, g)
          GROUP BY doc_id)
        SELECT uni.doc_id, n_words, dup_word_frac, top_word_frac,
          coalesce(tbf, 0.0) AS top_bigram_frac,
          CAST(dup_word_frac > $dupThresh OR coalesce(tbf, 0.0) > $bigramThresh
            AS INT) AS repetitive
        FROM uni LEFT JOIN bg ON uni.doc_id = bg.doc_id"""

  /** Corpus vocabulary build — the tokenizer-training precursor: global
    * word counts, frequency rank (deterministic tie-break on the word),
    * cumulative coverage fraction in rank order, and the keep flag for a
    * coverage-targeted vocabulary. One count aggregation over the corpus
    * (map-side combinable — the shuffle carries |vocab| partial counts,
    * not corpus tokens); the rank/coverage window then runs over |vocab|
    * rows only. The global window is single-partition by nature, but its
    * input is the aggregated vocabulary (bounded: ~1e6-1e7 types at
    * 100 TB), never the corpus.
    */
  def vocab(spark: SparkSession, sfDir: String,
      coverage: Double = 0.95): DataFrame = {
    val counts = Tables.loadSpread(spark, sfDir, "documents")
      .select(explode(split(trim(lower(col("text"))), wsSplit)).as("word"))
      .groupBy("word").agg(count(lit(1)).as("cnt"))
    val byFreq = Window.orderBy(col("cnt").desc, col("word").asc)
    val all = Window.partitionBy(lit(1))
    counts
      .withColumn("rank", row_number().over(byFreq).cast("long"))
      .withColumn("cum_frac",
        sum(col("cnt")).over(byFreq.rowsBetween(Window.unboundedPreceding, 0)) /
          sum(col("cnt")).over(all))
      .withColumn("in_vocab",
        // keep words up to and including the one that crosses the target
        (coalesce(lag(col("cum_frac"), 1).over(byFreq), lit(0.0)) < coverage)
          .cast("int"))
      .select("word", "cnt", "rank", "cum_frac", "in_vocab")
  }

  def vocabSql(coverage: Double = 0.95): String =
    s"""WITH counts AS (
          SELECT w AS word, count(*) AS cnt
          FROM (SELECT unnest(string_split_regex(trim(lower(text)), '\\s+')) AS w
                FROM documents)
          GROUP BY w),
        ranked AS (
          SELECT word, cnt,
            row_number() OVER rnk AS rank,
            sum(cnt) OVER (rnk ROWS UNBOUNDED PRECEDING)
              / sum(cnt) OVER () AS cum_frac
          FROM counts
          WINDOW rnk AS (ORDER BY cnt DESC, word ASC))
        SELECT word, cnt, rank, cum_frac,
          CAST(coalesce(lag(cum_frac) OVER (ORDER BY rank), 0.0) < $coverage
            AS INT) AS in_vocab
        FROM ranked"""

  /** Corpus bigram-LM scoring — the perplexity-filtering quality signal
    * (CCNet-style: score each doc under a language model trained on the
    * corpus itself): a Laplace-smoothed bigram model
    * `P(w2|w1) = (c12+1)/(c1+V)` is built in two keyed aggregations,
    * then each doc scores as the mean bigram probability. Deliberately
    * ratio-space, not log-space: `ln` is not bit-identical across libm
    * implementations, while these are exact-integer ratios divided once
    * — the cross-engine float-parity policy. Per-doc means fold over the
    * SORTED probability list (order-dependent double sums).
    *
    * Scale shape: model build = two map-side-combinable aggregations
    * (bigram key, then first-word key); scoring = one join keyed on the
    * bigram (model size is corpus bigram-type count, partitioned like
    * any fact-fact join) + one doc-keyed aggregation. V is a 1-row
    * broadcast. The model is HASHED (the standard n-gram hashing trick):
    * each bigram/context string is reduced to its [[PolyHash]] long
    * right after the explode, so every downstream shuffle, aggregation
    * and the corpus-scale scoring join carry 8-byte keys instead of
    * bigram strings — string bytes never leave the map side. Hash
    * collisions (rare at p = 1e9+7) merge counts exactly as in any
    * hashed-feature LM; the oracle hashes identically.
    */
  def lmScore(spark: SparkSession, sfDir: String,
      minAvgProb: Double = 0.005): DataFrame = {
    import graft.functions.BigramHashes.{bigram_hashes, Pack}
    val docs = Tables.loadSpread(spark, sfDir, "documents")
      .select(col("doc_id"), split(trim(lower(col("text"))), wsSplit).as("ws"))
    // strings end at the scan: the fused BigramHashes expression walks
    // the normalized text once per doc and emits one PACKED long per
    // bigram instance (k1*2^31 + gk — context hash and bigram hash);
    // everything downstream (explode, aggs, the scoring join) carries
    // 8-byte keys and zero per-gram allocations
    val normed = regexp_replace(lower(trim(col("text"))), wsSplit, " ")
    // docBigrams feeds the model build AND the scoring join, and c12
    // feeds both model sides — materialize each once (the lazy plan
    // re-ran the bigram explode 3x)
    val docBigrams = Tables.loadSpread(spark, sfDir, "documents")
      .select(col("doc_id"), explode(bigram_hashes(normed)).as("h"))
      .select(col("doc_id"),
        shiftright(col("h"), 31).as("k1"),
        col("h").bitwiseAND(lit(Pack - 1)).as("gk"))
      .localCheckpoint()
    val c12 = docBigrams.groupBy("k1", "gk").agg(count(lit(1)).as("c12"))
      .localCheckpoint()
    val c1 = c12.groupBy("k1").agg(sum(col("c12")).as("c1"))
    val v = docs.select(explode(col("ws")).as("w"))
      .agg(countDistinct(poly_hash(col("w"))).as("vocab"))
    val model = c12.join(c1, Seq("k1")).crossJoin(broadcast(v))
      .select(col("gk"),
        ((col("c12") + 1) / (col("c1") + col("vocab"))).as("prob"))
    docBigrams.join(model, Seq("gk"))
      .groupBy("doc_id")
      .agg(sort_array(collect_list(col("prob"))).as("ps"))
      .select(col("doc_id"), size(col("ps")).cast("long").as("n_bigrams"),
        (graft.functions.VecOps.vec_sum(col("ps")) /
          size(col("ps"))).as("avg_bigram_prob"))
      .withColumn("lm_ok",
        (col("avg_bigram_prob") >= minAvgProb).cast("int"))
  }

  def lmScoreSql(minAvgProb: Double = 0.005): String =
    s"""WITH d AS (SELECT doc_id,
          string_split_regex(trim(lower(text)), '\\s+') AS ws FROM documents),
        db AS (
          SELECT doc_id, ${polySql("split_part(g, ' ', 1)")} AS k1,
            ${polySql("g")} AS gk
          FROM (SELECT doc_id,
                  unnest(list_transform(range(1, len(ws)),
                    i -> ws[i] || ' ' || ws[i+1])) AS g FROM d)),
        c12 AS (SELECT k1, gk, count(*) AS c12 FROM db GROUP BY k1, gk),
        c1 AS (SELECT k1, sum(c12) AS c1 FROM c12 GROUP BY k1),
        v AS (SELECT count(DISTINCT ${polySql("w")}) AS vocab
              FROM (SELECT unnest(ws) AS w FROM d)),
        model AS (
          SELECT gk, (c12 + 1) / (c1 + vocab) AS prob
          FROM c12 JOIN c1 USING (k1) CROSS JOIN v),
        scored AS (
          SELECT doc_id, list_sort(list(prob)) AS ps
          FROM db JOIN model USING (gk) GROUP BY doc_id)
        SELECT doc_id, len(ps) AS n_bigrams,
          list_reduce(list_prepend(0.0, ps), (a, x) -> a + x) / len(ps)
            AS avg_bigram_prob,
          CAST(list_reduce(list_prepend(0.0, ps), (a, x) -> a + x) / len(ps)
            >= $minAvgProb AS INT) AS lm_ok
        FROM scored"""

  /** Per-source heavy hitters — top-k words per stratum (domain
    * vocabulary drift monitoring: what dominates each source's token
    * distribution). One map-side-combinable count keyed on
    * (source, word); the rank window then runs per source over its
    * aggregated vocabulary — the partitioned top-k never sees corpus
    * rows. Deterministic tie-break on the word.
    */
  def topWords(spark: SparkSession, sfDir: String, k: Int = 5): DataFrame = {
    val w = Window.partitionBy("source")
      .orderBy(col("cnt").desc, col("word").asc)
    Tables.loadSpread(spark, sfDir, "documents")
      .select(col("source"),
        explode(split(trim(lower(col("text"))), wsSplit)).as("word"))
      .groupBy("source", "word").agg(count(lit(1)).as("cnt"))
      .withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= k)
      .select("source", "word", "cnt", "rank")
  }

  def topWordsSql(k: Int = 5): String =
    s"""SELECT source, word, cnt, rank FROM (
          SELECT source, word, cnt,
            row_number() OVER (PARTITION BY source
                               ORDER BY cnt DESC, word ASC) AS rank
          FROM (SELECT source, w AS word, count(*) AS cnt
                FROM (SELECT source,
                        unnest(string_split_regex(trim(lower(text)), '\\s+')) AS w
                      FROM documents)
                GROUP BY source, w))
        WHERE rank <= $k"""

  /** KMV (k-minimum-values) cardinality sketch over the corpus's word
    * hashes, against the exact count — the DETERMINISTIC distinct-count
    * sketch (Bar-Yossef et al. 2002's "distinct elements" k-min scheme):
    * keep the k smallest distinct hash values; with hashes uniform on
    * [0, M), |D| ≈ (k-1)·M / h_k. Unlike HLL the sketch state is a pure
    * function of the input set — order-free, mergeable by k-min union,
    * bit-identical cross-engine, so the ESTIMATE itself is
    * oracle-checkable and the error is measured against the exact count
    * in the same row.
    *
    * Scale shape: one map-combinable distinct on the 8-byte hash, then
    * a global k-smallest — Spark executes orderBy+limit as TakeOrdered
    * (per-partition top-k, never a full sort), so the driver sees k
    * values regardless of corpus size. The exact count shares the same
    * distinct frame.
    */
  def kmvDistinct(spark: SparkSession, sfDir: String,
      k: Int = 256): DataFrame = {
    val hashes = Tables.loadSpread(spark, sfDir, "documents")
      .select(explode(split(trim(lower(col("text"))), wsSplit)).as("w"))
      .select(poly_hash(col("w")).as("h")).distinct()
    val exact = hashes.agg(count(lit(1)).as("exact_distinct"))
    val sketch = hashes.orderBy(col("h")).limit(k)
      .agg(count(lit(1)).as("k_actual"), max(col("h")).as("h_k"))
    sketch.crossJoin(exact)
      .select(col("k_actual"), col("h_k"),
        ((col("k_actual") - 1) * lit(1000000007.0) / col("h_k"))
          .as("estimate"),
        col("exact_distinct"),
        (abs((col("k_actual") - 1) * lit(1000000007.0) / col("h_k") -
          col("exact_distinct")) / col("exact_distinct")).as("rel_err"))
  }

  def kmvDistinctSql(k: Int = 256): String =
    s"""WITH hashes AS (
          SELECT DISTINCT ${polySql("w")} AS h
          FROM (SELECT unnest(string_split_regex(trim(lower(text)), '\\s+')) AS w
                FROM documents)),
        sketch AS (
          SELECT CAST(count(*) AS BIGINT) AS k_actual, max(h) AS h_k
          FROM (SELECT h FROM hashes ORDER BY h LIMIT $k)),
        exact AS (SELECT CAST(count(*) AS BIGINT) AS exact_distinct
                  FROM hashes)
        SELECT k_actual, h_k,
          (k_actual - 1) * 1000000007.0 / h_k AS estimate,
          exact_distinct,
          abs((k_actual - 1) * 1000000007.0 / h_k - exact_distinct)
            / exact_distinct AS rel_err
        FROM sketch CROSS JOIN exact"""

  /** The KMV estimate again, but through the mergeable
    * [[graft.functions.KmvSketch]] native aggregate — the ONE-PASS
    * form. t11's relational formulation must shuffle every distinct
    * hash for the global `DISTINCT` before the k-smallest can be
    * taken; this plan is ObjectHashAggregate(partial sketch) → one
    * single-partition exchange moving ≤ k longs per input partition →
    * final merge, i.e. constant network traffic in the corpus size —
    * the shape that wins at 100 TB (pinned in PlanSpec). The sketch's
    * k-min set is identical to the relational k-min (TreeSet dedup ==
    * DISTINCT), so the same DuckDB oracle checks the estimate
    * bit-exact, and a ScalaTest pins sketch == relational equality.
    */
  def kmvAgg(spark: SparkSession, sfDir: String,
      k: Int = 256): DataFrame = {
    import graft.functions.KmvSketch.kmv_sketch
    val hashes = Tables.loadSpread(spark, sfDir, "documents")
      .select(explode(split(trim(lower(col("text"))), wsSplit)).as("w"))
      .select(poly_hash(col("w")).as("h"))
    hashes.agg(kmv_sketch(col("h"), k).as("mins"))
      .select(
        size(col("mins")).cast("long").as("k_actual"),
        element_at(col("mins"), size(col("mins"))).as("h_k"))
      .select(col("k_actual"), col("h_k"),
        ((col("k_actual") - 1) * lit(1000000007.0) / col("h_k"))
          .as("estimate"))
  }

  def kmvAggSql(k: Int = 256): String =
    s"""WITH sketch AS (
          SELECT CAST(count(*) AS BIGINT) AS k_actual, max(h) AS h_k
          FROM (SELECT DISTINCT ${polySql("w")} AS h
                FROM (SELECT unnest(string_split_regex(trim(lower(text)), '\\s+')) AS w
                      FROM documents)
                ORDER BY h LIMIT $k))
        SELECT k_actual, h_k,
          (k_actual - 1) * 1000000007.0 / h_k AS estimate
        FROM sketch"""

  /** Deterministic sample quantiles of the document length
    * distribution — the length-filter calibration step of a corpus
    * pipeline (pick truncation / floor cutoffs from p50/p90/p99, not
    * from a full sort). The sample is the k documents with the
    * smallest id-hash: a pure function of the id set (order-free,
    * mergeable by k-min union, bit-identical cross-engine), so the
    * ESTIMATE itself is oracle-checkable and the error is measured in
    * the same row against the exact ranks, mirroring the recall
    * queries' measured-not-assumed contract.
    *
    * Scale shape: the sample side is a per-partition top-k
    * (TakeOrdered — k rows reach the driver regardless of corpus
    * size) and IS the 100 TB path; the exact side sorts the full
    * length list through one aggregate row and exists as the
    * measurement baseline, by design, like s1_knn_brute. Lengths are
    * integers and quantiles are rank selections (no interpolation),
    * so every output column is exact on both engines.
    */
  def lenQuantile(spark: SparkSession, sfDir: String,
      k: Int = 256): DataFrame = {
    def pick(a: Column, p: Double): Column =
      element_at(a, greatest(lit(1), ceil(lit(p) * size(a))).cast("int"))
    val d = Tables.load(spark, sfDir, "documents")
      .select(col("doc_id"), col("n_chars"),
        poly_hash(col("doc_id").cast("string")).as("h"))
    val samp = d.orderBy(col("h"), col("doc_id")).limit(k)
      .agg(sort_array(collect_list(col("n_chars"))).as("sv"))
    val exact = d
      .agg(sort_array(collect_list(col("n_chars"))).as("xv"),
        count(lit(1)).as("n_docs"))
    samp.crossJoin(exact).select(
      col("n_docs"), size(col("sv")).cast("long").as("k_actual"),
      pick(col("sv"), 0.5).as("p50_est"), pick(col("xv"), 0.5).as("p50_exact"),
      pick(col("sv"), 0.9).as("p90_est"), pick(col("xv"), 0.9).as("p90_exact"),
      pick(col("sv"), 0.99).as("p99_est"), pick(col("xv"), 0.99).as("p99_exact"),
      abs(pick(col("sv"), 0.5) - pick(col("xv"), 0.5)).as("p50_abs_err"),
      abs(pick(col("sv"), 0.9) - pick(col("xv"), 0.9)).as("p90_abs_err"),
      abs(pick(col("sv"), 0.99) - pick(col("xv"), 0.99)).as("p99_abs_err"))
  }

  def lenQuantileSql(k: Int = 256): String = {
    def pick(l: String, p: String): String =
      s"list_extract($l, greatest(1, CAST(ceil($p * len($l)) AS INT)))"
    s"""WITH d AS (
          SELECT doc_id, n_chars,
            ${polySql("CAST(doc_id AS VARCHAR)")} AS h
          FROM documents),
        samp AS (
          SELECT list_sort(list(n_chars)) AS sv
          FROM (SELECT n_chars FROM d ORDER BY h, doc_id LIMIT $k)),
        exact AS (
          SELECT list_sort(list(n_chars)) AS xv,
            CAST(count(*) AS BIGINT) AS n_docs
          FROM d)
        SELECT n_docs, CAST(len(sv) AS BIGINT) AS k_actual,
          ${pick("sv", "0.5")} AS p50_est, ${pick("xv", "0.5")} AS p50_exact,
          ${pick("sv", "0.9")} AS p90_est, ${pick("xv", "0.9")} AS p90_exact,
          ${pick("sv", "0.99")} AS p99_est, ${pick("xv", "0.99")} AS p99_exact,
          abs(${pick("sv", "0.5")} - ${pick("xv", "0.5")}) AS p50_abs_err,
          abs(${pick("sv", "0.9")} - ${pick("xv", "0.9")}) AS p90_abs_err,
          abs(${pick("sv", "0.99")} - ${pick("xv", "0.99")}) AS p99_abs_err
        FROM samp CROSS JOIN exact"""
  }

  /** EXACT distributed quantiles by rank selection — the scale path that
    * [[lenQuantile]]'s collect-the-corpus baseline deliberately is not.
    * Three relational steps, none of which sorts corpus rows globally:
    * (1) a map-combinable histogram of `v div W` bucket counts, (2) a
    * prefix sum over the TINY bucket table (single-partition window over
    * ~max(v)/W rows — never corpus rows) locating the bucket holding
    * each target rank, (3) a broadcast join back so only the selected
    * buckets' rows are ranked, with a per-target window whose input is
    * bucket-sized. Rank k = (n−1)·p/100 (lower quantile, 0-indexed);
    * the value at a global rank is unique even under ties, so output is
    * exact integers — bit-identical cross-engine. This is the
    * select-k-th-smallest-without-sorting shape (bucketed prefix sum,
    * same family as c13's token-budget prefix sum).
    */
  def rankSelect(spark: SparkSession, sfDir: String,
      ps: Seq[Int] = Seq(50, 90, 99), bucketWidth: Long = 64L): DataFrame = {
    import spark.implicits._
    val vals = Tables.load(spark, sfDir, "documents")
      .select(col("n_chars").cast("long").as("v"))
    val hist = vals.groupBy(expr(s"v div $bucketWidth").as("bkt"))
      .agg(count(lit(1)).as("c"))
    // the cum table is |buckets| rows; truncating its lineage here means
    // the corpus histogram runs ONCE even though cum feeds both the total
    // (max hi) and the per-rank bucket lookup (the centroid-table pattern)
    val cum = hist
      // unpartitioned cumulative sum over the bounded bucket histogram
      // (|buckets| rows), not the corpus — WindowExec warning bounded
      .withColumn("hi", sum("c").over(Window.orderBy("bkt")))
      .withColumn("lo", col("hi") - col("c"))
      .localCheckpoint()
    val tot = cum.agg(max("hi").as("n"))
    val ranks = ps.toDF("p").crossJoin(broadcast(tot))
      .select(col("p"), expr("(n - 1) * p div 100").as("k"))
    val target = ranks.join(broadcast(cum),
        col("k") >= col("lo") && col("k") < col("hi"))
      .select(col("p"), col("k"), col("bkt"), col("lo"))
    val w = Window.partitionBy("p").orderBy("v")
    vals.join(broadcast(target), expr(s"v div $bucketWidth") === col("bkt"))
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") === col("k") - col("lo") + 1)
      .select(col("p"), col("v").as("quantile"), col("k").as("rank"))
  }

  def rankSelectSql(ps: Seq[Int] = Seq(50, 90, 99)): String = {
    val vs = ps.map(p => s"($p)").mkString(", ")
    s"""WITH vals AS (SELECT CAST(n_chars AS BIGINT) AS v FROM documents),
        tot AS (SELECT CAST(count(*) AS BIGINT) AS n FROM vals),
        ranks AS (SELECT p, (n - 1) * p // 100 AS k
                  FROM tot CROSS JOIN (VALUES $vs) t(p)),
        ordered AS (
          SELECT v, row_number() OVER (ORDER BY v) - 1 AS r FROM vals)
        SELECT p, v AS quantile, k AS rank
        FROM ranks JOIN ordered ON r = k"""
  }

  /** Document fingerprinting — rolling polynomial hash of the normalized
    * text (lowercase, collapsed whitespace), via the codegen'd
    * [[graft.functions.PolyHash]] expression.
    */
  def fingerprint(spark: SparkSession, sfDir: String): DataFrame = {
    val norm = regexp_replace(lower(trim(col("text"))), wsSplit, " ")
    Tables.load(spark, sfDir, "documents").select(
      col("doc_id"), poly_hash(norm).as("fingerprint"))
  }

  val fingerprintSql: String =
    s"""SELECT doc_id,
         ${polySql("regexp_replace(lower(trim(text)), '\\s+', ' ', 'g')")} AS fingerprint
       FROM documents"""

  // ----------------------------------------------------------------- BPE

  /** Corpus word-frequency vocabulary — the one heavy distributed pass of
    * BPE training (everything after it operates on the aggregated vocab
    * table, exactly how production tokenizer training scales to 100 TB:
    * the corpus is touched once, the merge loop never is).
    */
  private def bpeVocab(spark: SparkSession, sfDir: String): DataFrame =
    Tables.loadSpread(spark, sfDir, "documents")
      .select(explode(split(trim(lower(col("text"))), wsSplit)).as("w"))
      .groupBy("w").agg(count(lit(1)).as("freq"))

  private val bpeVocabSql: String =
    s"""SELECT w, CAST(count(*) AS BIGINT) AS freq
        FROM (SELECT unnest(string_split_regex(trim(lower(text)), '\\s+')) AS w
              FROM documents)
        GROUP BY w"""

  /** Adjacent-symbol pair rows for the current `syms` arrays, weighted by
    * word frequency. Words of one symbol contribute nothing (the empty
    * sequence guard keeps `sequence` from going descending).
    */
  private def pairCounts(vocab: DataFrame): DataFrame =
    vocab.filter(size(col("syms")) >= 2)
      .select(col("freq"), explode(transform(
        sequence(lit(0), size(col("syms")) - 2),
        i => struct(
          element_at(col("syms"), (i + 1).cast("int")).as("l"),
          element_at(col("syms"), (i + 2).cast("int")).as("r")))).as("p"))
      .groupBy(col("p.l").as("l"), col("p.r").as("r"))
      .agg(sum("freq").as("cnt"))

  private def pairCountsSql(vocabCte: String): String =
    s"""SELECT list_extract(syms, CAST(i + 1 AS INT)) AS l,
          list_extract(syms, CAST(i + 2 AS INT)) AS r,
          CAST(sum(freq) AS BIGINT) AS cnt
        FROM (SELECT freq, syms, unnest(range(len(syms) - 1)) AS i
              FROM $vocabCte)
        GROUP BY 1, 2"""

  /** BPE round 0 — the weighted adjacent character-pair statistics over
    * the vocab (what the first merge decision is computed from).
    */
  def bpePairs(spark: SparkSession, sfDir: String): DataFrame =
    pairCounts(bpeVocab(spark, sfDir)
      .select(col("w"), col("freq"), split(col("w"), "").as("syms")))

  val bpePairsSql: String =
    s"""WITH vocab0 AS (
          SELECT w, freq, string_split(w, '') AS syms FROM ($bpeVocabSql))
        ${pairCountsSql("vocab0")}"""

  /** One greedy left-to-right merge application: every adjacent (l, r)
    * occurrence in `syms` collapses to the concatenated symbol. A fold —
    * if the accumulator's last symbol is `l` and the next is `r`, replace
    * the last with `l+r`, else append — which is exactly BPE's
    * non-overlapping left-to-right application ("aaa" + (a,a) -> [aa, a]).
    */
  private[graft] def applyMerge(syms: Column, l: String, r: String): Column =
    aggregate(syms, array().cast("array<string>"),
      (acc, x) => when(
        size(acc) > 0 && element_at(acc, -1) === l && x === r,
        concat(slice(acc, lit(1), size(acc) - 1), array(lit(l + r))))
        .otherwise(concat(acc, array(x))))

  /** BPE merge-table training: `nMerges` rounds of (count weighted
    * adjacent pairs -> take the most frequent, ties broken (l, r)
    * lexicographic -> apply the merge). Returns the learned merge table
    * (rank, l, r, cnt) — the tokenizer artifact.
    *
    * Scale shape: the corpus contributes ONE map-combinable word-count
    * pass ([[bpeVocab]]); the loop then iterates on the vocab table,
    * whose size is bounded by distinct words, not corpus rows — each
    * round is a small explode/agg plus a 1-row argmax probe (same
    * driver-scalar-per-iteration shape as the k-means and
    * connected-components loops), and `localCheckpoint` keeps the plan
    * O(1)-deep across rounds. The DuckDB oracle is the same computation
    * unrolled into `nMerges` CTE layers, so the gate checks every round's
    * argmax AND the fold semantics, not just the final table.
    */
  private def bpeTrainCore(spark: SparkSession, sfDir: String,
      nMerges: Int): (Seq[(Long, String, String, Long)], DataFrame) = {
    var vocab = bpeVocab(spark, sfDir)
      .select(col("w"), col("freq"), split(col("w"), "").as("syms"))
      .localCheckpoint()
    val merges = scala.collection.mutable.Buffer.empty[(Long, String, String, Long)]
    var round = 0
    var exhausted = false
    while (round < nMerges && !exhausted) {
      val best = pairCounts(vocab)
        .orderBy(col("cnt").desc, col("l"), col("r")).limit(1).collect()
      if (best.isEmpty) exhausted = true
      else {
        val (l, r, cnt) = (best(0).getString(0), best(0).getString(1),
          best(0).getLong(2))
        merges += ((round.toLong, l, r, cnt))
        vocab = vocab.select(col("w"), col("freq"),
          applyMerge(col("syms"), l, r).as("syms")).localCheckpoint()
        round += 1
      }
    }
    (merges.toSeq, vocab)
  }

  def bpeTrain(spark: SparkSession, sfDir: String,
      nMerges: Int = 8): DataFrame = {
    import spark.implicits._
    bpeTrainCore(spark, sfDir, nMerges)._1.toDF("rank", "l", "r", "cnt")
  }

  /** The unrolled CTE chain `WITH vocab0, pairs0, best0, vocab1, ...,
    * vocab<n>` shared by the merge-table and tokenize oracles.
    */
  private def bpeLayersSql(nMerges: Int): String = {
    val layers = new StringBuilder(
      s"""WITH vocab0 AS (
            SELECT w, freq, string_split(w, '') AS syms FROM ($bpeVocabSql))""")
    (0 until nMerges).foreach { i =>
      layers.append(s""",
        pairs$i AS (${pairCountsSql(s"vocab$i")}),
        best$i AS (SELECT l, r, cnt FROM pairs$i
                   ORDER BY cnt DESC, l, r LIMIT 1),
        vocab${i + 1} AS (
          SELECT w, freq,
            list_reduce(
              list_prepend(CAST([] AS VARCHAR[]),
                list_transform(syms, s -> [s])),
              (acc, x) -> CASE WHEN len(acc) > 0
                  AND list_extract(acc, len(acc)) = b.l
                  AND list_extract(x, 1) = b.r
                THEN list_append(list_slice(acc, 1, len(acc) - 1), b.l || b.r)
                ELSE list_append(acc, list_extract(x, 1)) END) AS syms
          FROM vocab$i, best$i b)""")
    }
    layers.toString
  }

  def bpeTrainSql(nMerges: Int = 8): String = {
    val union = (0 until nMerges)
      .map(i => s"SELECT CAST($i AS BIGINT) AS rank, l, r, cnt FROM best$i")
      .mkString("\n UNION ALL ")
    s"${bpeLayersSql(nMerges)}\n $union"
  }

  /** BPE tokenization APPLIED: per-document token counts under the
    * trained merge table. The corpus is tokenized by joining its words
    * against the already-segmented vocab (word -> n_bpe_tokens) — the
    * fold never runs over corpus rows, only over the vocab, so the apply
    * step costs one word-keyed join at any scale.
    */
  def bpeTokens(spark: SparkSession, sfDir: String,
      nMerges: Int = 8): DataFrame = {
    val vocab = bpeTrainCore(spark, sfDir, nMerges)._2
    val segLen = vocab.select(col("w"), size(col("syms")).cast("long").as("n_sym"))
    Tables.loadSpread(spark, sfDir, "documents")
      .select(col("doc_id"),
        explode(split(trim(lower(col("text"))), wsSplit)).as("w"))
      .join(segLen, Seq("w"))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_words"),
        sum("n_sym").as("n_bpe_tokens"))
  }

  def bpeTokensSql(nMerges: Int = 8): String =
    s"""${bpeLayersSql(nMerges)},
        seglen AS (
          SELECT w, CAST(len(syms) AS BIGINT) AS n_sym FROM vocab$nMerges)
        SELECT doc_id, CAST(count(*) AS BIGINT) AS n_words,
          CAST(sum(n_sym) AS BIGINT) AS n_bpe_tokens
        FROM (SELECT doc_id,
                unnest(string_split_regex(trim(lower(text)), '\\s+')) AS w
              FROM documents) dw
        JOIN seglen USING (w)
        GROUP BY doc_id"""

  /** Count-min sketch parameters: D independent hash rows of W buckets.
    * W is deliberately small relative to the synthetic vocabulary so
    * bucket collisions actually occur and the overestimate column is a
    * live measurement, not a column of zeros.
    */
  private val CmsP = 1000000007L
  private val CmsW = 16L
  private val CmsA = Seq(1103515245L, 1566083941L, 1812433253L, 1664525L)
  private val CmsB = Seq(12345L, 1013904223L, 2531011L, 69069L)

  private def cmsBucket(i: Int, h: Column): Column =
    ((h * lit(CmsA(i)) + lit(CmsB(i))) % lit(CmsP)) % lit(CmsW)

  private def cmsBucketSql(i: Int, h: String): String =
    s"(($h * ${CmsA(i)} + ${CmsB(i)}) % $CmsP) % $CmsW"

  /** Count-min sketch heavy hitters with measured error. The sketch is
    * the classic D×W counter grid built RELATIONALLY: each word emits D
    * (row, bucket) cells and one keyed count aggregates them — map-side
    * combine collapses every input partition to ≤ D·W rows before the
    * shuffle, so at 100 TB the sketch build moves kilobytes per
    * partition regardless of corpus size (the same reason the grid
    * needs no custom mergeable Aggregator: the groupBy IS the merge).
    * The top-k exact words (TakeOrdered, the measurement baseline like
    * [[graft.operators.Similarity]]'s brute-force kNN) are then probed
    * against the sketch: estimate = min over the D cells, and the
    * CMS guarantee est ≥ exact makes `overestimate` a nonneg measured
    * error column. Counts and mins are exact integers — bit-exact
    * cross-engine with no float discipline needed.
    */
  def cmsTopk(spark: SparkSession, sfDir: String, k: Int = 10): DataFrame = {
    val words = Tables.loadSpread(spark, sfDir, "documents")
      .select(explode(split(trim(lower(col("text"))), wsSplit)).as("w"))
    val cellArr = (h: Column) => array(CmsA.indices.map(i =>
      struct(lit(i).as("r"), cmsBucket(i, h).as("b"))): _*)
    val sketch = words
      .select(explode(cellArr(poly_hash(col("w")))).as("c"))
      .groupBy(col("c.r").as("r"), col("c.b").as("b"))
      .agg(count(lit(1)).as("cnt"))
    val probes = words.groupBy("w").agg(count(lit(1)).as("exact_cnt"))
      .orderBy(col("exact_cnt").desc, col("w").asc)
      .limit(k)
    probes
      .select(col("w"), col("exact_cnt"),
        explode(cellArr(poly_hash(col("w")))).as("c"))
      .select(col("w"), col("exact_cnt"),
        col("c.r").as("r"), col("c.b").as("b"))
      .join(broadcast(sketch), Seq("r", "b"))
      .groupBy("w", "exact_cnt")
      .agg(min(col("cnt")).as("est_cnt"))
      .select(col("w"), col("exact_cnt"), col("est_cnt"),
        (col("est_cnt") - col("exact_cnt")).as("overestimate"))
  }

  def cmsTopkSql(k: Int = 10): String = {
    val cellList = (h: String) => CmsA.indices.map(i =>
      s"{'r': $i, 'b': ${cmsBucketSql(i, h)}}").mkString("[", ", ", "]")
    s"""WITH words AS (
          SELECT unnest(string_split_regex(trim(lower(text)), '\\s+')) AS w
          FROM documents),
        hv AS (SELECT w, ${polySql("w")} AS h FROM words),
        sketch AS (
          SELECT c.r AS r, c.b AS b, CAST(count(*) AS BIGINT) AS cnt
          FROM (SELECT unnest(${cellList("h")}) AS c FROM hv)
          GROUP BY c.r, c.b),
        probes AS (
          SELECT w, CAST(count(*) AS BIGINT) AS exact_cnt
          FROM words GROUP BY w
          ORDER BY exact_cnt DESC, w ASC LIMIT $k),
        pc AS (
          SELECT w, exact_cnt, c.r AS r, c.b AS b
          FROM (SELECT w, exact_cnt,
                  unnest(${cellList(polySql("w"))}) AS c
                FROM probes)),
        est AS (
          SELECT w, exact_cnt, min(cnt) AS est_cnt
          FROM pc JOIN sketch USING (r, b)
          GROUP BY w, exact_cnt)
        SELECT w, exact_cnt, est_cnt,
          est_cnt - exact_cnt AS overestimate
        FROM est"""
  }

  /** BM25 relevance ranking of the corpus against a fixed term set —
    * the retrieval shape behind quality-by-query curation (keep the
    * documents most relevant to a seed query). Per-term scores use the
    * standard tf saturation `tf·(k1+1) / (tf + k1·(1−b+b·dl/avgdl))`
    * weighted by a LOG-FREE idf — the raw odds `(N−df+0.5)/(df+0.5)`
    * whose log is the classic BM25 idf. The odds form is monotone in
    * the same direction, and (unlike `ln`, whose last ulp differs
    * between libm and the JVM) is pure +,·,/ — IEEE-exact on both
    * engines, the same parity discipline as [[lmScore]]'s ratio space.
    *
    * Scale shape: terms and the |terms|-row df table broadcast; the
    * corpus flows through one tokenize-filter-count aggregation keyed
    * (doc, term) and the per-doc score fold is over ≤|terms| elements
    * in sorted-term order (deterministic summation). The final top-k is
    * `orderBy(...).limit(k)` — Spark's TakeOrdered: per-partition
    * heap top-k merged on the driver, never a global sort.
    */
  def bm25(spark: SparkSession, sfDir: String,
      terms: Seq[String] = Seq("spark", "hash", "vector", "stream"),
      k1: Double = 1.2, b: Double = 0.75, k: Int = 10): DataFrame = {
    val docs = Tables.loadSpread(spark, sfDir, "documents")
      .select(col("doc_id"),
        split(trim(lower(col("text"))), wsSplit).as("ws"))
      .select(col("doc_id"), col("ws"),
        size(col("ws")).cast("long").as("dl"))
    val stats = docs.agg(count(lit(1)).as("nd"), sum("dl").as("toktot"))
      .select(col("nd"),
        (col("toktot").cast("double") / col("nd")).as("avgdl"))
    // tf feeds the df census and the scoring join; materialize once so
    // the corpus tokenize+filter pass runs once, not twice
    val tf = docs.select(col("doc_id"), col("dl"), explode(col("ws")).as("w"))
      .filter(col("w").isin(terms: _*))
      .groupBy("doc_id", "dl", "w")
      .agg(count(lit(1)).as("tf"))
      .localCheckpoint()
    val dfT = tf.groupBy("w").agg(count(lit(1)).as("df"))
    val scored = tf.join(broadcast(dfT), Seq("w"))
      .crossJoin(broadcast(stats))
      .select(col("doc_id"), col("w"),
        (((col("nd") - col("df")) + lit(0.5)) / (col("df") + lit(0.5)) *
          (col("tf") * lit(k1 + 1) /
            (col("tf") + lit(k1) * (lit(1.0) - lit(b) +
              lit(b) * col("dl") / col("avgdl"))))).as("s"))
    scored.groupBy("doc_id")
      .agg(sort_array(collect_list(struct(col("w"), col("s")))).as("ts"))
      .select(col("doc_id"),
        size(col("ts")).cast("long").as("n_terms"),
        graft.functions.VecOps.vec_sum(col("ts").getField("s")).as("score"))
      .orderBy(col("score").desc, col("doc_id").asc)
      .limit(k)
  }

  def bm25Sql(
      terms: Seq[String] = Seq("spark", "hash", "vector", "stream"),
      k1: Double = 1.2, b: Double = 0.75, k: Int = 10): String = {
    val termList = terms.map(t => s"'$t'").mkString(", ")
    s"""WITH d AS (
          SELECT doc_id, ws, CAST(len(ws) AS BIGINT) AS dl
          FROM (SELECT doc_id,
                  string_split_regex(trim(lower(text)), '\\s+') AS ws
                FROM documents)),
        stats AS (
          SELECT CAST(count(*) AS BIGINT) AS nd,
            CAST(CAST(sum(dl) AS BIGINT) AS DOUBLE) / count(*) AS avgdl
          FROM d),
        tf AS (
          SELECT doc_id, dl, w, CAST(count(*) AS BIGINT) AS tf
          FROM (SELECT doc_id, dl, unnest(ws) AS w FROM d)
          WHERE w IN ($termList)
          GROUP BY doc_id, dl, w),
        dft AS (SELECT w, CAST(count(*) AS BIGINT) AS df FROM tf GROUP BY w),
        scored AS (
          /* fractional literals CAST to DOUBLE: DuckDB parses a bare 2.2
             as DECIMAL and computes tf*2.2 exactly before converting,
             while Spark rounds the double product — a 1-ulp mismatch.
             (Line comments are unusable here: oracle strings are
             newline-flattened at registration.) */
          SELECT doc_id, w,
            ((nd - df) + CAST(0.5 AS DOUBLE)) / (df + CAST(0.5 AS DOUBLE)) *
              (tf * CAST(${k1 + 1} AS DOUBLE) /
                (tf + CAST($k1 AS DOUBLE) *
                  (CAST(1.0 AS DOUBLE) - CAST($b AS DOUBLE) +
                   CAST($b AS DOUBLE) * dl / avgdl))) AS s
          FROM tf JOIN dft USING (w) CROSS JOIN stats)
        SELECT doc_id, CAST(len(ts) AS BIGINT) AS n_terms,
          list_reduce(list_prepend(0.0,
            list_transform(ts, x -> x.s)), (a, x) -> a + x) AS score
        FROM (SELECT doc_id, list({'w': w, 's': s} ORDER BY w, s) AS ts
              FROM scored GROUP BY doc_id)
        ORDER BY score DESC, doc_id ASC
        LIMIT $k"""
  }

  // ---------------------------------------------------------------- t24

  private val EmailPat = "[a-z0-9._%+-]+@[a-z0-9.-]+\\.[a-z]{2,}"
  private val PhonePat = "\\b555-[0-9]{4}\\b"
  private val IpPat = "\\b[0-9]{1,3}(\\.[0-9]{1,3}){3}\\b"
  private val ObfuscatedPat = " at [a-z]+ dot com"

  /** PII redaction (t24) — the pattern-scrub pass every released
    * pretraining corpus runs (emails/phones/IPs replaced by typed
    * placeholders), with the PII PLANTED closed-form so the redactor is
    * graded against known ground truth: an id-derived email for
    * doc_id%3==0, a phone for %4==0, an id-derived IPv4 for %5==0, and
    * an OBFUSCATED email ("bob at example dot com") for %7==0 that the
    * regexes deliberately miss — the heuristic-limit measurement (the
    * t22 cookie-banner discipline), surfaced by the obfuscated_left
    * detector column rather than hidden.
    *
    * All patterns are RE2-safe (no backreferences/lookaround), so the
    * DuckDB oracle runs the identical expressions. Pure scan shape:
    * three regexp_extract_all counts + three regexp_replace passes,
    * zero shuffles, linear at 100 TB.
    */
  def piiRedact(spark: SparkSession, sfDir: String): DataFrame = {
    val d = col("doc_id")
    def opt(cond: Column, s: Column): Column =
      when(cond, s).otherwise(lit(""))
    val planted = concat(col("text"),
      opt(d % 3 === 0, concat(lit(" contact user"), d.cast("string"),
        lit("@example.com"))),
      opt(d % 4 === 0, lit(" call 555-0142")),
      opt(d % 5 === 0, concat(lit(" from 192.168."),
        (d % 256).cast("string"), lit("."), (d % 100).cast("string"))),
      opt(d % 7 === 0, lit(" bob at example dot com")))
    val redacted = regexp_replace(regexp_replace(regexp_replace(planted,
      EmailPat, "<EMAIL>"), PhonePat, "<PHONE>"), IpPat, "<IP>")
    val expected = concat(col("text"),
      opt(d % 3 === 0, lit(" contact <EMAIL>")),
      opt(d % 4 === 0, lit(" call <PHONE>")),
      opt(d % 5 === 0, lit(" from <IP>")),
      opt(d % 7 === 0, lit(" bob at example dot com")))
    Tables.load(spark, sfDir, "documents").select(
      d,
      size(regexp_extract_all(planted, lit(EmailPat), lit(0)))
        .cast("long").as("n_emails"),
      size(regexp_extract_all(planted, lit(PhonePat), lit(0)))
        .cast("long").as("n_phones"),
      size(regexp_extract_all(planted, lit(IpPat), lit(0)))
        .cast("long").as("n_ips"),
      length(redacted).cast("long").as("redacted_len"),
      (redacted === expected).cast("int").as("redact_exact"),
      size(regexp_extract_all(redacted, lit(ObfuscatedPat), lit(0)))
        .cast("int").as("obfuscated_left"))
  }

  val piiRedactSql: String = {
    // RE2 in DuckDB: same patterns; single-quoted SQL literals keep
    // backslashes verbatim
    val email = "[a-z0-9._%+-]+@[a-z0-9.-]+\\.[a-z]{2,}"
    val phone = "\\b555-[0-9]{4}\\b"
    val ip = "\\b[0-9]{1,3}(\\.[0-9]{1,3}){3}\\b"
    s"""WITH p AS (
          SELECT doc_id, text ||
            CASE WHEN doc_id % 3 = 0
              THEN ' contact user' || doc_id || '@example.com' ELSE '' END ||
            CASE WHEN doc_id % 4 = 0 THEN ' call 555-0142' ELSE '' END ||
            CASE WHEN doc_id % 5 = 0
              THEN ' from 192.168.' || (doc_id % 256) || '.' ||
                (doc_id % 100) ELSE '' END ||
            CASE WHEN doc_id % 7 = 0
              THEN ' bob at example dot com' ELSE '' END AS planted,
            text ||
            CASE WHEN doc_id % 3 = 0 THEN ' contact <EMAIL>' ELSE '' END ||
            CASE WHEN doc_id % 4 = 0 THEN ' call <PHONE>' ELSE '' END ||
            CASE WHEN doc_id % 5 = 0 THEN ' from <IP>' ELSE '' END ||
            CASE WHEN doc_id % 7 = 0
              THEN ' bob at example dot com' ELSE '' END AS expected
          FROM documents),
        r AS (
          SELECT doc_id, planted, expected,
            regexp_replace(regexp_replace(regexp_replace(planted,
              '$email', '<EMAIL>', 'g'),
              '$phone', '<PHONE>', 'g'),
              '$ip', '<IP>', 'g') AS redacted
          FROM p)
        SELECT doc_id,
          CAST(len(regexp_extract_all(planted, '$email')) AS BIGINT)
            AS n_emails,
          CAST(len(regexp_extract_all(planted, '$phone')) AS BIGINT)
            AS n_phones,
          CAST(len(regexp_extract_all(planted, '$ip')) AS BIGINT) AS n_ips,
          CAST(length(redacted) AS BIGINT) AS redacted_len,
          CAST(redacted = expected AS INT) AS redact_exact,
          CAST(len(regexp_extract_all(redacted, '$ObfuscatedPat'))
            AS INT) AS obfuscated_left
        FROM r"""
  }

  // ---------------------------------------------------------------- t23

  /** Mojibake repair table: the classic UTF-8-bytes-read-as-cp1252
    * double-decodes. Keys are the mis-decoded sequences as they appear in
    * the corrupted text; values are the intended characters. Deliberately
    * NOT exhaustive — t23's eval plants one sequence outside the table so
    * the residue detector is a live measurement.
    */
  private val mojiMap: Seq[(String, String)] = Seq(
    "Ã¡" -> "á", // a-acute
    "Ã¶" -> "ö", // o-umlaut
    "â€™" -> "’", // right single quote
    "â€œ" -> "“") // left double quote

  /** C0 controls except \t \n \r, plus DEL. */
  private val ctlPattern = "[\\x00-\\x08\\x0B\\x0C\\x0E-\\x1F\\x7F]"

  /** Unicode/encoding repair (t23): mojibake reversal -> control-char
    * strip -> NFC canonical composition, with the corruption PLANTED
    * closed-form so the repair is measured against known ground truth
    * (the m6/m7 planted-truth discipline). Corruption model per doc: two
    * in-table mojibake sequences substituted into the text, one
    * out-of-table mojibake appended for doc_id%7==0 (unrepairable ->
    * exercises the residue detector), a BEL control for doc_id%5==0, and
    * a combining-acute sequence for doc_id%3==0 (composed by NFC).
    *
    * This op sits directly upstream of every content hash in d1-d9: a
    * stray combining sequence or mojibake shifts every shingle hash after
    * it, so exact dedup silently loses recall on un-normalized corpora.
    * All pure column expressions (replace chains, one regex, the
    * [[graft.functions.NfcNormalize]] codegen expression) —
    * scan-parallel, no shuffle, linear at 100 TB.
    *
    * Columns: n_moji_fixed / n_ctl_stripped are CHAR-COUNT deltas of
    * their repair stage (each planted fix removes exactly one char);
    * n_moji_residue counts surviving mis-decode lead chars (U+00C3) —
    * it is the live detector for the out-of-table plant (one per %7
    * doc); repair_exact compares against the closed-form expected text,
    * which models the unrepairable residue STAYING in place, so a
    * correct repair scores 1 on every doc (the spec pins both).
    */
  def unicodeRepair(spark: SparkSession, sfDir: String): DataFrame = {
    import graft.functions.NfcNormalize.nfc_normalize
    val t = col("text")
    val d = col("doc_id")
    def opt(cond: Column, s: String): Column =
      when(cond, lit(s)).otherwise(lit(""))
    val corrupted = concat(
      replace(replace(t, lit(" data "), lit(" dÃ¡ta ")),
        lit(" sort "), lit(" sÃ¶rt ")),
      opt(d % 7 === 0, " Ã¸"),
      opt(d % 5 === 0, "\u0007"),
      opt(d % 3 === 0, " cafe\u0301"))
    val moji = mojiMap.foldLeft(corrupted) { case (c, (bad, good)) =>
      replace(c, lit(bad), lit(good)) }
    val ctl = regexp_replace(moji, ctlPattern, "")
    val repaired = nfc_normalize(ctl)
    val expected = concat(
      replace(replace(t, lit(" data "), lit(" dáta ")),
        lit(" sort "), lit(" sört ")),
      opt(d % 7 === 0, " Ã¸"),
      opt(d % 3 === 0, " café"))
    Tables.load(spark, sfDir, "documents").select(
      d,
      (length(corrupted) - length(moji)).cast("long").as("n_moji_fixed"),
      (length(moji) - length(ctl)).cast("long").as("n_ctl_stripped"),
      (repaired =!= ctl).cast("int").as("nfc_changed"),
      (length(repaired) - length(replace(repaired, lit("Ã"), lit(""))))
        .cast("long").as("n_moji_residue"),
      length(repaired).cast("long").as("repaired_len"),
      (repaired === expected).cast("int").as("repair_exact"))
  }

  val unicodeRepairSql: String = {
    val fixes = mojiMap.foldLeft("corrupted") { case (e, (bad, good)) =>
      s"replace($e, '$bad', '$good')" }
    s"""WITH c AS (
          SELECT doc_id,
            replace(replace(text, ' data ', ' dÃ¡ta '),
                ' sort ', ' sÃ¶rt ')
              || CASE WHEN doc_id % 7 = 0 THEN ' Ã¸' ELSE '' END
              || CASE WHEN doc_id % 5 = 0 THEN chr(7) ELSE '' END
              || CASE WHEN doc_id % 3 = 0 THEN ' cafe' || chr(769) ELSE '' END
              AS corrupted,
            replace(replace(text, ' data ', ' dáta '),
                ' sort ', ' sört ')
              || CASE WHEN doc_id % 7 = 0 THEN ' Ã¸' ELSE '' END
              || CASE WHEN doc_id % 3 = 0 THEN ' café' ELSE '' END
              AS expected
          FROM documents),
        f AS (SELECT doc_id, corrupted, expected, $fixes AS moji FROM c),
        s AS (SELECT doc_id, corrupted, expected, moji,
                regexp_replace(moji,
                  '[\\x00-\\x08\\x0B\\x0C\\x0E-\\x1F\\x7F]', '', 'g') AS ctl
              FROM f),
        r AS (SELECT *, ${graft.functions.NfcNormalize.sql("ctl")} AS repaired FROM s)
        SELECT doc_id,
          CAST(length(corrupted) - length(moji) AS BIGINT) AS n_moji_fixed,
          CAST(length(moji) - length(ctl) AS BIGINT) AS n_ctl_stripped,
          CAST(repaired <> ctl AS INT) AS nfc_changed,
          CAST(length(repaired) - length(replace(repaired, 'Ã', ''))
            AS BIGINT) AS n_moji_residue,
          CAST(length(repaired) AS BIGINT) AS repaired_len,
          CAST(repaired = expected AS INT) AS repair_exact
        FROM r"""
  }
}
