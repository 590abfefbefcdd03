package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.operators._

/** Driver contract — every implemented operator from SURVEY.md §2 is
  * registered here as `(SparkSession, sfDir) => DataFrame` with (where
  * SQL-expressible) an equivalent DuckDB oracle query in [[oracleSql]].
  * Column names are aligned between both sides (the driver sorts columns
  * by name before hashing).
  */
object SparkEntry {

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0.
    * The full APM chain (SURVEY §7.3): bucketize -> sliding-window stats
    * with exact percentiles -> z-score bounds/signals -> alert-candidate
    * flags. Emits one scored row per (key, interval, lag).
    */
  def entry(spark: SparkSession): DataFrame =
    Alerts.candidates(
      ZScore.zScoreWindowed(ApmStats.slidingStats(spark, "/root/testdata/sf0.001"),
        ZScore.defaultLags, zOvr),
      alertCfg)

  /** Z1 per-service settings overrides (config/apm_config.json:152-172
    * shape): threshold tightened for `purchase` at the short lag, loosened
    * for `click` at the long lag (influence override exercises the fold
    * variant). Used by every z-scored query AND its oracle.
    */
  private val zOvr = Seq(
    ZScore.ZOverride("purchase", 6, threshold = Some(2.5)),
    ZScore.ZOverride("click", 144, threshold = Some(4.0), influence = Some(0.3)))

  private def zWin(s: SparkSession, dir: String): DataFrame =
    ZScore.zScoreWindowed(ApmStats.slidingStats(s, dir), ZScore.defaultLags, zOvr)

  /** One entry per implemented operator from SURVEY.md §2. */
  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "a1_bucketize"     -> ((s, dir) => ApmStats.bucketize(s, dir)),
    "a5_sliding_stats" -> ((s, dir) => ApmStats.slidingStats(s, dir)),
    "a8_salted_stats"  -> ((s, dir) => Salting.saltedServiceStats(s, dir)),
    "z2_zscore_win"    -> ((s, dir) => zWin(s, dir)),
    // Fold variant on 30-min buckets (1440 steps x 15 keys x 2 lags =
    // 43200 rows): the influence recurrence is interval-independent, and
    // the coarser grain keeps the recursive-CTE oracle's sequential
    // lockstep walk inside the driver's oracle budget (~60 s vs ~175 s at
    // the 10-min grain). Full-granularity window coverage stays with
    // z2_zscore_win (129600 rows).
    "z2_zscore_fold"   -> ((s, dir) =>
      ZScore.zScoreFold(ApmStats.slidingStats(s, dir, 1800000L, 30),
        ZScore.defaultLags, zOvr)),
    // O(1)-state volume z-score (prefix-sum window) — the constant-state
    // scale path; see ZScore.volumeZScorePrefix scaladoc.
    "z6_zscore_prefix" -> ((s, dir) =>
      ZScore.volumeZScorePrefix(graft.Tables.txBase(s, dir), 600000L)),
    // MAD robust outlier profile (median/MAD complement to z-scores).
    "z7_mad_outliers"  -> ((s, dir) => ZScore.madOutliers(s, dir)),
    // Bounded-state histogram percentile + realized error vs exact.
    "a9_hist_quantile" -> ((s, dir) => ApmStats.histQuantile(s, dir)),
    // Sliding-window percentile with bounded state (histogram fan-out).
    "a10_sliding_hist" -> ((s, dir) => ApmStats.slidingHistQuantile(s, dir)),
    // LOCF gap-fill over the dense scaffold with fill provenance.
    "a11_locf_fill"    -> ((s, dir) => ApmStats.locfFill(s, dir)),
    // Integer-exact additive seasonal decomposition of the volume series.
    "a12_seasonal"     -> ((s, dir) => ApmStats.seasonalDecompose(s, dir)),
    "r2_candidates"    -> ((s, dir) => Alerts.candidates(zWin(s, dir), alertCfg)),
    // R3+R4 fired set (alert_ts_ms..causes). The `al` byte assembly
    // (alCsvCol) is pinned by ScalaTest + the r5 round-trip oracle;
    // registering the fired SET keeps this row free of cross-engine
    // double->string rendering (Java 17's Double.toString predates the
    // JDK-19 shortest-repr fix and disagrees with DuckDB on some values).
    "r3_alerts"        -> ((s, dir) =>
      Alerts.alerts(Alerts.candidates(zWin(s, dir), alertCfg), alertCfg)),
    "r5_assembly"      -> ((s, dir) =>
      Alerts.assemblyRoundtrip(Alerts.candidates(zWin(s, dir), alertCfg))),
    "r7_digest"        -> ((s, dir) =>
      Alerts.digest(Alerts.candidates(zWin(s, dir), alertCfg))),
    "s8_email_rows"    -> ((s, dir) =>
      Alerts.emailRows(Alerts.candidates(zWin(s, dir), alertCfg))),
    "s8_email_digest"  -> ((s, dir) =>
      Alerts.emailDigest(Alerts.candidates(zWin(s, dir), alertCfg), alertCfg)),
    "s6_db_stats"      -> ((s, dir) =>
      Alerts.dbStatsRoundtrip(Alerts.candidates(zWin(s, dir), alertCfg))),
    "d6_dedup_embed"   -> ((s, dir) => Similarity.embedNearDup(s, dir)),
    "d6_embed_recall"  -> ((s, dir) => Similarity.embedRecall(s, dir)),
    "d6_recall_sampled" -> ((s, dir) => Similarity.embedRecallSampled(s, dir)),
    "c9_semdedup"      -> ((s, dir) => Similarity.semDedup(s, dir)),
    "t11_kmv_distinct" -> ((s, dir) => TextAnalysis.kmvDistinct(s, dir)),
    "t12_len_quantile" -> ((s, dir) => TextAnalysis.lenQuantile(s, dir)),
    "t13_kmv_agg"      -> ((s, dir) => TextAnalysis.kmvAgg(s, dir)),
    "c1_corpus_curation" -> ((s, dir) => Curation.curate(s, dir)),
    "j1_pairing"       -> ((s, dir) => Correlation.pairing(s, dir)),
    "j2_enrichment"    -> ((s, dir) => Correlation.enrichment(s, dir)),
    "j3_dim_lookup"    -> ((s, dir) => Correlation.dimLookup(s, dir)),
    "j5_asof_join"     -> ((s, dir) => Correlation.asofJoin(s, dir)),
    "p3_ejb_roundtrip" -> ((s, dir) => Parsing.ejbRoundtrip(s, dir)),
    "p5_parse_roundtrip" -> ((s, dir) => Parsing.parseRoundtrip(s, dir)),
    "p7_audit_trail"   -> ((s, dir) => AuditTrail.parseAuditTrails(s, dir)),
    "p2_soap_acct"     -> ((s, dir) => SoapExtract.extractPairs(s, dir)),
    "f8_csv_roundtrip" -> ((s, dir) => Parsing.csvRoundtrip(s, dir)),
    "f9_json_flatten"  -> ((s, dir) => Parsing.jsonFlatten(s, dir)),
    "s5_jmx_cli"       -> ((s, dir) => Parsing.jmxCliNormalize(s, dir)),
    "t1_tokens"        -> ((s, dir) => TextAnalysis.tokens(s, dir)),
    "t2_quality"       -> ((s, dir) => TextAnalysis.quality(s, dir)),
    "t3_langid"        -> ((s, dir) => TextAnalysis.langId(s, dir)),
    "t4_fingerprint"   -> ((s, dir) => TextAnalysis.fingerprint(s, dir)),
    "d1_dedup_exact"   -> ((s, dir) => Dedup.exact(s, dir)),
    "d2_dedup_ngram"   -> ((s, dir) => Dedup.ngramJaccard(s, dir)),
    "d7_jaccard_join"  -> ((s, dir) => Dedup.jaccardJoin(s, dir)),
    "d8_span_dedup"    -> ((s, dir) => Dedup.spanDedup(s, dir)),
    "d9_line_dedup"    -> ((s, dir) => Dedup.lineDedup(s, dir)),
    "c2_dup_clusters"  -> ((s, dir) => Dedup.dupClusters(s, dir)),
    // Iterative relational PageRank over the near-dup pair graph.
    "c18_pagerank"     -> ((s, dir) => Dedup.pagerank(s, dir)),
    "c3_decontaminate" -> ((s, dir) => Curation.decontaminate(s, dir)),
    "c4_mix_weights"   -> ((s, dir) => Curation.mixWeights(s, dir)),
    // Temperature-scaled (alpha=0.5) mixture up-sampling weights.
    "c20_temp_mix"     -> ((s, dir) => Curation.temperatureMix(s, dir)),
    "c5_strat_sample"  -> ((s, dir) => Curation.stratSample(s, dir)),
    "c12_source_cap"   -> ((s, dir) => Curation.sourceCap(s, dir)),
    "c13_mix_apply"    -> ((s, dir) => Curation.mixApply(s, dir)),
    "c14_fuzzy_decon"  -> ((s, dir) => Curation.fuzzyDecon(s, dir)),
    "c23_bloom_decon"  -> ((s, dir) => Curation.bloomDecon(s, dir)),
    // DSIR-style importance selection: hashed-bigram target/raw ratios
    "c24_dsir_select"  -> ((s, dir) => Curation.dsirSelect(s, dir)),
    "c25_mixture"      -> ((s, dir) => Curation.mixtureSample(s, dir)),
    "c15_quality_attrib" -> ((s, dir) => Curation.qualityAttribution(s, dir)),
    "c17_pps_sample"   -> ((s, dir) => Curation.ppsSample(s, dir)),
    // Leakage-aware train/val split over near-dup clusters.
    "c22_leak_split"   -> ((s, dir) => Curation.leakSplit(s, dir)),
    // Deterministic hash-order training shuffle + sharding.
    "c19_shuffle_shards" -> ((s, dir) => Curation.shuffleShards(s, dir)),
    "c6_pii_scrub"     -> ((s, dir) => Curation.piiScrub(s, dir)),
    "t6_repetition"    -> ((s, dir) => TextAnalysis.repetition(s, dir)),
    "t8_vocab"         -> ((s, dir) => TextAnalysis.vocab(s, dir)),
    "t9_lm_score"      -> ((s, dir) => TextAnalysis.lmScore(s, dir)),
    "t10_top_words"    -> ((s, dir) => TextAnalysis.topWords(s, dir)),
    "t14_bpe_pairs"    -> ((s, dir) => TextAnalysis.bpePairs(s, dir)),
    "t15_bpe_merges"   -> ((s, dir) => TextAnalysis.bpeTrain(s, dir)),
    "t16_bpe_tokens"   -> ((s, dir) => TextAnalysis.bpeTokens(s, dir)),
    "t17_bm25"         -> ((s, dir) => TextAnalysis.bm25(s, dir)),
    "t18_cms_topk"     -> ((s, dir) => TextAnalysis.cmsTopk(s, dir)),
    "t19_rank_select"  -> ((s, dir) => TextAnalysis.rankSelect(s, dir)),
    "w1_sessionize"    -> ((s, dir) => Sessionize.sessions(s, dir)),
    "w2_funnel"        -> ((s, dir) => Sessionize.funnel(s, dir)),
    "w3_retention"     -> ((s, dir) => Sessionize.retention(s, dir)),
    // Within-session co-occurrence lift (market-basket association).
    "w5_cooccur"       -> ((s, dir) => Sessionize.cooccur(s, dir)),
    // Rolling DAU/WAU with exact trailing distinct via presence fan-out.
    "w7_active_users"  -> ((s, dir) => Sessionize.activeUsers(s, dir)),
    // Inter-arrival cadence profile with exact reference percentiles.
    "w6_inter_arrival" -> ((s, dir) => Sessionize.interArrival(s, dir)),
    // Language-ID confusion matrix vs corpus labels.
    "t21_langid_eval"  -> ((s, dir) => TextAnalysis.langIdEval(s, dir)),
    "t23_unicode_repair" -> ((s, dir) => TextAnalysis.unicodeRepair(s, dir)),
    "t24_pii_redact"   -> ((s, dir) => TextAnalysis.piiRedact(s, dir)),
    "a13_holt_forecast" -> ((s, dir) => ApmStats.holtForecast(s, dir)),
    "m9_keyframes"     -> ((s, dir) => Multimodal.keyframes(s, dir).toDF),
    "x1_crossmodal"    -> ((s, dir) => Multimodal.crossModalDedup(s, dir)),
    "x2_consistency"   -> ((s, dir) => Multimodal.captionConsistency(s, dir)),
    "x3_audio_align"   -> ((s, dir) =>
      Multimodal.audioAlign(graft.Tables.load(s, dir, "documents"))),
    "w8_attribution"   -> ((s, dir) => Sessionize.attribution(s, dir)),
    "d10_suffix_runs"  -> ((s, dir) => Dedup.suffixRuns(s, dir)),
    "d11_span_scrub"   -> ((s, dir) => Dedup.spanScrub(s, dir)),
    "t22_markup_extract" -> ((s, dir) => Markup.extract(s, dir)),
    "s15_fused_hybrid" -> ((s, dir) => Similarity.fusedHybrid(s, dir)),
    "s16_index_serve"  -> ((s, dir) => Similarity.indexServe(s, dir)),
    "s17_rank_metrics" -> ((s, dir) => Similarity.rankMetrics(s, dir)),
    "s18_index_append" -> ((s, dir) => Similarity.indexAppendServe(s, dir)),
    "s19_index_delete" -> ((s, dir) => Similarity.indexDeleteServe(s, dir)),
    "s20_append_drift" -> ((s, dir) => Similarity.indexAppendDrift(s, dir)),
    "s21_probe_sweep"  -> ((s, dir) => Similarity.probeSweep(s, dir)),
    "s22_retention"    -> ((s, dir) => Similarity.indexRetention(s, dir)),
    "q31_bloom_skip"   -> ((s, dir) => Layout.bloomSkip(s, dir)),
    "q32_compaction_plan" -> ((s, dir) => Layout.compactionPlan(s, dir)),
    "t22_extract_quality" -> ((s, dir) => Markup.quality(s, dir)),
    // Latest-record-wins CDC compaction via one map-side max_by agg.
    "q26_compaction"   -> ((s, dir) => Relational.q26Compaction(s, dir)),
    // ADC candidates + exact refine: recall lift measured side by side.
    "s10_pq_refine"    -> ((s, dir) => Similarity.pqRefineRecall(s, dir)),
    // Q21-style double correlation: EXISTS + NOT EXISTS on one table.
    "q29_waiting_supplier" -> ((s, dir) => Relational.q29WaitingSupplier(s, dir)),
    // Z-order vs linear clustering: per-file 2-D bounding boxes + pruning
    "q30_zorder"       -> ((s, dir) => Layout.zorderLayout(s, dir)),
    // Set algebra as keyed joins: INTERSECT/EXCEPT/UNION cohorts.
    "q28_set_ops"      -> ((s, dir) => Relational.q28SetOps(s, dir)),
    // One-pass analytic window-function family per customer.
    "q27_window_suite" -> ((s, dir) => Relational.q27WindowSuite(s, dir)),
    "w4_transitions"   -> ((s, dir) => Sessionize.transitions(s, dir)),
    "d3_dedup_minhash" -> ((s, dir) => Dedup.minhash(s, dir)),
    "d4_dedup_minhash_lsh" -> ((s, dir) => Dedup.minhashLsh(s, dir)),
    // measured LSH recall vs the exact n-gram Jaccard truth, per decile
    "d4_lsh_recall"    -> ((s, dir) => Dedup.lshRecall(s, dir)),
    // recall CLIFF over the controlled-mutation fixture (0.3-0.8 buckets)
    "d4_recall_cliff"  -> ((s, dir) => Dedup.recallCliff(s, dir)),
    "d5_dedup_simhash" -> ((s, dir) => Dedup.simhash(s, dir)),
    "d5_simhash_pairs" -> ((s, dir) => Dedup.simhashPairs(s, dir)),
    "s1_knn_brute"     -> ((s, dir) => Similarity.knnBrute(s, dir)),
    "s2_knn_lsh"       -> ((s, dir) => Similarity.knnLsh(s, dir)),
    "s3_knn_ivf"       -> ((s, dir) => Similarity.knnIvf(s, dir)),
    "s4_ivf_recall"    -> ((s, dir) => Similarity.ivfRecall(s, dir)),
    "e1_embed_quantize" -> ((s, dir) => Similarity.embedQuantize(s, dir)),
    "e2_pq_codes"      -> ((s, dir) => Similarity.pqCodes(s, dir)),
    "s5_pq_adc"        -> ((s, dir) => Similarity.pqAdc(s, dir)),
    "s6_pq_recall"     -> ((s, dir) => Similarity.pqRecall(s, dir)),
    "s7_ivfpq"         -> ((s, dir) => Similarity.ivfPq(s, dir)),
    "s8_ivfpq_recall"  -> ((s, dir) => Similarity.ivfPqRecall(s, dir)),
    "s9_ivf_stats"     -> ((s, dir) => Similarity.ivfStats(s, dir)),
    // 1-bit sign codes + Hamming shortlist + exact-cosine rerank
    "s11_hamming_rerank" -> ((s, dir) => Similarity.hammingRerank(s, dir)),
    // hybrid retrieval: BM25 leg + dense cosine leg, RRF-fused
    "s12_rrf_fusion"   -> ((s, dir) => Similarity.rrfFusion(s, dir)),
    // Matryoshka funnel: prefix-8 shortlist -> prefix-32 -> full rerank
    "s13_mrl_funnel"   -> ((s, dir) => Similarity.mrlFunnel(s, dir)),
    // filtered ANN: pre-filter truth vs post-filter recall, measured
    "s14_filtered_knn" -> ((s, dir) => Similarity.filteredKnn(s, dir)),
    "e3_matryoshka"    -> ((s, dir) => Similarity.matryoshkaRecall(s, dir)),
    "e8_sq8_recall"    -> ((s, dir) => Similarity.sq8Recall(s, dir)),
    "e4_pca_cov"       -> ((s, dir) => Pca.pcaCov(s, dir)),
    "e5_pca_component" -> ((s, dir) => Pca.pcaComponent(s, dir)),
    "e6_pca_project"   -> ((s, dir) => Pca.pcaProject(s, dir)),
    "e7_pca_residual"  -> ((s, dir) => Pca.pcaResidual(s, dir)),
    "c16_topic_clusters" -> ((s, dir) => Similarity.topicClusters(s, dir)),
    "t5_seq_pack"      -> ((s, dir) => TextAnalysis.seqPack(s, dir)),
    // Overlapping fixed-size RAG/embedding chunking with provenance.
    "t20_chunking"     -> ((s, dir) => TextAnalysis.chunk(s, dir)),
    "m1_media_meta"    -> ((s, dir) => Multimodal.meta(s, dir)),
    "m2_media_decode"  -> ((s, dir) => Multimodal.decodeAll(s, dir).toDF()),
    "m3_frame_sample"  -> ((s, dir) => Multimodal.frameSample(s, dir)),
    "m4_audio_features" -> ((s, dir) => Multimodal.audioFeatures(s, dir).toDF()),
    "m5_frame_extract" -> ((s, dir) => Multimodal.frameExtract(s, dir).toDF()),
    // perceptual-hash image near-dup over real BMP bytes, banded join
    "m6_image_phash"   -> ((s, dir) => Multimodal.imagePHash(s, dir)),
    // SAD scene-cut detection over real Y4M frames, planted cuts
    "m7_scene_cuts"    -> ((s, dir) => Multimodal.sceneCuts(s, dir).toDF()),
    // digital-silence zero-run profiling over real WAV samples
    "m8_silence"       -> ((s, dir) => Multimodal.silenceProfile(s, dir).toDF()),
    "q1_agg"           -> ((s, dir) => tpchQ1(s, dir)),
    "q3_join"          -> ((s, dir) => tpchQ3(s, dir)),
    "q6_scan"          -> ((s, dir) => tpchQ6(s, dir)),
    "q4_semi"          -> ((s, dir) => Relational.q4Semi(s, dir)),
    "q5_region_rev"    -> ((s, dir) => Relational.q5RegionRev(s, dir)),
    "q10_returns"      -> ((s, dir) => Relational.q10Returns(s, dir)),
    "q13_outer_dist"   -> ((s, dir) => Relational.q13OuterDist(s, dir)),
    "q17_avg_sub"      -> ((s, dir) => Relational.q17AvgSub(s, dir)),
    "q18_having"       -> ((s, dir) => Relational.q18Having(s, dir)),
    "q22_anti"         -> ((s, dir) => Relational.q22Anti(s, dir)),
    "q7_volume"        -> ((s, dir) => Relational.q7Volume(s, dir)),
    "q2_min_cost"      -> ((s, dir) => Relational.q2MinCost(s, dir)),
    "q11_scalar_having" -> ((s, dir) => Relational.q11ScalarHaving(s, dir)),
    "q8_mkt_share"     -> ((s, dir) => Relational.q8MktShare(s, dir)),
    "q12_priority"     -> ((s, dir) => Relational.q12Priority(s, dir)),
    "q14_promo"        -> ((s, dir) => Relational.q14Promo(s, dir)),
    "q15_top_supplier" -> ((s, dir) => Relational.q15TopSupplier(s, dir)),
    "q19_disjunct"     -> ((s, dir) => Relational.q19Disjunct(s, dir)),
    "q9_profit"        -> ((s, dir) => Relational.q9Profit(s, dir)),
    "q16_supplier_cnt" -> ((s, dir) => Relational.q16SupplierCnt(s, dir)),
    "q20_range_join"   -> ((s, dir) => Relational.q20RangeJoin(s, dir)),
    "q21_rollup"       -> ((s, dir) => Relational.qRollup(s, dir)),
    "c7_dedup_apply"   -> ((s, dir) => Dedup.dedupApply(s, dir)),
    "c8_snapshot_diff" -> ((s, dir) => Curation.snapshotDiff(s, dir)),
    "c10_data_card"    -> ((s, dir) => Curation.dataCard(s, dir)),
    "c11_incremental"  -> ((s, dir) => Curation.incrementalNew(s, dir)),
    "q23_pivot"        -> ((s, dir) => Relational.qPivot(s, dir)),
    "q24_unpivot"      -> ((s, dir) => Relational.q24Unpivot(s, dir)),
    "q25_cube"         -> ((s, dir) => Relational.qCube(s, dir)),
  )

  /** Oracle-only queries: correctness-gated in Verify but NOT timed by
    * Bench. d6_embed_recall is the FULL all-pairs recall truth, the
    * test-scale twin of the sampled-truth measurement (d6_recall_sampled,
    * which IS timed); a 100-TB deployment runs only the sampled variant,
    * so timing the full one would report a number the scale path never
    * pays. Still runnable under Bench's SPARK_GRAFT_ONLY filter for
    * focused probes.
    */
  val oracleOnly: Set[String] = Set("d6_embed_recall")

  /** Alert config used by registered queries: thresholds tuned so the test
    * data produces a mix of firing and quiet intervals; one per-service
    * hard-max override exercises the J4 broadcast-config join.
    */
  private val alertCfg = Alerts.AlertCfg(
    hardMaxMs = 150.0, hardMinMs = 50.0, hardMinTpm = 0.005,
    windowSz = 60, voteThreshold = 45,
    // R1 — non-empty suppression lists (config/apm_config.json:200-207
    // suppresses a service list + lag list) so the oracle exercises the
    // suppression predicate: `error` alerts are muted entirely, as is the
    // short lag for every service.
    suppressedServices = Seq("error"), suppressedLags = Seq(6),
    hardMaxOverrides = Map("purchase" -> 120.0))

  private lazy val zWinSql: String =
    ZScore.zScoreWindowedSql(ApmStats.slidingStatsSql(), ZScore.defaultLags, zOvr)

  /** DuckDB-dialect oracle for each query (same parquet tables). */
  def oracleSql: Map[String, String] = Map(
    "a1_bucketize"     -> ApmStats.bucketizeSql,
    "a5_sliding_stats" -> ApmStats.slidingStatsSql(),
    "a8_salted_stats"  -> Salting.saltedServiceStatsSql,
    "z2_zscore_win"    -> zWinSql,
    "r2_candidates"    -> Alerts.candidatesSql(zWinSql, alertCfg),
    "r5_assembly"      -> Alerts.assemblyRoundtripSql(
      Alerts.candidatesSql(zWinSql, alertCfg)),
    "r7_digest"        -> Alerts.digestSql(Alerts.candidatesSql(zWinSql, alertCfg)),
    "s8_email_rows"    -> Alerts.emailRowsSql(Alerts.candidatesSql(zWinSql, alertCfg)),
    "s8_email_digest"  -> Alerts.emailDigestSql(
      Alerts.candidatesSql(zWinSql, alertCfg), alertCfg),
    "s6_db_stats"      -> Alerts.dbStatsRoundtripSql(
      Alerts.candidatesSql(zWinSql, alertCfg)),
    "d6_dedup_embed"   -> Similarity.embedNearDupSql(),
    "d6_embed_recall"  -> Similarity.embedRecallSql(),
    "d6_recall_sampled" -> Similarity.embedRecallSampledSql(),
    "c9_semdedup"      -> Similarity.semDedupSql(),
    "t11_kmv_distinct" -> TextAnalysis.kmvDistinctSql(),
    "t12_len_quantile" -> TextAnalysis.lenQuantileSql(),
    "t13_kmv_agg"      -> TextAnalysis.kmvAggSql(),
    "c1_corpus_curation" -> Curation.curateSql,
    // z2_zscore_fold / r3_alerts: sequential recurrences (influence
    // feedback, leaky-bucket counter + cooldown) — expressed as DuckDB
    // recursive CTEs advancing every key in lockstep over row_number.
    "z2_zscore_fold"   -> ZScore.zScoreFoldSql(
      ApmStats.slidingStatsSql(1800000L, 30), ZScore.defaultLags, zOvr),
    "z6_zscore_prefix" -> ZScore.volumeZScorePrefixSql(600000L),
    "z7_mad_outliers"  -> ZScore.madOutliersSql(),
    "a9_hist_quantile" -> ApmStats.histQuantileSql(),
    "a10_sliding_hist" -> ApmStats.slidingHistQuantileSql(),
    "a11_locf_fill"    -> ApmStats.locfFillSql(),
    "a12_seasonal"     -> ApmStats.seasonalDecomposeSql(),
    "r3_alerts"        -> Alerts.alertsSql(
      Alerts.candidatesSql(zWinSql, alertCfg), alertCfg),
    "j1_pairing"       -> Correlation.pairingSql,
    "j2_enrichment"    -> Correlation.enrichmentSql,
    "j3_dim_lookup"    -> Correlation.dimLookupSql,
    "j5_asof_join"     -> Correlation.asofJoinSql,
    "p3_ejb_roundtrip" -> Parsing.ejbRoundtripSql,
    "p5_parse_roundtrip" -> Parsing.parseRoundtripSql,
    "p7_audit_trail"   -> AuditTrail.parseAuditTrailsSql,
    "p2_soap_acct"     -> SoapExtract.extractPairsSql,
    "f8_csv_roundtrip" -> Parsing.csvRoundtripSql,
    "f9_json_flatten"  -> Parsing.jsonFlattenSql,
    "s5_jmx_cli"       -> Parsing.jmxCliNormalizeSql,
    "t1_tokens"        -> TextAnalysis.tokensSql,
    "t2_quality"       -> TextAnalysis.qualitySql,
    "t3_langid"        -> TextAnalysis.langIdSql,
    "t4_fingerprint"   -> TextAnalysis.fingerprintSql,
    "d1_dedup_exact"   -> Dedup.exactSql,
    "d2_dedup_ngram"   -> Dedup.ngramJaccardSql(),
    "d7_jaccard_join"  -> Dedup.jaccardJoinSql(),
    "d8_span_dedup"    -> Dedup.spanDedupSql(),
    "d9_line_dedup"    -> Dedup.lineDedupSql(),
    "c2_dup_clusters"  -> Dedup.dupClustersSql(),
    "c18_pagerank"     -> Dedup.pagerankSql(),
    "c3_decontaminate" -> Curation.decontaminateSql(),
    "c4_mix_weights"   -> Curation.mixWeightsSql,
    "c20_temp_mix"     -> Curation.temperatureMixSql,
    "c22_leak_split"   -> Curation.leakSplitSql(),
    "c5_strat_sample"  -> Curation.stratSampleSql,
    "c12_source_cap"   -> Curation.sourceCapSql(),
    "c13_mix_apply"    -> Curation.mixApplySql(),
    "c14_fuzzy_decon"  -> Curation.fuzzyDeconSql(),
    "c23_bloom_decon"  -> Curation.bloomDeconSql(),
    "c24_dsir_select"  -> Curation.dsirSelectSql(),
    "c25_mixture"      -> Curation.mixtureSampleSql,
    "c15_quality_attrib" -> Curation.qualityAttributionSql,
    "c17_pps_sample"   -> Curation.ppsSampleSql(),
    "c19_shuffle_shards" -> Curation.shuffleShardsSql(),
    "c6_pii_scrub"     -> Curation.piiScrubSql,
    "t6_repetition"    -> TextAnalysis.repetitionSql(),
    "t8_vocab"         -> TextAnalysis.vocabSql(),
    "t9_lm_score"      -> TextAnalysis.lmScoreSql(),
    "t10_top_words"    -> TextAnalysis.topWordsSql(),
    "t14_bpe_pairs"    -> TextAnalysis.bpePairsSql,
    "t15_bpe_merges"   -> TextAnalysis.bpeTrainSql(),
    "t16_bpe_tokens"   -> TextAnalysis.bpeTokensSql(),
    "t17_bm25"         -> TextAnalysis.bm25Sql(),
    "t18_cms_topk"     -> TextAnalysis.cmsTopkSql(),
    "t19_rank_select"  -> TextAnalysis.rankSelectSql(),
    "w1_sessionize"    -> Sessionize.sessionsSql(),
    "w2_funnel"        -> Sessionize.funnelSql(),
    "w3_retention"     -> Sessionize.retentionSql,
    "w5_cooccur"       -> Sessionize.cooccurSql,
    "w6_inter_arrival" -> Sessionize.interArrivalSql,
    "w7_active_users"  -> Sessionize.activeUsersSql(),
    "t21_langid_eval"  -> TextAnalysis.langIdEvalSql(TextAnalysis.langIdSql),
    "t23_unicode_repair" -> TextAnalysis.unicodeRepairSql,
    "t24_pii_redact"   -> TextAnalysis.piiRedactSql,
    "a13_holt_forecast" -> ApmStats.holtForecastSql(),
    "m9_keyframes"     -> Multimodal.keyframesSql(),
    "x1_crossmodal"    -> Multimodal.crossModalDedupSql(),
    "x2_consistency"   -> Multimodal.captionConsistencySql(),
    "x3_audio_align"   -> Multimodal.audioAlignSql(),
    "w8_attribution"   -> Sessionize.attributionSql(),
    "d10_suffix_runs"  -> Dedup.suffixRunsSql(),
    "d11_span_scrub"   -> Dedup.spanScrubSql(),
    "t22_markup_extract" -> Markup.extractSql,
    "s15_fused_hybrid" -> Similarity.fusedHybridSql(),
    // s16 serves s7's query from the persisted index; parquet round-trips
    // doubles bit-exactly, so the stored-index answer must equal the
    // train-and-serve answer — the oracle IS s7's.
    "s16_index_serve"  -> Similarity.ivfPqSql(),
    "s17_rank_metrics" -> Similarity.rankMetricsSql(),
    "s18_index_append" -> Similarity.indexAppendServeSql(),
    "s19_index_delete" -> Similarity.indexDeleteServeSql(),
    "s20_append_drift" -> Similarity.indexAppendDriftSql(),
    "s21_probe_sweep"  -> Similarity.probeSweepSql(),
    "s22_retention"    -> Similarity.indexRetentionSql(),
    "q31_bloom_skip"   -> Layout.bloomSkipSql(),
    "q32_compaction_plan" -> Layout.compactionPlanSql(),
    "t22_extract_quality" -> Markup.qualitySql,
    "q26_compaction"   -> Relational.q26CompactionSql,
    "s10_pq_refine"    -> Similarity.pqRefineRecallSql(),
    "q27_window_suite" -> Relational.q27WindowSuiteSql,
    "q28_set_ops"      -> Relational.q28SetOpsSql,
    "q29_waiting_supplier" -> Relational.q29WaitingSupplierSql,
    "q30_zorder"       -> Layout.zorderLayoutSql(),
    "w4_transitions"   -> Sessionize.transitionsSql,
    "d3_dedup_minhash" -> Dedup.minhashSql,
    "d4_dedup_minhash_lsh" -> Dedup.minhashLshSql(),
    "d4_lsh_recall"    -> Dedup.lshRecallSql(),
    "d4_recall_cliff"  -> Dedup.recallCliffSql,
    "d5_dedup_simhash" -> Dedup.simhashSql,
    "d5_simhash_pairs" -> Dedup.simhashPairsSql(),
    "s1_knn_brute"     -> Similarity.knnBruteSql(),
    "s2_knn_lsh"       -> Similarity.knnLshSql(),
    "s3_knn_ivf"       -> Similarity.knnIvfSql(),
    "s4_ivf_recall"    -> Similarity.ivfRecallSql(),
    "e1_embed_quantize" -> Similarity.embedQuantizeSql,
    "e2_pq_codes"      -> Similarity.pqCodesSql(),
    "s5_pq_adc"        -> Similarity.pqAdcSql(),
    "s6_pq_recall"     -> Similarity.pqRecallSql(),
    "s7_ivfpq"         -> Similarity.ivfPqSql(),
    "s8_ivfpq_recall"  -> Similarity.ivfPqRecallSql(),
    "s9_ivf_stats"     -> Similarity.ivfStatsSql(),
    "s11_hamming_rerank" -> Similarity.hammingRerankSql(),
    "s12_rrf_fusion"   -> Similarity.rrfFusionSql(),
    "s13_mrl_funnel"   -> Similarity.mrlFunnelSql(),
    "s14_filtered_knn" -> Similarity.filteredKnnSql(),
    "e3_matryoshka"    -> Similarity.matryoshkaRecallSql(),
    "e8_sq8_recall"    -> Similarity.sq8RecallSql(),
    "e4_pca_cov"       -> Pca.pcaCovSql,
    "e5_pca_component" -> Pca.pcaComponentSql,
    "e6_pca_project"   -> Pca.pcaProjectSql,
    "e7_pca_residual"  -> Pca.pcaResidualSql,
    "c16_topic_clusters" -> Similarity.topicClustersSql(),
    "m3_frame_sample"  -> Multimodal.frameSampleSql(),
    "t5_seq_pack"      -> TextAnalysis.seqPackSql(),
    "t20_chunking"     -> TextAnalysis.chunkSql(),
    "m1_media_meta"    -> Multimodal.metaSql,
    // m2_media_decode: a real pure-JVM container parse (BMP/WAV/Y4M);
    // the oracle computes the expected header fields from the closed-form
    // synthesis parameters.
    "m2_media_decode"  -> Multimodal.decodeAllSql,
    "m4_audio_features" -> Multimodal.audioFeaturesSql,
    "m5_frame_extract" -> Multimodal.frameExtractSql(),
    "m6_image_phash"   -> Multimodal.imagePHashSql(),
    "m7_scene_cuts"    -> Multimodal.sceneCutsSql(),
    "m8_silence"       -> Multimodal.silenceProfileSql(),
    // Rounding note: whole-table float sums accumulate order-dependent
    // error ~1e-5 at sf0.01, so compare at 2 decimals (inputs are 2-dp
    // money values -> true sum is a 2-dp value, 0.005 from any boundary).
    "q1_agg"           -> """SELECT l_returnflag, l_linestatus,
        round(sum(l_quantity), 2) AS sum_qty,
        round(sum(l_extendedprice), 2) AS sum_base_price,
        count(*) AS count_order
        FROM lineitem GROUP BY l_returnflag, l_linestatus""",
    "q3_join"          -> """SELECT l_orderkey,
        epoch_ms(o_orderdate) AS o_orderdate_ms,
        round(sum(l_extendedprice * (1 - l_discount)), 4) AS revenue,
        count(*) AS n_lines
        FROM lineitem
        JOIN orders ON l_orderkey = o_orderkey
        JOIN customer ON o_custkey = c_custkey
        WHERE c_mktsegment = 'BUILDING'
          AND epoch_ms(o_orderdate) < 883612800000
          AND epoch_ms(l_shipdate) >= 883612800000
        GROUP BY l_orderkey, epoch_ms(o_orderdate)""",
    "q6_scan"          -> """SELECT
        sum(CAST(floor(l_extendedprice*100 + 0.5) AS BIGINT) *
            CAST(floor(l_discount*100 + 0.5) AS BIGINT)) / 10000.0 AS revenue,
        count(*) AS n_lines
        FROM lineitem
        WHERE epoch_ms(l_shipdate) >= 820454400000
          AND epoch_ms(l_shipdate) < 852076800000
          AND l_discount BETWEEN 0.05 AND 0.07
          AND l_quantity < 24""",
    "q4_semi"          -> Relational.q4SemiSql,
    "q5_region_rev"    -> Relational.q5RegionRevSql(),
    "q10_returns"      -> Relational.q10ReturnsSql,
    "q13_outer_dist"   -> Relational.q13OuterDistSql,
    "q17_avg_sub"      -> Relational.q17AvgSubSql,
    "q18_having"       -> Relational.q18HavingSql(),
    "q22_anti"         -> Relational.q22AntiSql,
    "q7_volume"        -> Relational.q7VolumeSql(),
    "q2_min_cost"      -> Relational.q2MinCostSql,
    "q11_scalar_having" -> Relational.q11ScalarHavingSql(),
    "q8_mkt_share"     -> Relational.q8MktShareSql(),
    "q12_priority"     -> Relational.q12PrioritySql,
    "q14_promo"        -> Relational.q14PromoSql,
    "q15_top_supplier" -> Relational.q15TopSupplierSql,
    "q19_disjunct"     -> Relational.q19DisjunctSql,
    "q9_profit"        -> Relational.q9ProfitSql(),
    "q16_supplier_cnt" -> Relational.q16SupplierCntSql(),
    "q20_range_join"   -> Relational.q20RangeJoinSql(),
    "q21_rollup"       -> Relational.qRollupSql,
    "c7_dedup_apply"   -> Dedup.dedupApplySql(),
    "c8_snapshot_diff" -> Curation.snapshotDiffSql,
    "c10_data_card"    -> Curation.dataCardSql,
    "c11_incremental"  -> Curation.incrementalNewSql,
    "q23_pivot"        -> Relational.qPivotSql,
    "q24_unpivot"      -> Relational.q24UnpivotSql,
    "q25_cube"         -> Relational.qCubeSql,
    // Collapse line breaks + indentation only — NOT intra-line runs: a
    // blanket \s+ collapse rewrites whitespace inside SQL string
    // LITERALS (the email CSS carries a reference-faithful double space).
  ).map { case (k, v) => k -> v.replaceAll("\\s*\\n\\s*", " ").trim }

  /** TPC-H Q6-style forecasting-revenue scan: pure filter + global
    * aggregate — the predicate-pushdown showcase (every predicate reaches
    * the parquet scan; no shuffle but the final 1-row combine).
    *
    * Float parity: a whole-table float sum's accumulation order differs
    * between engines, and at 60k+ terms the drift can exceed round(4)'s
    * tie tolerance. Instead, 2-dp price x 2-dp discount is lifted to
    * EXACT integer 1e-4 grains (floor(x*100+0.5) — pure IEEE ops), summed
    * as integers (order-free), and divided once at the end: bit-identical
    * on both engines at any scale.
    */
  private def tpchQ6(s: SparkSession, dir: String): DataFrame = {
    // [1996-01-01, 1997-01-01) epoch ms
    val lo = 820454400000L; val hi = 852076800000L
    val li0 = Tables.load(s, dir, "lineitem")
    val grains = floor(col("l_extendedprice") * 100 + lit(0.5)).cast("long") *
      floor(col("l_discount") * 100 + lit(0.5)).cast("long")
    li0
      .filter(Tables.tsRange(li0, "l_shipdate", Some(lo), Some(hi)) &&
        col("l_discount").between(0.05, 0.07) && col("l_quantity") < 24)
      .agg((sum(grains) / lit(10000.0)).as("revenue"),
        count(lit(1)).as("n_lines"))
  }

  /** TPC-H Q1-style pricing summary — the relational-aggregation smoke
    * query (predicate/column pruning reach the parquet scan).
    */
  private def tpchQ1(s: SparkSession, dir: String): DataFrame =
    Tables.load(s, dir, "lineitem")
      .groupBy("l_returnflag", "l_linestatus")
      .agg(
        round(sum(col("l_quantity")), 2).as("sum_qty"),
        round(sum(col("l_extendedprice")), 2).as("sum_base_price"),
        count(lit(1)).as("count_order"))

  /** TPC-H Q3-style shipping-priority join: fact-fact shuffle join +
    * broadcast dimension + filtered aggregation — the multi-join
    * relational path (predicate pushdown on both scans; customer side
    * broadcasts).
    */
  private def tpchQ3(s: SparkSession, dir: String): DataFrame = {
    // epoch ms of 1998-01-01T00:00:00Z (dates span 1995..2001)
    val cutoffMs = 883612800000L
    val cust = Tables.load(s, dir, "customer")
      .filter(col("c_mktsegment") === "BUILDING")
      .select("c_custkey")
    val ord0 = Tables.load(s, dir, "orders")
    val ord = ord0
      .filter(Tables.tsRange(ord0, "o_orderdate", None, Some(cutoffMs)))
      .select(col("o_orderkey"), col("o_custkey"),
        Tables.colMillis(ord0, "o_orderdate").as("o_orderdate_ms"))
    val li0 = Tables.load(s, dir, "lineitem")
    val li = li0
      .filter(Tables.tsRange(li0, "l_shipdate", Some(cutoffMs), None))
      .select(col("l_orderkey"), col("l_extendedprice"), col("l_discount"))
    li.join(ord, col("l_orderkey") === col("o_orderkey"))
      .join(broadcast(cust), col("o_custkey") === col("c_custkey"))
      .groupBy("l_orderkey", "o_orderdate_ms")
      // revenue is a true 4-dp decimal (2-dp price x 2-dp factor), so
      // round(4) is boundary-safe per-group (see float-parity policy).
      .agg(round(sum(col("l_extendedprice") * (lit(1) - col("l_discount"))), 4)
        .as("revenue"), count(lit(1)).as("n_lines"))
  }
}
