package graft

import graft.ops.Resampler
import graft.ops.Resampler.ResampleOptions
import org.apache.spark.sql.{DataFrame, SparkSession}

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt. */
object SparkEntry {

  /** Flagship query on /root/testdata/sf0.001: fuse two heterogeneous event
    * sub-streams into one chronological stream, resample to a 1h grid with
    * gap fill + forward-filled value (the reference's core end-to-end path:
    * M1-M4 + A1-A5 + W3).
    */
  def entry(spark: SparkSession): DataFrame =
    // same fuse as the oracle-verified q_fuse_merge, resampled to 1h
    Resampler.resample(Queries.fuseMerge(spark, "/root/testdata/sf0.001"), "1h",
      opts = ResampleOptions(ffillKeys = Seq("value"), tieCols = Seq("event_id")))

  /** One inventory query: its Spark build over a scale-factor directory and
    * the DuckDB oracle SQL that must reproduce it (same column names and
    * ORDER BY). `__VERIFY_OUT__` inside the SQL is replaced by [[Verify]]
    * with the dump directory, letting an oracle re-derive a query from
    * another query's exported parquet (IVF cells from centroids, top-k from
    * cells). Every query has an oracle; `q_ivf_centroids` (the trained
    * k-means artifact) carries an invariant oracle over its own dump
    * ([[Queries.ivfCentroidsSql]]).
    */
  final case class QueryDef(
      name: String, build: (SparkSession, String) => DataFrame, oracleSql: String)

  /** Every query, declared once: one entry per implemented operator from
    * SURVEY.md §2 (+ pipeline ops).
    */
  lazy val queryDefs: Seq[QueryDef] = {
    import Queries._
    Seq(
    // fusion / reference surface
    QueryDef("q_fuse_merge", fuseMerge, fuseMergeSql),
    QueryDef("q_fuse_rename", fuseRename, fuseRenameSql),
    QueryDef("q_time_filter", timeFilter, timeFilterSql),
    QueryDef("q_ts_convert", tsConvert, tsConvertSql),
    QueryDef("q_minmax_ts", minmaxTs, minmaxTsSql),
    QueryDef("q_resample_1h", (s, d) => resample(s, d, "1h"), resampleSql(3600000L)),
    QueryDef("q_resample_1d", (s, d) => resample(s, d, "1d"), resampleSql(86400000L)),
    QueryDef("q_resample_keyed", resampleKeyed, resampleKeyedSql),
    QueryDef("q_resample_window", resampleWindow, resampleWindowSql),
    QueryDef("q_ffill", ffill, ffillSql),
    // dedup
    QueryDef("q_dedup_exact", dedupExact, dedupExactSql),
    QueryDef("q_dedup_normalized", dedupNormalized, dedupNormalizedSql),
    QueryDef("q_dedup_jaccard", dedupJaccard, dedupJaccardSql),
    QueryDef("q_dup_spans", dupSpans, dupSpansSql),
    QueryDef("q_dup_matrix", dupMatrix, dupMatrixSql),
    QueryDef("q_dedup_minhash", dedupMinhash, dedupMinhashSql),
    QueryDef("q_simhash", simhash, simhashSql),
    QueryDef("q_simhash_neardup", simhashNearDup, simhashNearDupSql),
    QueryDef("q_dedup_clusters", dedupClusters, dedupClustersSql),
    QueryDef("q_dup_sizes", dupSizes, dupSizesSql),
    QueryDef("q_dedup_keep", dedupKeep, dedupKeepSql),
    QueryDef("q_curate", curate, curateSql),
    // text analysis
    QueryDef("q_text_quality", textQuality, textQualitySql),
    QueryDef("q_lang_id", langId, langIdSql),
    QueryDef("q_token_stats", tokenStats, tokenStatsSql),
    QueryDef("q_token_bpe", tokenBpe, tokenBpeSql),
    QueryDef("q_bpe_merges", bpeMerges, bpeMergesSql),
    QueryDef("q_rank_grid_table", quantileGridTable, quantileGridTableSql),
    QueryDef("q_bpe_encode", bpeEncode, bpeEncodeSql),
    QueryDef("q_bpe_bytes_merges", bpeBytesMerges, bpeBytesMergesSql),
    QueryDef("q_bpe_bytes_encode", bpeBytesEncode, bpeBytesEncodeSql),
    QueryDef("q_bm25_model", bm25Model, bm25ModelSql),
    QueryDef("q_bm25_topk", bm25TopK, bm25TopKSql),
    QueryDef("q_hybrid_rrf", hybridRrf, hybridRrfSql),
    // the index face must produce the scan face's answer — same oracle
    QueryDef("q_bm25_index", bm25IndexSearch, bm25TopKSql),
    QueryDef("q_bm25_multi", bm25Multi, bm25MultiSql),
    // append == full rebuild exactly, so the whole-corpus oracle applies
    QueryDef("q_bm25_incr", bm25Incr, bm25TopKSql),
    QueryDef("q_phrase_search", phraseSearch, phraseSearchSql),
    QueryDef("q_collocations", collocations, collocationsSql),
    QueryDef("q_embed_prefix_recall", embedPrefixRecall, embedPrefixRecallSql),
    QueryDef("q_proximity_incr", proximityIncr, proximityIncrSql),
    QueryDef("q_proximity_indexed", proximityIndexed, proximityIndexedSql),
    QueryDef("q_proximity_search", proximitySearch, proximitySearchSql),
    QueryDef("q_pagerank", pagerank, pagerankSql),
    QueryDef("q_pagerank_incr", pagerankIncr, pagerankIncrSql),
    QueryDef("q_graph_components", graphComponents, graphComponentsSql),
    // the incremental fold is EXACT, so the batch oracle applies verbatim
    QueryDef("q_components_incr", graphComponentsIncr, graphComponentsSql),
    QueryDef("q_ppr", ppr, pprSql),
    QueryDef("q_token_entropy", tokenEntropy, tokenEntropySql),
    QueryDef("q_burstiness", burstiness, burstinessSql),
    QueryDef("q_event_paths", eventPaths, eventPathsSql),
    QueryDef("q_cluster_sample", clusterSample, clusterSampleSql),
    QueryDef("q_triangles", triangleCounts, triangleCountsSql),
    QueryDef("q_degree_dist", degreeDist, degreeDistSql),
    QueryDef("q_link_predict", linkPredict, linkPredictSql),
    QueryDef("q_random_walks", randomWalks, randomWalksSql),
    QueryDef("q_walk_pairs", walkPairs, walkPairsSql),
    QueryDef("q_kcore", kCore, kCoreSql),
    QueryDef("q_hard_negatives", hardNegatives, hardNegativesSql),
    QueryDef("q_knn_graph", knnGraph, knnGraphSql),
    QueryDef("q_bfs_hops", bfsHops, bfsHopsSql),
    QueryDef("q_k_anonymity", kAnonymity, kAnonymitySql),
    QueryDef("q_k_anon_ladder", kAnonLadder, kAnonLadderSql),
    QueryDef("q_k_anon_incr", kAnonIncr, kAnonIncrSql),
    QueryDef("q_l_diversity", lDiversity, lDiversitySql),
    QueryDef("q_generalize", generalize, generalizeSql),
    QueryDef("q_generalize_chosen", generalizeChosen, generalizeChosenSql),
    QueryDef("q_pii_risk", piiRisk, piiRiskSql),
    QueryDef("q_line_dedup", lineDedup, lineDedupSql),
    QueryDef("q_line_dedup_incr", lineDedupIncr, lineDedupIncrSql),
    QueryDef("q_mmr_rerank", mmrRerank, mmrRerankSql),
    QueryDef("q_quality_reg", qualityReg, qualityRegSql),
    QueryDef("q_split_safe", splitSafe, splitSafeSql),
    QueryDef("q_bpe_compression", bpeCompression, bpeCompressionSql),
    QueryDef("q_quality_reg_score", qualityRegScore, qualityRegScoreSql),
    QueryDef("q_fingerprint", fingerprint, fingerprintSql),
    QueryDef("q_fingerprint_rolling", fingerprintRolling, fingerprintRollingSql),
    QueryDef("q_scrub", scrub, scrubSql),
    QueryDef("q_html_strip", htmlStrip, htmlStripSql),
    QueryDef("q_normalize", normalize, normalizeSql),
    QueryDef("q_ngram_freq", ngramFreq, ngramFreqSql),
    QueryDef("q_vocab_coverage", vocabCoverage, vocabCoverageSql),
    QueryDef("q_sample_stratified", sampleStratified, sampleStratifiedSql),
    QueryDef("q_split", splitAssign, splitAssignSql),
    QueryDef("q_split_exact", splitExact, splitExactSql),
    QueryDef("q_pack_budget", packBudget, packBudgetSql),
    QueryDef("q_chunk", chunk, chunkSql),
    QueryDef("q_contamination", contamination, contaminationSql),
    QueryDef("q_repetition", repetition, repetitionSql),
    QueryDef("q_weighted_sample", weightedSample, weightedSampleSql),
    QueryDef("q_mix_sources", mixSources, mixSourcesSql),
    QueryDef("q_dsir_weights", dsirWeights, dsirWeightsSql),
    QueryDef("q_bigram_lm", bigramLm, bigramLmSql),
    QueryDef("q_mix_temperature", mixTemperature, mixTemperatureSql),
    // similarity
    QueryDef("q_ann_topk", annTopK, annTopKSql),
    QueryDef("q_ann_threshold", annThreshold, annThresholdSql),
    QueryDef("q_ann_lsh", annLsh, annLshSql),
    QueryDef("q_ivf_centroids", ivfCentroids, ivfCentroidsSql),
    QueryDef("q_ivf_cells", ivfCells, ivfCellsSql),
    QueryDef("q_ivf_purity", ivfPurity, ivfPuritySql),
    QueryDef("q_semdedup_pairs", semdedupPairs, semdedupPairsSql),
    QueryDef("q_semdedup_keep", semdedupKeep, semdedupKeepSql),
    QueryDef("q_semdedup_incr", semdedupIncr, semdedupIncrSql),
    QueryDef("q_ann_ivf", annIvf, annIvfSql),
    QueryDef("q_ann_ivf_probe", annIvfProbe, annIvfProbeSql),
    QueryDef("q_pq_codebooks", pqCodebooks, pqCodebooksSql),
    QueryDef("q_pq_codes", pqCodes, pqCodesSql),
    QueryDef("q_pq_encode_incr", pqEncodeIncr, pqEncodeIncrSql),
    QueryDef("q_ann_pq", annPq, annPqSql),
    QueryDef("q_ann_ivfpq", annIvfPq, annIvfPqSql),
    QueryDef("q_pqr_codebooks", pqrCodebooks, pqrCodebooksSql),
    QueryDef("q_pqr_codes", pqrCodes, pqrCodesSql),
    QueryDef("q_ann_ivfpq_r", annIvfPqResidual, annIvfPqResidualSql),
    QueryDef("q_pqr_prod_codebooks", pqrProdCodebooks, pqrProdCodebooksSql),
    QueryDef("q_pqr_prod_codes", pqrProdCodes, pqrProdCodesSql),
    QueryDef("q_ann_ivfpq_prod", annIvfPqProd, annIvfPqProdSql),
    // multimodal
    QueryDef("q_multimodal_meta", multimodalMeta, multimodalMetaSql),
    QueryDef("q_multimodal_feats", multimodalFeatures, multimodalFeaturesSql),
    QueryDef("q_audio_decode", audioDecode, audioDecodeSql),
    // relational / temporal joins (beyond-reference capabilities)
    QueryDef("q_asof_join", asofJoin, asofJoinSql),
    QueryDef("q_asof_forward", asofForward, asofForwardSql),
    QueryDef("q_asof_nearest", asofNearest, asofNearestSql),
    QueryDef("q_salted_join", saltedJoinQ, saltedJoinSql),
    QueryDef("q_range_join", rangeJoin, rangeJoinSql),
    QueryDef("q_sessionize", sessionize, sessionizeSql),
    QueryDef("q_rolling_mean", rollingMean, rollingMeanSql),
    QueryDef("q_rolling_corr", rollingCorr, rollingCorrSql),
    QueryDef("q_rolling_slope", rollingSlope, rollingSlopeSql),
    QueryDef("q_sliding_agg", slidingAgg, slidingAggSql),
    QueryDef("q_interp_grid", interpGrid, interpGridSql),
    QueryDef("q_ohlc", ohlc, ohlcSql),
    QueryDef("q_twap", twap, twapSql),
    QueryDef("q_vwap", vwapBars, vwapBarsSql),
    QueryDef("q_drawdown", drawdown, drawdownSql),
    QueryDef("q_cusum", cusum, cusumSql),
    QueryDef("q_cusum_online", cusumOnline, cusumOnlineSql),
    QueryDef("q_xcorr_lags", xcorrLags, xcorrLagsSql),
    QueryDef("q_embed_dim_stats", embedDimStats, embedDimStatsSql),
    QueryDef("q_embed_cov", embedCov, embedCovSql),
    QueryDef("q_embed_pca", embedPca, embedPcaSql),
    QueryDef("q_embed_pca_proj", embedPcaProj, embedPcaProjSql),
    QueryDef("q_embed_pca_topk", embedPcaTopk, embedPcaTopkSql),
    QueryDef("q_embed_whiten", embedWhiten, embedWhitenSql),
    QueryDef("q_embed_group_drift", embedGroupDrift, embedGroupDriftSql),
    QueryDef("q_embed_robust", embedRobust, embedRobustSql),
    QueryDef("q_embed_rank_grid", embedRankGrid, embedRankGridSql),
    QueryDef("q_embed_rank_norm", embedRankNorm, embedRankNormSql),
    QueryDef("q_bpe_pairs", bpePairs, bpePairsSql),
    QueryDef("q_spearman", spearman, spearmanSql),
    QueryDef("q_funnel", funnel, funnelSql),
    QueryDef("q_funnel_window", funnelWindow, funnelWindowSql),
    QueryDef("q_retention", retention, retentionSql),
    QueryDef("q_outliers_mad", outliersMad, outliersMadSql),
    QueryDef("q_profile", profile, profileSql),
    QueryDef("q_cooccur", cooccur, cooccurSql),
    QueryDef("q_source_drift", sourceDrift, sourceDriftSql),
    QueryDef("q_drift_incr", driftIncr, driftIncrSql),
    QueryDef("q_active_users", activeUsers, activeUsersSql),
    QueryDef("q_stickiness", stickiness, stickinessSql),
    QueryDef("q_transitions", transitions, transitionsSql),
    QueryDef("q_rolling_band", rollingBand, rollingBandSql),
    QueryDef("q_gaps", gapReport, gapReportSql),
    QueryDef("q_interval_join", intervalJoin, intervalJoinSql),
    QueryDef("q_outliers", outliers, outliersSql),
    QueryDef("q_winsorize", winsorized, winsorizedSql),
    QueryDef("q_winsorize_stats", winsorizedStats, winsorizedStatsSql),
    QueryDef("q_zorder", zorder, zorderSql),
    QueryDef("q_hilbert", hilbert, hilbertSql),
    QueryDef("q_zorder3", zorder3, zorder3Sql),
    QueryDef("q_cube", cubeTypes, cubeTypesSql),
    QueryDef("q_debounce", debounceQ, debounceSql),
    QueryDef("q_ewma", ewmaQ, ewmaSql),
    QueryDef("q_autocorr", autocorr, autocorrSql),
    QueryDef("q_trend", trend, trendSql),
    QueryDef("q_domain_quota", domainQuota, domainQuotaSql),
    QueryDef("q_url_extract", urlExtract, urlExtractSql),
    QueryDef("q_url_canonical", urlCanonical, urlCanonicalSql),
    QueryDef("q_dup_containment", dupContainment, dupContainmentSql),
    QueryDef("q_snapshot_diff", snapshotDiff, snapshotDiffSql),
    QueryDef("q_ngram_novelty", ngramNovelty, ngramNoveltySql),
    QueryDef("q_topk_per_key", topkPerKey, topkPerKeySql),
    QueryDef("q_pivot_types", pivotTypes, pivotTypesSql),
    QueryDef("q_histogram", histogram, histogramSql),
    QueryDef("q_decile", deciles, decilesSql),
    QueryDef("q_quantile_transform", quantileTransform, quantileTransformSql),
    QueryDef("q_term_lift", termLift, termLiftSql),
    QueryDef("q_approx_intersect", approxIntersect, approxIntersectSql),
    QueryDef("q_gif_frames", gifFrames, gifFramesSql),
    QueryDef("q_video_frames", videoFrames, videoFramesSql),
    QueryDef("q_video_meta", videoMeta, videoMetaSql),
    QueryDef("q_image_neardup", imageNearDup, imageNearDupSql),
    QueryDef("q_image_dedup_keep", imageDedupKeep, imageDedupKeepSql),
    QueryDef("q_image_dedup_incr", imageDedupIncr, imageDedupIncrSql),
    QueryDef("q_image_curate", imageCurate, imageCurateSql),
    QueryDef("q_exif_meta", exifMeta, exifMetaSql),
    QueryDef("q_video_neardup", videoNearDup, videoNearDupSql),
    QueryDef("q_video_curate", videoCurate, videoCurateSql),
    QueryDef("q_audio_neardup", audioNearDup, audioNearDupSql),
    QueryDef("q_audio_curate", audioCurate, audioCurateSql),
    QueryDef("q_gps_exposure", gpsExposure, gpsExposureSql),
    QueryDef("q_percentiles", percentiles, percentilesSql),
    QueryDef("q1_agg", q1Agg, q1AggSql),
    QueryDef("q_rollup", rollup, rollupSql),
    QueryDef("q_distinct", distinctCounts, distinctCountsSql),
    QueryDef("q_join_enrich", joinEnrich, joinEnrichSql),
    // sketches (approximate profiling with exact certificates)
    QueryDef("q_approx_distinct", approxDistinct, approxDistinctSql),
    QueryDef("q_sketch_union", sketchUnion, sketchUnionSql),
    QueryDef("q_bloom_probe", bloomProbe, bloomProbeSql),
    QueryDef("q_tfidf", tfidf, tfidfSql),
    QueryDef("q_unigram_score", unigram, unigramSql),
    QueryDef("q_layout_window", layoutWindow, layoutWindowSql),
    QueryDef("q_dedup_incremental", dedupIncremental, dedupIncrementalSql),
    QueryDef("q_dedup_incr_near", dedupIncrNear, dedupIncrNearSql),
    QueryDef("q_dup_ngram_frac", dupNgramFrac, dupNgramFracSql),
    QueryDef("q_json_extract", jsonExtract, jsonExtractSql),
    QueryDef("q_quality_filter", qualityFilter, qualityFilterSql),
    QueryDef("q_heavy_hitters", heavyHitters, heavyHittersSql),
    QueryDef("q_approx_percentiles", approxPercentiles, approxPercentilesSql)
    )
  }

  lazy val queries: Map[String, (SparkSession, String) => DataFrame] =
    queryDefs.map(d => d.name -> d.build).toMap

  lazy val oracleSql: Map[String, String] = queryDefs.map(d => d.name -> d.oracleSql).toMap
}
