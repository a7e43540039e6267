package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.geo.GeoQueries
import graft.model.{Analytics, Fact, Pricing}
import graft.merge.Upsert
import graft.ops.{Dedup, Graph, Multimodal, Reconcile, Similarity, TextStats}

/** Driver contract — one `queries` entry per implemented operator from
  * SURVEY.md §2, with a DuckDB-equivalent ANSI SQL oracle for each.
  *
  * Determinism rules shared by every query/oracle pair (see
  * graft.functions.Functions scaladoc): exact integer money math, one-shot
  * double divisions, second-truncated timestamps, total orderings, and
  * aliases identical on both sides (the driver compare sorts columns by
  * name before hashing).
  */
object SparkEntry {

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0.
    * Pins the session timezone defensively — the driver owns this session
    * and year()/decade derivations shift for midnight-UTC timestamps
    * under a non-UTC zone. */
  def entry(spark: SparkSession): DataFrame = {
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    Analytics.statsByNationRegionDecade(spark, "/root/testdata/sf0.001")
  }

  /** Name → query. Built once per JVM, like [[oracleSql]]: every
    * lookup reads the same map. */
  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "p2_p8_clean_events" -> (Fact.cleanEventsQuery _),
    "p3_epoch_roundtrip" -> (Fact.epochRoundtrip _),
    "p14_p18_fact_derive" -> (Fact.factDerive _),
    "d1_dedup_min" -> (Fact.dedupMin _),
    "u1_union_all" -> (Fact.unionAll _),
    "u2_except_intersect" -> (Fact.exceptIntersect _),
    "w1_window_dedup" -> (Analytics.windowDedup _),
    "w2_sessionize" -> (Analytics.sessionize _),
    "w6_funnel" -> (Analytics.funnelSteps _),
    "a18_robust_outliers" -> (Analytics.robustOutliers _),
    "w3_retention_cohorts" -> (Analytics.retentionCohorts _),
    "w4_moving_avg" -> (Analytics.movingAvg _),
    "tx10_normalize" -> (TextStats.normalizeQuery _),
    "t4_tumbling_windows" -> (Analytics.tumblingWindows _),
    "a1_watermark_incremental" -> (Analytics.watermarkIncremental _),
    "a2_stats_nation_region_decade" -> (Analytics.statsByNationRegionDecade _),
    "a3_yearly_stats" -> (Analytics.yearlyStats _),
    "a3b_yearly_delta" -> (Analytics.yearlyStatsWithDelta _),
    "a4_decade_stats" -> (Analytics.decadeStats _),
    "a5_max_by_nation" -> (Analytics.maxByNation _),
    "a10_rollup_stats" -> (Analytics.rollupStats _),
    "a14_cube_stats" -> (Analytics.cubeStats _),
    "a15_event_sequences" -> (Analytics.eventSequences _),
    "w5_ntile_quartiles" -> (Analytics.ntileQuartiles _),
    "a16_window_rank" -> (Analytics.windowRankStats _),
    "a17_grouping_sets" -> (Analytics.groupingSetsStats _),
    "a11_percentiles" -> (Analytics.percentileStats _),
    "a12_pivot_counts" -> (Analytics.pivotCounts _),
    "a13_topk_per_group" -> (Analytics.topKPerPriority _),
    "a6_severity_by_nation" -> (Analytics.severityByNation _),
    "a7_type_stats" -> (Analytics.typeStats _),
    "a8_conditional_ratio" -> (Analytics.conditionalRatio _),
    "o1_custom_sort" -> (Analytics.customKeySort _),
    "o3_top_sort_desc" -> (Analytics.topSortDesc _),
    "j1_spatial_join" -> (GeoQueries.spatialJoinQuery _),
    "j1b_spatial_composite" -> (GeoQueries.spatialJoinCompositeQuery _),
    "s3_geojson_flatten" -> (graft.ingest.Ingest.geojsonFlattenQuery _),
    "j2_place_lookup" -> (GeoQueries.placeLookupQuery _),
    "j3_customer_geo" -> (Analytics.customerGeo _),
    "j4_merge_upsert" -> (Upsert.mergeOrders _),
    "j5_merge_update" -> (Upsert.mergeUpdateOrders _),
    "j8_scd2_history" -> (Upsert.scd2History _),
    "j6_asof_join" -> (graft.ops.AsOf.asofQuery _),
    "j6b_asof_bucketed" -> (graft.ops.AsOf.asofBucketedQuery _),
    "j7_range_join" -> (graft.ops.RangeJoin.rangeJoinQuery _),
    "j10_overlap_join" -> (graft.ops.RangeJoin.overlapJoinQuery _),
    "q1_pricing_summary" -> (Pricing.pricingSummary _),
    "q1b_pricing_summary_wide" -> (Pricing.pricingSummaryWide _),
    "q3_shipping_priority" -> (Pricing.shippingPriority _),
    "q5_revenue_by_nation" -> (Pricing.revenueByNation _),
    "q18_large_volume" -> (Pricing.largeVolumeOrders _),
    "q17_small_qty_revenue" -> (Pricing.smallQtyRevenue _),
    "q4_priority_semi" -> (Pricing.returnedPriority _),
    "q13_custdist" -> (Pricing.custDistribution _),
    "q7_nation_volume" -> (Pricing.nationVolume _),
    "q10_returned_by_customer" -> (Pricing.returnedByCustomer _),
    "q14_promo_revenue" -> (Pricing.promoRevenue _),
    "q16a_never_bulk_parts" -> (Pricing.neverBulkParts _),
    "q19_bracket_revenue" -> (Pricing.bracketRevenue _),
    "q22_dormant_rich" -> (Pricing.dormantRich _),
    "q6_forecast_revenue" -> (Pricing.forecastRevenue _),
    "q12a_priority_classes" -> (Pricing.priorityClasses _),
    "q21a_sole_blame" -> (Pricing.soleBlame _),
    "q2a_min_cost_supplier" -> (Pricing.minCostSupplier _),
    "q11a_important_parts" -> (Pricing.importantParts _),
    "q20a_excess_suppliers" -> (Pricing.excessSuppliers _),
    "q8_market_share" -> (Pricing.marketShare _),
    "q9a_part_profit" -> (Pricing.partNameProfit _),
    "q15_top_supplier" -> (Pricing.topSupplier _),
    "p19_json_extract" -> (Fact.jsonExtract _),
    "j9_cdc_latest" -> (Upsert.cdcLatestMerge _),
    "rc1_keyed_diff" -> (Reconcile.keyedDiffQuery _),
    "hll1_lang_distinct" -> (graft.ops.Sketch.hllLangDistinct _),
    "ch1_chunk_windows" -> (graft.ops.Chunking.chunkWindows _),
    "ch2_chunk_boilerplate" -> (graft.ops.Chunking.chunkBoilerplate _),
    "dd24_url_canonical" -> (graft.ops.Curation.urlCanonicalDedup _),
    "lic1_license_gate" -> (graft.ops.Curation.licenseGate _),
    "smp8_token_budget" -> (graft.ops.Curation.tokenBudget _),
    "tx45_truncation_audit" -> (TextStats.truncationAudit _),
    "tx46_span_scrub" -> (TextStats.spanScrub _),
    "cms1_heavy_hitters" -> ((s, d) => graft.ops.Sketch.cmsHeavyHitters(s, d)),
    "hq1_histogram_quantiles" -> (graft.ops.Sketch.histQuantiles _),
    // training-data pipeline operators (SURVEY.md §7.6 / builder brief)
    "dd1_exact_dedup" -> (Dedup.exactDedup _),
    "dd2_minhash_lsh" -> ((s, d) => Dedup.minhashLshQuery(s, d)),
    "dd3_simhash" -> (Dedup.simhashQuery _),
    "dd4_ngram_jaccard" -> ((s, d) => Dedup.ngramJaccardPairs(s, d)),
    "dd5_embedding_neardup" -> ((s, d) => Dedup.embeddingNearDup(s, d)),
    "dd6_neardup_filter" -> (Dedup.nearDupFilter _),
    "dd7_dedup_clusters" -> ((s, d) => Dedup.dedupClusters(s, d)),
    "dd8_semantic_clusters" -> (Dedup.semanticClusters _),
    "dd9_simhash_pairs" -> ((s, d) => Dedup.simhashPairs(s, d)),
    "dd10_duplicate_spans" -> (Dedup.duplicateSpans _),
    "dd11_incremental_dedup" -> (Dedup.incrementalDedup _),
    "dd12_cluster_survivors" -> (Dedup.clusterSurvivors _),
    "dd13_duplicate_coverage" -> (Dedup.duplicateCoverage _),
    "dd14_containment_pairs" -> ((s, d) => Dedup.containmentPairs(s, d)),
    "dd15_minhash_estimate" -> (Dedup.minhashEstimate _),
    "sim1_brute_topk" -> (Similarity.bruteTopK _),
    "sim2_lsh_topk" -> (Similarity.lshTopK _),
    "sim3_ivf_topk" -> ((s, d) => Similarity.ivfTopK(s, d)),
    "sim4_knn_graph" -> ((s, d) => Similarity.knnGraph(s, d)),
    "sim5_label_centroids" -> (Similarity.labelCentroids _),
    "g1_knn_pagerank" -> ((s, d) => Similarity.knnPagerank(s, d)),
    "g2_knn_triangles" -> (Graph.knnTriangles _),
    "g3_knn_assortativity" -> (Graph.knnAssortativity _),
    "dd16_source_dup_stats" -> (Dedup.sourceDupStats _),
    "mm8_channel_stats" -> (Multimodal.channelStatsQuery _),
    "tx1_lang_id" -> (TextStats.langIdQuery _),
    "tx2_quality_score" -> (TextStats.qualityScore _),
    "tx23_surprisal" -> (TextStats.surprisalQuery _),
    "hll2_sketch_rollup" -> (graft.ops.Sketch.hllRollup _),
    "tx3_token_counts" -> (TextStats.tokenCounts _),
    "tx4_fingerprint" -> (TextStats.fingerprintQuery _),
    "tx5_train_test_split" -> (TextStats.trainTestSplit _),
    "tx6_vocabulary" -> (TextStats.vocabulary _),
    "tx7_corpus_filter" -> (TextStats.corpusFilter _),
    "tx8_repetition" -> (TextStats.repetitionStats _),
    "tx9_decontamination" -> (TextStats.decontamination _),
    "tx11_tfidf_topterms" -> ((s, d) => TextStats.tfidfTopTerms(s, d)),
    "tx12_sequence_packing" -> (TextStats.sequencePacking _),
    "tx13_source_cap" -> (TextStats.sourceCapSample _),
    "tx14_mixture_resample" -> (TextStats.mixtureResample _),
    "tx15_contamination_score" -> ((s, d) => TextStats.contaminationScore(s, d)),
    "tx16_df_prune" -> (TextStats.dfPrune _),
    "tx17_pii_redact" -> (TextStats.piiRedact _),
    "tx18_segment_dedup" -> (TextStats.segmentDedup _),
    "tx19_temperature_mix" -> (TextStats.temperatureMix _),
    "tx20_winnowing" -> (TextStats.winnow _),
    "tx21_token_shards" -> (TextStats.tokenShards _),
    "tx22_source_overlap" -> (TextStats.sourceOverlap _),
    "tx24_vocab_coverage" -> (TextStats.vocabCoverage _),
    "tx25_ngram_novelty" -> (TextStats.ngramNovelty _),
    "smp1_stratified_sample" -> (TextStats.stratifiedBalance _),
    "a19_trend_regression" -> (Analytics.trendRegression _),
    "w7_markov_transitions" -> (Analytics.markovTransitions _),
    "w8_conversion_latency" -> (Analytics.conversionLatency _),
    "pipe1_curation_audit" -> (graft.ops.Curation.curationAudit _),
    "dq1_constraint_audit" -> (graft.ops.Profile.constraintAudit _),
    "pf1_column_profile" -> (graft.ops.Profile.columnProfile _),
    "rc2_profile_drift" -> (graft.ops.Profile.profileDrift _),
    "dd17_lsh_recall" -> (Dedup.lshRecallAudit _),
    "bf1_bloom_decontam" -> (graft.ops.Sketch.bloomDecontaminate _),
    "mm1_binary_meta" -> (Multimodal.binaryMetaQuery _),
    "mm2_frame_sample" -> (Multimodal.frameSampleQuery _),
    "mm3_resize" -> (Multimodal.resizeQuery _),
    "mm4_perceptual_hash" -> (Multimodal.perceptualHashQuery _),
    "mm5_image_neardup" -> (Multimodal.imageNearDupQuery _),
    "mm6_audio_frames" -> (Multimodal.audioFrameQuery _),
    "mm7_onset_frames" -> (Multimodal.onsetFrameQuery _),
    "mm9_audio_health" -> (Multimodal.audioHealthQuery _),
    "tx26_zipf_stats" -> (TextStats.zipfStats _),
    "tx27_langid_agreement" -> (TextStats.langIdAgreement _),
    "smp2_weighted_sample" -> (TextStats.weightedSample _),
    "j11_nearest_event" -> (graft.ops.AsOf.nearestEventQuery _),
    "w9_touch_attribution" -> (Analytics.touchAttribution _),
    "w10_rfm_segments" -> (Analytics.rfmSegments _),
    "sim6_knn_recall" -> (Similarity.knnRecallAudit _),
    "tx28_boilerplate_catalog" -> (TextStats.boilerplateCatalog _),
    "w11_pit_features" -> (Analytics.pitFeatures _),
    "g4_knn_reciprocity" -> (Graph.knnReciprocity _),
    "tx29_bpe_pairs" -> (TextStats.bpePairs _),
    "t5_hopping_windows" -> (Analytics.hoppingWindows _),
    "t6_backfill_plan" -> (graft.model.Staging.backfillPlan _),
    "sim7_cluster_margins" -> (Similarity.clusterMargins _),
    "mm10_scene_cuts" -> (Multimodal.sceneCutQuery _),
    "kmv1_set_ops" -> (graft.ops.Sketch.kmvSetOps _),
    "rl1_record_linkage" -> (graft.ops.Linkage.recordLinkage _),
    "lay1_zorder" -> (graft.ops.Layout.zorderManifest _),
    "inc1_agg_maintenance" -> (graft.ops.Incremental.aggMaintenance _),
    "mm11_keyframes" -> (Multimodal.keyframeQuery _),
    "tx30_bpe_merge" -> (TextStats.bpeMergeRound _),
    "sim8_pq_adc" -> ((s, d) => Similarity.pqTopK(s, d)),
    "g5_link_prediction" -> (Graph.linkPrediction _),
    "skew1_salted_rollup" -> (graft.ops.Skew.saltedRollup _),
    "a20_cusum_changepoint" -> (Analytics.cusumChangepoint _),
    "mm12_video_neardup" -> (Multimodal.videoNearDupQuery _),
    "clf1_confusion" -> (graft.ops.Eval.confusionMatrix _),
    "clf2_class_metrics" -> (graft.ops.Eval.classMetrics _),
    "auc1_roc_slices" -> (graft.ops.Eval.rocAucSlices _),
    "cal1_calibration_bins" -> (graft.ops.Eval.calibrationBins _),
    "a21_autocorrelation" -> (Analytics.autocorrelation _),
    "u3_unpivot" -> (Fact.unpivotMetrics _),
    "priv1_k_anonymity" -> (graft.ops.Privacy.kAnonymityAudit _),
    "leak1_split_leakage" -> (graft.ops.Curation.splitLeakage _),
    "a22_dow_profile" -> (Analytics.dowProfile _),
    "smp3_negative_sampling" -> (graft.ops.Sampling.negativeSampling _),
    "a23_trimmed_stats" -> (Analytics.trimmedStats _),
    "w12_interval_union" -> (Analytics.intervalUnion _),
    "av1_sync_audit" -> (Multimodal.avSyncQuery _),
    "g6_kcore" -> (Graph.kCore _),
    "inc2_join_maintenance" -> (graft.ops.Incremental.joinMaintenance _),
    "tx31_lang_mixture" -> (TextStats.langMixture _),
    "j12_scd2_snapshot" -> (Upsert.scd2Snapshot _),
    "a24_ab_proportions" -> (Analytics.abProportions _),
    "dd18_cluster_cohesion" -> ((s, d) => Dedup.clusterCohesion(s, d)),
    "tx32_source_divergence" -> (TextStats.sourceDivergence _),
    "dq2_benford_audit" -> (graft.ops.Profile.benfordAudit _),
    "w13_gap_histogram" -> (Analytics.gapHistogram _),
    "tx33_vocab_growth" -> (TextStats.vocabGrowth _),
    "g7_bfs_landmarks" -> (Graph.bfsLandmarks _),
    "g8_label_modularity" -> (Graph.labelModularity _),
    "a25_mean_ci" -> (Analytics.meanCi _),
    "dd19_similarity_histogram" -> ((s, d) => Dedup.similarityHistogram(s, d)),
    "mm13_lowenergy_segments" -> (Multimodal.lowEnergySegmentsQuery _),
    "ord1_epoch_shuffle" -> (graft.ops.Sampling.epochShuffle _),
    "inc3_rolling_refresh" -> (graft.ops.Incremental.rollingRefresh _),
    "w14_dominant_period" -> (Analytics.dominantPeriod _),
    "dq3_fk_audit" -> (graft.ops.Profile.fkAudit _),
    "cal2_brier_decomposition" -> (graft.ops.Eval.brierDecomposition _),
    "rank1_ranking_metrics" -> (graft.ops.Eval.rankingMetrics _),
    "lift1_gains_table" -> (graft.ops.Eval.gainsTable _),
    "dq4_fd_audit" -> (graft.ops.Profile.fdAudit _),
    "mm14_aspect_buckets" -> (Multimodal.aspectBucketQuery _),
    "a26_gini_concentration" -> (Analytics.giniRevenue _),
    "a27_theil_sen" -> (Analytics.theilSen _),
    "w15_user_hhi" -> (Analytics.userHhi _),
    "tx34_type_token" -> (TextStats.typeTokenQuery _),
    "a28_dow_anova" -> (Analytics.dowAnova _),
    "w16_session_durations" -> (Analytics.sessionDurations _),
    "dq5_chisq_drift" -> (graft.ops.Profile.chisqDrift _),
    "pf2_price_histogram" -> (graft.ops.Profile.priceHistogram _),
    "g9_degree_histogram" -> (graft.ops.Graph.degreeHistogram _),
    "tx35_charclass_profile" -> (TextStats.charClassProfile _),
    "dq6_volume_anomaly" -> (graft.ops.Profile.volumeAnomaly _),
    "dq7_ks_drift" -> (graft.ops.Profile.ksDrift _),
    "pf3_correlation_matrix" -> (graft.ops.Profile.correlationMatrix _),
    "tx36_readability" -> (TextStats.readability _),
    "lay2_compaction_plan" -> (graft.ops.Layout.compactionPlan _),
    "a29_kendall_tau" -> (Analytics.kendallTau _),
    "ord2_curriculum" -> (graft.ops.Sampling.curriculumOrder _),
    "smp4_grouped_split" -> (graft.ops.Sampling.groupedSplit _),
    "dd20_cluster_histogram" -> ((s, d) => Dedup.clusterHistogram(s, d)),
    "sim9_triplet_mining" -> (Similarity.tripletMining _),
    "cal3_calibration_error" -> (graft.ops.Eval.calibrationError _),
    "a30_burstiness" -> (Analytics.burstiness _),
    "tx37_gopher_filter" -> (TextStats.gopherFilter _),
    "dq8_entropy_profile" -> (graft.ops.Profile.entropyProfile _),
    "mm15_audio_dynamics" -> (Multimodal.audioDynamicsQuery _),
    "a31_runs_test" -> ((s, d) => Analytics.runsTest(s, d)),
    "dq9_id_gap_audit" -> (graft.ops.Profile.idGapAudit _),
    "tx38_code_detect" -> (TextStats.codeDetect _),
    "tx39_gopher_repetition" -> ((s, d) => TextStats.gopherRepetition(s, d)),
    "w18_stickiness" -> (Analytics.stickiness _),
    "dq10_dup_rows" -> (graft.ops.Profile.dupRowAudit _),
    "sim10_centroid_drift" -> ((s, d) => Similarity.centroidDrift(s, d)),
    "ord3_packed_batches" -> (graft.ops.Sampling.packedBatches _),
    "w19_churn_cohorts" -> (Analytics.churnCohorts _),
    "dd21_df_spectrum" -> (Dedup.dfSpectrum _),
    "dd22_prefix_filter_audit" -> ((s, d) => Dedup.prefixFilterAudit(s, d)),
    "dq11_id_time_alignment" -> ((s, d) =>
      graft.ops.Profile.idTimeAlignment(s, d)),
    "w20_active_days" -> (Analytics.activeDays _),
    "g10_knn_label_mix" -> (graft.ops.Graph.knnLabelMix _),
    "g11_label_spread" -> ((s, d) => graft.ops.Graph.labelSpread(s, d)),
    "w21_new_returning" -> ((s, d) => Analytics.newVsReturning(s, d)),
    "a33_spearman" -> ((s, d) => Analytics.spearmanPairs(s, d)),
    "a35_seasonality_index" -> (Analytics.seasonalityIndex _),
    "sim11_range_search" -> ((s, d) => graft.ops.Similarity.rangeSearch(s, d)),
    "j13_asof_tolerance" -> (graft.ops.AsOf.asofToleranceQuery _),
    "smp5_kfold" -> (graft.ops.Sampling.kfoldAssignment _),
    "smp6_temperature_mix" -> (graft.ops.Sampling.temperatureMix _),
    "pf4_top_values" -> (graft.ops.Profile.topValues _),
    "a36_mann_kendall" -> ((s, d) => Analytics.mannKendall(s, d)),
    "clf3_cohens_kappa" -> ((s, d) => graft.ops.Eval.cohensKappa(s, d)),
    "tx40_garbled_text" -> ((s, d) => TextStats.garbledText(s, d)),
    "priv2_generalization_ladder" -> ((s, d) =>
      graft.ops.Privacy.generalizationLadder(s, d)),
    "mm16_audio_fingerprint" -> ((s, d) =>
      Multimodal.audioFingerprintQuery(s, d)),
    "a37_ewma_burst" -> ((s, d) => Analytics.ewmaBurst(s, d)),
    "rc3_threeway_merge" -> ((s, d) => Reconcile.threeWayMergeQuery(s, d)),
    "g12_landmark_centrality" -> ((s, d) =>
      Graph.landmarkCentrality(s, d)),
    "dq12_temporal_consistency" -> ((s, d) =>
      graft.ops.Profile.temporalConsistency(s, d)),
    "w22_cadence_regularity" -> ((s, d) => Analytics.cadenceRegularity(s, d)),
    "mm17_patch_stats" -> ((s, d) => Multimodal.patchStatsQuery(s, d)),
    "tx41_bigram_surprisal" -> ((s, d) => TextStats.bigramSurprisal(s, d)),
    "tx42_heaps_growth" -> ((s, d) => TextStats.heapsGrowth(s, d)),
    "tx43_reflm_filter" -> ((s, d) => TextStats.refLmFilter(s, d)),
    "sim12_truncation_audit" -> ((s, d) =>
      graft.ops.Similarity.truncationAudit(s, d)),
    "g13_pagerank_residuals" -> ((s, d) =>
      graft.ops.Similarity.pagerankResiduals(s, d)),
    "smp7_temporal_split" -> ((s, d) =>
      graft.ops.Sampling.temporalSplit(s, d)),
    "pr1_pr_curve" -> ((s, d) => graft.ops.Eval.prCurveSlices(s, d)),
    "mm18_sharpness" -> ((s, d) => Multimodal.sharpnessQuery(s, d)),
    "dd23_normalized_dedup" -> ((s, d) => Dedup.normalizedDedup(s, d)),
    "skew2_salted_join" -> (graft.ops.Skew.saltedJoinQuery _),
    "rl2_blocking_recall" -> ((s, d) =>
      graft.ops.Linkage.blockingRecall(s, d)),
    "hq2_exact_median" -> ((s, d) => graft.ops.Sketch.exactMedian(s, d)),
    "hq3_exact_quantiles" -> ((s, d) =>
      graft.ops.Sketch.exactQuantiles(s, d)),
    "priv3_t_closeness" -> ((s, d) => graft.ops.Privacy.tCloseness(s, d)),
    "tx44_backoff_lm" -> ((s, d) => TextStats.backoffLmFilter(s, d)),
    "inc4_distinct_maintenance" -> ((s, d) =>
      graft.ops.Sketch.distinctMaintenance(s, d)),
    "dq13_fanout_profile" -> ((s, d) =>
      graft.ops.Profile.fanoutProfile(s, d)),
  )

  // DuckDB dialect oracle per query. Table names match the parquet stems.
  val oracleSql: Map[String, String] = Map(
    "p2_p8_clean_events" ->
      """WITH ev AS (
        |  SELECT event_id, date_trunc('second', ts) AS ts_sec, event_type, value,
        |         CAST(regexp_extract(props, '"k": (\d+)', 1) AS INT) AS k
        |  FROM events)
        |SELECT event_id, CAST(ts_sec AS VARCHAR) AS ts_s, event_type, value,
        |       coalesce(CASE WHEN k < 20 THEN NULL ELSE k END, 0) AS depth
        |FROM ev
        |WHERE value IS NOT NULL AND value >= 0.5 AND value <= 450.0
        |  AND ts_sec >= TIMESTAMP '2024-01-01 00:00:00'
        |  AND ts_sec <= TIMESTAMP '2024-12-31 00:00:00'
        |ORDER BY event_id""".stripMargin,

    "p3_epoch_roundtrip" ->
      """SELECT event_id,
        |       epoch_ms(date_trunc('second', ts)) AS epoch_ms,
        |       CAST(make_timestamp(epoch_ms(date_trunc('second', ts)) * 1000) AS VARCHAR) AS ts_restored
        |FROM events ORDER BY event_id""".stripMargin,

    "p14_p18_fact_derive" ->
      """SELECT md5(concat_ws('-', coalesce(CAST(o_orderstatus AS VARCHAR), ''),
        |                          coalesce(CAST(o_orderkey AS VARCHAR), ''))) AS event_id,
        |       o_orderkey, o_orderstatus AS status,
        |       year(o_orderdate) AS event_year,
        |       CAST(floor(year(o_orderdate) / 10) * 10 AS BIGINT) AS event_decade,
        |       CASE WHEN o_totalprice >= 400000 THEN 'Great'
        |            WHEN o_totalprice >= 300000 THEN 'Major'
        |            WHEN o_totalprice >= 200000 THEN 'Strong'
        |            WHEN o_totalprice >= 100000 THEN 'Moderate'
        |            WHEN o_totalprice >= 50000  THEN 'Light'
        |            ELSE 'Minor' END AS severity,
        |       o_totalprice AS totalprice
        |FROM orders""".stripMargin,

    "d1_dedup_min" ->
      """SELECT user_id, event_type, min(event_id) AS survivor_id,
        |       count(*) AS n_dupes
        |FROM events GROUP BY user_id, event_type
        |ORDER BY user_id, event_type""".stripMargin,

    "u1_union_all" ->
      """SELECT event_id, event_type, value FROM events WHERE value > 400
        |UNION ALL
        |SELECT event_id, event_type, value FROM events WHERE event_type = 'signup'
        |ORDER BY event_id, value""".stripMargin,

    "w1_window_dedup" ->
      """SELECT user_id, event_type, event_id, value FROM (
        |  SELECT user_id, event_type, event_id, value,
        |         row_number() OVER (PARTITION BY user_id, event_type ORDER BY event_id) AS rn
        |  FROM events) t
        |WHERE rn = 1 ORDER BY user_id, event_type""".stripMargin,

    "w6_funnel" -> Analytics.funnelOracle(),
    "a18_robust_outliers" -> Analytics.robustOutliersOracle(),

    "w2_sessionize" ->
      """WITH ev AS (
        |  SELECT user_id, event_id, value, date_trunc('second', ts) AS ts_sec
        |  FROM events),
        |flagged AS (
        |  SELECT user_id, event_id, value, ts_sec,
        |    CASE WHEN lag(ts_sec, 1) OVER w IS NULL
        |           OR epoch(ts_sec) - epoch(lag(ts_sec, 1) OVER w) > 1800
        |         THEN 1 ELSE 0 END AS new_session
        |  FROM ev WINDOW w AS (PARTITION BY user_id ORDER BY ts_sec, event_id)),
        |numbered AS (
        |  SELECT user_id, event_id, value, ts_sec,
        |    CAST(sum(new_session) OVER (PARTITION BY user_id ORDER BY ts_sec, event_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS session_no
        |  FROM flagged)
        |SELECT user_id, session_no, count(*) AS n_events,
        |       CAST(min(ts_sec) AS VARCHAR) AS session_start,
        |       CAST(max(ts_sec) AS VARCHAR) AS session_end,
        |       CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS sum_value_cents
        |FROM numbered GROUP BY user_id, session_no
        |ORDER BY user_id, session_no""".stripMargin,

    "t4_tumbling_windows" ->
      """SELECT CAST(time_bucket(INTERVAL '1 day', ts) AS VARCHAR) AS win_start,
        |       CAST(time_bucket(INTERVAL '1 day', ts) + INTERVAL '1 day' AS VARCHAR) AS win_end,
        |       event_type, count(*) AS n,
        |       CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS sum_value_cents
        |FROM events GROUP BY win_start, win_end, event_type
        |ORDER BY win_start, event_type""".stripMargin,

    "a1_watermark_incremental" ->
      """WITH ev AS (SELECT event_id, event_type, date_trunc('second', ts) AS ts_sec FROM events),
        |wm AS (SELECT max(ts_sec) AS wm FROM ev WHERE event_type = 'signup')
        |SELECT event_id, event_type, CAST(ts_sec AS VARCHAR) AS ts_s
        |FROM ev, wm WHERE ts_sec > wm ORDER BY event_id""".stripMargin,

    "a2_stats_nation_region_decade" ->
      """SELECT n.n_name AS nation, r.r_name AS region_name,
        |       CAST(floor(year(o.o_orderdate) / 10) * 10 AS BIGINT) AS decade,
        |       count(*) AS frequency,
        |       CAST(sum(CAST(round(o.o_totalprice * 100) AS BIGINT)) AS BIGINT) AS sum_price_cents,
        |       CAST(sum(CAST(round(o.o_totalprice * 100) AS BIGINT)) AS BIGINT) / count(*) / 100.0 AS avg_price
        |FROM orders o
        |LEFT JOIN customer c ON o.o_custkey = c.c_custkey
        |LEFT JOIN nation n ON c.c_nationkey = n.n_nationkey
        |LEFT JOIN region r ON n.n_regionkey = r.r_regionkey
        |GROUP BY nation, region_name, decade
        |ORDER BY frequency DESC, nation, region_name, decade""".stripMargin,

    "a3_yearly_stats" ->
      """SELECT year(o_orderdate) AS event_year, count(*) AS event_frequency,
        |       CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS sum_price_cents,
        |       CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT) / count(*) / 100.0 AS avg_price
        |FROM orders GROUP BY event_year ORDER BY event_year""".stripMargin,

    "a3b_yearly_delta" ->
      """WITH y AS (
        |  SELECT year(o_orderdate) AS event_year, count(*) AS event_frequency,
        |         CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS sum_price_cents,
        |         CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT) / count(*) / 100.0 AS avg_price
        |  FROM orders GROUP BY event_year)
        |SELECT event_year, event_frequency, sum_price_cents, avg_price,
        |       lag(event_frequency, 1) OVER (ORDER BY event_year) AS prev_frequency,
        |       event_frequency - coalesce(lag(event_frequency, 1) OVER (ORDER BY event_year), 0) AS frequency_delta
        |FROM y ORDER BY event_year""".stripMargin,

    "a4_decade_stats" ->
      """SELECT CAST(floor(year(o_orderdate) / 10) * 10 AS BIGINT) AS event_decade,
        |       count(*) AS event_frequency,
        |       CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS sum_price_cents,
        |       CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT) / count(*) / 100.0 AS avg_price
        |FROM orders GROUP BY event_decade ORDER BY event_decade""".stripMargin,

    "a5_max_by_nation" ->
      """SELECT n.n_name AS nation, max(c.c_acctbal) AS max_acctbal,
        |       count(*) AS n_customers
        |FROM customer c LEFT JOIN nation n ON c.c_nationkey = n.n_nationkey
        |GROUP BY nation ORDER BY max_acctbal DESC, nation""".stripMargin,

    "a10_rollup_stats" ->
      """SELECT o_orderpriority AS priority, year(o_orderdate) AS event_year,
        |       count(*) AS frequency,
        |       CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS sum_price_cents
        |FROM orders
        |GROUP BY ROLLUP(priority, event_year)
        |ORDER BY priority NULLS FIRST, event_year NULLS FIRST""".stripMargin,

    "a14_cube_stats" ->
      """SELECT o_orderpriority AS priority, year(o_orderdate) AS event_year,
        |       count(*) AS frequency,
        |       CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS sum_price_cents
        |FROM orders
        |GROUP BY CUBE(priority, event_year)
        |ORDER BY priority NULLS FIRST, event_year NULLS FIRST""".stripMargin,

    "a16_window_rank" ->
      """SELECT priority, totalprice_cents, o_orderkey,
        |       percent_rank() OVER w AS pr,
        |       cume_dist() OVER w AS cd,
        |       totalprice_cents - coalesce(lag(totalprice_cents, 1) OVER w,
        |                                   totalprice_cents) AS prev_delta
        |FROM (SELECT o_orderpriority AS priority,
        |             CAST(round(o_totalprice * 100) AS BIGINT) AS totalprice_cents,
        |             o_orderkey
        |      FROM orders) t
        |WINDOW w AS (PARTITION BY priority
        |             ORDER BY totalprice_cents, o_orderkey)
        |ORDER BY priority, totalprice_cents, o_orderkey""".stripMargin,

    "a17_grouping_sets" ->
      """SELECT status, priority, frequency, sum_price_cents,
        |       CASE WHEN status IS NULL AND priority IS NULL THEN 3
        |            WHEN priority IS NULL THEN 1 ELSE 0 END AS set_id
        |FROM (
        |  SELECT o_orderstatus AS status, o_orderpriority AS priority,
        |         count(*) AS frequency,
        |         CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
        |           AS sum_price_cents
        |  FROM orders
        |  GROUP BY GROUPING SETS ((o_orderstatus),
        |                          (o_orderstatus, o_orderpriority), ())) t
        |ORDER BY set_id, status NULLS FIRST, priority NULLS FIRST""".stripMargin,

    "w5_ntile_quartiles" ->
      """WITH t AS (
        |  SELECT o_orderpriority AS priority,
        |         CAST(round(o_totalprice * 100) AS BIGINT) AS totalprice_cents,
        |         o_orderkey,
        |         CAST(ntile(4) OVER (PARTITION BY o_orderpriority
        |           ORDER BY CAST(round(o_totalprice * 100) AS BIGINT),
        |                    o_orderkey) AS BIGINT) AS quartile
        |  FROM orders)
        |SELECT priority, quartile, count(*) AS n_orders,
        |       min(totalprice_cents) AS min_cents,
        |       max(totalprice_cents) AS max_cents
        |FROM t GROUP BY priority, quartile
        |ORDER BY priority, quartile""".stripMargin,

    "q4_priority_semi" -> Pricing.returnedPriorityOracle,
    "a15_event_sequences" -> Analytics.eventSequencesOracle,
    "q13_custdist" -> Pricing.custDistributionOracle,
    "q7_nation_volume" -> Pricing.nationVolumeOracle,
    "q10_returned_by_customer" -> Pricing.returnedByCustomerOracle,
    "q14_promo_revenue" -> Pricing.promoRevenueOracle,
    "q16a_never_bulk_parts" -> Pricing.neverBulkPartsOracle,
    "q19_bracket_revenue" -> Pricing.bracketRevenueOracle,
    "q22_dormant_rich" -> Pricing.dormantRichOracle,
    "u2_except_intersect" -> Fact.exceptIntersectOracle,
    "j9_cdc_latest" -> Upsert.cdcLatestMergeOracle,
    "rc1_keyed_diff" -> Reconcile.keyedDiffOracle,
    "hll1_lang_distinct" -> graft.ops.Sketch.hllLangDistinctOracle,
    "ch1_chunk_windows" -> graft.ops.Chunking.chunkWindowsOracle,
    "ch2_chunk_boilerplate" -> graft.ops.Chunking.chunkBoilerplateOracle,
    "dd24_url_canonical" -> graft.ops.Curation.urlCanonicalDedupOracle,
    "lic1_license_gate" -> graft.ops.Curation.licenseGateOracle,
    "smp8_token_budget" -> graft.ops.Curation.tokenBudgetOracle,
    "tx45_truncation_audit" -> TextStats.truncationAuditOracle,
    "tx46_span_scrub" -> TextStats.spanScrubOracle,
    "cms1_heavy_hitters" -> graft.ops.Sketch.cmsHeavyHittersOracle,
    "bf1_bloom_decontam" -> graft.ops.Sketch.bloomDecontaminateOracle,
    "hq1_histogram_quantiles" -> graft.ops.Sketch.histQuantilesOracle,
    "q6_forecast_revenue" -> Pricing.forecastRevenueOracle,
    "q12a_priority_classes" -> Pricing.priorityClassesOracle,
    "q21a_sole_blame" -> Pricing.soleBlameOracle,
    "q2a_min_cost_supplier" -> Pricing.minCostSupplierOracle,
    "q11a_important_parts" -> Pricing.importantPartsOracle,
    "q20a_excess_suppliers" -> Pricing.excessSuppliersOracle,
    "q8_market_share" -> Pricing.marketShareOracle,
    "q9a_part_profit" -> Pricing.partNameProfitOracle,
    "q15_top_supplier" -> Pricing.topSupplierOracle,
    "p19_json_extract" -> Fact.jsonExtractOracle,

    "tx11_tfidf_topterms" -> TextStats.tfidfTopTermsOracle,
    "tx12_sequence_packing" -> TextStats.sequencePackingOracle,
    "tx13_source_cap" -> TextStats.sourceCapSampleOracle,
    "tx14_mixture_resample" -> TextStats.mixtureResampleOracle,
    "tx15_contamination_score" -> TextStats.contaminationScoreOracle,
    "tx16_df_prune" -> TextStats.dfPruneOracle,
    "tx17_pii_redact" -> TextStats.piiRedactOracle,
    "tx18_segment_dedup" -> TextStats.segmentDedupOracle,
    "tx19_temperature_mix" -> TextStats.temperatureMixOracle,
    "tx20_winnowing" -> TextStats.winnowOracle,
    "tx21_token_shards" -> TextStats.tokenShardsOracle,
    "tx22_source_overlap" -> TextStats.sourceOverlapOracle,
    "tx24_vocab_coverage" -> TextStats.vocabCoverageOracle,
    "tx25_ngram_novelty" -> TextStats.ngramNoveltyOracle,
    "smp1_stratified_sample" -> TextStats.stratifiedBalanceOracle,
    "a19_trend_regression" -> Analytics.trendRegressionOracle,
    "w7_markov_transitions" -> Analytics.markovTransitionsOracle,
    "w8_conversion_latency" -> Analytics.conversionLatencyOracle,
    "pipe1_curation_audit" -> graft.ops.Curation.curationAuditOracle,
    "dq1_constraint_audit" -> graft.ops.Profile.constraintAuditOracle,
    "pf1_column_profile" -> graft.ops.Profile.columnProfileOracle,
    "rc2_profile_drift" -> graft.ops.Profile.profileDriftOracle,
    "dd17_lsh_recall" -> Dedup.lshRecallAuditOracle,

    "a11_percentiles" ->
      """SELECT o_orderpriority AS priority,
        |       quantile_cont(o_totalprice, 0.5) AS p50_price,
        |       quantile_cont(o_totalprice, 0.9) AS p90_price,
        |       count(*) AS frequency
        |FROM orders GROUP BY priority ORDER BY priority""".stripMargin,

    "a12_pivot_counts" ->
      """SELECT CAST(user_id % 10 AS INT) AS user_decile,
        |       CAST(sum(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) AS BIGINT) AS click,
        |       CAST(sum(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END) AS BIGINT) AS error,
        |       CAST(sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS BIGINT) AS purchase,
        |       CAST(sum(CASE WHEN event_type = 'signup' THEN 1 ELSE 0 END) AS BIGINT) AS signup,
        |       CAST(sum(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END) AS BIGINT) AS view
        |FROM events GROUP BY user_decile ORDER BY user_decile""".stripMargin,

    "a13_topk_per_group" ->
      """SELECT priority, rank, o_orderkey, totalprice_cents FROM (
        |  SELECT o_orderpriority AS priority,
        |         CAST(round(o_totalprice * 100) AS BIGINT) AS totalprice_cents,
        |         o_orderkey,
        |         row_number() OVER (PARTITION BY o_orderpriority
        |           ORDER BY CAST(round(o_totalprice * 100) AS BIGINT) DESC,
        |                    o_orderkey) AS rank
        |  FROM orders) t
        |WHERE rank <= 5 ORDER BY priority, rank""".stripMargin,

    "a6_severity_by_nation" ->
      """SELECT n.n_name AS nation,
        |       CASE WHEN o.o_totalprice >= 400000 THEN 'Great'
        |            WHEN o.o_totalprice >= 300000 THEN 'Major'
        |            WHEN o.o_totalprice >= 200000 THEN 'Strong'
        |            WHEN o.o_totalprice >= 100000 THEN 'Moderate'
        |            WHEN o.o_totalprice >= 50000  THEN 'Light'
        |            ELSE 'Minor' END AS severity,
        |       count(*) AS frequency
        |FROM orders o
        |LEFT JOIN customer c ON o.o_custkey = c.c_custkey
        |LEFT JOIN nation n ON c.c_nationkey = n.n_nationkey
        |GROUP BY nation, severity
        |ORDER BY nation,
        |  CASE severity WHEN 'Great' THEN 1 WHEN 'Major' THEN 2 WHEN 'Strong' THEN 3
        |                WHEN 'Moderate' THEN 4 WHEN 'Light' THEN 5 ELSE 6 END""".stripMargin,

    "a7_type_stats" ->
      """SELECT event_type, count(*) AS frequency,
        |       CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS sum_value_cents,
        |       CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) / count(*) / 100.0 AS avg_value
        |FROM events WHERE event_type IS NOT NULL
        |GROUP BY event_type ORDER BY frequency DESC, event_type""".stripMargin,

    "a8_conditional_ratio" ->
      """SELECT l_linestatus AS linestatus,
        |       CAST(sum(CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END) AS BIGINT) AS n_returned,
        |       count(*) AS n_total,
        |       CAST(sum(CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END) AS BIGINT) / count(*) * 100 AS pct_returned
        |FROM lineitem GROUP BY linestatus
        |ORDER BY pct_returned DESC, linestatus""".stripMargin,

    "o1_custom_sort" ->
      """SELECT o_orderkey, o_orderpriority AS priority,
        |       CASE o_orderpriority WHEN '1-URGENT' THEN 1 WHEN '2-HIGH' THEN 2
        |            WHEN '3-MEDIUM' THEN 3 WHEN '4-NOT SPECIFIED' THEN 4
        |            ELSE 5 END AS priority_rank,
        |       o_totalprice AS totalprice
        |FROM orders WHERE o_totalprice > 450000
        |ORDER BY priority_rank, totalprice DESC, o_orderkey""".stripMargin,

    "o3_top_sort_desc" ->
      """SELECT event_id, event_type, value, user_id FROM events
        |WHERE value > 50 ORDER BY value DESC, event_id""".stripMargin,

    "j1_spatial_join" -> GeoQueries.spatialJoinOracle,

    "j1b_spatial_composite" -> GeoQueries.spatialJoinCompositeOracle,

    "s3_geojson_flatten" -> graft.ingest.Ingest.geojsonFlattenOracle,

    "j2_place_lookup" -> GeoQueries.placeLookupOracle,

    "j3_customer_geo" ->
      """SELECT c.c_custkey, c.c_name, n.n_name AS nation, r.r_name AS region_name
        |FROM customer c
        |LEFT JOIN nation n ON c.c_nationkey = n.n_nationkey
        |LEFT JOIN region r ON n.n_regionkey = r.r_regionkey
        |ORDER BY c_custkey""".stripMargin,

    "j4_merge_upsert" ->
      """WITH target AS (
        |  SELECT o_orderkey, 'existing' AS src FROM orders
        |  WHERE o_orderdate < TIMESTAMP '2000-01-01 00:00:00'),
        |incoming AS (
        |  SELECT o_orderkey, 'inserted' AS src FROM orders
        |  WHERE o_totalprice > 300000)
        |SELECT * FROM target
        |UNION ALL
        |SELECT i.* FROM incoming i
        |WHERE NOT EXISTS (SELECT 1 FROM target t WHERE t.o_orderkey = i.o_orderkey)
        |ORDER BY o_orderkey""".stripMargin,

    "q1_pricing_summary" ->
      """WITH li AS (
        |  SELECT l_returnflag, l_linestatus,
        |         CAST(round(l_quantity * 100) AS BIGINT) AS q,
        |         CAST(round(l_extendedprice * 100) AS BIGINT) AS p,
        |         CAST(round(l_discount * 100) AS BIGINT) AS dd,
        |         CAST(round(l_tax * 100) AS BIGINT) AS t
        |  FROM lineitem
        |  WHERE l_shipdate <= TIMESTAMP '2001-06-01 00:00:00')
        |SELECT l_returnflag, l_linestatus,
        |       CAST(sum(q) AS BIGINT) AS sum_qty_cents,
        |       CAST(sum(p) AS BIGINT) AS sum_base_cents,
        |       CAST(sum(p * (100 - dd)) AS BIGINT) AS sum_disc_e4,
        |       CAST(sum(p * (100 - dd) * (100 + t)) AS BIGINT) AS sum_charge_e6,
        |       count(*) AS count_order,
        |       CAST(sum(q) AS BIGINT) / count(*) / 100.0 AS avg_qty,
        |       CAST(sum(p) AS BIGINT) / count(*) / 100.0 AS avg_price
        |FROM li GROUP BY l_returnflag, l_linestatus
        |ORDER BY l_returnflag, l_linestatus""".stripMargin,

    "q1b_pricing_summary_wide" ->
      """WITH li AS (
        |  SELECT l_returnflag, l_linestatus,
        |         CAST(round(l_quantity * 100) AS BIGINT) AS q,
        |         CAST(round(l_extendedprice * 100) AS BIGINT) AS p,
        |         CAST(round(l_discount * 100) AS BIGINT) AS dd,
        |         CAST(round(l_tax * 100) AS BIGINT) AS t
        |  FROM lineitem
        |  WHERE l_shipdate <= TIMESTAMP '2001-06-01 00:00:00')
        |SELECT l_returnflag, l_linestatus,
        |       CAST(sum(q) AS VARCHAR) AS sum_qty_cents,
        |       CAST(sum(p) AS VARCHAR) AS sum_base_cents,
        |       CAST(sum(p * (100 - dd)) AS VARCHAR) AS sum_disc_e4,
        |       CAST(sum(p * (100 - dd) * (100 + t)) AS VARCHAR) AS sum_charge_e6,
        |       count(*) AS count_order,
        |       CAST(sum(q) AS DOUBLE) / count(*) / 100.0 AS avg_qty,
        |       CAST(sum(p) AS DOUBLE) / count(*) / 100.0 AS avg_price
        |FROM li GROUP BY l_returnflag, l_linestatus
        |ORDER BY l_returnflag, l_linestatus""".stripMargin,

    "j5_merge_update" ->
      """WITH target AS (
        |  SELECT o_orderkey, 'existing' AS src FROM orders
        |  WHERE o_orderdate < TIMESTAMP '2000-01-01 00:00:00'),
        |incoming AS (
        |  SELECT o_orderkey, 'updated' AS src FROM orders
        |  WHERE o_totalprice > 300000)
        |SELECT t.* FROM target t
        |WHERE NOT EXISTS (SELECT 1 FROM incoming i WHERE i.o_orderkey = t.o_orderkey)
        |UNION ALL
        |SELECT * FROM incoming
        |ORDER BY o_orderkey""".stripMargin,

    "q3_shipping_priority" ->
      """SELECT o.o_orderkey,
        |       CAST(CAST(o.o_orderdate AS DATE) AS VARCHAR) AS orderdate,
        |       CAST(sum(CAST(round(l.l_extendedprice * 100) AS BIGINT) *
        |                (100 - CAST(round(l.l_discount * 100) AS BIGINT))) AS BIGINT) AS revenue_e4
        |FROM orders o
        |JOIN customer c ON o.o_custkey = c.c_custkey AND c.c_mktsegment = 'BUILDING'
        |JOIN lineitem l ON o.o_orderkey = l.l_orderkey
        |WHERE o.o_orderdate < TIMESTAMP '1998-01-01 00:00:00'
        |  AND l.l_shipdate > TIMESTAMP '1998-01-01 00:00:00'
        |GROUP BY o.o_orderkey, orderdate
        |ORDER BY revenue_e4 DESC, o.o_orderkey""".stripMargin,

    "q5_revenue_by_nation" ->
      """SELECT n.n_name AS nation, r.r_name AS region_name,
        |       CAST(sum(CAST(round(l.l_extendedprice * 100) AS BIGINT) *
        |                (100 - CAST(round(l.l_discount * 100) AS BIGINT))) AS BIGINT) AS revenue_e4,
        |       count(*) AS n_items
        |FROM lineitem l
        |JOIN orders o ON l.l_orderkey = o.o_orderkey
        |JOIN customer c ON o.o_custkey = c.c_custkey
        |JOIN nation n ON c.c_nationkey = n.n_nationkey
        |JOIN region r ON n.n_regionkey = r.r_regionkey
        |WHERE o.o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
        |  AND o.o_orderdate < TIMESTAMP '1998-01-01 00:00:00'
        |GROUP BY nation, region_name
        |ORDER BY revenue_e4 DESC, nation""".stripMargin,

    "j8_scd2_history" -> Upsert.scd2HistoryOracle,
    "j6_asof_join" -> graft.ops.AsOf.asofOracle,
    "j6b_asof_bucketed" -> graft.ops.AsOf.asofOracle,
    "w3_retention_cohorts" ->
      """WITH ev AS (
        |  SELECT user_id, CAST(date_trunc('week', ts) AS DATE) AS w
        |  FROM events WHERE ts IS NOT NULL),
        |c AS (SELECT user_id, min(w) AS cohort_week FROM ev GROUP BY user_id)
        |SELECT CAST(c.cohort_week AS VARCHAR) AS cohort_week,
        |       CAST(e.w AS VARCHAR) AS activity_week,
        |       CAST(datediff('day', c.cohort_week, e.w) / 7 AS BIGINT) AS weeks_since,
        |       count(DISTINCT e.user_id) AS active_users
        |FROM ev e JOIN c USING (user_id)
        |GROUP BY c.cohort_week, e.w
        |ORDER BY cohort_week, activity_week""".stripMargin,
    "j7_range_join" -> graft.ops.RangeJoin.rangeJoinOracle,
    "j10_overlap_join" -> graft.ops.RangeJoin.overlapJoinOracle,

    "q18_large_volume" -> Pricing.largeVolumeOrdersOracle,
    "q17_small_qty_revenue" -> Pricing.smallQtyRevenueOracle,

    "dd1_exact_dedup" -> Dedup.exactDedupOracle,
    "dd2_minhash_lsh" -> Dedup.minhashLshOracle,
    "dd3_simhash" -> Dedup.simhashOracle,
    "dd4_ngram_jaccard" -> Dedup.ngramJaccardOracle,
    "dd5_embedding_neardup" -> Dedup.embeddingNearDupOracle,
    "dd6_neardup_filter" -> Dedup.nearDupFilterOracle,
    "dd7_dedup_clusters" -> Dedup.dedupClustersOracle,
    "dd8_semantic_clusters" -> Dedup.semanticClustersOracle,
    "dd9_simhash_pairs" -> Dedup.simhashPairsOracle,
    "dd10_duplicate_spans" -> Dedup.duplicateSpansOracle,
    "dd11_incremental_dedup" -> Dedup.incrementalDedupOracle,
    "dd12_cluster_survivors" -> Dedup.clusterSurvivorsOracle,
    "dd13_duplicate_coverage" -> Dedup.duplicateCoverageOracle,
    "dd14_containment_pairs" -> Dedup.containmentOracle,
    "dd15_minhash_estimate" -> Dedup.minhashEstimateOracle,
    "sim1_brute_topk" -> Similarity.bruteTopKOracle,
    "sim2_lsh_topk" -> Similarity.lshTopKOracle,
    "sim3_ivf_topk" -> Similarity.ivfOracle,
    "sim4_knn_graph" -> Similarity.knnGraphOracle(),
    "sim5_label_centroids" -> Similarity.labelCentroidsOracle,
    "g1_knn_pagerank" -> Similarity.knnPagerankOracle(),
    "g2_knn_triangles" -> Graph.knnTrianglesOracle(),
    "g3_knn_assortativity" -> Graph.knnAssortativityOracle,
    "dd16_source_dup_stats" -> Dedup.sourceDupStatsOracle,
    "mm8_channel_stats" -> Multimodal.channelStatsOracle,
    "tx1_lang_id" -> TextStats.langIdOracle,
    "tx2_quality_score" -> TextStats.qualityOracle,
    "tx23_surprisal" -> TextStats.surprisalOracle,
    "hll2_sketch_rollup" -> graft.ops.Sketch.hllRollupOracle,
    "tx3_token_counts" -> TextStats.tokenCountsOracle,
    "tx4_fingerprint" -> TextStats.fingerprintOracle,
    "tx5_train_test_split" -> TextStats.trainTestSplitOracle,
    "tx6_vocabulary" -> TextStats.vocabularyOracle,
    "tx7_corpus_filter" -> TextStats.corpusFilterOracle,
    "tx8_repetition" -> TextStats.repetitionStatsOracle,
    "tx9_decontamination" -> TextStats.decontaminationOracle,
    "tx10_normalize" -> TextStats.normalizeOracle,
    "w4_moving_avg" ->
      """WITH daily AS (
        |  SELECT CAST(date_trunc('day', ts) AS DATE) AS day, count(*) AS n
        |  FROM events WHERE ts IS NOT NULL GROUP BY day)
        |SELECT CAST(day AS VARCHAR) AS day, n,
        |  CAST(sum(n) OVER w AS BIGINT) AS sum_7d,
        |  CAST(count(*) OVER w AS BIGINT) AS n_days_7d,
        |  CAST(sum(n) OVER w AS BIGINT) / CAST(count(*) OVER w AS BIGINT) AS avg_7d
        |FROM daily
        |WINDOW w AS (ORDER BY day ROWS BETWEEN 6 PRECEDING AND CURRENT ROW)
        |ORDER BY day""".stripMargin,
    "mm1_binary_meta" -> Multimodal.binaryMetaOracle,
    "mm2_frame_sample" -> Multimodal.frameSampleOracle,
    "mm3_resize" -> Multimodal.resizeOracle,
    "mm4_perceptual_hash" -> Multimodal.perceptualHashOracle,
    "mm5_image_neardup" -> Multimodal.imageNearDupOracle,
    "mm6_audio_frames" -> Multimodal.audioFrameOracle,
    "mm7_onset_frames" -> Multimodal.onsetFrameOracle,
    "mm9_audio_health" -> Multimodal.audioHealthOracle,
    "tx26_zipf_stats" -> TextStats.zipfStatsOracle,
    "tx27_langid_agreement" -> TextStats.langIdAgreementOracle,
    "smp2_weighted_sample" -> TextStats.weightedSampleOracle,
    "j11_nearest_event" -> graft.ops.AsOf.nearestEventOracle,
    "w9_touch_attribution" -> Analytics.touchAttributionOracle,
    "w10_rfm_segments" -> Analytics.rfmSegmentsOracle,
    "sim6_knn_recall" -> Similarity.knnRecallAuditOracle(),
    "tx28_boilerplate_catalog" -> TextStats.boilerplateCatalogOracle,
    "w11_pit_features" -> Analytics.pitFeaturesOracle,
    "g4_knn_reciprocity" -> Graph.knnReciprocityOracle(),
    "tx29_bpe_pairs" -> TextStats.bpePairsOracle,
    "t5_hopping_windows" -> Analytics.hoppingWindowsOracle,
    "t6_backfill_plan" -> graft.model.Staging.backfillPlanOracle,
    "sim7_cluster_margins" -> Similarity.clusterMarginsOracle,
    "mm10_scene_cuts" -> Multimodal.sceneCutOracle,
    "kmv1_set_ops" -> graft.ops.Sketch.kmvSetOpsOracle,
    "rl1_record_linkage" -> graft.ops.Linkage.recordLinkageOracle,
    "lay1_zorder" -> graft.ops.Layout.zorderManifestOracle,
    "inc1_agg_maintenance" -> graft.ops.Incremental.aggMaintenanceOracle,
    "mm11_keyframes" -> Multimodal.keyframeOracle,
    "tx30_bpe_merge" -> TextStats.bpeMergeRoundOracle,
    "sim8_pq_adc" -> Similarity.pqTopKOracle,
    "g5_link_prediction" -> Graph.linkPredictionOracle(),
    "skew1_salted_rollup" -> graft.ops.Skew.saltedRollupOracle,
    "a20_cusum_changepoint" -> Analytics.cusumChangepointOracle,
    "mm12_video_neardup" -> Multimodal.videoNearDupOracle,
    "clf1_confusion" -> graft.ops.Eval.confusionMatrixOracle,
    "clf2_class_metrics" -> graft.ops.Eval.classMetricsOracle,
    "auc1_roc_slices" -> graft.ops.Eval.rocAucSlicesOracle,
    "cal1_calibration_bins" -> graft.ops.Eval.calibrationBinsOracle,
    "a21_autocorrelation" -> Analytics.autocorrelationOracle,
    "u3_unpivot" -> Fact.unpivotMetricsOracle,
    "priv1_k_anonymity" -> graft.ops.Privacy.kAnonymityAuditOracle,
    "leak1_split_leakage" -> graft.ops.Curation.splitLeakageOracle,
    "a22_dow_profile" -> Analytics.dowProfileOracle,
    "smp3_negative_sampling" -> graft.ops.Sampling.negativeSamplingOracle,
    "a23_trimmed_stats" -> Analytics.trimmedStatsOracle,
    "w12_interval_union" -> Analytics.intervalUnionOracle,
    "av1_sync_audit" -> Multimodal.avSyncOracle,
    "g6_kcore" -> Graph.kCoreOracle(),
    "inc2_join_maintenance" -> graft.ops.Incremental.joinMaintenanceOracle,
    "tx31_lang_mixture" -> TextStats.langMixtureOracle,
    "j12_scd2_snapshot" -> Upsert.scd2SnapshotOracle,
    "a24_ab_proportions" -> Analytics.abProportionsOracle,
    "dd18_cluster_cohesion" -> Dedup.clusterCohesionOracle,
    "tx32_source_divergence" -> TextStats.sourceDivergenceOracle,
    "dq2_benford_audit" -> graft.ops.Profile.benfordAuditOracle,
    "w13_gap_histogram" -> Analytics.gapHistogramOracle,
    "tx33_vocab_growth" -> TextStats.vocabGrowthOracle,
    "g7_bfs_landmarks" -> Graph.bfsLandmarksOracle(),
    "g8_label_modularity" -> Graph.labelModularityOracle(),
    "a25_mean_ci" -> Analytics.meanCiOracle,
    "dd19_similarity_histogram" -> Dedup.similarityHistogramOracle,
    "mm13_lowenergy_segments" -> Multimodal.lowEnergySegmentsOracle,
    "ord1_epoch_shuffle" -> graft.ops.Sampling.epochShuffleOracle,
    "inc3_rolling_refresh" -> graft.ops.Incremental.rollingRefreshOracle,
    "w14_dominant_period" -> Analytics.dominantPeriodOracle,
    "dq3_fk_audit" -> graft.ops.Profile.fkAuditOracle,
    "cal2_brier_decomposition" -> graft.ops.Eval.brierDecompositionOracle,
    "rank1_ranking_metrics" -> graft.ops.Eval.rankingMetricsOracle,
    "lift1_gains_table" -> graft.ops.Eval.gainsTableOracle,
    "dq4_fd_audit" -> graft.ops.Profile.fdAuditOracle,
    "mm14_aspect_buckets" -> Multimodal.aspectBucketOracle,
    "a26_gini_concentration" -> Analytics.giniRevenueOracle,
    "a27_theil_sen" -> Analytics.theilSenOracle,
    "w15_user_hhi" -> Analytics.userHhiOracle,
    "tx34_type_token" -> TextStats.typeTokenOracle,
    "a28_dow_anova" -> Analytics.dowAnovaOracle,
    "w16_session_durations" -> Analytics.sessionDurationsOracle,
    "dq5_chisq_drift" -> graft.ops.Profile.chisqDriftOracle,
    "pf2_price_histogram" -> graft.ops.Profile.priceHistogramOracle,
    "g9_degree_histogram" -> graft.ops.Graph.degreeHistogramOracle(),
    "tx35_charclass_profile" -> TextStats.charClassProfileOracle,
    "dq6_volume_anomaly" -> graft.ops.Profile.volumeAnomalyOracle,
    "dq7_ks_drift" -> graft.ops.Profile.ksDriftOracle,
    "pf3_correlation_matrix" -> graft.ops.Profile.correlationMatrixOracle,
    "tx36_readability" -> TextStats.readabilityOracle,
    "lay2_compaction_plan" -> graft.ops.Layout.compactionPlanOracle,
    "a29_kendall_tau" -> Analytics.kendallTauOracle,
    "ord2_curriculum" -> graft.ops.Sampling.curriculumOrderOracle,
    "smp4_grouped_split" -> graft.ops.Sampling.groupedSplitOracle,
    "dd20_cluster_histogram" -> Dedup.clusterHistogramOracle,
    "sim9_triplet_mining" -> Similarity.tripletMiningOracle,
    "cal3_calibration_error" -> graft.ops.Eval.calibrationErrorOracle,
    "a30_burstiness" -> Analytics.burstinessOracle,
    "tx37_gopher_filter" -> TextStats.gopherFilterOracle,
    "dq8_entropy_profile" -> graft.ops.Profile.entropyProfileOracle,
    "mm15_audio_dynamics" -> Multimodal.audioDynamicsOracle,
    "a31_runs_test" -> Analytics.runsTestOracle,
    "dq9_id_gap_audit" -> graft.ops.Profile.idGapAuditOracle,
    "tx38_code_detect" -> TextStats.codeDetectOracle,
    "tx39_gopher_repetition" -> TextStats.gopherRepetitionOracle,
    "w18_stickiness" -> Analytics.stickinessOracle,
    "dq10_dup_rows" -> graft.ops.Profile.dupRowAuditOracle,
    "sim10_centroid_drift" -> Similarity.centroidDriftOracle,
    "ord3_packed_batches" -> graft.ops.Sampling.packedBatchesOracle,
    "w19_churn_cohorts" -> Analytics.churnCohortsOracle,
    "dd21_df_spectrum" -> Dedup.dfSpectrumOracle,
    "dd22_prefix_filter_audit" -> Dedup.prefixFilterAuditOracle,
    "dq11_id_time_alignment" -> graft.ops.Profile.idTimeAlignmentOracle,
    "w20_active_days" -> Analytics.activeDaysOracle,
    "g10_knn_label_mix" -> graft.ops.Graph.knnLabelMixOracle(),
    "g11_label_spread" -> graft.ops.Graph.labelSpreadOracle,
    "w21_new_returning" -> Analytics.newVsReturningOracle,
    "a33_spearman" -> Analytics.spearmanPairsOracle,
    "a35_seasonality_index" -> Analytics.seasonalityIndexOracle,
    "sim11_range_search" -> graft.ops.Similarity.rangeSearchOracle,
    "j13_asof_tolerance" -> graft.ops.AsOf.asofToleranceOracle,
    "smp5_kfold" -> graft.ops.Sampling.kfoldAssignmentOracle,
    "smp6_temperature_mix" -> graft.ops.Sampling.temperatureMixOracle,
    "pf4_top_values" -> graft.ops.Profile.topValuesOracle,
    "a36_mann_kendall" -> Analytics.mannKendallOracle,
    "clf3_cohens_kappa" -> graft.ops.Eval.cohensKappaOracle,
    "tx40_garbled_text" -> TextStats.garbledTextOracle,
    "priv2_generalization_ladder" ->
      graft.ops.Privacy.generalizationLadderOracle,
    "mm16_audio_fingerprint" -> Multimodal.audioFingerprintOracle,
    "a37_ewma_burst" -> Analytics.ewmaBurstOracle,
    "rc3_threeway_merge" -> Reconcile.threeWayMergeOracle,
    "g12_landmark_centrality" -> Graph.landmarkCentralityOracle(),
    "dq12_temporal_consistency" ->
      graft.ops.Profile.temporalConsistencyOracle,
    "w22_cadence_regularity" -> Analytics.cadenceRegularityOracle,
    "mm17_patch_stats" -> Multimodal.patchStatsOracle,
    "tx41_bigram_surprisal" -> TextStats.bigramSurprisalOracle,
    "tx42_heaps_growth" -> TextStats.heapsGrowthOracle,
    "tx43_reflm_filter" -> TextStats.refLmFilterOracle,
    "sim12_truncation_audit" -> graft.ops.Similarity.truncationAuditOracle(),
    "g13_pagerank_residuals" ->
      graft.ops.Similarity.pagerankResidualsOracle(),
    "smp7_temporal_split" -> graft.ops.Sampling.temporalSplitOracle,
    "pr1_pr_curve" -> graft.ops.Eval.prCurveSlicesOracle,
    "mm18_sharpness" -> Multimodal.sharpnessOracle,
    "dd23_normalized_dedup" -> Dedup.normalizedDedupOracle,
    "skew2_salted_join" -> graft.ops.Skew.saltedJoinOracle,
    "rl2_blocking_recall" -> graft.ops.Linkage.blockingRecallOracle,
    "hq2_exact_median" -> graft.ops.Sketch.exactMedianOracle,
    "hq3_exact_quantiles" -> graft.ops.Sketch.exactQuantilesOracle,
    "priv3_t_closeness" -> graft.ops.Privacy.tClosenessOracle,
    "tx44_backoff_lm" -> TextStats.backoffLmFilterOracle,
    "inc4_distinct_maintenance" ->
      graft.ops.Sketch.distinctMaintenanceOracle,
    "dq13_fanout_profile" -> graft.ops.Profile.fanoutProfileOracle,
  )
}
