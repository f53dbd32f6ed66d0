package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.operators._

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  *
  * Each entry in [[queries]] is one operator family from SURVEY §2 (plus
  * the LLM-pipeline extensions); [[oracleSql]] holds the equivalent DuckDB
  * SQL over the same parquet tables. Column names and row ORDER match on
  * both sides; float outputs are either per-row arithmetic or
  * decimal-summed-then-double so they are bit-reproducible.
  */
object SparkEntry {

  /** Flagship query on the sf0.001 fixture; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    EtlOps.fullIngest(spark, LocalSession.sfDir("0.001"))

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q01_full_ingest"        -> (EtlOps.fullIngest _),
    "q02_ordered_projection" -> (EtlOps.orderedProjection _),
    "q03_audit_columns"      -> (EtlOps.auditColumns _),
    "q04_null_sentinel"      -> (EtlOps.nullSentinelRoundtrip _),
    "q05_bool_normalize"     -> (EtlOps.boolNormalize _),
    "q06_nullable_int"       -> (EtlOps.nullableIntFix _),
    "q07_sci_notation"       -> (EtlOps.sciNotationFix _),
    "q08_datetime_truncate"  -> (EtlOps.datetimeTruncate _),
    "q09_nvarchar_truncate"  -> (EtlOps.nvarcharTruncate _),
    "q10_odd_columns"        -> (EtlOps.oddColumns _),
    "q11_notnull_fix"        -> (EtlOps.notNullableFix _),
    "q12_config_semi_join"   -> (EtlOps.configSemiJoin _),
    "q13_marker_anti_join"   -> (EtlOps.markerAntiJoin _),
    "q14_env_filter"         -> (EtlOps.envFilter _),
    "q15_date_filter"        -> (EtlOps.dateFilter _),
    "q16_freshness_latest"   -> (EtlOps.freshnessLatest _),
    "q17_freshness_stale"    -> (EtlOps.freshnessStale _),
    "q18_test_query_shape"   -> (EtlOps.testQueryShape _),
    "q19_distinct_ids"       -> (EtlOps.distinctIds _),
    "q20_existence_probe"    -> (EtlOps.existenceProbe _),
    "q21_run_summary"        -> (EtlOps.runSummary _),
    "q22_latest_per_group"   -> (EtlOps.latestPerGroup _),
    "q23_enrich_join"        -> (EtlOps.enrichJoin _),
    "q24_revenue_per_nation" -> (EtlOps.revenuePerNation _),
    "q25_token_stats"        -> (TextOps.tokenStats _),
    "q26_lang_id"            -> (TextOps.langId _),
    "q27_quality_score"      -> (TextOps.qualityScore _),
    "q28_fingerprint"        -> (TextOps.fingerprint _),
    "q29_exact_dedup"        -> (DedupOps.exactDedup _),
    "q30_ngram_jaccard"      -> (DedupOps.ngramJaccard _),
    "q31_minhash_lsh"        -> (DedupOps.minhashLsh _),
    "q32_simhash"            -> (DedupOps.simhashDedup _),
    "q33_embedding_neardup"  -> (SimilarityOps.embeddingNearDup _),
    "q34_cosine_topk"        -> (SimilarityOps.cosineTopK _),
    "q35_lsh_ann"            -> (SimilarityOps.lshAnn _),
    "q36_multimodal_meta"    -> (MultimodalOps.multimodalMeta _),
    "q37_streaming_window"   -> (StreamingOps.streamingWindow _),
    "q38_salted_token_counts" -> (ScaleOps.saltedTokenCounts _),
    "q39_sessionization"     -> (ScaleOps.sessionize _),
    "q40_rollup_stats"       -> (ProfileOps.rollupStats _),
    "q41_table_profile"      -> (ProfileOps.tableProfile _),
    "q42_approx_stats"       -> (ProfileOps.approxStats _), // 3σ-gated sketches
    "q43_ivf_ann"            -> (SimilarityOps.ivfAnn _),   // oracle: full IVF replay
    "q44_frame_sampling"     -> (MultimodalOps.frameSamples _),
    "q45_rolling_fingerprint" -> (TextOps.rollingFingerprint _),
    "q46_set_ops"            -> (RelationalOps.setOps _),
    "q47_pivot"              -> (RelationalOps.pivotCounts _),
    "q48_window_suite"       -> (RelationalOps.windowSuite _),
    "q49_percentiles"        -> (RelationalOps.percentiles _),
    "q50_asof_join"          -> (JoinOps.asofJoin _),
    "q51_range_join"         -> (JoinOps.bandedRangeJoin _),
    "q52_cube_stats"         -> (RelationalOps.cubeStats _),
    "q53_salted_skew_join"   -> (JoinOps.saltedSkewJoin _),
    "q54_vector_quantize"    -> (SimilarityOps.quantizeVectors _),
    "q55_doc_chunking"       -> (TextOps.chunkDocuments _),
    "q56_pii_scrub"          -> (CurationOps.piiScrub _),
    "q57_repetition_filter"  -> (CurationOps.repetitionFilter _),
    "q58_contamination"      -> (CurationOps.contamination _),
    "q59_dup_clusters"       -> (CurationOps.dupClusters _),
    "q60_sketch_accuracy"    -> (ProfileOps.sketchAccuracy _),
    "q61_dataset_split"      -> (CurationOps.datasetSplit _),
    "q62_json_extract"       -> (RelationalOps.jsonExtract _),
    "q63_attribution_join"   -> (StreamingOps.attribution _),
    "q64_stratified_sample"  -> (CurationOps.stratifiedSample _),
    "q65_vocabulary"         -> (TextOps.vocabulary _),
    "q66_bloom_prune_join"   -> (JoinOps.bloomPruneJoin _),
    "q67_funnel"             -> (AnalyticsOps.funnel _),
    "q68_bigram_lm"          -> (AnalyticsOps.bigramLm _),
    "q69_tfidf_topk"         -> (AnalyticsOps.tfidfTopK _),
    "q70_pagerank"           -> (GraphOps.pageRank _),
    "q71_scd2"               -> (AnalyticsOps.scd2 _),
    "q72_incremental_merge"  -> (AnalyticsOps.incrementalMerge _),
    "q73_zscore_anomalies"   -> (AnalyticsOps.zscoreAnomalies _),
    "q74_zorder_layout"      -> (ScaleOps.zorderLayout _),
    "q75_weighted_sample"    -> (CurationOps.weightedSample _),
    "q76_novelty_score"      -> (CurationOps.noveltyScore _),
    "q77_collocations"       -> (TextOps.collocations _),
    "q78_cdc_apply"          -> (AnalyticsOps.cdcApply _),
    "q79_kmeans_step"        -> (ClusterOps.kmeansStep _),
    "q80_cohort_retention"   -> (TimeSeriesOps.cohortRetention _),
    "q81_rolling_distinct"   -> (TimeSeriesOps.rollingDistinctUsers _),
    "q82_gap_fill"           -> (TimeSeriesOps.gapFillForwardFill _),
    "q83_ewma"               -> (TimeSeriesOps.ewma _),
    "q84_feature_hash"       -> (MlPrepOps.featureHash _),
    "q85_boilerplate"        -> (MlPrepOps.boilerplateRemoval _),
    "q86_knn_graph"          -> (GraphOps.knnGraphStats _),
    "q87_histogram"          -> (ProfileOps.valueHistogram _),
    "q88_inverted_index"     -> (MlPrepOps.invertedIndex _),
    "q89_winsorized_mean"    -> (AnalyticsOps.winsorizedMean _),
    "q90_group_ols"          -> (AnalyticsOps.groupOls _),
    "q91_snapshot_digest"    -> (ScaleOps.snapshotDigest _),
    "q92_equidepth_hist"     -> (ProfileOps.equiDepthHistogram _),
    "q93_fuzzy_match"        -> (DedupOps.fuzzyNameMatch _),
    "q94_temporal_dim_join"  -> (JoinOps.temporalDimJoin _),
    "q95_audience_overlap"   -> (AnalyticsOps.audienceOverlap _),
    "q96_transition_matrix"  -> (AnalyticsOps.transitionMatrix _),
    "q97_digest_drilldown"   -> (ScaleOps.digestDrilldown _),
    "q98_interval_coalesce"  -> (TimeSeriesOps.intervalCoalesce _),
    "q99_entity_consolidate" -> (DedupOps.entityConsolidate _),
    "q100_skew_advisor"      -> (ProfileOps.skewAdvisor _),
    "q101_sequence_pack"     -> (TrainPrepOps.sequencePack _),
    "q102_mixture_epochs"    -> (TrainPrepOps.mixtureEpochs _),
    "q103_incremental_dedup" -> (TrainPrepOps.incrementalDedup _),
    "q104_gopher_rules"      -> (TrainPrepOps.gopherRules _),
    "q105_shard_plan"        -> (TrainPrepOps.shardPlan _),
    "q106_semantic_outliers" -> (ClusterOps.semanticOutliers _),
    "q107_label_confusion"   -> (ClusterOps.labelConfusion _),
    "q108_k_anonymity"       -> (CurationOps.kAnonymity _),
    "q109_corpus_report"     -> (TrainPrepOps.corpusReport _),
    "q110_cluster_reps"      -> (CurationOps.clusterRepresentatives _),
    "q111_epoch_schedule"    -> (TrainPrepOps.epochSchedule _),
    "q112_random_projection" -> (SimilarityOps.randomProjection _),
    "q113_ann_recall"        -> (SimilarityOps.annRecall _),
    "q114_global_enum"       -> (ScaleOps.globalEnumeration _),
    "q115_pack_efficiency"   -> (TrainPrepOps.packEfficiency _),
    "q116_clean_val_split"   -> (CurationOps.cleanValSplit _),
    "q117_heavy_hitters"     -> (ProfileOps.heavyHitters _),
    "q118_capped_lsh"        -> (DedupOps.minhashLshCapped _),
    "q119_contamination"     -> (DedupOps.contamination _),
    "q120_paragraph_dedup"   -> (DedupOps.paragraphDedup _),
    "q121_semantic_dedup"    -> (ClusterOps.semanticDedup _),
    "q122_curation_funnel"   -> (CurationOps.curationFunnel _),
    "q123_oov_rate"          -> (TextOps.oovRate _),
    "q124_bpe_merge"         -> (TextOps.bpeMergeStep _),
    "q125_cdc_fingerprint"   -> (DedupOps.cdcFingerprintDups _),
    "q126_source_drift"      -> (ProfileOps.sourceDrift _),
    "q127_bpe_train"         -> (TextOps.bpeTrain _),
    "q128_token_budget"      -> (TrainPrepOps.tokenBudgetSelect _),
    "q129_classifier_gate"   -> (MixtureOps.classifierGate _),
    "q130_temperature_mix"   -> (MixtureOps.temperatureMix _),
    "q131_dsir_weights"      -> (MixtureOps.dsirWeights _),
    "q132_epoch_shuffle"     -> (MixtureOps.epochShuffleAudit _),
    "q133_training_manifest" -> (MixtureOps.trainingManifest _),
    "q134_bpe_fertility"     -> (TextOps.bpeFertility _),
    "q135_cluster_sample"    -> (ClusterOps.clusterBalancedSample _),
    "q136_manifest_churn"    -> (MixtureOps.manifestChurn _),
    "q137_concat_chunk"      -> (TrainPrepOps.concatChunk _),
    "q138_source_overlap"    -> (DedupOps.sourceOverlap _),
    "q139_threshold_curve"   -> (TrainPrepOps.thresholdCurve _),
    "q140_neyman_alloc"      -> (ProfileOps.neymanAllocation _),
    "q141_jackknife"         -> (ProfileOps.jackknifeInfluence _),
    "q142_zipf_slope"        -> (ProfileOps.zipfSlope _),
    "q143_heaps_law"         -> (ProfileOps.heapsLaw _),
    "q144_semantic_contam"   -> (ClusterOps.semanticContamination _),
    "q145_unigram_entropy"   -> (ProfileOps.unigramEntropy _),
    "q146_containment"       -> (DedupOps.containmentDups _),
    "q147_bm25_topk"         -> (MlPrepOps.bm25TopK _),
    "q148_lm_band"           -> (AnalyticsOps.perplexityBucket _),
    "q149_template_skeleton" -> (TextOps.templateSkeleton _),
    "q150_l_diversity"       -> (CurationOps.lDiversity _),
    "q151_langid_confusion"  -> (TextOps.langIdConfusion _),
    "q152_t_closeness"       -> (CurationOps.tCloseness _),
    "q153_passage_chunks"    -> (TrainPrepOps.passageChunks _),
    "q154_lsh_calibration"   -> (DedupOps.lshCalibration _),
    "q155_snapshot_ks_drift" -> (ProfileOps.snapshotKsDrift _),
    "q156_dedup_method_venn" -> (DedupOps.dedupMethodVenn _),
    "q157_dp_release"        -> (CurationOps.dpRelease _),
    "q158_bootstrap_ci"      -> (ProfileOps.bootstrapCi _),
    "q159_image_phash"       -> (MultimodalOps.imagePhashNearDup _),
    "q160_image_gate"        -> (MultimodalOps.imageQualityGate _),
    "q161_incremental_lsh"   -> (DedupOps.incrementalLsh _),
    "q162_span_coverage"     -> (TextOps.spanCoverage _),
    "q163_user_dp"           -> (CurationOps.userLevelDp _),
    "q164_source_sketch"     -> (DedupOps.sourceOverlapSketch _),
    "q165_audio_gate"        -> (MultimodalOps.audioQualityGate _),
    "q166_contam_provenance" -> (DedupOps.contaminationProvenance _),
    "q167_waterfill"         -> (MixtureOps.waterfillAlloc _),
    "q168_psi_drift"         -> (ProfileOps.psiDrift _),
    "q169_image_clusters"    -> (MultimodalOps.imagePhashClusters _),
    "q170_multimodal_mix"    -> (MultimodalOps.multimodalMixTable _),
    "q171_sft_assembly"      -> (TrainPrepOps.sftAssembly _),
    "q172_hard_negatives"    -> (MlPrepOps.hardNegatives _),
    "q173_length_buckets"    -> (TrainPrepOps.lengthBuckets _),
    "q174_pref_pairs"        -> (TrainPrepOps.prefPairs _),
    "q175_countmin_audit"    -> (ProfileOps.countMinAudit _),
    "q176_embedding_drift"   -> (ClusterOps.embeddingDrift _),
    "q177_stream_dedup"      -> (StreamingOps.streamDedup _),
    "q178_dedup_weights"     -> (CurationOps.dedupWeights _),
    "q179_incremental_stats" -> (ScaleOps.incrementalStats _),
    "q180_norm_audit"        -> (TextOps.normAudit _),
    "q181_bloom_ingest"      -> (DedupOps.bloomIngestDedup _),
    "q182_bottomk_sample"    -> (CurationOps.bottomKSample _),
    "q183_maxsim_retrieval"  -> (SimilarityOps.maxSimRetrieval _),
    "q184_freshness_streaks" -> (TimeSeriesOps.freshnessStreaks _),
    "q185_prefix_savings"    -> (TrainPrepOps.prefixSavings _),
    "q186_fk_orphans"        -> (ProfileOps.fkOrphans _),
    "q187_contract_audit"    -> (ProfileOps.contractAudit _),
    "q188_bt_ratings"        -> (TrainPrepOps.btRatings _),
    "q189_mrl_audit"         -> (SimilarityOps.mrlAudit _),
    "q190_ir_metrics"        -> (MlPrepOps.irMetrics _),
    "q191_canary_audit"      -> (CurationOps.canaryAudit _),
    "q192_rrf_fusion"        -> (MlPrepOps.rrfFusion _),
    "q193_ivf_balance"       -> (SimilarityOps.ivfBalance _),
    "q194_gate_kappa"        -> (CurationOps.gateKappa _),
    "q195_calibration"       -> (MixtureOps.calibrationAudit _),
    "q196_threshold_curve"   -> (DedupOps.thresholdCurve _),
    "q197_watermark_audit"   -> (TimeSeriesOps.watermarkAudit _),
    "q198_pq_audit"          -> (SimilarityOps.pqAudit _),
    "q199_deletion_impact"   -> (ProfileOps.deletionImpact _),
    "q200_ab_test"           -> (AnalyticsOps.abTest _),
    "q201_pareto_frontier"   -> (CurationOps.paretoFrontier _),
    "q202_context_dedup"     -> (MlPrepOps.contextDedup _),
    "q203_annotator_quality" -> (CurationOps.annotatorQuality _),
    "q204_fim_transform"     -> (TrainPrepOps.fimTransform _),
    "q205_survivor_policy"   -> (CurationOps.survivorPolicy _),
    "q206_temperature_curve" -> (MixtureOps.temperatureCurve _),
    "q207_vocab_migration"   -> (TextOps.vocabMigration _),
    "q208_topk_native"       -> (RelationalOps.topkNative _),
    "q209_quantile_norm"     -> (TextOps.quantileNorm _),
    "q210_gate_ablation"     -> (CurationOps.gateAblation _),
    "q211_distinctive_terms" -> (TextOps.distinctiveTerms _),
    "q212_index_staleness"   -> (SimilarityOps.indexStaleness _),
    "q213_ess_clip_curve"    -> (CurationOps.essClipCurve _),
    "q214_rare_term_graph"   -> (GraphOps.rareTermGraph _),
    "q215_temporal_leakage"  -> (TimeSeriesOps.temporalLeakage _),
    "q216_shard_conformance" -> (TrainPrepOps.shardConformance _),
    "q217_domain_filter"     -> (CurationOps.domainFilter _),
    "q218_chain_audit"       -> (DedupOps.chainAudit _),
    "q219_quota_sample"      -> (CurationOps.quotaSample _),
    "q220_reshard_audit"     -> (ScaleOps.reshardAudit _),
    "q221_context_pack"      -> (MlPrepOps.contextPack _),
    "q222_vector_gate"       -> (SimilarityOps.vectorGate _),
    "q223_incr_postings"     -> (MlPrepOps.incrementalPostings _),
    "q224_hll_audit"         -> (ProfileOps.hllAudit _),
    "q225_crossmodal_audit"  -> (MultimodalOps.crossModalAudit _),
    "q226_join_card_audit"   -> (ProfileOps.joinCardAudit _),
    "q227_benford_audit"     -> (ProfileOps.benfordAudit _),
    "q228_cdc_chunk_dedup"   -> (DedupOps.cdcChunkDedup _),
    "q229_incremental_cc"    -> (GraphOps.incrementalCc _),
    "q230_url_canon_dedup"   -> (CurationOps.urlCanonDedup _),
    "q231_join_order_audit"  -> (ProfileOps.joinOrderAudit _),
    "q232_krippendorff"      -> (CurationOps.krippendorffAlpha _),
    "q233_lsh_s_curve"       -> (DedupOps.lshSCurve _),
    "q234_iw_eval"           -> (TrainPrepOps.iwEval _),
    "q235_event_paths"       -> (AnalyticsOps.eventPaths _),
    "q236_runtime_filter"    -> (ScaleOps.runtimeFilterJoin _),
    "q237_encoding_advisor"  -> (ScaleOps.encodingAdvisor _),
    "q238_hll_set_algebra"   -> (ProfileOps.hllSetAlgebra _),
    "q239_retraction_aggs"   -> (AnalyticsOps.retractionAggs _),
    "q240_blocking_audit"    -> (DedupOps.blockingAudit _),
    "q241_fd_discovery"      -> (ProfileOps.fdDiscovery _),
    "q242_hist_selectivity"  -> (ProfileOps.histSelectivity _),
    "q243_sorted_neighborhood" -> (DedupOps.sortedNeighborhood _),
    "q244_interval_overlap"  -> (JoinOps.intervalOverlap _),
    "q245_mw_drift"          -> (ProfileOps.mwDrift _),
    "q246_theil_sen"         -> (TimeSeriesOps.theilSen _),
    "q247_shapley"           -> (AnalyticsOps.shapleyAttribution _),
    "q248_fs_linkage"        -> (DedupOps.fsLinkage _),
    "q249_conformal_gate"    -> (CurationOps.conformalGate _),
    "q250_rr_debias"         -> (CurationOps.rrDebias _),
    "q251_did_readout"       -> (AnalyticsOps.didReadout _),
    "q252_bh_fdr"            -> (ProfileOps.bhFdrGate _),
    "q253_cusum"             -> (TimeSeriesOps.cusumChangepoint _),
    "q254_seasonal"          -> (TimeSeriesOps.seasonalDecompose _),
    "q255_concentration"     -> (ProfileOps.concentration _),
    "q256_rbo_churn"         -> (AnalyticsOps.rboChurn _),
    "q257_kendall_tau"       -> (AnalyticsOps.kendallTau _),
    "q258_mcnemar"           -> (CurationOps.mcnemarGates _),
    "q259_mad_outliers"      -> (AnalyticsOps.madOutliers _),
    "q260_cuped"             -> (AnalyticsOps.cupedReadout _),
    "q261_auc_lift"          -> (MlPrepOps.aucDecileLift _),
    "q262_burstiness"        -> (TimeSeriesOps.burstiness _),
    "q263_power_mde"         -> (AnalyticsOps.powerMde _),
    "q264_qte"               -> (AnalyticsOps.qte _),
    "q265_its_readout"       -> (TimeSeriesOps.itsReadout _),
    "q266_bandit_replay"     -> (MixtureOps.banditReplay _),
    "q267_bloom_planner"     -> (ScaleOps.bloomPlanner _),
    "q268_brier"             -> (MixtureOps.brierDecomposition _),
    "q269_psm_matching"      -> (AnalyticsOps.psmMatching _),
    "q270_energy_drift"      -> (ProfileOps.energyDrift _),
    "q271_tail_dependence"   -> (ProfileOps.tailDependence _),
    "q272_fs_em"             -> (DedupOps.fsEm _),
    "q273_two_changepoints"  -> (TimeSeriesOps.twoChangepoints _),
    "q274_kaplan_meier"      -> (TimeSeriesOps.kaplanMeier _),
    "q275_log_rank"          -> (TimeSeriesOps.logRank _),
    "q276_cmh_test"          -> (CurationOps.cmhTest _),
    "q277_miss_ratio_curve"  -> (ScaleOps.missRatioCurve _),
    "q278_w1_drift"          -> (ProfileOps.w1Drift _),
    "q279_anisotropy"        -> (SimilarityOps.embeddingAnisotropy _),
    "q280_hill_tail"         -> (ProfileOps.hillTail _),
    "q281_cluster_quality"   -> (SimilarityOps.clusterQuality _),
    "q282_markov_attrib"     -> (TimeSeriesOps.markovAttribution _),
    "q283_pack_attention"    -> (TrainPrepOps.packAttentionAudit _),
    "q284_delta_ratio"       -> (AnalyticsOps.deltaRatio _),
    "q285_label_noise"       -> (CurationOps.labelNoise _),
    "q286_propensity_overlap" -> (AnalyticsOps.propensityOverlap _),
    "q287_msprt_monitor"     -> (AnalyticsOps.msprtMonitor _),
    "q288_grounding_audit"   -> (MlPrepOps.groundingAudit _),
    "q289_dr_ope"            -> (MixtureOps.drOpe _),
    "q290_kcenter_coreset"   -> (SimilarityOps.kcenterCoreset _),
    "q291_pref_length_bias"  -> (TrainPrepOps.prefLengthBias _),
    "q292_obf_monitor"       -> (AnalyticsOps.obfMonitor _),
    "q293_contam_ladder"     -> (DedupOps.contamLadder _),
    "q294_capped_metric"     -> (AnalyticsOps.cappedMetricCurve _),
    "q295_lpt_makespan"      -> (ScaleOps.lptMakespan _),
    "q296_checkpoint_interval" -> (ScaleOps.checkpointInterval _),
    "q297_aa_calibration"    -> (AnalyticsOps.aaCalibration _),
    "q298_json_schema_drift" -> (RelationalOps.jsonSchemaDrift _),
    "q299_nprobe_curve"      -> (SimilarityOps.nprobeCurve _),
    "q300_drift_consensus"   -> (ProfileOps.driftConsensus _),
    "q301_chunk_config"      -> (TrainPrepOps.chunkConfigCurve _),
    "q302_sample_aqp"        -> (ScaleOps.sampleAqp _),
    "q303_session_gap_curve" -> (ScaleOps.sessionGapCurve _),
    "q304_retention_audit"   -> (ScaleOps.retentionAudit _),
    "q305_backfill_plan"     -> (ScaleOps.backfillPlan _),
    "q306_assoc_rules"       -> (AnalyticsOps.assocRules _),
    "q307_triangle_census"   -> (GraphOps.triangleCensus _),
    "q308_pca_power"         -> (SimilarityOps.pcaPower _),
    "q309_gate_fairness"     -> (CurationOps.gateFairness _),
    "q310_acf_whiteness"     -> (TimeSeriesOps.acfWhiteness _),
    "q311_isotonic_cal"      -> (MixtureOps.isotonicCalibration _),
    "q312_js_matrix"         -> (ProfileOps.jsDivergenceMatrix _),
    "q313_ranker_agreement"  -> (MlPrepOps.rankerAgreement _),
    "q314_personalized_pr"   -> (GraphOps.personalizedPageRank _),
    "q315_edit_verify"       -> (DedupOps.editVerify _),
    "q316_distill_stump"     -> (TrainPrepOps.distillStump _),
    "q317_cap_recall"        -> (DedupOps.capRecall _),
    "q318_pca_deflation"     -> (SimilarityOps.pcaDeflation _),
    "q319_lpa_communities"   -> (GraphOps.lpaCommunities _),
    "q320_shingle_width"     -> (DedupOps.shingleWidthCurve _),
    "q321_mi_ranking"        -> (TrainPrepOps.miRanking _),
    "q322_rate_limit"        -> (ScaleOps.rateLimitReplay _),
    "q323_repetition"        -> (TextOps.repetitionAudit _),
    "q324_surprisal"         -> (TextOps.unigramSurprisal _),
    "q325_pii_audit"         -> (TextOps.piiAudit _),
    "q326_snapshot_diff"     -> (ScaleOps.snapshotDiff _),
    "q327_perm_curve"        -> (DedupOps.permCountCurve _),
    "q328_gibberish"         -> (TextOps.gibberishGate _),
    "q329_quantile_acc"      -> (ProfileOps.quantileAccuracy _),
    "q330_negative_table"    -> (TrainPrepOps.negativeTable _),
    "q331_nb_classifier"     -> (MlPrepOps.nbClassifier _),
    "q332_logreg_gd"         -> (MlPrepOps.logregGd _),
    "q333_blocklist"         -> (TextOps.blocklistAudit _),
    "q334_ppl_buckets"       -> (TextOps.pplBuckets _),
    "q335_simpson_scan"      -> (AnalyticsOps.simpsonScan _),
    "q336_huber_location"    -> (ProfileOps.huberLocation _),
    "q337_bbit_minhash"      -> (DedupOps.bbitTradeoff _),
    "q338_kcore_peel"        -> (GraphOps.kcorePeel _),
    "q339_assortativity"     -> (GraphOps.degreeAssortativity _),
    "q340_prf_expansion"     -> (MlPrepOps.prfExpansion _),
    "q341_count_sketch"      -> (ProfileOps.countSketchAudit _),
    "q342_greedy_cover"      -> (CurationOps.greedyCover _),
    "q343_ipf_raking"        -> (MixtureOps.ipfRaking _),
    "q344_tracin_attrib"     -> (MlPrepOps.tracinAttribution _),
    "q345_cartography"       -> (MlPrepOps.datasetCartography _),
    "q346_loo_source"        -> (MlPrepOps.looSourceEval _),
    "q347_skipping_audit"    -> (ScaleOps.skippingAudit _),
    "q348_ivm_join_view"     -> (ScaleOps.ivmJoinView _),
    "q349_unseen_mass"       -> (TextOps.unseenMass _),
    "q350_pointer_jump"      -> (GraphOps.pointerJump _),
    "q351_postings_bytes"    -> (MlPrepOps.postingsCompression _),
    "q352_three_way_merge"   -> (ScaleOps.threeWayMerge _),
    "q353_rff_kernel"        -> (SimilarityOps.rffKernelAudit _),
    "q354_halving_search"    -> (MlPrepOps.successiveHalving _),
    "q355_hits"              -> (GraphOps.hits _),
    "q356_kmv_sketch"        -> (ProfileOps.kmvSetAlgebra _),
    "q357_neyman_alloc"      -> (CurationOps.neymanAllocation _),
    "q358_boruvka_msf"       -> (GraphOps.boruvkaMst _),
    "q359_sinkhorn_ot"       -> (ProfileOps.sinkhornOt _),
    "q361_dsir_selection"    -> (MlPrepOps.dsirSelection _),
    "q362_ridge_path"        -> (MlPrepOps.ridgePath _),
    "q363_effnum_weights"    -> (MlPrepOps.effNumWeights _),
    "q364_batch_mix"         -> (MlPrepOps.batchComposition _),
    "q365_linkage_curve"     -> (GraphOps.linkageCurve _),
    "q366_risk_coverage"     -> (MlPrepOps.riskCoverage _),
    "q367_session_native"    -> (ScaleOps.sessionWindowNative _),
    "q369_state_sizing"      -> (ScaleOps.stateSizing _),
    "q370_doremi_weights"    -> (MixtureOps.doremiWeights _),
    "q371_hash_width"        -> (ProfileOps.hashWidthAudit _),
    "q373_rate_limit_native" -> (ScaleOps.rateLimitNative _),
    "q374_icc_design"        -> (CurationOps.iccDesignEffect _),
    "q375_attack_robustness" -> (GraphOps.attackRobustness _),
    "q376_sliding_hll"       -> (ProfileOps.slidingHllDistinct _),
    "q377_pool_testing"      -> (CurationOps.poolTesting _),
    "q378_prefix_cache"      -> (TextOps.prefixCacheCurve _),
    "q379_substring_dup"     -> (DedupOps.substringDup _),
    "q380_hyperball"         -> (GraphOps.hyperball _),
    "q381_substring_cut"     -> (DedupOps.substringCut _),
    "q382_harmonic_centrality" -> (GraphOps.harmonicCentrality _),
    "q383_kn_bigram_lm"      -> (TextOps.knBigramLm _),
    "q384_random_failure"    -> (GraphOps.randomFailure _),
    "q385_rendezvous_shards" -> (ScaleOps.rendezvousShards _),
    "q386_srm_gate"          -> (AnalyticsOps.srmGate _),
    "q387_ktruss"            -> (GraphOps.ktruss _),
    "q388_densest_subgraph"  -> (GraphOps.densestSubgraph _),
    "q389_butterfly_census"  -> (GraphOps.butterflyCensus _),
    "q390_luby_mis"          -> (GraphOps.lubyMis _),
    "q391_pass_at_k"         -> (AnalyticsOps.passAtK _),
    "q392_random_walks"      -> (GraphOps.randomWalks _),
  )

  def oracleSql: Map[String, String] = Map(
    "q01_full_ingest" ->
      """SELECT CAST(l_orderkey AS VARCHAR) AS l_orderkey,
        |       CAST(l_linenumber AS VARCHAR) AS l_linenumber,
        |       CAST(CAST(l_quantity AS BIGINT) AS VARCHAR) AS l_quantity,
        |       l_returnflag,
        |       CAST(l_shipdate AS VARCHAR) AS l_shipdate,
        |       CAST(NULL AS VARCHAR) AS MissingCol,
        |       'NL' AS Environment,
        |       '2019-07-03' AS CIGCopyTime,
        |       '0' AS CIGProcessed
        |FROM lineitem ORDER BY l_orderkey, l_linenumber""".stripMargin,
    "q02_ordered_projection" ->
      "SELECT o_orderstatus AS status, o_orderkey AS id FROM orders ORDER BY id",
    "q03_audit_columns" ->
      """SELECT n_nationkey, n_name, n_regionkey, 'NL' AS Environment,
        |'2019-07-03' AS CIGCopyTime, '0' AS CIGProcessed
        |FROM nation ORDER BY n_nationkey""".stripMargin,
    "q04_null_sentinel" ->
      """SELECT event_id,
        |  CASE WHEN event_id % 5 = 2 THEN 'nanarnia'
        |       WHEN event_id % 5 = 4 THEN 'x' ELSE NULL END AS cleaned
        |FROM events ORDER BY event_id""".stripMargin,
    "q05_bool_normalize" ->
      """SELECT event_id,
        |  CASE WHEN event_id % 3 = 0 THEN '1'
        |       WHEN event_id % 3 = 1 THEN '0' ELSE 'Truex' END AS flag
        |FROM events ORDER BY event_id""".stripMargin,
    "q06_nullable_int" ->
      """SELECT l_orderkey, l_linenumber,
        |  CAST(CAST(l_quantity AS BIGINT) AS VARCHAR) AS qty
        |FROM lineitem ORDER BY l_orderkey, l_linenumber""".stripMargin,
    "q07_sci_notation" ->
      """SELECT event_id,
        |  CASE WHEN event_id % 4 = 0 THEN CAST('1.801439850948301e+16' AS DOUBLE)
        |       WHEN event_id % 4 = 1 THEN CAST('2.5e-3' AS DOUBLE)
        |       WHEN event_id % 4 = 2 THEN NULL
        |       ELSE CAST(42 AS DOUBLE) END AS value
        |FROM events ORDER BY event_id""".stripMargin,
    "q08_datetime_truncate" ->
      """SELECT event_id,
        |  substr(concat('2019-07-0', CAST(event_id % 9 + 1 AS VARCHAR),
        |    ' 12:34:56.789012', CAST(event_id % 10 AS VARCHAR)), 1, 23) AS dt
        |FROM events ORDER BY event_id""".stripMargin,
    "q09_nvarchar_truncate" ->
      """SELECT doc_id, substr(text, 1, 150) AS text_capped,
        |  length(text) AS orig_len
        |FROM documents ORDER BY doc_id""".stripMargin,
    "q10_odd_columns" ->
      """SELECT p_partkey, 'POINT (0 0)' AS Geolocation,
        |  CAST(NULL AS VARCHAR) AS Logo
        |FROM part ORDER BY p_partkey""".stripMargin,
    "q11_notnull_fix" ->
      """SELECT event_id,
        |  CASE WHEN event_id % 3 = 0 THEN ''
        |       ELSE concat('v', CAST(event_id AS VARCHAR)) END AS val
        |FROM events ORDER BY event_id""".stripMargin,
    "q12_config_semi_join" ->
      """SELECT c_custkey, c_name, c_nationkey FROM customer
        |WHERE c_nationkey IN (SELECT n_nationkey FROM nation WHERE n_regionkey = 2)
        |ORDER BY c_custkey""".stripMargin,
    "q13_marker_anti_join" ->
      """SELECT o_orderkey, o_orderstatus, o_totalprice FROM orders
        |WHERE o_orderkey % 3 <> 0 ORDER BY o_orderkey""".stripMargin,
    "q14_env_filter" ->
      """SELECT event_id, event_type, user_id FROM events
        |WHERE event_type IN ('click', 'purchase') ORDER BY event_id""".stripMargin,
    "q15_date_filter" ->
      """SELECT l_orderkey, l_linenumber, CAST(l_shipdate AS DATE) AS ship_date
        |FROM lineitem WHERE l_shipdate >= TIMESTAMP '1998-01-01'
        |ORDER BY l_orderkey, l_linenumber""".stripMargin,
    "q16_freshness_latest" ->
      """SELECT event_type, CAST(max(ts) AS VARCHAR) AS latest_ts,
        |  count(*) AS n_files
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin,
    "q17_freshness_stale" ->
      """SELECT user_id, event_type, CAST(max_ts AS VARCHAR) AS latest_ts
        |FROM (SELECT user_id, event_type, max(ts) AS max_ts FROM events
        |      GROUP BY user_id, event_type) t
        |WHERE max_ts < TIMESTAMP '2024-01-29 00:00:00'
        |  AND user_id NOT IN (3, 7, 11, 13)
        |ORDER BY user_id, event_type""".stripMargin,
    "q18_test_query_shape" ->
      """SELECT o_orderkey, o_custkey, o_orderstatus,
        |  CAST(o_orderdate AS DATE) AS order_date
        |FROM orders
        |WHERE CAST(o_orderdate AS DATE) >= DATE '1996-01-01'
        |  AND upper(o_orderpriority) = '1-URGENT'
        |ORDER BY order_date, o_orderkey""".stripMargin,
    "q19_distinct_ids" ->
      "SELECT DISTINCT o_orderpriority FROM orders ORDER BY o_orderpriority",
    "q20_existence_probe" ->
      """SELECT count(*) > 0 AS marker_exists, count(*) AS n_rows
        |FROM orders WHERE o_orderstatus = 'F'""".stripMargin,
    "q21_run_summary" ->
      """SELECT event_type, count(*) AS n_tasks,
        |  count(DISTINCT user_id) AS n_users
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin,
    "q22_latest_per_group" ->
      """SELECT user_id, event_id, CAST(ts AS VARCHAR) AS ts
        |FROM (SELECT user_id, event_id, ts,
        |        row_number() OVER (PARTITION BY user_id ORDER BY ts DESC, event_id) AS rn
        |      FROM events) t
        |WHERE rn = 1 ORDER BY user_id""".stripMargin,
    "q23_enrich_join" ->
      """SELECT l_orderkey, l_linenumber, p_brand, p_type
        |FROM lineitem JOIN part ON l_partkey = p_partkey
        |ORDER BY l_orderkey, l_linenumber""".stripMargin,
    "q24_revenue_per_nation" ->
      """SELECT n_name,
        |  CAST(sum(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,4))) AS DOUBLE) AS revenue,
        |  count(*) AS n_lines
        |FROM lineitem
        |JOIN orders ON l_orderkey = o_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |JOIN nation ON c_nationkey = n_nationkey
        |GROUP BY n_name ORDER BY n_name""".stripMargin,
    "q25_token_stats" ->
      """SELECT doc_id,
        |  len(string_split_regex(trim(text), '\s+')) AS ws_tokens,
        |  len(regexp_extract_all(text, '[A-Za-z]+|[0-9]|[^A-Za-z0-9\s]')) AS bpe_tokens,
        |  length(text) AS n_chars
        |FROM documents ORDER BY doc_id""".stripMargin,
    "q26_lang_id" -> OracleGen.q26LangId,
    "q27_quality_score" ->
      """SELECT doc_id,
        |  CAST(length(regexp_replace(text, '[^a-zA-Z]', '', 'g')) AS DOUBLE)
        |    / CAST(length(text) AS DOUBLE) AS alpha_ratio,
        |  CAST(len(regexp_extract_all(text, '\b(the|and|of|to|in|is|you|that)\b')) AS DOUBLE)
        |    / CAST(len(string_split_regex(trim(text), '\s+')) AS DOUBLE) AS stop_ratio,
        |  CAST(length(text) AS DOUBLE)
        |    / CAST(len(string_split_regex(trim(text), '\s+')) AS DOUBLE) AS avg_token_span,
        |  CAST(length(regexp_replace(text, '[^a-zA-Z]', '', 'g')) AS DOUBLE)
        |    / CAST(length(text) AS DOUBLE) * 0.5
        |  + CAST(len(regexp_extract_all(text, '\b(the|and|of|to|in|is|you|that)\b')) AS DOUBLE)
        |    / CAST(len(string_split_regex(trim(text), '\s+')) AS DOUBLE) * 0.3
        |  + (CASE WHEN length(text) >= 100 AND length(text) <= 500
        |     THEN 0.2 ELSE 0.0 END) AS quality
        |FROM documents ORDER BY doc_id""".stripMargin,
    "q28_fingerprint" ->
      """SELECT doc_id,
        |  CAST('0x' || substr(md5(regexp_replace(lower(text), '\s+', ' ', 'g')), 1, 15) AS BIGINT) AS fingerprint
        |FROM documents ORDER BY doc_id""".stripMargin,
    "q29_exact_dedup"       -> OracleGen.q29ExactDedup,
    "q30_ngram_jaccard"     -> OracleGen.q30NgramJaccard,
    "q31_minhash_lsh"       -> OracleGen.q31MinhashLsh,
    "q32_simhash"           -> OracleGen.q32Simhash,
    "q33_embedding_neardup" -> OracleGen.q33EmbeddingNearDup,
    "q34_cosine_topk"       -> OracleGen.q34CosineTopK,
    "q35_lsh_ann"           -> OracleGen.q35LshAnn,
    "q36_multimodal_meta" ->
      """SELECT doc_id,
        |  octet_length(encode(text)) AS byte_len,
        |  sha256(text) AS sha,
        |  lower(hex(encode(substr(text, 1, 4)))) AS header_hex,
        |  CAST(ascii(substr(CAST(doc_id AS VARCHAR), 1, 1)) % 64 + 16 AS BIGINT) AS fake_width,
        |  CAST(octet_length(encode(text)) % 64 + 16 AS BIGINT) AS fake_height
        |FROM documents ORDER BY doc_id""".stripMargin,
    "q37_streaming_window" ->
      """SELECT CAST(ts AS DATE) AS day, event_type, count(*) AS n_events,
        |  CAST(sum(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS total_value
        |FROM events GROUP BY day, event_type ORDER BY day, event_type""".stripMargin,
    "q38_salted_token_counts" ->
      """SELECT token, count(*) AS n
        |FROM (SELECT unnest(string_split(text, ' ')) AS token FROM documents) t
        |GROUP BY token ORDER BY token""".stripMargin,
    "q39_sessionization" ->
      """WITH e AS (SELECT user_id, event_id, CAST(ts AS TIMESTAMP) AS ts
        |           FROM events),
        |f AS (SELECT user_id, event_id, ts,
        |        lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)
        |          AS prev_ts FROM e),
        |g AS (SELECT *, CASE WHEN prev_ts IS NULL
        |        OR epoch_us(ts) - epoch_us(prev_ts) > 1800000000
        |        THEN 1 ELSE 0 END AS new_session FROM f),
        |h AS (SELECT *, CAST(sum(new_session) OVER (
        |        PARTITION BY user_id ORDER BY ts, event_id
        |        ROWS UNBOUNDED PRECEDING) AS BIGINT) AS session_idx FROM g)
        |SELECT user_id, session_idx, count(*) AS n_events,
        |  CAST(min(ts) AS VARCHAR) AS session_start,
        |  CAST(max(ts) AS VARCHAR) AS session_end
        |FROM h GROUP BY user_id, session_idx
        |ORDER BY user_id, session_idx""".stripMargin,
    "q40_rollup_stats" ->
      """SELECT coalesce(lang, '<all>') AS lang,
        |  coalesce(source, '<all>') AS source,
        |  count(*) AS n_docs, CAST(sum(n_chars) AS BIGINT) AS total_chars,
        |  CAST(GROUPING(lang, source) AS BIGINT) AS lvl
        |FROM documents GROUP BY ROLLUP(lang, source)
        |ORDER BY lang, source""".stripMargin,
    "q41_table_profile" ->
      """SELECT 'l_quantity' AS col_name, count(*) AS n_rows,
        |  CAST(sum(CASE WHEN l_quantity IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_nulls,
        |  count(DISTINCT l_quantity) AS n_distinct,
        |  CAST(min(l_quantity) AS VARCHAR) AS min_v,
        |  CAST(max(l_quantity) AS VARCHAR) AS max_v FROM lineitem
        |UNION ALL
        |SELECT 'l_returnflag', count(*),
        |  CAST(sum(CASE WHEN l_returnflag IS NULL THEN 1 ELSE 0 END) AS BIGINT),
        |  count(DISTINCT l_returnflag),
        |  CAST(min(l_returnflag) AS VARCHAR),
        |  CAST(max(l_returnflag) AS VARCHAR) FROM lineitem
        |UNION ALL
        |SELECT 'l_discount', count(*),
        |  CAST(sum(CASE WHEN l_discount IS NULL THEN 1 ELSE 0 END) AS BIGINT),
        |  count(DISTINCT l_discount),
        |  CAST(min(l_discount) AS VARCHAR),
        |  CAST(max(l_discount) AS VARCHAR) FROM lineitem
        |ORDER BY col_name""".stripMargin,
    // q42's oracle (q60's pattern, extended to the quantile sketch):
    // exact anchors + literal TRUE accuracy bounds. Sketch VALUES stay
    // unchecked (engines' sketches legitimately differ); the gate fails
    // if Spark's HLL leaves 3σ or percentile_approx leaves [p40, p60].
    "q42_approx_stats" ->
      """WITH a AS (SELECT count(*) AS n_rows,
        |    count(DISTINCT l_suppkey) AS exact_supp FROM lineitem),
        |r AS (SELECT l_extendedprice AS v,
        |    row_number() OVER (ORDER BY l_extendedprice) AS rn
        |  FROM lineitem)
        |SELECT max(a.n_rows) AS n_rows, max(a.exact_supp) AS exact_supp,
        |  min(CASE WHEN rn = floor((a.n_rows - 1) * 0.4) + 1 THEN v END)
        |    AS p40,
        |  min(CASE WHEN rn = floor((a.n_rows - 1) * 0.6) + 1 THEN v END)
        |    AS p60,
        |  TRUE AS supp_within_3sigma, TRUE AS median_in_bounds
        |FROM r, a""".stripMargin,
    "q43_ivf_ann" -> OracleGen.q43IvfAnn,
    // q44: `a` is the ASCII-normalized text (same regexp_replace as the
    // Spark side, MultimodalOps.asciiBinaryTable) so character slices ≡
    // byte slices structurally — no latent ASCII-corpus assumption.
    "q44_frame_sampling" ->
      """SELECT doc_id, CAST(off // 128 AS INTEGER) AS frame_idx,
        |  off AS "offset",
        |  CAST(least(64, octet_length(encode(a)) - off) AS BIGINT)
        |    AS frame_len,
        |  sha256(substr(a, CAST(off AS INTEGER) + 1, 64)) AS frame_sha
        |FROM (SELECT doc_id, regexp_replace(text, '[^\x00-\x7f]', '?', 'g') AS a,
        |        unnest(range(0, octet_length(encode(regexp_replace(text, '[^\x00-\x7f]', '?', 'g'))), 128)) AS off
        |      FROM documents) t
        |ORDER BY doc_id, frame_idx""".stripMargin,
    "q45_rolling_fingerprint" ->
      """SELECT doc_id,
        |  list_reduce(list_transform(range(1, length(text) + 1),
        |    i -> CAST(ascii(substr(text, CAST(i AS INTEGER), 1)) AS BIGINT)),
        |    (acc, x) -> (acc * 31 + x) % 2147483647) AS fp,
        |  list_reduce(list_transform(range(1, length(text) + 1),
        |    i -> CAST(ascii(substr(lower(text), CAST(i AS INTEGER), 1)) AS BIGINT)),
        |    (acc, x) -> (acc * 31 + x) % 2147483647) AS fp_lower
        |FROM documents ORDER BY doc_id""".stripMargin,
    "q46_set_ops" ->
      """SELECT 'with_orders' AS tag, c_custkey FROM
        |  (SELECT c_custkey FROM customer
        |   INTERSECT SELECT o_custkey FROM orders) a
        |UNION ALL
        |SELECT 'no_orders' AS tag, c_custkey FROM
        |  (SELECT c_custkey FROM customer
        |   EXCEPT SELECT o_custkey FROM orders) b
        |ORDER BY tag, c_custkey""".stripMargin,
    "q47_pivot" -> {
      val cols = RelationalOps.EventTypes.map(t =>
        s"  CAST(sum(CASE WHEN event_type = '$t' THEN 1 ELSE 0 END) AS BIGINT) AS $t")
        .mkString(",\n")
      s"""SELECT user_id,
         |$cols
         |FROM events GROUP BY user_id ORDER BY user_id""".stripMargin
    },
    "q48_window_suite" ->
      """SELECT o_custkey, o_orderkey, CAST(o_orderdate AS DATE) AS order_date,
        |  CAST(row_number() OVER w AS BIGINT) AS rn,
        |  lag(CAST(o_orderdate AS DATE)) OVER w AS prev_date,
        |  lead(o_orderkey) OVER w AS next_key,
        |  CAST(sum(CAST(o_totalprice AS DECIMAL(18,2)))
        |    OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
        |          ROWS UNBOUNDED PRECEDING) AS DOUBLE) AS cum_spend,
        |  CAST(rank() OVER (PARTITION BY o_custkey
        |    ORDER BY o_totalprice DESC, o_orderkey) AS BIGINT) AS price_rank
        |FROM orders
        |WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)
        |ORDER BY o_custkey, o_orderkey""".stripMargin,
    "q49_percentiles" ->
      """WITH r AS (SELECT l_returnflag, l_quantity,
        |    CAST(row_number() OVER (PARTITION BY l_returnflag
        |      ORDER BY l_quantity, l_orderkey, l_linenumber) AS BIGINT) AS rn,
        |    count(*) OVER (PARTITION BY l_returnflag) AS n
        |  FROM lineitem)
        |SELECT l_returnflag, CAST(max(n) AS BIGINT) AS n_rows,
        |  max(CASE WHEN rn = CAST(ceil(0.5 * n) AS BIGINT) THEN l_quantity END) AS p50,
        |  max(CASE WHEN rn = CAST(ceil(0.9 * n) AS BIGINT) THEN l_quantity END) AS p90,
        |  max(CASE WHEN rn = CAST(ceil(0.99 * n) AS BIGINT) THEN l_quantity END) AS p99
        |FROM r GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin,
    "q50_asof_join" ->
      """WITH c AS (SELECT user_id, ts FROM events WHERE event_type = 'click'),
        |p AS (SELECT user_id, event_id, ts FROM events
        |      WHERE event_type = 'purchase')
        |SELECT p.user_id, p.event_id, CAST(p.ts AS VARCHAR) AS ts,
        |  CAST(c.ts AS VARCHAR) AS last_click_ts
        |FROM p ASOF LEFT JOIN c ON p.user_id = c.user_id AND p.ts >= c.ts
        |ORDER BY p.user_id, p.event_id""".stripMargin,
    "q51_range_join" -> {
      val values = JoinOps.PriceBands.map { case (id, lo, hi) =>
        s"($id, $lo, $hi)"
      }.mkString(", ")
      s"""SELECT CAST(band_id AS BIGINT) AS band_id, count(*) AS n_items,
         |  CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS total_price
         |FROM lineitem
         |JOIN (VALUES $values) AS b(band_id, lo, hi)
         |  ON l_extendedprice >= lo AND l_extendedprice < hi
         |GROUP BY band_id ORDER BY band_id""".stripMargin
    },
    "q52_cube_stats" ->
      """SELECT coalesce(lang, '<all>') AS lang,
        |  coalesce(source, '<all>') AS source,
        |  count(*) AS n_docs, CAST(sum(n_chars) AS BIGINT) AS total_chars,
        |  CAST(GROUPING(lang, source) AS BIGINT) AS lvl
        |FROM documents GROUP BY CUBE(lang, source)
        |ORDER BY lang, source""".stripMargin,
    // q53's oracle is the PLAIN join/aggregate — the salted plan must be
    // bit-identical to the unsalted semantics it optimizes.
    "q53_salted_skew_join" ->
      """SELECT concat('u', CAST(user_id AS VARCHAR)) AS user_name,
        |  count(*) AS n_events,
        |  CAST(sum(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS total_value
        |FROM events GROUP BY user_id ORDER BY user_name""".stripMargin,
    "q54_vector_quantize" -> OracleGen.q54VectorQuantize,
    "q55_doc_chunking" -> {
      val (ck, st) = (TextOps.ChunkTokens, TextOps.ChunkStride)
      s"""WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
         |u AS (SELECT doc_id, toks, len(toks) AS n FROM t),
         |c AS (SELECT doc_id, toks, unnest(range(0, n, $st)) AS s FROM u)
         |SELECT doc_id, CAST(s // $st AS BIGINT) AS chunk_idx,
         |  CAST(s AS BIGINT) AS start_tok,
         |  CAST(len(toks[s + 1:s + $ck]) AS BIGINT) AS n_tokens,
         |  md5(array_to_string(toks[s + 1:s + $ck], ' ')) AS chunk_fp
         |FROM c ORDER BY doc_id, chunk_idx""".stripMargin
    },
    "q56_pii_scrub" -> {
      import CurationOps.{EmailRe, PhoneRe, IpRe}
      // the Scala constants interpolate as raw regex text; DuckDB string
      // literals do not escape-process backslashes, so the same pattern
      // reaches both regex engines (both RE2-compatible subsets)
      s"""WITH p AS (SELECT doc_id,
         |    concat(text, ' contact user', CAST(doc_id AS VARCHAR),
         |      '@example.com or +31 6 ',
         |      CAST(doc_id % 10000000 + 1000000 AS VARCHAR),
         |      ' from 10.1.2.', CAST(doc_id % 256 AS VARCHAR)) AS raw
         |  FROM documents),
         |s AS (SELECT doc_id, raw,
         |    regexp_replace(regexp_replace(regexp_replace(raw,
         |      '$EmailRe', '<EMAIL>', 'g'),
         |      '$PhoneRe', '<PHONE>', 'g'),
         |      '$IpRe', '<IP>', 'g') AS scrubbed FROM p)
         |SELECT doc_id,
         |  CAST(len(regexp_extract_all(raw, '$EmailRe')) AS BIGINT) AS n_emails,
         |  CAST(len(regexp_extract_all(raw, '$PhoneRe')) AS BIGINT) AS n_phones,
         |  CAST(len(regexp_extract_all(raw, '$IpRe')) AS BIGINT) AS n_ips,
         |  md5(scrubbed) AS scrubbed_md5,
         |  CAST(length(scrubbed) AS BIGINT) AS scrubbed_len
         |FROM s ORDER BY doc_id""".stripMargin
    },
    "q57_repetition_filter" ->
      """WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
        |g AS (SELECT doc_id, unnest(list_transform(range(1, len(toks)),
        |    i -> toks[i] || ' ' || toks[i+1])) AS gram FROM t),
        |c AS (SELECT doc_id, gram, count(*) AS cnt FROM g GROUP BY 1, 2)
        |SELECT doc_id, CAST(sum(cnt) AS BIGINT) AS n_bigrams,
        |  count(*) AS n_distinct, CAST(max(cnt) AS BIGINT) AS max_rep,
        |  CAST(max(cnt) AS DOUBLE) / CAST(sum(cnt) AS DOUBLE) AS rep_ratio
        |FROM c GROUP BY doc_id ORDER BY doc_id""".stripMargin,
    "q58_contamination" -> {
      val n = CurationOps.ContamGram
      val cat = (1 to n).map(k => s"toks[i+${k - 1}]").mkString(" || ' ' || ")
      s"""WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
         |g AS (SELECT doc_id, unnest(list_transform(range(1, len(toks) - ${n - 2}),
         |    i -> $cat)) AS gram FROM t),
         |b AS (SELECT DISTINCT gram FROM g WHERE doc_id % 97 = 0)
         |SELECT g.doc_id, count(DISTINCT g.gram) AS n_shared_grams
         |FROM g JOIN b USING (gram) WHERE g.doc_id % 97 <> 0
         |GROUP BY g.doc_id ORDER BY g.doc_id""".stripMargin
    },
    "q59_dup_clusters" -> OracleGen.q59DupClusters,
    "q110_cluster_reps" -> OracleGen.q110ClusterRepresentatives,
    "q116_clean_val_split" -> OracleGen.q116CleanValSplit,
    "q117_heavy_hitters" -> {
      val c = ProfileOps.HeavyCap
      s"""WITH k AS (SELECT CAST(floor(sqrt(event_id % 10000)) AS BIGINT) AS k
         |  FROM events),
         |e AS (SELECT k, count(*) AS cnt FROM k GROUP BY k),
         |t AS (SELECT count(*) AS n_rows FROM k)
         |SELECT (SELECT n_rows FROM t) AS n_rows,
         |  LEAST($c, (SELECT count(*) FROM e)) AS n_tracked,
         |  (SELECT count(*) FROM e, t WHERE cnt * $c > n_rows) AS n_heavy,
         |  TRUE AS all_heavy_tracked, TRUE AS all_bounds_hold""".stripMargin
    },
    "q118_capped_lsh" -> OracleGen.q118CappedLsh,
    "q119_contamination" -> OracleGen.q119Contamination,
    "q120_paragraph_dedup" -> DedupOps.paragraphDedupOracle,
    "q121_semantic_dedup" -> ClusterOps.semanticDedupOracle,
    "q122_curation_funnel" -> CurationOps.curationFunnelOracle,
    "q123_oov_rate" -> TextOps.oovRateOracle,
    "q124_bpe_merge" -> TextOps.bpeMergeStepOracle,
    "q125_cdc_fingerprint" -> DedupOps.cdcFingerprintDupsOracle,
    "q126_source_drift" -> ProfileOps.sourceDriftOracle,
    "q127_bpe_train" -> TextOps.bpeTrainOracle,
    "q128_token_budget" -> TrainPrepOps.tokenBudgetSelectOracle,
    "q129_classifier_gate" -> MixtureOps.classifierGateOracle,
    "q130_temperature_mix" -> MixtureOps.temperatureMixOracle,
    "q131_dsir_weights" -> MixtureOps.dsirWeightsOracle,
    "q132_epoch_shuffle" -> MixtureOps.epochShuffleAuditOracle,
    "q133_training_manifest" -> MixtureOps.trainingManifestOracle,
    "q134_bpe_fertility" -> TextOps.bpeFertilityOracle,
    "q135_cluster_sample" -> ClusterOps.clusterBalancedSampleOracle,
    "q136_manifest_churn" -> MixtureOps.manifestChurnOracle,
    "q137_concat_chunk" -> TrainPrepOps.concatChunkOracle,
    "q138_source_overlap" -> DedupOps.sourceOverlapOracle,
    "q139_threshold_curve" -> TrainPrepOps.thresholdCurveOracle,
    "q140_neyman_alloc" -> ProfileOps.neymanAllocationOracle,
    "q141_jackknife" -> ProfileOps.jackknifeInfluenceOracle,
    "q142_zipf_slope" -> ProfileOps.zipfSlopeOracle,
    "q143_heaps_law" -> ProfileOps.heapsLawOracle,
    "q144_semantic_contam" -> ClusterOps.semanticContaminationOracle,
    "q145_unigram_entropy" -> ProfileOps.unigramEntropyOracle,
    "q146_containment" -> DedupOps.containmentDupsOracle,
    "q147_bm25_topk" -> MlPrepOps.bm25TopKOracle,
    "q148_lm_band" -> AnalyticsOps.perplexityBucketOracle,
    "q149_template_skeleton" -> TextOps.templateSkeletonOracle,
    "q150_l_diversity" -> CurationOps.lDiversityOracle,
    "q151_langid_confusion" -> TextOps.langIdConfusionOracle(OracleGen.q26LangId),
    "q152_t_closeness" -> CurationOps.tClosenessOracle,
    "q153_passage_chunks" -> TrainPrepOps.passageChunksOracle,
    "q154_lsh_calibration" -> OracleGen.q154LshCalibration,
    "q155_snapshot_ks_drift" -> ProfileOps.snapshotKsDriftOracle,
    "q156_dedup_method_venn" -> OracleGen.q156DedupMethodVenn,
    "q157_dp_release" -> CurationOps.dpReleaseOracle,
    "q158_bootstrap_ci" -> ProfileOps.bootstrapCiOracle,
    "q159_image_phash" -> OracleGen.q159ImagePhashNearDup,
    "q160_image_gate" -> OracleGen.q160ImageQualityGate,
    "q161_incremental_lsh" -> OracleGen.q161IncrementalLsh,
    "q162_span_coverage" -> TextOps.spanCoverageOracle,
    "q163_user_dp" -> CurationOps.userLevelDpOracle,
    "q164_source_sketch" -> DedupOps.sourceOverlapSketchOracle,
    "q165_audio_gate" -> MultimodalOps.audioQualityGateOracle,
    "q166_contam_provenance" -> DedupOps.contaminationProvenanceOracle,
    "q167_waterfill" -> MixtureOps.waterfillAllocOracle,
    "q168_psi_drift" -> ProfileOps.psiDriftOracle,
    "q169_image_clusters" ->
      MultimodalOps.imagePhashClustersOracle(OracleGen.q159ImagePhashNearDup),
    "q170_multimodal_mix" -> MultimodalOps.multimodalMixTableOracle(
      OracleGen.q160ImageQualityGate, MultimodalOps.audioQualityGateOracle),
    "q171_sft_assembly" -> TrainPrepOps.sftAssemblyOracle,
    "q172_hard_negatives" -> MlPrepOps.hardNegativesOracle,
    "q173_length_buckets" -> TrainPrepOps.lengthBucketsOracle,
    "q174_pref_pairs" -> TrainPrepOps.prefPairsOracle,
    "q175_countmin_audit" -> ProfileOps.countMinAuditOracle,
    "q176_embedding_drift" -> ClusterOps.embeddingDriftOracle,
    "q177_stream_dedup" -> StreamingOps.streamDedupOracle,
    "q178_dedup_weights" ->
      CurationOps.dedupWeightsOracle(OracleGen.q110ClusterRepresentatives),
    "q179_incremental_stats" -> ScaleOps.incrementalStatsOracle,
    "q180_norm_audit" -> TextOps.normAuditOracle,
    "q181_bloom_ingest" -> DedupOps.bloomIngestDedupOracle,
    "q182_bottomk_sample" -> CurationOps.bottomKSampleOracle,
    "q183_maxsim_retrieval" -> SimilarityOps.maxSimRetrievalOracle,
    "q184_freshness_streaks" -> TimeSeriesOps.freshnessStreaksOracle,
    "q185_prefix_savings" -> TrainPrepOps.prefixSavingsOracle,
    "q186_fk_orphans" -> ProfileOps.fkOrphansOracle,
    "q187_contract_audit" -> ProfileOps.contractAuditOracle,
    "q188_bt_ratings" -> TrainPrepOps.btRatingsOracle,
    "q189_mrl_audit" -> SimilarityOps.mrlAuditOracle,
    "q190_ir_metrics" -> MlPrepOps.irMetricsOracle,
    "q191_canary_audit" -> CurationOps.canaryAuditOracle,
    "q192_rrf_fusion" -> MlPrepOps.rrfFusionOracle,
    "q193_ivf_balance" -> SimilarityOps.ivfBalanceOracle,
    "q194_gate_kappa" -> CurationOps.gateKappaOracle,
    "q195_calibration" -> MixtureOps.calibrationAuditOracle,
    "q196_threshold_curve" -> OracleGen.q196ThresholdCurve,
    "q197_watermark_audit" -> TimeSeriesOps.watermarkAuditOracle,
    "q198_pq_audit" -> SimilarityOps.pqAuditOracle,
    "q199_deletion_impact" -> ProfileOps.deletionImpactOracle,
    "q200_ab_test" -> AnalyticsOps.abTestOracle,
    "q201_pareto_frontier" -> CurationOps.paretoFrontierOracle,
    "q202_context_dedup" -> MlPrepOps.contextDedupOracle,
    "q203_annotator_quality" -> CurationOps.annotatorQualityOracle,
    "q204_fim_transform" -> TrainPrepOps.fimTransformOracle,
    "q205_survivor_policy" -> CurationOps.survivorPolicyOracle,
    "q206_temperature_curve" -> MixtureOps.temperatureCurveOracle,
    "q207_vocab_migration" -> TextOps.vocabMigrationOracle,
    "q208_topk_native" -> RelationalOps.topkNativeOracle,
    "q209_quantile_norm" -> TextOps.quantileNormOracle,
    "q210_gate_ablation" -> CurationOps.gateAblationOracle,
    "q211_distinctive_terms" -> TextOps.distinctiveTermsOracle,
    "q212_index_staleness" -> SimilarityOps.indexStalenessOracle,
    "q213_ess_clip_curve" ->
      CurationOps.essClipCurveOracle(OracleGen.q110ClusterRepresentatives),
    "q214_rare_term_graph" -> GraphOps.rareTermGraphOracle,
    "q215_temporal_leakage" -> TimeSeriesOps.temporalLeakageOracle,
    "q216_shard_conformance" -> TrainPrepOps.shardConformanceOracle,
    "q217_domain_filter" -> CurationOps.domainFilterOracle,
    "q218_chain_audit" -> DedupOps.chainAuditOracle,
    "q219_quota_sample" -> CurationOps.quotaSampleOracle,
    "q220_reshard_audit" -> ScaleOps.reshardAuditOracle,
    "q221_context_pack" -> MlPrepOps.contextPackOracle,
    "q222_vector_gate" -> SimilarityOps.vectorGateOracle,
    "q223_incr_postings" -> MlPrepOps.incrementalPostingsOracle,
    "q224_hll_audit" -> ProfileOps.hllAuditOracle,
    "q225_crossmodal_audit" -> MultimodalOps.crossModalAuditOracle,
    "q226_join_card_audit" -> ProfileOps.joinCardAuditOracle,
    "q227_benford_audit" -> ProfileOps.benfordAuditOracle,
    "q228_cdc_chunk_dedup" -> DedupOps.cdcChunkDedupOracle,
    "q229_incremental_cc" -> GraphOps.incrementalCcOracle,
    "q230_url_canon_dedup" -> CurationOps.urlCanonDedupOracle,
    "q231_join_order_audit" -> ProfileOps.joinOrderAuditOracle,
    "q232_krippendorff" -> CurationOps.krippendorffAlphaOracle,
    "q233_lsh_s_curve" -> DedupOps.lshSCurveOracle,
    "q234_iw_eval" -> TrainPrepOps.iwEvalOracle,
    "q235_event_paths" -> AnalyticsOps.eventPathsOracle,
    "q236_runtime_filter" -> ScaleOps.runtimeFilterJoinOracle,
    "q237_encoding_advisor" -> ScaleOps.encodingAdvisorOracle,
    "q238_hll_set_algebra" -> ProfileOps.hllSetAlgebraOracle,
    "q239_retraction_aggs" -> AnalyticsOps.retractionAggsOracle,
    "q240_blocking_audit" -> DedupOps.blockingAuditOracle,
    "q241_fd_discovery" -> ProfileOps.fdDiscoveryOracle,
    "q242_hist_selectivity" -> ProfileOps.histSelectivityOracle,
    "q243_sorted_neighborhood" -> DedupOps.sortedNeighborhoodOracle,
    "q244_interval_overlap" -> JoinOps.intervalOverlapOracle,
    "q245_mw_drift" -> ProfileOps.mwDriftOracle,
    "q246_theil_sen" -> TimeSeriesOps.theilSenOracle,
    "q247_shapley" -> AnalyticsOps.shapleyAttributionOracle,
    "q248_fs_linkage" -> DedupOps.fsLinkageOracle,
    "q249_conformal_gate" -> CurationOps.conformalGateOracle,
    "q250_rr_debias" -> CurationOps.rrDebiasOracle,
    "q251_did_readout" -> AnalyticsOps.didReadoutOracle,
    "q252_bh_fdr" -> ProfileOps.bhFdrGateOracle,
    "q253_cusum" -> TimeSeriesOps.cusumChangepointOracle,
    "q254_seasonal" -> TimeSeriesOps.seasonalDecomposeOracle,
    "q255_concentration" -> ProfileOps.concentrationOracle,
    "q256_rbo_churn" -> AnalyticsOps.rboChurnOracle,
    "q257_kendall_tau" -> AnalyticsOps.kendallTauOracle,
    "q258_mcnemar" -> CurationOps.mcnemarGatesOracle,
    "q259_mad_outliers" -> AnalyticsOps.madOutliersOracle,
    "q260_cuped" -> AnalyticsOps.cupedReadoutOracle,
    "q261_auc_lift" -> MlPrepOps.aucDecileLiftOracle,
    "q262_burstiness" -> TimeSeriesOps.burstinessOracle,
    "q263_power_mde" -> AnalyticsOps.powerMdeOracle,
    "q264_qte" -> AnalyticsOps.qteOracle,
    "q265_its_readout" -> TimeSeriesOps.itsReadoutOracle,
    "q266_bandit_replay" -> MixtureOps.banditReplayOracle,
    "q267_bloom_planner" -> ScaleOps.bloomPlannerOracle,
    "q268_brier" -> MixtureOps.brierDecompositionOracle,
    "q269_psm_matching" -> AnalyticsOps.psmMatchingOracle,
    "q270_energy_drift" -> ProfileOps.energyDriftOracle,
    "q271_tail_dependence" -> ProfileOps.tailDependenceOracle,
    "q272_fs_em" -> DedupOps.fsEmOracle,
    "q273_two_changepoints" -> TimeSeriesOps.twoChangepointsOracle,
    "q274_kaplan_meier" -> TimeSeriesOps.kaplanMeierOracle,
    "q275_log_rank" -> TimeSeriesOps.logRankOracle,
    "q276_cmh_test" -> CurationOps.cmhTestOracle,
    "q277_miss_ratio_curve" -> ScaleOps.missRatioCurveOracle,
    "q278_w1_drift" -> ProfileOps.w1DriftOracle,
    "q279_anisotropy" -> SimilarityOps.embeddingAnisotropyOracle,
    "q280_hill_tail" -> ProfileOps.hillTailOracle,
    "q281_cluster_quality" -> SimilarityOps.clusterQualityOracle,
    "q282_markov_attrib" -> TimeSeriesOps.markovAttributionOracle,
    "q283_pack_attention" -> TrainPrepOps.packAttentionAuditOracle,
    "q284_delta_ratio" -> AnalyticsOps.deltaRatioOracle,
    "q285_label_noise" -> CurationOps.labelNoiseOracle,
    "q286_propensity_overlap" -> AnalyticsOps.propensityOverlapOracle,
    "q287_msprt_monitor" -> AnalyticsOps.msprtMonitorOracle,
    "q288_grounding_audit" -> MlPrepOps.groundingAuditOracle,
    "q289_dr_ope" -> MixtureOps.drOpeOracle,
    "q290_kcenter_coreset" -> SimilarityOps.kcenterCoresetOracle,
    "q291_pref_length_bias" -> TrainPrepOps.prefLengthBiasOracle,
    "q292_obf_monitor" -> AnalyticsOps.obfMonitorOracle,
    "q293_contam_ladder" -> DedupOps.contamLadderOracle,
    "q294_capped_metric" -> AnalyticsOps.cappedMetricCurveOracle,
    "q295_lpt_makespan" -> ScaleOps.lptMakespanOracle,
    "q296_checkpoint_interval" -> ScaleOps.checkpointIntervalOracle,
    "q297_aa_calibration" -> AnalyticsOps.aaCalibrationOracle,
    "q298_json_schema_drift" -> RelationalOps.jsonSchemaDriftOracle,
    "q299_nprobe_curve" -> SimilarityOps.nprobeCurveOracle,
    "q300_drift_consensus" -> ProfileOps.driftConsensusOracle,
    "q301_chunk_config" -> TrainPrepOps.chunkConfigCurveOracle,
    "q302_sample_aqp" -> ScaleOps.sampleAqpOracle,
    "q303_session_gap_curve" -> ScaleOps.sessionGapCurveOracle,
    "q304_retention_audit" -> ScaleOps.retentionAuditOracle,
    "q305_backfill_plan" -> ScaleOps.backfillPlanOracle,
    "q306_assoc_rules" -> AnalyticsOps.assocRulesOracle,
    "q307_triangle_census" -> GraphOps.triangleCensusOracle,
    "q308_pca_power" -> SimilarityOps.pcaPowerOracle,
    "q309_gate_fairness" -> CurationOps.gateFairnessOracle,
    "q310_acf_whiteness" -> TimeSeriesOps.acfWhitenessOracle,
    "q311_isotonic_cal" -> MixtureOps.isotonicCalibrationOracle,
    "q312_js_matrix" -> ProfileOps.jsDivergenceMatrixOracle,
    "q313_ranker_agreement" -> MlPrepOps.rankerAgreementOracle,
    "q314_personalized_pr" -> GraphOps.personalizedPageRankOracle,
    "q315_edit_verify" -> DedupOps.editVerifyOracle,
    "q316_distill_stump" -> TrainPrepOps.distillStumpOracle,
    "q317_cap_recall" -> DedupOps.capRecallOracle,
    "q318_pca_deflation" -> SimilarityOps.pcaDeflationOracle,
    "q319_lpa_communities" -> GraphOps.lpaCommunitiesOracle,
    "q320_shingle_width" -> DedupOps.shingleWidthCurveOracle,
    "q321_mi_ranking" -> TrainPrepOps.miRankingOracle,
    "q322_rate_limit" -> ScaleOps.rateLimitReplayOracle,
    "q323_repetition" -> TextOps.repetitionAuditOracle,
    "q324_surprisal" -> TextOps.unigramSurprisalOracle,
    "q325_pii_audit" -> TextOps.piiAuditOracle,
    "q326_snapshot_diff" -> ScaleOps.snapshotDiffOracle,
    "q327_perm_curve" -> DedupOps.permCountCurveOracle,
    "q328_gibberish" -> TextOps.gibberishGateOracle,
    "q329_quantile_acc" -> ProfileOps.quantileAccuracyOracle,
    "q330_negative_table" -> TrainPrepOps.negativeTableOracle,
    "q331_nb_classifier" -> MlPrepOps.nbClassifierOracle,
    "q332_logreg_gd" -> MlPrepOps.logregGdOracle,
    "q333_blocklist" -> TextOps.blocklistAuditOracle,
    "q334_ppl_buckets" -> TextOps.pplBucketsOracle,
    "q335_simpson_scan" -> AnalyticsOps.simpsonScanOracle,
    "q336_huber_location" -> ProfileOps.huberLocationOracle,
    "q337_bbit_minhash" -> DedupOps.bbitTradeoffOracle,
    "q338_kcore_peel" -> GraphOps.kcorePeelOracle,
    "q339_assortativity" -> GraphOps.degreeAssortativityOracle,
    "q340_prf_expansion" -> MlPrepOps.prfExpansionOracle,
    "q341_count_sketch" -> ProfileOps.countSketchAuditOracle,
    "q342_greedy_cover" -> CurationOps.greedyCoverOracle,
    "q343_ipf_raking" -> MixtureOps.ipfRakingOracle,
    "q344_tracin_attrib" -> MlPrepOps.tracinAttributionOracle,
    "q345_cartography" -> MlPrepOps.datasetCartographyOracle,
    "q346_loo_source" -> MlPrepOps.looSourceEvalOracle,
    "q347_skipping_audit" -> ScaleOps.skippingAuditOracle,
    "q348_ivm_join_view" -> ScaleOps.ivmJoinViewOracle,
    "q349_unseen_mass" -> TextOps.unseenMassOracle,
    "q350_pointer_jump" -> GraphOps.pointerJumpOracle,
    "q351_postings_bytes" -> MlPrepOps.postingsCompressionOracle,
    "q352_three_way_merge" -> ScaleOps.threeWayMergeOracle,
    "q353_rff_kernel" -> SimilarityOps.rffKernelAuditOracle,
    "q354_halving_search" -> MlPrepOps.successiveHalvingOracle,
    "q355_hits" -> GraphOps.hitsOracle,
    "q356_kmv_sketch" -> ProfileOps.kmvSetAlgebraOracle,
    "q357_neyman_alloc" -> CurationOps.neymanAllocationOracle,
    "q358_boruvka_msf" -> GraphOps.boruvkaMstOracle,
    "q359_sinkhorn_ot" -> ProfileOps.sinkhornOtOracle,
    "q361_dsir_selection" -> MlPrepOps.dsirSelectionOracle,
    "q362_ridge_path" -> MlPrepOps.ridgePathOracle,
    "q363_effnum_weights" -> MlPrepOps.effNumWeightsOracle,
    "q364_batch_mix" -> MlPrepOps.batchCompositionOracle,
    "q365_linkage_curve" -> GraphOps.linkageCurveOracle,
    "q366_risk_coverage" -> MlPrepOps.riskCoverageOracle,
    "q367_session_native" -> ScaleOps.sessionWindowNativeOracle,
    "q369_state_sizing" -> ScaleOps.stateSizingOracle,
    "q370_doremi_weights" -> MixtureOps.doremiWeightsOracle,
    "q371_hash_width" -> ProfileOps.hashWidthAuditOracle,
    "q373_rate_limit_native" -> ScaleOps.rateLimitNativeOracle,
    "q374_icc_design" -> CurationOps.iccDesignEffectOracle,
    "q375_attack_robustness" -> GraphOps.attackRobustnessOracle,
    "q376_sliding_hll" -> ProfileOps.slidingHllDistinctOracle,
    "q377_pool_testing" -> CurationOps.poolTestingOracle,
    "q378_prefix_cache" -> TextOps.prefixCacheCurveOracle,
    "q379_substring_dup" -> DedupOps.substringDupOracle,
    "q380_hyperball" -> GraphOps.hyperballOracle,
    "q381_substring_cut" -> DedupOps.substringCutOracle,
    "q382_harmonic_centrality" -> GraphOps.harmonicCentralityOracle,
    "q383_kn_bigram_lm" -> TextOps.knBigramLmOracle,
    "q384_random_failure" -> GraphOps.randomFailureOracle,
    "q385_rendezvous_shards" -> ScaleOps.rendezvousShardsOracle,
    "q386_srm_gate" -> AnalyticsOps.srmGateOracle,
    "q387_ktruss" -> GraphOps.ktrussOracle,
    "q388_densest_subgraph" -> GraphOps.densestSubgraphOracle,
    "q389_butterfly_census" -> GraphOps.butterflyCensusOracle,
    "q390_luby_mis" -> GraphOps.lubyMisOracle,
    "q391_pass_at_k" -> AnalyticsOps.passAtKOracle,
    "q392_random_walks" -> GraphOps.randomWalksOracle,
    "q112_random_projection" -> SimilarityOps.randomProjectionOracle,
    "q113_ann_recall" -> SimilarityOps.annRecallOracle,
    "q114_global_enum" ->
      """SELECT doc_id, source,
        |  row_number() OVER (ORDER BY doc_id) - 1 AS global_id
        |FROM documents ORDER BY doc_id""".stripMargin,
    "q115_pack_efficiency" -> {
      val b = TrainPrepOps.PackBudget
      s"""WITH RECURSIVE ord AS (
         |  SELECT source, doc_id, n_chars,
         |    row_number() OVER (PARTITION BY source ORDER BY doc_id) AS rn
         |  FROM documents),
         |packed AS (
         |  SELECT source, doc_id, n_chars, rn,
         |    CAST(0 AS BIGINT) AS bin, n_chars AS fill
         |  FROM ord WHERE rn = 1
         |  UNION ALL
         |  SELECT o.source, o.doc_id, o.n_chars, o.rn,
         |    CASE WHEN p.fill + o.n_chars <= $b THEN p.bin ELSE p.bin + 1 END,
         |    CASE WHEN p.fill + o.n_chars <= $b THEN p.fill + o.n_chars
         |         ELSE o.n_chars END
         |  FROM packed p JOIN ord o ON o.source = p.source AND o.rn = p.rn + 1),
         |bins AS (SELECT source, bin, max(fill) AS bin_fill,
         |    count(*) AS bin_docs
         |  FROM packed GROUP BY source, bin),
         |agg AS (SELECT source, count(*) AS n_bins,
         |    CAST(sum(bin_docs) AS BIGINT) AS n_docs,
         |    CAST(sum(bin_fill) AS BIGINT) AS packed_chars,
         |    max(bin_fill) AS max_fill,
         |    CAST(sum(CASE WHEN bin_fill > $b THEN 1 ELSE 0 END) AS BIGINT)
         |      AS n_overflow
         |  FROM bins GROUP BY source)
         |SELECT source, n_bins, n_docs, packed_chars, max_fill, n_overflow,
         |  CAST(packed_chars AS DOUBLE) / CAST(n_bins * $b AS DOUBLE)
         |    AS fill_ratio
         |FROM agg ORDER BY source""".stripMargin
    },
    // q60's oracle: exact counts + literal TRUE bounds — the gate fails
    // if Spark's HLL estimate leaves its 3σ envelope (sketch VALUES stay
    // rows-only in q42; engines' sketches legitimately differ).
    "q60_sketch_accuracy" ->
      """SELECT count(DISTINCT l_partkey) AS exact_parts,
        |  count(DISTINCT l_orderkey) AS exact_orders,
        |  TRUE AS parts_within_3sigma, TRUE AS orders_within_3sigma
        |FROM lineitem""".stripMargin,
    "q61_dataset_split" ->
      """WITH b AS (SELECT doc_id,
        |    CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15) AS BIGINT) % 100 AS bucket
        |  FROM documents),
        |s AS (SELECT doc_id, CASE WHEN bucket < 90 THEN 'train'
        |        WHEN bucket < 95 THEN 'val' ELSE 'test' END AS split FROM b)
        |SELECT split, count(*) AS n_docs, min(doc_id) AS min_id,
        |  max(doc_id) AS max_id
        |FROM s GROUP BY split ORDER BY split""".stripMargin,
    "q62_json_extract" ->
      """SELECT event_type, count(*) AS n_events,
        |  CAST(sum(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT) AS sum_k,
        |  CAST(min(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT) AS min_k,
        |  CAST(max(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT) AS max_k
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin,
    "q63_attribution_join" ->
      """WITH p AS (SELECT user_id, event_id AS purchase_id, ts AS p_ts
        |           FROM events WHERE event_type = 'purchase'),
        |c AS (SELECT user_id, event_id AS click_id, ts AS c_ts
        |      FROM events WHERE event_type = 'click')
        |SELECT p.user_id, purchase_id, click_id,
        |  CAST(p_ts AS VARCHAR) AS purchase_ts,
        |  CAST(c_ts AS VARCHAR) AS click_ts
        |FROM p JOIN c ON p.user_id = c.user_id
        |  AND c_ts <= p_ts AND c_ts >= p_ts - INTERVAL 1 HOUR
        |ORDER BY p.user_id, purchase_id, click_id""".stripMargin,
    "q64_stratified_sample" -> {
      val k = CurationOps.SamplePerStratum
      s"""WITH r AS (SELECT lang, doc_id,
         |    row_number() OVER (PARTITION BY lang
         |      ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS rn
         |  FROM documents)
         |SELECT lang, doc_id, CAST(rn AS BIGINT) AS sample_rank
         |FROM r WHERE rn <= $k ORDER BY lang, sample_rank""".stripMargin
    },
    "q65_vocabulary" -> {
      val k = TextOps.VocabTopK
      s"""WITH t AS (SELECT unnest(string_split(text, ' ')) AS token
         |           FROM documents),
         |c AS (SELECT token, count(*) AS n FROM t GROUP BY token),
         |r AS (SELECT token, n,
         |    row_number() OVER (ORDER BY n DESC, token) AS "rank" FROM c)
         |SELECT CAST("rank" AS BIGINT) AS "rank", token, n
         |FROM r WHERE "rank" <= $k ORDER BY "rank"""".stripMargin
    },
    // q66's oracle is the PLAIN join — the bloom pre-filter admits ≤fpp
    // false positives which the exact join then removes, so the pruned
    // plan must be bit-identical to the unpruned semantics.
    "q66_bloom_prune_join" ->
      """SELECT strftime(o_orderdate, '%Y-%m') AS order_month,
        |  count(*) AS n_lines,
        |  CAST(sum(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,4))) AS DOUBLE) AS revenue
        |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |WHERE o_orderpriority = '1-URGENT'
        |GROUP BY order_month ORDER BY order_month""".stripMargin,
    "q67_funnel" ->
      """WITH u AS (SELECT DISTINCT user_id FROM events),
        |v AS (SELECT user_id, min(ts) AS first_view FROM events
        |      WHERE event_type = 'view' GROUP BY user_id),
        |c AS (SELECT e.user_id, min(e.ts) AS first_click
        |      FROM events e JOIN v ON e.user_id = v.user_id
        |      WHERE e.event_type = 'click' AND e.ts > v.first_view
        |      GROUP BY e.user_id),
        |p AS (SELECT e.user_id, min(e.ts) AS first_purchase
        |      FROM events e JOIN c ON e.user_id = c.user_id
        |      WHERE e.event_type = 'purchase' AND e.ts > c.first_click
        |      GROUP BY e.user_id)
        |SELECT u.user_id,
        |  CAST(v.first_view AS VARCHAR) AS first_view,
        |  CAST(c.first_click AS VARCHAR) AS first_click,
        |  CAST(p.first_purchase AS VARCHAR) AS first_purchase,
        |  CAST(CASE WHEN p.first_purchase IS NOT NULL THEN 3
        |       WHEN c.first_click IS NOT NULL THEN 2
        |       WHEN v.first_view IS NOT NULL THEN 1
        |       ELSE 0 END AS BIGINT) AS stage
        |FROM u LEFT JOIN v USING (user_id) LEFT JOIN c USING (user_id)
        |  LEFT JOIN p USING (user_id)
        |ORDER BY u.user_id""".stripMargin,
    "q68_bigram_lm" -> {
      val k = AnalyticsOps.LmTopK
      s"""WITH t AS (SELECT string_split(text, ' ') AS toks FROM documents),
         |g AS (SELECT unnest(list_transform(range(1, len(toks)),
         |    i -> toks[i] || ' ' || toks[i+1])) AS bigram FROM t),
         |g2 AS (SELECT bigram, string_split(bigram, ' ')[1] AS w1 FROM g),
         |c12 AS (SELECT bigram, w1, count(*) AS c12 FROM g2 GROUP BY bigram, w1),
         |c1 AS (SELECT w1, count(*) AS c1 FROM g2 GROUP BY w1),
         |v AS (SELECT count(DISTINCT tok) AS v FROM
         |      (SELECT unnest(string_split(text, ' ')) AS tok FROM documents))
         |SELECT bigram, c12, c1, (c12 + 1) / (c1 + v) AS p_smooth
         |FROM c12 JOIN c1 USING (w1) CROSS JOIN v
         |ORDER BY c12 DESC, bigram LIMIT $k""".stripMargin
    },
    "q69_tfidf_topk" -> {
      val k = AnalyticsOps.TfidfTopK
      s"""WITH toks AS (SELECT doc_id, unnest(string_split(text, ' ')) AS term
         |              FROM documents),
         |tf AS (SELECT doc_id, term, count(*) AS tf FROM toks
         |       GROUP BY doc_id, term),
         |df AS (SELECT term, count(*) AS df FROM
         |       (SELECT DISTINCT doc_id, term FROM toks) GROUP BY term),
         |n AS (SELECT count(*) AS n_docs FROM documents),
         |sc AS (SELECT tf.doc_id, tf.term, tf.tf, df.df,
         |    tf.tf * (CAST(n.n_docs AS DOUBLE) / df.df) AS score
         |  FROM tf JOIN df USING (term) CROSS JOIN n),
         |r AS (SELECT *, row_number() OVER (PARTITION BY doc_id
         |    ORDER BY score DESC, term) AS rnk FROM sc)
         |SELECT doc_id, CAST(rnk AS BIGINT) AS "rank", term, tf, df, score
         |FROM r WHERE rnk <= $k ORDER BY doc_id, "rank"""".stripMargin
    },
    "q70_pagerank" -> GraphOps.pageRankOracle,
    "q71_scd2" ->
      """WITH e AS (SELECT user_id, event_id, event_type, ts FROM events),
        |f AS (SELECT *, lag(event_type) OVER (PARTITION BY user_id
        |    ORDER BY ts, event_id) AS prev_type FROM e),
        |g AS (SELECT *, CASE WHEN prev_type IS NULL
        |    OR prev_type <> event_type THEN 1 ELSE 0 END AS chg FROM f),
        |h AS (SELECT *, CAST(sum(chg) OVER (PARTITION BY user_id
        |    ORDER BY ts, event_id ROWS UNBOUNDED PRECEDING) AS BIGINT)
        |    AS version FROM g),
        |v AS (SELECT user_id, version, event_type,
        |    min(ts) AS valid_from_ts, count(*) AS n_events
        |  FROM h GROUP BY user_id, version, event_type),
        |w AS (SELECT *, lead(valid_from_ts) OVER (PARTITION BY user_id
        |    ORDER BY version) AS valid_to_ts FROM v)
        |SELECT user_id, version, event_type,
        |  CAST(valid_from_ts AS VARCHAR) AS valid_from,
        |  CAST(valid_to_ts AS VARCHAR) AS valid_to,
        |  valid_to_ts IS NULL AS is_current, n_events
        |FROM w ORDER BY user_id, version""".stripMargin,
    // q72's oracle aggregates the RAW table directly — the merged daily
    // partials must be bit-identical (exact decimal re-aggregation).
    "q72_incremental_merge" ->
      """SELECT strftime(CAST(l_shipdate AS DATE), '%Y-%m') AS ship_month,
        |  CAST(sum(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,4))) AS DOUBLE) AS revenue,
        |  count(*) AS n_lines
        |FROM lineitem GROUP BY ship_month ORDER BY ship_month""".stripMargin,
    "q73_zscore_anomalies" -> {
      val th = AnalyticsOps.ZThreshold
      s"""WITH e AS (SELECT event_id, event_type, value FROM events),
         |st AS (SELECT event_type, count(*) AS n,
         |    CAST(sum(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS s1,
         |    CAST(sum(CAST(value * value AS DECIMAL(28,10))) AS DOUBLE) AS s2
         |  FROM e GROUP BY event_type),
         |m AS (SELECT event_type, s1 / n AS mean, s2, n FROM st),
         |m2 AS (SELECT event_type, mean,
         |    sqrt(s2 / n - mean * mean) AS std FROM m),
         |zz AS (SELECT e.event_id, e.event_type, e.value,
         |    (e.value - m2.mean) / m2.std AS z
         |  FROM e JOIN m2 USING (event_type))
         |SELECT event_id, event_type, value, z FROM zz
         |WHERE abs(z) > $th ORDER BY event_id""".stripMargin
    },
    "q74_zorder_layout" -> ScaleOps.zorderOracle,
    "q75_weighted_sample" -> {
      val k = CurationOps.WeightedSampleK
      s"""WITH p AS (SELECT doc_id, n_chars,
         |    (CAST(CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15) AS BIGINT) AS DOUBLE)
         |      / 1152921504606846976.0) / n_chars AS priority
         |  FROM documents),
         |r AS (SELECT doc_id, n_chars, priority,
         |    row_number() OVER (ORDER BY priority, doc_id) AS rn FROM p)
         |SELECT CAST(rn AS BIGINT) AS sample_rank, doc_id, n_chars, priority
         |FROM r WHERE rn <= $k ORDER BY sample_rank""".stripMargin
    },
    "q76_novelty_score" -> {
      val cat = (0 until CurationOps.NoveltyGram)
        .map(j => s"toks[i+$j]").mkString(" || ' ' || ")
      s"""WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks
         |           FROM documents),
         |g AS (SELECT DISTINCT doc_id, gram FROM
         |      (SELECT doc_id, unnest(list_transform(
         |         range(1, len(toks) - ${CurationOps.NoveltyGram - 2}),
         |         i -> $cat)) AS gram FROM t)),
         |d AS (SELECT gram, count(*) AS gram_df FROM g GROUP BY gram)
         |SELECT g.doc_id, count(*) AS n_grams,
         |  CAST(sum(CASE WHEN gram_df = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_unique,
         |  CAST(sum(CASE WHEN gram_df = 1 THEN 1 ELSE 0 END) AS BIGINT)
         |    / count(*) AS novelty
         |FROM g JOIN d USING (gram) GROUP BY g.doc_id
         |ORDER BY doc_id""".stripMargin
    },
    "q77_collocations" -> {
      val (minC, k) = (TextOps.CollocMinCount, TextOps.CollocTopK)
      s"""WITH toks AS (SELECT unnest(string_split(text, ' ')) AS tok
         |              FROM documents),
         |g AS (SELECT unnest(list_transform(range(1, len(toks)),
         |    i -> toks[i] || ' ' || toks[i+1])) AS bigram
         |  FROM (SELECT string_split(text, ' ') AS toks FROM documents)),
         |g2 AS (SELECT bigram, string_split(bigram, ' ')[1] AS w1,
         |    string_split(bigram, ' ')[2] AS w2 FROM g),
         |c12 AS (SELECT bigram, w1, w2, count(*) AS c12 FROM g2
         |        GROUP BY 1, 2, 3 HAVING count(*) >= $minC),
         |uni AS (SELECT tok, count(*) AS cu FROM toks GROUP BY tok),
         |tot AS (SELECT (SELECT count(*) FROM toks) AS t_toks,
         |               (SELECT count(*) FROM g) AS b_grams),
         |j AS (SELECT c12.bigram, c12.c12, u1.cu AS c1, u2.cu AS c2
         |      FROM c12 JOIN uni u1 ON c12.w1 = u1.tok
         |      JOIN uni u2 ON c12.w2 = u2.tok)
         |SELECT bigram, c12, c1, c2,
         |  (c12 / b_grams) / ((c1 / t_toks) * (c2 / t_toks)) AS lift
         |FROM j CROSS JOIN tot
         |ORDER BY lift DESC, bigram LIMIT $k""".stripMargin
    },
    "q78_cdc_apply" -> {
      val cut = AnalyticsOps.CdcCutoff
      s"""WITH e AS (SELECT user_id, event_id, event_type, value, ts
         |           FROM events),
         |b AS (SELECT user_id, event_id AS b_event_id, value AS b_value,
         |        ts AS b_ts FROM
         |      (SELECT *, row_number() OVER (PARTITION BY user_id
         |         ORDER BY ts DESC, event_id DESC) AS rn
         |       FROM e WHERE ts < TIMESTAMP '$cut') WHERE rn = 1),
         |d AS (SELECT user_id, event_id AS d_event_id, value AS d_value,
         |        ts AS d_ts,
         |        CASE WHEN event_type = 'error' THEN 'D' ELSE 'U' END AS op
         |      FROM
         |      (SELECT *, row_number() OVER (PARTITION BY user_id
         |         ORDER BY ts DESC, event_id DESC) AS rn
         |       FROM e WHERE ts >= TIMESTAMP '$cut') WHERE rn = 1)
         |SELECT user_id,
         |  CASE WHEN op = 'U' THEN 'delta' ELSE 'base' END AS src,
         |  CASE WHEN op = 'U' THEN d_event_id ELSE b_event_id END AS event_id,
         |  CASE WHEN op = 'U' THEN d_value ELSE b_value END AS value,
         |  CAST(CASE WHEN op = 'U' THEN d_ts ELSE b_ts END AS VARCHAR)
         |    AS state_ts
         |FROM b FULL JOIN d USING (user_id)
         |WHERE op IS NULL OR op = 'U'
         |ORDER BY user_id""".stripMargin
    },
    "q79_kmeans_step" -> ClusterOps.kmeansOracle,
    // q80: week index = day-diff div 7 from a fixed anchor — engine week
    // truncation semantics (ISO vs locale) never enter
    "q80_cohort_retention" -> {
      val a = TimeSeriesOps.CohortAnchor
      s"""WITH uw AS (SELECT DISTINCT user_id,
         |    (CAST(ts AS DATE) - DATE '$a') // 7 AS wk FROM events),
         |c AS (SELECT user_id, min(wk) AS cohort_wk FROM uw GROUP BY user_id),
         |sz AS (SELECT cohort_wk, count(*) AS cohort_n FROM c GROUP BY cohort_wk),
         |act AS (SELECT c.cohort_wk, uw.wk - c.cohort_wk AS week_offset,
         |    count(*) AS n_active
         |  FROM uw JOIN c USING (user_id) GROUP BY 1, 2)
         |SELECT act.cohort_wk, act.week_offset, act.n_active,
         |  act.n_active / sz.cohort_n AS retention
         |FROM act JOIN sz USING (cohort_wk)
         |ORDER BY cohort_wk, week_offset""".stripMargin
    },
    // q81: the oracle states the rolling distinct declaratively (range
    // predicate); the Spark plan explodes each user-day into its ≤7
    // windows — same result, linear shuffle
    "q81_rolling_distinct" ->
      """WITH ud AS (SELECT DISTINCT user_id, CAST(ts AS DATE) AS d FROM events),
        |days AS (SELECT DISTINCT d FROM ud),
        |dau AS (SELECT d, count(*) AS dau FROM ud GROUP BY d)
        |SELECT days.d AS day, dau.dau,
        |  (SELECT count(DISTINCT u.user_id) FROM ud u
        |   WHERE u.d BETWEEN days.d - 6 AND days.d) AS u7
        |FROM days JOIN dau ON dau.d = days.d
        |ORDER BY day""".stripMargin,
    "q82_gap_fill" ->
      """WITH o AS (SELECT o_orderpriority AS prio,
        |    CAST(o_orderdate AS DATE) AS day, o_totalprice FROM orders),
        |daily AS (SELECT prio, day, count(*) AS n_orders,
        |    CAST(sum(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE) AS rev
        |  FROM o GROUP BY prio, day),
        |b AS (SELECT min(day) AS lo, max(day) AS hi FROM o),
        |spine AS (SELECT p.prio, CAST(unnest(generate_series(b.lo, b.hi,
        |    INTERVAL 1 DAY)) AS DATE) AS day
        |  FROM (SELECT DISTINCT prio FROM o) p, b)
        |SELECT s.prio, s.day, coalesce(d.n_orders, 0) AS n_orders,
        |  last_value(d.rev IGNORE NULLS) OVER (PARTITION BY s.prio
        |    ORDER BY s.day ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |    AS rev_ffill,
        |  d.rev IS NULL AS is_gap
        |FROM spine s LEFT JOIN daily d USING (prio, day)
        |ORDER BY prio, day""".stripMargin,
    // q83: weights are 1/2^k (exact scaling); terms quantized
    // floor(·10¹²) and summed as BIGINT — order-free on both engines
    "q83_ewma" -> {
      val n = TimeSeriesOps.EwmaN
      s"""WITH r AS (SELECT user_id, value, row_number() OVER (
         |    PARTITION BY user_id ORDER BY ts DESC, event_id DESC) AS rd
         |  FROM events),
         |f AS (SELECT user_id, value, rd FROM r WHERE rd <= $n),
         |nu AS (SELECT user_id, count(*) AS nu FROM f GROUP BY user_id),
         |t AS (SELECT f.user_id, f.value, nu.nu,
         |    CASE WHEN f.rd = nu.nu THEN nu.nu - 1 ELSE f.rd END AS k
         |  FROM f JOIN nu USING (user_id))
         |SELECT user_id, max(nu) AS n_used,
         |  CAST(sum(CAST(floor(value * (1.0 / CAST((CAST(1 AS BIGINT) << k)
         |    AS DOUBLE)) * 1000000000000.0) AS BIGINT)) AS DOUBLE)
         |    / 1000000000000.0 AS ewma
         |FROM t GROUP BY user_id ORDER BY user_id""".stripMargin
    },
    "q84_feature_hash" -> {
      val d = MlPrepOps.HashDim
      s"""WITH tok AS (SELECT doc_id, unnest(string_split(text, ' ')) AS tok
         |  FROM documents),
         |h AS (SELECT doc_id,
         |    CAST('0x' || substr(md5(tok), 1, 15) AS BIGINT) AS fp FROM tok),
         |f AS (SELECT doc_id, fp % $d AS bucket,
         |    (fp // $d) % 2 * 2 - 1 AS sign FROM h)
         |SELECT doc_id, bucket, count(*) AS cnt,
         |  CAST(sum(sign) AS BIGINT) AS signed_cnt
         |FROM f GROUP BY doc_id, bucket
         |ORDER BY doc_id, bucket""".stripMargin
    },
    // q85: segments are 1-based inclusive-end list slices in DuckDB ≡
    // Spark slice(toks, s+1, w); string_agg over zero surviving
    // segments is NULL, matching the Spark when(n_kept > 0, …) guard
    "q85_boilerplate" -> {
      val (w, m) = (MlPrepOps.BoilerSegTokens, MlPrepOps.BoilerMinDocs)
      s"""WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks
         |  FROM documents),
         |u AS (SELECT doc_id, toks, len(toks) AS n FROM t),
         |c AS (SELECT doc_id, unnest(range(0, n, $w)) AS s, toks FROM u),
         |g AS (SELECT doc_id, s,
         |    array_to_string(toks[s + 1:s + $w], ' ') AS seg FROM c),
         |f AS (SELECT doc_id, s, seg, md5(seg) AS fp FROM g),
         |bl AS (SELECT fp FROM f GROUP BY fp
         |  HAVING count(DISTINCT doc_id) >= $m),
         |mk AS (SELECT f.*, fp IN (SELECT fp FROM bl) AS is_boiler FROM f)
         |SELECT doc_id, count(*) AS n_seg,
         |  CAST(sum(CASE WHEN is_boiler THEN 0 ELSE 1 END) AS BIGINT)
         |    AS n_kept,
         |  md5(string_agg(CASE WHEN is_boiler THEN NULL ELSE seg END,
         |    ' ' ORDER BY s)) AS clean_md5
         |FROM mk GROUP BY doc_id ORDER BY doc_id""".stripMargin
    },
    "q86_knn_graph" -> GraphOps.knnGraphOracle,
    "q88_inverted_index" -> {
      val cap = MlPrepOps.PostingsCap
      s"""WITH tf AS (SELECT term, doc_id, count(*) AS tf FROM (
         |    SELECT doc_id, unnest(string_split(text, ' ')) AS term
         |    FROM documents) u
         |  GROUP BY term, doc_id),
         |st AS (SELECT term, count(*) AS df,
         |    CAST(sum(tf) AS BIGINT) AS tf_total FROM tf GROUP BY term),
         |r AS (SELECT term, doc_id, tf, row_number() OVER (
         |    PARTITION BY term ORDER BY doc_id) AS rn FROM tf),
         |hd AS (SELECT term, string_agg(
         |    CAST(doc_id AS VARCHAR) || ':' || CAST(tf AS VARCHAR),
         |    ',' ORDER BY doc_id) AS postings_head
         |  FROM r WHERE rn <= $cap GROUP BY term)
         |SELECT st.term, st.df, st.tf_total, hd.postings_head
         |FROM st JOIN hd USING (term) ORDER BY term""".stripMargin
    },
    "q89_winsorized_mean" ->
      """WITH r AS (SELECT event_type, value,
        |    CAST(row_number() OVER (PARTITION BY event_type
        |      ORDER BY value, event_id) AS BIGINT) AS rn,
        |    count(*) OVER (PARTITION BY event_type) AS n
        |  FROM events),
        |b AS (SELECT event_type,
        |    max(CASE WHEN rn = CAST(ceil(0.05 * n) AS BIGINT)
        |      THEN value END) AS p05,
        |    max(CASE WHEN rn = CAST(ceil(0.95 * n) AS BIGINT)
        |      THEN value END) AS p95
        |  FROM r GROUP BY event_type)
        |SELECT r.event_type, count(*) AS n,
        |  CAST(sum(CAST(r.value AS DECIMAL(18,6))) AS DOUBLE) / count(*)
        |    AS mean_raw,
        |  CAST(sum(CAST(least(greatest(r.value, b.p05), b.p95)
        |    AS DECIMAL(18,6))) AS DOUBLE) / count(*) AS mean_winsor,
        |  CAST(sum(CASE WHEN r.value < b.p05 THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_clip_lo,
        |  CAST(sum(CASE WHEN r.value > b.p95 THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_clip_hi
        |FROM r JOIN b USING (event_type)
        |GROUP BY r.event_type ORDER BY event_type""".stripMargin,
    // q90: moment sums are fixed-point BIGINT (floor(v·10⁹)) — exact and
    // order-free; the closed form then runs one identical double op
    // order on both engines
    "q91_snapshot_digest" -> ScaleOps.snapshotDigestOracle,
    "q97_digest_drilldown" -> ScaleOps.digestDrilldownOracle,
    "q98_interval_coalesce" -> {
      val g = TimeSeriesOps.IslandGapS * 1000000L
      s"""WITH i AS (SELECT user_id, event_id, epoch_us(ts) AS st,
         |    epoch_us(ts) + $g AS en FROM events),
         |m AS (SELECT *, max(en) OVER (PARTITION BY user_id
         |    ORDER BY st, event_id
         |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS pmax
         |  FROM i),
         |o AS (SELECT *, CASE WHEN pmax IS NULL OR st > pmax
         |    THEN 1 ELSE 0 END AS opens FROM m),
         |li AS (SELECT *, CAST(sum(opens) OVER (PARTITION BY user_id
         |    ORDER BY st, event_id ROWS UNBOUNDED PRECEDING) AS BIGINT)
         |    AS island FROM o),
         |gi AS (SELECT user_id, island, min(st) AS i_start,
         |    max(en) AS i_end FROM li GROUP BY user_id, island)
         |SELECT user_id, count(*) AS n_islands,
         |  CAST(sum((i_end - i_start) // 1000000) AS BIGINT) AS covered_s
         |FROM gi GROUP BY user_id ORDER BY user_id""".stripMargin
    },
    "q99_entity_consolidate" -> DedupOps.entityConsolidateOracle,
    "q101_sequence_pack" -> {
      val b = TrainPrepOps.PackBudget
      s"""WITH RECURSIVE ord AS (
         |  SELECT source, doc_id, n_chars,
         |    row_number() OVER (PARTITION BY source ORDER BY doc_id) AS rn
         |  FROM documents),
         |packed AS (
         |  SELECT source, doc_id, n_chars, rn,
         |    CAST(0 AS BIGINT) AS bin, n_chars AS fill
         |  FROM ord WHERE rn = 1
         |  UNION ALL
         |  SELECT o.source, o.doc_id, o.n_chars, o.rn,
         |    CASE WHEN p.fill + o.n_chars <= $b THEN p.bin ELSE p.bin + 1 END,
         |    CASE WHEN p.fill + o.n_chars <= $b THEN p.fill + o.n_chars
         |         ELSE o.n_chars END
         |  FROM packed p JOIN ord o ON o.source = p.source AND o.rn = p.rn + 1)
         |SELECT doc_id, source, bin, fill FROM packed
         |ORDER BY source, doc_id""".stripMargin
    },
    "q102_mixture_epochs" ->
      """WITH w AS (SELECT doc_id, source,
        |    500 + (CAST(substr(source, 4) AS INT) % 4) * 750 AS w1000,
        |    CAST('0x' || substr(md5('mix' || CAST(doc_id AS VARCHAR)), 1, 15)
        |      AS BIGINT) % 1000 AS fp
        |  FROM documents),
        |c AS (SELECT doc_id, source,
        |    CAST(w1000 // 1000
        |      + CASE WHEN fp < w1000 % 1000 THEN 1 ELSE 0 END AS BIGINT)
        |      AS n_copies
        |  FROM w)
        |SELECT doc_id, source, unnest(range(1, n_copies + 1)) AS copy, n_copies
        |FROM c WHERE n_copies >= 1 ORDER BY doc_id, copy""".stripMargin,
    "q111_epoch_schedule" ->
      """WITH w AS (SELECT doc_id, source,
        |    500 + (CAST(substr(source, 4) AS INT) % 4) * 750 AS w1000,
        |    CAST('0x' || substr(md5('mix' || CAST(doc_id AS VARCHAR)), 1, 15)
        |      AS BIGINT) % 1000 AS fp
        |  FROM documents),
        |c AS (SELECT doc_id, source,
        |    CAST(w1000 // 1000
        |      + CASE WHEN fp < w1000 % 1000 THEN 1 ELSE 0 END AS BIGINT)
        |      AS n_copies
        |  FROM w),
        |x AS (SELECT doc_id, source,
        |    unnest(range(1, n_copies + 1)) AS copy
        |  FROM c WHERE n_copies >= 1),
        |r AS (SELECT doc_id, source, copy,
        |    CAST(row_number() OVER (PARTITION BY source
        |      ORDER BY doc_id, copy) AS BIGINT) AS r,
        |    count(*) OVER (PARTITION BY source) AS n_total
        |  FROM x)
        |SELECT doc_id, source, copy, r,
        |  (CAST(r AS DOUBLE) - 0.5) / CAST(n_total AS DOUBLE) AS pos
        |FROM r ORDER BY pos, source, doc_id, copy""".stripMargin,
    "q103_incremental_dedup" ->
      """WITH f AS (SELECT doc_id,
        |    md5(regexp_replace(lower(text), '\s+', ' ', 'g')) AS fingerprint
        |  FROM documents),
        |base AS (SELECT DISTINCT fingerprint FROM f WHERE doc_id % 5 <> 0),
        |batch AS (SELECT * FROM f WHERE doc_id % 5 = 0),
        |fresh AS (SELECT b.* FROM batch b
        |  WHERE b.fingerprint NOT IN (SELECT fingerprint FROM base)),
        |r AS (SELECT doc_id, fingerprint,
        |    row_number() OVER (PARTITION BY fingerprint ORDER BY doc_id) AS rn,
        |    count(*) OVER (PARTITION BY fingerprint) AS n_batch_dups
        |  FROM fresh)
        |SELECT doc_id, fingerprint, n_batch_dups FROM r WHERE rn = 1
        |ORDER BY doc_id""".stripMargin,
    "q104_gopher_rules" ->
      """WITH m AS (SELECT doc_id,
        |    len(string_split_regex(trim(text), '\s+')) AS n_words,
        |    length(regexp_replace(text, '\s+', '', 'g')) AS nonspace,
        |    length(regexp_replace(text, '[A-Za-z0-9\s]', '', 'g')) AS symbols,
        |    length(text) AS n_chars,
        |    len(regexp_extract_all(text, '\b(the|and|of|to|in|is|you|that)\b'))
        |      AS stops
        |  FROM documents)
        |SELECT doc_id, n_words,
        |  CAST(nonspace AS DOUBLE) / CAST(n_words AS DOUBLE) AS mean_word_len,
        |  CAST(symbols AS DOUBLE) / CAST(n_chars AS DOUBLE) AS symbol_ratio,
        |  n_words >= 10 AND n_words <= 100000 AS flag_words,
        |  CAST(nonspace AS DOUBLE) / CAST(n_words AS DOUBLE) >= 3.0
        |    AND CAST(nonspace AS DOUBLE) / CAST(n_words AS DOUBLE) <= 10.0
        |    AS flag_mwl,
        |  CAST(symbols AS DOUBLE) / CAST(n_chars AS DOUBLE) < 0.1 AS flag_symbol,
        |  stops >= 2 AS flag_stop,
        |  n_words >= 10 AND n_words <= 100000
        |    AND CAST(nonspace AS DOUBLE) / CAST(n_words AS DOUBLE) >= 3.0
        |    AND CAST(nonspace AS DOUBLE) / CAST(n_words AS DOUBLE) <= 10.0
        |    AND CAST(symbols AS DOUBLE) / CAST(n_chars AS DOUBLE) < 0.1
        |    AND stops >= 2 AS passes
        |FROM m ORDER BY doc_id""".stripMargin,
    "q105_shard_plan" -> {
      val n = TrainPrepOps.NShards
      s"""WITH s AS (SELECT
         |    CAST('0x' || substr(md5('shard' || CAST(doc_id AS VARCHAR)), 1, 15)
         |      AS BIGINT) % $n AS shard,
         |    n_chars
         |  FROM documents),
         |g AS (SELECT shard, count(*) AS n_docs,
         |    CAST(sum(n_chars) AS BIGINT) AS total_chars
         |  FROM s GROUP BY shard)
         |SELECT shard, n_docs, total_chars,
         |  CAST(total_chars AS DOUBLE) * $n
         |    / CAST(CAST(sum(total_chars) OVER () AS BIGINT) AS DOUBLE)
         |    AS load_ratio
         |FROM g ORDER BY shard""".stripMargin
    },
    "q106_semantic_outliers" -> ClusterOps.semanticOutliersOracle,
    "q107_label_confusion"  -> ClusterOps.labelConfusionOracle,
    "q108_k_anonymity" -> {
      val k = CurationOps.AnonK
      s"""SELECT event_type, CAST(ts AS DATE) AS day,
         |  CAST(json_extract_string(props, '$$.k') AS BIGINT) AS k_prop,
         |  count(*) AS n_rows, count(DISTINCT user_id) AS n_users
         |FROM events GROUP BY event_type, day, k_prop
         |HAVING count(DISTINCT user_id) < $k
         |ORDER BY event_type, day, k_prop""".stripMargin
    },
    "q109_corpus_report" ->
      """WITH m AS (SELECT source, lang, n_chars,
        |    md5(regexp_replace(lower(text), '\s+', ' ', 'g')) AS fp,
        |    CASE WHEN len(string_split_regex(trim(text), '\s+')) >= 10
        |      AND len(string_split_regex(trim(text), '\s+')) <= 100000
        |      AND CAST(length(regexp_replace(text, '\s+', '', 'g')) AS DOUBLE)
        |        / CAST(len(string_split_regex(trim(text), '\s+')) AS DOUBLE) >= 3.0
        |      AND CAST(length(regexp_replace(text, '\s+', '', 'g')) AS DOUBLE)
        |        / CAST(len(string_split_regex(trim(text), '\s+')) AS DOUBLE) <= 10.0
        |      AND CAST(length(regexp_replace(text, '[A-Za-z0-9\s]', '', 'g')) AS DOUBLE)
        |        / CAST(length(text) AS DOUBLE) < 0.1
        |      AND len(regexp_extract_all(text, '\b(the|and|of|to|in|is|you|that)\b')) >= 2
        |      THEN 1 ELSE 0 END AS pass
        |  FROM documents)
        |SELECT source, count(*) AS n_docs,
        |  CAST(sum(n_chars) AS BIGINT) AS total_chars,
        |  count(DISTINCT lang) AS n_langs,
        |  count(*) - count(DISTINCT fp) AS n_exact_dups,
        |  CAST(sum(pass) AS BIGINT) AS n_quality_pass,
        |  CAST(CAST(sum(n_chars) AS BIGINT) AS DOUBLE)
        |    / CAST(count(*) AS DOUBLE) AS avg_chars,
        |  CAST(CAST(sum(pass) AS BIGINT) AS DOUBLE)
        |    / CAST(count(*) AS DOUBLE) AS pass_rate
        |FROM m GROUP BY source ORDER BY source""".stripMargin,
    "q100_skew_advisor" -> {
      val f = ProfileOps.SkewFactor
      def one(tbl: String, c: String) =
        s"""SELECT '$tbl.$c' AS key_col, CAST(sum(cnt) AS BIGINT) AS n_rows,
           |  count(*) AS n_keys, max(cnt) AS max_cnt,
           |  (max(cnt) * count(*)) / CAST(sum(cnt) AS BIGINT) AS hot_ratio,
           |  (max(cnt) * count(*)) / CAST(sum(cnt) AS BIGINT) > $f
           |    AS needs_salt
           |FROM (SELECT $c, count(*) AS cnt FROM $tbl GROUP BY $c) g""".stripMargin
      Seq(one("lineitem", "l_orderkey"), one("lineitem", "l_suppkey"),
        one("lineitem", "l_partkey"), one("events", "user_id"),
        one("events", "event_type"))
        .mkString("", "\nUNION ALL\n", "\nORDER BY key_col")
    },
    "q92_equidepth_hist" -> {
      val b = ProfileOps.DepthBuckets
      s"""WITH r AS (SELECT event_type, value,
         |    CAST(row_number() OVER (PARTITION BY event_type
         |      ORDER BY value, event_id) AS BIGINT) AS rn,
         |    count(*) OVER (PARTITION BY event_type) AS n
         |  FROM events)
         |SELECT event_type, (rn - 1) * $b // n AS bucket,
         |  count(*) AS cnt, min(value) AS lo, max(value) AS hi
         |FROM r GROUP BY event_type, bucket
         |ORDER BY event_type, bucket""".stripMargin
    },
    "q93_fuzzy_match" -> {
      val m = DedupOps.MaxEdit
      s"""WITH n AS (SELECT DISTINCT p_name FROM part),
         |bn AS (SELECT p_name, string_split(p_name, ' ')[-1] AS blk FROM n)
         |SELECT a.blk, a.p_name AS name_a, b.p_name AS name_b,
         |  CAST(levenshtein(a.p_name, b.p_name) AS BIGINT) AS edit_dist
         |FROM bn a JOIN bn b ON a.blk = b.blk AND a.p_name < b.p_name
         |WHERE levenshtein(a.p_name, b.p_name) <= $m
         |ORDER BY name_a, name_b""".stripMargin
    },
    "q94_temporal_dim_join" ->
      """WITH e AS (SELECT user_id, event_id, event_type, ts FROM events),
        |st AS (SELECT user_id, event_id, event_type, ts,
        |    CASE WHEN lag(event_type) OVER (PARTITION BY user_id
        |        ORDER BY ts, event_id) IS NULL
        |      OR lag(event_type) OVER (PARTITION BY user_id
        |        ORDER BY ts, event_id) <> event_type
        |      THEN 1 ELSE 0 END AS chg
        |  FROM e WHERE event_type <> 'purchase'),
        |rn AS (SELECT user_id, event_type, ts,
        |    CAST(sum(chg) OVER (PARTITION BY user_id ORDER BY ts, event_id
        |      ROWS UNBOUNDED PRECEDING) AS BIGINT) AS version FROM st),
        |dim AS (SELECT user_id AS d_user, version, event_type AS state,
        |    min(ts) AS valid_from
        |  FROM rn GROUP BY 1, 2, 3),
        |dim2 AS (SELECT *, lead(valid_from) OVER (PARTITION BY d_user
        |    ORDER BY version) AS valid_to FROM dim),
        |f AS (SELECT user_id, event_id, ts FROM e
        |  WHERE event_type = 'purchase')
        |SELECT f.user_id, f.event_id, CAST(f.ts AS VARCHAR) AS ts,
        |  d.state AS state_at_purchase, d.version
        |FROM f LEFT JOIN dim2 d ON f.user_id = d.d_user
        |  AND f.ts >= d.valid_from
        |  AND (d.valid_to IS NULL OR f.ts < d.valid_to)
        |ORDER BY event_id""".stripMargin,
    "q95_audience_overlap" ->
      """WITH tu AS (SELECT DISTINCT event_type, user_id FROM events),
        |sz AS (SELECT event_type, count(*) AS n_users FROM tu
        |  GROUP BY event_type),
        |iv AS (SELECT a.event_type AS type_a, b.event_type AS type_b,
        |    count(*) AS n_both
        |  FROM tu a JOIN tu b ON a.user_id = b.user_id
        |    AND a.event_type < b.event_type
        |  GROUP BY 1, 2)
        |SELECT iv.type_a, iv.type_b, sa.n_users AS n_a, sb.n_users AS n_b,
        |  iv.n_both,
        |  iv.n_both / (sa.n_users + sb.n_users - iv.n_both) AS jaccard
        |FROM iv
        |JOIN sz sa ON sa.event_type = iv.type_a
        |JOIN sz sb ON sb.event_type = iv.type_b
        |ORDER BY type_a, type_b""".stripMargin,
    "q96_transition_matrix" ->
      """WITH l AS (SELECT user_id, event_type,
        |    lag(event_type) OVER (PARTITION BY user_id
        |      ORDER BY ts, event_id) AS prev_type
        |  FROM events),
        |c AS (SELECT prev_type, event_type AS next_type,
        |    count(*) AS n_trans
        |  FROM l WHERE prev_type IS NOT NULL GROUP BY 1, 2),
        |t AS (SELECT prev_type, CAST(sum(n_trans) AS BIGINT) AS n_from
        |  FROM c GROUP BY prev_type)
        |SELECT c.prev_type, c.next_type, c.n_trans,
        |  c.n_trans / t.n_from AS p_trans
        |FROM c JOIN t USING (prev_type)
        |ORDER BY prev_type, next_type""".stripMargin,
    "q90_group_ols" -> {
      val (a, sc) = (TimeSeriesOps.CohortAnchor, "1000000000.0")
      s"""WITH e AS (SELECT event_type, value,
         |    CAST(CAST(ts AS DATE) - DATE '$a' AS BIGINT) AS x FROM events),
         |m AS (SELECT event_type, count(*) AS n,
         |    CAST(sum(x) AS BIGINT) AS sx,
         |    CAST(sum(x * x) AS BIGINT) AS sxx,
         |    CAST(sum(CAST(floor(value * $sc) AS BIGINT)) AS BIGINT) AS sy_fp,
         |    CAST(sum(CAST(floor(CAST(x AS DOUBLE) * value * $sc) AS BIGINT))
         |      AS BIGINT) AS sxy_fp
         |  FROM e GROUP BY event_type),
         |s AS (SELECT event_type, n, sx, sy_fp / $sc AS sy,
         |    (n * (sxy_fp / $sc) - sx * (sy_fp / $sc)) /
         |      (n * sxx - sx * sx) AS slope
         |  FROM m)
         |SELECT event_type, n, slope,
         |  (sy - slope * sx) / n AS intercept
         |FROM s ORDER BY event_type""".stripMargin
    },
    "q87_histogram" -> {
      val nb = ProfileOps.HistBins
      s"""WITH e AS (SELECT event_type, value FROM events),
         |st AS (SELECT event_type, min(value) AS vmin, max(value) AS vmax
         |  FROM e GROUP BY event_type),
         |bi AS (SELECT e.event_type,
         |    CASE WHEN st.vmax = st.vmin THEN 0
         |      ELSE least(${nb - 1}, CAST(floor((e.value - st.vmin)
         |        / (st.vmax - st.vmin) * $nb.0) AS BIGINT)) END AS bin
         |  FROM e JOIN st USING (event_type)),
         |cn AS (SELECT event_type, bin, count(*) AS cnt
         |  FROM bi GROUP BY event_type, bin)
         |SELECT cn.event_type, cn.bin,
         |  st.vmin + cn.bin * ((st.vmax - st.vmin) / $nb) AS bin_lo,
         |  st.vmin + (cn.bin + 1) * ((st.vmax - st.vmin) / $nb) AS bin_hi,
         |  cn.cnt
         |FROM cn JOIN st USING (event_type)
         |ORDER BY event_type, bin""".stripMargin
    },
  )
}
