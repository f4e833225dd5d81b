package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.ingest.WhitespaceCsv
import graft.operators.TemporalJoins
import graft.pipeline.{Clustering, CorpusOps, Curation, Dedup, EventOps, Multimodal, Similarity, TextAnalysis}
import graft.retail.RetailQueries
import graft.star.{AggSurface, StarQueries}

/** Driver contract — see SURVEY.md §7.
  * Every entry in `queries` has a matching DuckDB oracle in `oracleSql`
  * (from [[Oracles]]) unless the operator is not SQL-expressible in DuckDB
  * (then the driver records a weaker rows-only check). */
object SparkEntry {

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    RetailQueries.q5(spark, "/root/testdata/sf0.001")

  /** Binds a one-table operator to its source table: the catalogue is the
    * one place a query name meets the table it reads, so the operators
    * themselves stay plain `DataFrame => DataFrame` builders. */
  private def over(table: String)(f: DataFrame => DataFrame): (SparkSession, String) => DataFrame =
    (spark, dir) => f(Tables.load(spark, dir, table))

  /** One entry per implemented operator from SURVEY.md §2, each bound to
    * the source tables it reads. */
  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q1_filter_cat"          -> (RetailQueries.q1 _),
    "q2_count_distinct_mag"  -> (RetailQueries.q2 _),
    "q3_count_distinct_fab"  -> (RetailQueries.q3 _),
    "q4_avg_prod_per_fab"    -> (RetailQueries.q4 _),
    "q5_top_magasins"        -> (RetailQueries.q5 _),
    "q6_top_magasins_cat"    -> (RetailQueries.q6 _),
    "q7_mag_per_month"       -> (RetailQueries.q7 _),
    "q8_score_evolution"     -> (RetailQueries.q8 _),
    "q9_top1"                -> (RetailQueries.q9 _),
    "q10_avg_fab_top10"      -> (RetailQueries.q10 _),
    "q11_score_sante_months" -> (RetailQueries.q11 _),
    "q12_ingest"             -> (WhitespaceCsv.q12 _),
    // LLM-data-pipeline extension surface (SURVEY.md §2.8)
    "eq1_exact_dup_count"    -> over("documents")(Dedup.exactDupCountDf),
    "eq2_text_stats"         -> over("documents")(TextAnalysis.textStatsDf),
    "eq3_hourly_windows"     -> over("events")(EventOps.hourlyDf),
    "eq4_cosine_topk"        -> ((s, d) => Similarity.cosineTopK(s, d)),
    "eq5_sessionize"         -> over("events")(EventOps.sessionizeDf),
    "eq6_sliding_windows"    -> over("events")(EventOps.slidingDf),
    "eq7_token_stats"        -> over("documents")(TextAnalysis.tokenStatsDf),
    "eq8_quality_score"      -> over("documents")(TextAnalysis.qualityScoreDf),
    "eq9_lang_id"            -> over("documents")(TextAnalysis.langIdDf),
    "eq10_fingerprint"       -> over("documents")(TextAnalysis.fingerprintDf),
    "eq11_dedup_keep_first"  -> over("documents")(Dedup.dedupKeepFirstDf),
    "eq12_jaccard_pairs"     -> (Dedup.jaccardPairs _),
    "eq13_embedding_neardups" -> over("embeddings")(Dedup.embeddingNearDupsDf),
    "eq14_media_meta"        -> (Multimodal.mediaMeta _),
    "eq15_json_props"        -> (StarQueries.jsonProps _),
    "eq16_revenue_by_nation" -> (StarQueries.revenueByNation _),
    "eq17_top_suppliers"     -> (StarQueries.topSuppliersPerNation _),
    "eq18_asof_attribution"  -> over("events")(TemporalJoins.asOfAttributionDf),
    "eq19_range_pairs"       -> over("events")(TemporalJoins.rangePairsPerUserDf),
    "eq20_rollup_revenue"    -> (AggSurface.rollupRevenue _),
    "eq21_daily_pivot"       -> (AggSurface.dailyEventPivot _),
    "eq22_value_percentiles" -> (AggSurface.valuePercentiles _),
    "eq23_audience_set_ops"  -> (AggSurface.audienceSetOps _),
    "eq24_daily_moving_avg"  -> (AggSurface.dailyMovingAverage _),
    "eq25_above_avg_suppliers" -> (AggSurface.aboveAvgSuppliers _),
    "eq26_neardup_clusters"  -> over("documents")(Dedup.neardupClustersDf),
    "eq27_hash_split"        -> over("documents")(TextAnalysis.hashSplitDf),
    "eq28_tfidf_top_terms"   -> over("documents")(TextAnalysis.tfidfTopTermsDf),
    "eq29_contamination"     -> over("documents")(TextAnalysis.contaminationDf),
    "eq30_repetition_stats"  -> over("documents")(TextAnalysis.repetitionStatsDf),
    "eq31_stratified_sample" -> over("documents")(CorpusOps.stratifiedSampleDf),
    "eq32_doc_chunks"        -> over("documents")(CorpusOps.docChunksDf),
    "eq33_trigram_topk"      -> over("documents")(CorpusOps.trigramTopKDf),
    "eq34_pack_shards"       -> over("documents")(CorpusOps.packShardsDf),
    "eq35_length_trim"       -> over("documents")(CorpusOps.lengthTrimDf),
    "eq121_padding_waste"    -> over("documents")(CorpusOps.paddingWasteDf),
    "eq122_decontam_blast"   -> over("documents")(TextAnalysis.decontamBlastDf),
    "eq123_quality_dup_profile" -> over("documents")(Dedup.qualityDupProfileDf),
    "eq124_scene_changes"    -> over("documents")(Multimodal.sceneChangesDf),
    "eq125_burstiness"       -> over("events")(EventOps.burstinessDf),
    "eq36_label_centroids"   -> over("embeddings")(Similarity.labelCentroidsDf),
    "eq37_winnow_fingerprints" -> over("documents")(TextAnalysis.winnowFingerprintsDf),
    "eq38_quality_filter"    -> over("documents")(TextAnalysis.qualityFilterDf),
    "eq39_chunk_dedup"       -> over("documents")(CorpusOps.chunkDedupDf),
    "eq40_vocab_coverage"    -> over("documents")(CorpusOps.vocabCoverageDf),
    "eq41_semantic_dedup"    -> over("embeddings")(Similarity.semanticDedupDf),
    "eq42_novelty_rate"      -> over("documents")(CorpusOps.noveltyRateDf),
    "eq43_containment_pairs" -> over("documents")(Dedup.containmentPairsDf),
    "eq44_weighted_sample"   -> over("documents")(CorpusOps.weightedSampleDf),
    "eq45_jsonl_ingest"      -> (graft.ingest.JsonlIngest.eq45 _),
    "eq46_quality_centroids" -> ((s, d) => Similarity.qualityCentroidsDf(
      Tables.load(s, d, "documents"), Tables.load(s, d, "embeddings"))),
    "eq47_unigram_logprob"   -> over("documents")(TextAnalysis.unigramLogprobDf),
    "eq48_k_anonymity"       -> over("documents")(CorpusOps.kAnonymityDf),
    "eq49_source_overlap"    -> over("documents")(Dedup.sourceOverlapDf),
    "eq50_payload_chunks"    -> over("documents")(Multimodal.payloadChunksDf),
    "eq51_quality_topk"      -> over("documents")(TextAnalysis.qualityTopKDf),
    "eq52_centroid_affinity" -> over("embeddings")(Similarity.centroidAffinityDf),
    "eq53_interevent_gaps"   -> over("events")(EventOps.interEventGapsDf),
    "eq54_curation_funnel"   -> over("documents")(CorpusOps.curationFunnelDf),
    "eq55_orc_roundtrip"     -> (graft.ingest.OrcRoundtrip.eq55 _),
    "eq56_pmi_bigrams"       -> over("documents")(CorpusOps.pmiBigramsDf),
    "eq57_label_variance"    -> over("embeddings")(Similarity.labelVarianceDf),
    "eq58_retention_cohorts" -> over("events")(EventOps.retentionCohortsDf),
    "eq59_event_funnel"      -> over("events")(EventOps.eventFunnelDf),
    "eq60_rolling_actives"   -> over("events")(EventOps.rollingActivesDf),
    "eq61_pair_pagerank"     -> over("documents")(Dedup.pairGraphPagerankDf),
    "eq62_zipf_slope"        -> over("documents")(CorpusOps.zipfSlopeDf),
    "eq63_normalized_dups"   -> over("documents")(Dedup.normalizedDupsDf),
    "eq64_scd2_intervals"    -> over("events")(EventOps.scd2TiersDf),
    "eq65_corpus_mix"        -> over("documents")(CorpusOps.corpusMixDf),
    "eq66_sorted_neighborhood" -> over("documents")(Dedup.sortedNeighborhoodDf),
    "eq68_equidepth_bins"    -> (AggSurface.equidepthBins _),
    "eq67_cdc_compact"       -> over("events")(EventOps.cdcCompactDf),
    "eq69_key_skew"          -> over("events")(EventOps.keySkewStatsDf),
    "eq70_decay_scores"      -> over("events")(EventOps.decayScoresDf),
    "eq71_gram_matrix"       -> (Similarity.gramTopPairs _),
    "eq72_pca_power"         -> (Similarity.pcaPowerIteration _),
    "eq73_session_paths"     -> over("events")(EventOps.sessionPathsDf),
    "eq74_profile_columns"   -> over("events")(EventOps.profileColumnsDf),
    "eq75_edit_linkage"      -> over("documents")(Dedup.editLinkageDf),
    "eq76_grouping_sets"     -> (AggSurface.groupingSetsRevenue _),
    "eq77_supplier_rank_dist" -> (AggSurface.supplierRankDist _),
    "eq78_schema_drift"      -> (graft.ingest.SchemaDrift.eq78 _),
    "eq79_snapshot_diff"     -> over("documents")(Dedup.snapshotDiffDf),
    "eq80_transition_matrix" -> over("events")(EventOps.transitionMatrixDf),
    "eq81_gap_anomalies"     -> over("events")(EventOps.gapAnomaliesDf),
    "eq82_co_purchases"      -> over("events")(EventOps.coPurchasesDf),
    "eq83_frame_samples"     -> over("documents")(Multimodal.frameSamplesDf),
    "eq84_cluster_reps"      -> over("documents")(Dedup.clusterRepsDf),
    "eq85_activity_profile"  -> over("events")(EventOps.activityProfileDf),
    "eq86_media_resize"      -> (Multimodal.resizeMedia _),
    "eq87_psi_drift"         -> over("events")(AggSurface.psiDriftDf),
    "eq88_bm25_topk"         -> over("documents")(TextAnalysis.bm25TopKDf),
    "eq89_kmeans"            -> over("embeddings")(Clustering.kmeansDf(_)),
    "eq90_bigram_surprise"   -> over("documents")(TextAnalysis.bigramSurpriseDf),
    "eq91_trend_slopes"      -> ((s, d) => StarQueries.trendSlopesDf(
      Tables.load(s, d, "lineitem"), Tables.load(s, d, "orders"),
      Tables.load(s, d, "customer"), Tables.load(s, d, "nation"))),
    "eq92_dup_spans"         -> over("documents")(TextAnalysis.dupSpansDf),
    "eq93_quality_quantile_norm" -> over("documents")(TextAnalysis.qualityQuantileNormDf),
    "eq94_bootstrap_ci"      -> over("events")(EventOps.bootstrapCiDf),
    "eq95_density_cores"     -> over("embeddings")(Dedup.densityCoresDf),
    "eq96_asof_state_audit"  -> over("events")(EventOps.asofStateAuditDf),
    "eq97_graph_clustering"  -> over("embeddings")(Dedup.graphClusteringDf),
    "eq98_winsorized_means"  -> over("events")(AggSurface.winsorizedMeansDf),
    "eq99_modality_agreement" -> ((s, d) => Dedup.modalityAgreementDf(
      Tables.load(s, d, "documents"), Tables.load(s, d, "embeddings"))),
    "eq100_ewma_daily"       -> over("events")(EventOps.ewmaDailyDf),
    "eq101_token_budget"     -> over("documents")(CorpusOps.tokenBudgetDf),
    "eq102_pair_lift"        -> over("events")(EventOps.pairLiftDf),
    "eq103_quality_gates"    -> over("events")(EventOps.qualityGatesDf),
    "eq104_incremental_dedup" -> over("documents")(Dedup.incrementalDedupDf),
    "eq105_centroid_confusion" -> over("embeddings")(Similarity.centroidConfusionDf),
    "eq106_temperature_mix"  -> over("documents")(CorpusOps.temperatureMixDf),
    "eq107_bitext_mining"    -> ((s, d) => Similarity.bitextMineDf(
      Tables.load(s, d, "documents"), Tables.load(s, d, "embeddings"))),
    "eq108_pii_scrub"        -> (TextAnalysis.piiScrub _),
    "eq109_ngram_diversity"  -> over("documents")(TextAnalysis.ngramDiversityDf),
    "eq110_train_assembly"   -> over("events")(EventOps.trainAssemblyDf),
    "eq111_contrastive_triplets" -> over("documents")(CorpusOps.contrastiveTripletsDf),
    "eq112_bpe_pairs"        -> over("documents")(TextAnalysis.bpePairsDf),
    "eq126_bpe_train"        -> (TextAnalysis.bpeTrain _),
    "eq127_max_dup_spans"    -> over("documents")(TextAnalysis.maxDupSpansDf),
    "eq128_semantic_dedup_sharded" ->
      over("embeddings")(Similarity.semanticDedupShardedDf(_, Similarity.SemanticShardCap)),
    "eq129_bpe_encode"       -> over("documents")(TextAnalysis.bpeEncodeDf(_, TextAnalysis.BpeTrainMerges)),
    "eq130_variant_props"    -> (StarQueries.variantProps _),
    "eq131_cluster_split"    -> over("documents")(Dedup.clusterSplitDf),
    "eq132_dsir_weights"     -> over("documents")(TextAnalysis.dsirWeightsDf),
    "eq133_shingle_novelty"  -> over("documents")(TextAnalysis.shingleNoveltyDf),
    "eq134_source_overlap"   -> over("documents")(TextAnalysis.sourceOverlapDf),
    "eq135_snapshot_drift"   -> over("documents")(CorpusOps.snapshotDriftDf),
    "eq136_curation_pipeline" -> over("documents")(Curation.curationPipelineDf),
    "eq137_incremental_curation" -> over("documents")(Curation.incrementalCurationDf),
    "eq138_curated_layout"   -> (graft.sources.CuratedSink.eq138 _),
    "eq139_atrest_dedup_index" -> (graft.sources.DedupIndexSink.eq139 _),
    "eq140_atrest_incremental_curation" -> (graft.sources.StateDrills.eq140 _),
    "eq141_state_advance"    -> (graft.sources.StateDrills.eq141 _),
    "eq142_state_compaction" -> (graft.sources.StateDrills.eq142 _),
    "eq143_index_retraction" -> (graft.sources.DedupIndexSink.eq143 _),
    "eq144_state_log_ingest" -> (graft.sources.StateDrills.eq144 _),
    "eq145_post_retraction_repack" -> (graft.sources.StateDrills.eq145 _),
    "eq146_state_time_travel" -> (graft.sources.StateDrills.eq146 _),
    "eq147_self_contained_log" -> (graft.sources.StateDrills.eq147 _),
    "eq148_corpus_time_travel" -> (graft.sources.StateDrills.eq148 _),
    "eq149_snapshot_release"  -> (graft.sources.StateDrills.eq149 _),
    "eq150_manifest_checkpoint" -> (graft.sources.StateDrills.eq150 _),
    "eq151_log_repack"        -> (graft.sources.StateDrills.eq151 _),
    "eq152_incremental_checkpoint" -> (graft.sources.StateDrills.eq152 _),
    "eq153_graced_sweep"      -> (graft.sources.StateDrills.eq153 _),
    "eq154_graced_vacuum"     -> (graft.sources.StateDrills.eq154 _),
    "eq113_rank_corr"        -> over("documents")(TextAnalysis.rankCorrDf),
    "eq114_zorder_layout"    -> over("events")(EventOps.zorderLayoutDf),
    "eq115_pareto_frontier"  -> over("events")(EventOps.paretoFrontierDf),
    "eq116_assoc_audit"      -> over("documents")(TextAnalysis.assocAuditDf),
    "eq117_cuped_readout"    -> over("events")(EventOps.cupedReadoutDf),
    "eq118_benford_audit"    -> over("events")(EventOps.benfordAuditDf),
    "eq119_gopher_gate"      -> over("documents")(TextAnalysis.gopherGateDf),
    "eq120_gini_concentration" -> ((s, d) => StarQueries.giniConcentrationDf(
      Tables.load(s, d, "orders"), Tables.load(s, d, "customer"), Tables.load(s, d, "nation"))),
    // approximate ops — oracle-checked like everything else: deterministic
    // pipelines (x1–x5, x7) are reconstructed verbatim in DuckDB (seeded
    // constants spliced as SQL literals, md5 as the shared hash);
    // implementation-defined sketches (x6, x8) emit oracle-checked exact
    // values plus error-bound flags the oracle pins TRUE
    "x1_minhash_lsh_pairs"   -> over("documents")(Dedup.minhashLshPairsDf),
    "x2_simhash_pairs"       -> over("documents")(Dedup.simhashPairsDf),
    "x3_ivf_topk"            -> ((s, d) => Similarity.ivfTopK(s, d)),
    "x4_media_features"      -> (Multimodal.featuresSummary _),
    "x5_lsh_topk"            -> ((s, d) => Similarity.lshTopK(s, d)),
    "x6_approx_distinct"     -> (Dedup.approxDistinct _),
    "x7_salted_agg"          -> over("events")(EventOps.saltedEventTotalsDf(_)),
    "x8_approx_percentiles"  -> (AggSurface.approxPercentiles _),
    "x9_bloom_contamination" -> over("documents")(TextAnalysis.bloomContaminationDf),
    "x10_cms_topk"           -> over("documents")(CorpusOps.cmsTopKDf),
    "x11_quantize_embeddings" -> over("embeddings")(Similarity.quantizeEmbeddingsDf),
    "x12_ann_recall"         -> (Similarity.annRecall _),
    "x13_approx_group_users" -> over("events")(EventOps.approxUsersPerTypeDf),
    "x14_join_size_estimate" -> over("events")(EventOps.joinSizeEstimateDf),
    "x15_matryoshka_recall"  -> (Similarity.matryoshkaRecall _),
    "x16_profile_columns_approx" -> over("events")(EventOps.profileColumnsApproxDf),
    // streaming-surface parity frames: x17/x18 run the Structured
    // Streaming operators' code in batch mode, putting the streaming
    // surface under the DuckDB oracle
    "x17_cdc_state_batch"    -> (graft.streaming.StreamingOps.cdcStateBatch _),
    "x18_enrich_history_batch" -> (graft.streaming.StreamingOps.enrichBatch _),
    "x19_attribution_batch"  -> (graft.streaming.StreamingOps.attributionBatch _),
    "x20_hll_merge_users"    -> over("events")(EventOps.hllMergeUsersDf),
    "x21_pq_recall"          -> over("embeddings")(Clustering.pqRecallDf),
    "x22_session_window_batch" -> (graft.streaming.StreamingOps.sessionWindowBatch _),
    "x23_minhash_est_error"  -> over("documents")(Dedup.minhashEstErrorDf),
    "x24_lsh_probe_sweep"    -> ((s, d) => Similarity.lshProbeSweep(s, d)),
    "x25_salted_join"        -> over("events")(EventOps.saltedJoinTotalsDf),
    "x26_kll_quantiles"      -> (AggSurface.kllQuantiles _),
    "x27_theta_audience"     -> (AggSurface.thetaAudience _),
    "x28_tws_ledger"         -> (graft.streaming.StreamingOps.purchaseLedgerBatch _),
    "x29_minhash_band_sweep" -> over("documents")(Dedup.minhashBandSweepDf),
  )

  /** For each key in queries, equivalent SQL runnable by DuckDB on the same
    * parquet tables. */
  def oracleSql: Map[String, String] = Oracles.retail ++ Oracles.pipeline
}
