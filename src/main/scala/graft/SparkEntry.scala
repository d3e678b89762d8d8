package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.col

import graft.operators.{Dedup, NearDup, Relational, Similarity, SqlSurface, TextAnalysis, Versioned}

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  *
  * `queries` maps every declared operator (SURVEY.md §2) to a DataFrame
  * program over the fixture tables at `sfDir`; `oracleSql` carries the
  * equivalent ANSI SQL the driver runs in DuckDB over the same parquet
  * files. Column names AND types are aligned on both sides (aggregates
  * aliased identically; DuckDB's wider integer results cast down to
  * Spark's types) because the compare hashes values under sorted column
  * names.
  */
object SparkEntry {
  type Query = (SparkSession, String) => DataFrame

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    Relational.q08RevenueByNation(spark, "/root/testdata/sf0.001")

  /** One entry per implemented operator from SURVEY.md §2. */
  def queries: Map[String, Query] = Map(
    // E1 aggregations
    "q01_pricing_summary" -> (Relational.q01PricingSummary _),
    "q02_orders_agg" -> (Relational.q02OrdersAgg _),
    // E2 distinct
    "q03_count_distinct" -> (Relational.q03CountDistinct _),
    "q04_distinct_rows" -> (Relational.q04DistinctRows _),
    "q05_approx_distinct" -> (Relational.q05ApproxDistinct _),
    // E3 rollup / cube
    "q06_rollup" -> (Relational.q06Rollup _),
    "q07_cube" -> (Relational.q07Cube _),
    // E4 joins
    "q08_revenue_by_nation" -> (Relational.q08RevenueByNation _),
    "q09_left_join_orders" -> (Relational.q09LeftJoinOrders _),
    "q10_semi_join" -> (Relational.q10SemiJoin _),
    "q11_anti_join" -> (Relational.q11AntiJoin _),
    "q12_full_outer" -> (Relational.q12FullOuter _),
    // E5 range join
    "q13_range_join" -> (Relational.q13RangeJoin _),
    // E6 windows
    "q14_top3_per_customer" -> (Relational.q14Top3PerCustomer _),
    "q15_window_running" -> (Relational.q15WindowRunning _),
    "q16_ranks" -> (Relational.q16Ranks _),
    // E7 top-k
    "q17_topk" -> (Relational.q17TopK _),
    // E8 set ops
    "q18_set_ops" -> (Relational.q18SetOps _),
    // E9 scalar functions
    "q19_string_funcs" -> (Relational.q19StringFuncs _),
    "q20_date_funcs" -> (Relational.q20DateFuncs _),
    "q21_math_conditional" -> (Relational.q21MathConditional _),
    // E10 JSON
    "q22_json_extract" -> (Relational.q22JsonExtract _),
    // E11 arrays
    "q23_array_ops" -> (Relational.q23ArrayOps _),
    // §2.A reference ops on fixtures
    "q24_filter_in" -> (Relational.q24FilterIn _),
    "q25_union_withcolumn" -> (Relational.q25UnionWithColumn _),
    // §2.B deltalike versioned tables (overwrite + merge + time travel +
    // row-level CDC across the rewriting MERGE commit)
    "q26_merge_upsert" -> (Versioned.q26MergeUpsert _),
    "q27_time_travel" -> (Versioned.q27TimeTravel _),
    "q55_change_feed" -> (Versioned.q55ChangeFeed _),
    // E15 text analysis
    "q28_text_stats" -> (TextAnalysis.q28TextStats _),
    "q29_lang_quality" -> (TextAnalysis.q29LangQuality _),
    "q31_token_freq" -> (TextAnalysis.q31TokenFreq _),
    "q48_tfidf" -> (TextAnalysis.q48Tfidf _),
    // E12–E13 dedup
    "q30_exact_dedup" -> (Dedup.q30ExactDedup _),
    "q53_incremental_dedup" -> (Dedup.q53IncrementalDedup _),
    "q34_jaccard_pairs" -> (Dedup.q34JaccardPairs _),
    "q35_minhash_pairs" -> ((s: SparkSession, d: String) =>
      NearDup.minHashVerifiedPairs(graft.core.Tables.documents(s, d), "doc_id", "text")),
    "q36_simhash_pairs" -> ((s: SparkSession, d: String) =>
      NearDup.simHashPairs(graft.core.Tables.documents(s, d), "doc_id", "text",
        portableHash = true)),
    // E14 similarity search
    "q32_cosine_topk" -> (Similarity.q32CosineTopK _),
    "q37_ann_topk" -> (Similarity.q37AnnRecallGate _),
    // E13 embedding near-dup, planted-twin recall gate
    "q59_embedding_dedup" -> (NearDup.q59EmbeddingDedupGate _),
    // E16 event-time windows (batch form)
    "q33_event_windows" -> (Relational.q33EventWindows _),
    // E1 statistical aggregates
    "q47_stats_aggs" -> (Relational.q47StatsAggs _),
    // E2 extension: exact percentiles + approx-sketch error gate
    "q51_quantile_gate" -> (Relational.q51QuantileGate _),
    // E15 extension: per-document quality filter (keep/drop + reasons)
    "q50_quality_filter" -> (TextAnalysis.q50QualityFilter _),
    // flagship composition: quality filter → exact dedup → corpus summary
    "q52_corpus_pipeline" -> (TextAnalysis.q52CorpusPipeline _),
    // E15/E2 extension: heavy hitters with freqItems superset gate
    "q54_heavy_hitters" -> (TextAnalysis.q54HeavyHitters _),
    // E5 extension: point-in-time (as-of) join
    "q49_asof_join" -> (graft.operators.AsOfJoin.q49AsOfJoin _),
    // corpus construction: benchmark decontamination (exact containment
    // via inverted index), distributed token-budget sharding,
    // deterministic md5-hash stratified sampling
    "q56_decontaminate" -> (graft.operators.CorpusOps.q56Decontaminate _),
    "q57_token_shards" -> (graft.operators.CorpusOps.q57TokenShards _),
    "q58_stratified_sample" -> (graft.operators.CorpusOps.q58StratifiedSample _),
    // multimodal plumbing (stubbed decode; scalar projection → full oracle)
    "q38_media_features" -> (graft.operators.Multimodal.q38MediaFeatures _),
    // E14 IVF-index ANN, gated on exact-top-k recall per query
    "q44_ivf_topk" -> (graft.operators.IvfIndex.q44IvfRecallGate _),
    // E15 lang-ID + winnowing fingerprints (deterministic, SQL-replicated
    // oracles)
    "q45_lang_id" -> ((s: SparkSession, d: String) =>
      graft.operators.LangId.sharedCorpusPrediction(s, d)),
    "q46_winnow_fingerprints" -> (graft.operators.TextAnalysis.q46WinnowFingerprints _),
    // privacy + repetition quality (round-3 additions to the LLM set):
    // regex PII redaction with audit counts; Gopher-style n-gram
    // repetition fractions
    "q60_redact_pii" -> (graft.operators.Privacy.q60RedactPii _),
    "q61_repetition" -> (graft.operators.TextAnalysis.q61Repetition _),
    // corpus balancing + context-window chunking
    "q62_domain_cap" -> (graft.operators.CorpusOps.q62DomainCap _),
    "q63_chunk" -> (graft.operators.CorpusOps.q63Chunk _),
    // unigram-LM quality scoring + int8 embedding quantization
    "q64_unigram_logprob" -> (graft.operators.TextAnalysis.q64UnigramLogProb _),
    "q65_quantize_int8" -> (Similarity.q65QuantizeInt8 _),
    // gap-based sessionization (batch twin of the streaming operator)
    "q66_sessionize" -> (graft.streaming.EventStream.q66Sessionize _),
    // dedup clustering: similarity pairs → connected components →
    // one kept representative per cluster
    "q69_dedup_clusters" -> (graft.operators.Components.q69DedupClusters _),
    // cross-document repeated-span (boilerplate) removal
    "q73_strip_common" -> (TextAnalysis.q73StripCommon _),
    // feature-hashing TF vectors (embedding-free cosine on-ramp)
    "q76_hashing_tf" -> (TextAnalysis.q76HashingTf _),
    // model-free document search: hashed vectors → cosine top-k
    "q77_hashed_topk" -> (TextAnalysis.q77HashedDocTopK _),
    // SemDeDup-style embedding clusters, planted-twin gate
    "q72_semantic_clusters" -> (graft.operators.Components.q72SemanticClusters _),
    // host-centrality (PageRank) over the interaction graph, full oracle
    "q81_pagerank" -> (graft.operators.Components.q81PageRank _),
    // training prep: reproducible shuffle order + pad-efficient batching
    "q67_shuffle" -> (graft.operators.CorpusOps.q67Shuffle _),
    "q68_length_batches" -> (graft.operators.CorpusOps.q68LengthBatches _),
    // deterministic weighted source mixture (upsample/downsample)
    "q75_mixture" -> (graft.operators.CorpusOps.q75Mixture _),
    // order-invariant corpus content digest (dataset lineage)
    "q82_corpus_digest" -> (graft.operators.CorpusOps.q82CorpusDigest _),
    "q83_pack" -> (graft.operators.CorpusOps.q83Pack _),
    "q84_source_kl" -> (graft.operators.CorpusOps.q84SourceKl _),
    "q85_hard_negatives" -> (graft.operators.Similarity.q85HardNegatives _),
    "q86_importance_sample" -> (graft.operators.CorpusOps.q86ImportanceSample _),
    "q87_cluster_split" -> (graft.operators.Components.q87ClusterSplit _),
    "q88_centroid_drift" -> (graft.operators.Similarity.q88CentroidDrift _),
    "q89_dataset_card" -> (graft.operators.CorpusOps.q89DatasetCard _),
    "q90_bigram_logprob" -> (graft.operators.TextAnalysis.q90BigramLogProb _),
    "q91_quality_calibration" -> (graft.operators.CorpusOps.q91QualityCalibration _),
    "q92_version_drift" -> (Versioned.q92VersionDrift _),
    "q93_sql_time_travel" -> (Versioned.q93SqlTimeTravel _),
    "q94_bm25_topk" -> (graft.operators.Retrieval.q94Bm25TopK _),
    "q95_quota_sample" -> (graft.operators.CorpusOps.q95QuotaSample _),
    "q96_incremental_neardup" -> (graft.operators.NearDup.q96IncrementalNearDup _),
    // SQL-text surface: grouping sets, ntile/first/last, bag set ops,
    // correlated subqueries, pivot
    "q39_grouping_sets" -> (SqlSurface.q39GroupingSets _),
    "q40_ntile_first_last" -> (SqlSurface.q40NtileFirstLast _),
    "q41_bag_set_ops" -> (SqlSurface.q41BagSetOps _),
    "q42_correlated_subquery" -> (SqlSurface.q42CorrelatedSubquery _),
    "q43_pivot" -> (SqlSurface.q43Pivot _),
    "q70_unpivot" -> (SqlSurface.q70Unpivot _),
    "q71_exists" -> (SqlSurface.q71Exists _),
    "q74_recursive_cte" -> (SqlSurface.q74RecursiveCte _),
    "q78_range_frame" -> (SqlSurface.q78RangeFrame _),
    "q79_median_mode" -> (SqlSurface.q79MedianMode _),
    // A1-adjacent: schema-declared JSONL/ORC ingest, lossless round-trips
    "q80_jsonl_roundtrip" -> (graft.sources.Sources.q80JsonlRoundtrip _),
    "q97_orc_roundtrip" -> (graft.sources.Sources.q97OrcRoundtrip _),
    // graph family beside PageRank/CC: bounded-depth seed BFS
    "q98_bfs_reach" -> (graft.operators.Components.q98BfsReach _),
    // typo-level entity resolution: deletion-neighborhood edit join
    "q99_edit_pairs" -> (graft.operators.NearDup.q99EditPairs _),
    // hybrid retrieval: BM25 + dense cosine fused with RRF
    "q100_hybrid_rrf" -> (graft.operators.Retrieval.q100HybridRrf _),
    // behavioral analytics over events: funnel + cohort retention
    "q101_funnel" -> (graft.operators.EventAnalytics.q101Funnel _),
    "q102_cohort_retention" -> (graft.operators.EventAnalytics.q102CohortRetention _),
    "q103_gapfill" -> (graft.operators.EventAnalytics.q103Gapfill _),
    // seed-biased trust propagation (TrustRank) over the q81 graph
    "q104_trustrank" -> (graft.operators.Components.q104TrustRank _),
    // first-order Markov next-event transition matrix
    "q105_transitions" -> (graft.operators.EventAnalytics.q105Transitions _),
    // 3-step path mining within 30-min-gap sessions
    "q106_session_paths" -> (graft.operators.EventAnalytics.q106SessionPaths _),
    // per-node triangle counts, degree-ordered orientation
    "q107_triangles" -> (graft.operators.Components.q107Triangles _),
    // rolling z-score anomaly flags over hourly event volumes
    "q108_anomaly" -> (graft.operators.EventAnalytics.q108Anomaly _),
    // Efraimidis-Spirakis weighted sample without replacement, exact k
    "q109_weighted_sample" -> (graft.operators.CorpusOps.q109WeightedSample _),
    // blocked fuzzy entity-resolution join on native jaro_winkler
    "q110_jaro_winkler" -> (graft.operators.NearDup.q110JaroWinkler _),
    // chi-squared contingency: nation x market segment independence
    "q111_chi_squared" -> (graft.operators.Relational.q111ChiSquared _),
    // per-group 2-D pareto frontier via one sort+window sweep
    "q112_skyline" -> (graft.operators.Relational.q112Skyline _),
    // 7-day rolling distinct active users via bounded 7x expansion
    "q113_rolling_dau" -> (graft.operators.EventAnalytics.q113RollingDau _),
    // two-sample Kolmogorov-Smirnov over distributed prefix-sum CDFs
    "q114_ks_test" -> (graft.operators.Relational.q114KsTest _),
    // ANALYZE-style per-column profile in one scan (stacked aggregates)
    "q115_profile" -> (graft.operators.Profiling.q115Profile _),
    // market-basket association rules with support/confidence/lift
    "q116_assoc_rules" -> (graft.operators.Association.q116AssocRules _),
    // per-supplier OLS trend from one-pass sufficient statistics
    "q117_regression" -> (graft.operators.Relational.q117Regression _),
    // PMI collocation mining over map-side token bigrams
    "q118_collocations" -> (graft.operators.TextAnalysis.q118Collocations _),
    // per-document token Shannon entropy (information-density signal)
    "q119_entropy" -> (graft.operators.TextAnalysis.q119Entropy _),
    // Benford first-digit audit of order totals
    "q120_benford" -> (graft.operators.Profiling.q120Benford _),
    // pairwise Pearson correlations in one table scan
    "q121_correlations" -> (graft.operators.Profiling.q121Correlations _),
    // exact 20-bin equi-width histogram (bounds ride as broadcast)
    "q122_histogram" -> (graft.operators.Profiling.q122Histogram _),
    // Mann-Whitney U with midrank ties over distributed prefix sums
    "q123_mann_whitney" -> (graft.operators.Relational.q123MannWhitney _),
    // two-proportion z-test on a deterministic A/B user split
    "q124_ab_test" -> (graft.operators.Relational.q124AbTest _),
    // entity resolution: fuzzy pairs -> clusters -> golden records
    "q125_golden_records" -> (graft.operators.NearDup.q125GoldenRecords _),
    // exact phrase search over a positional inverted index
    "q126_phrase_search" -> (graft.operators.Retrieval.q126PhraseSearch _),
    // last-touch attribution with a 7-day lookback
    "q127_attribution" -> (graft.operators.EventAnalytics.q127Attribution _),
    // gap-based sessionization into a per-session table
    "q128_sessionize" -> (graft.operators.EventAnalytics.q128Sessionize _),
    // keep-latest-per-key compaction (CDC snapshot as one hash aggregate)
    "q129_latest_snapshot" -> (graft.operators.Dedup.q129LatestSnapshot _),
    // winsorized robust mean, clamped at exact per-group percentiles
    "q130_winsorize" -> (graft.operators.Profiling.q130Winsorize _),
    // value-tied decile report via distributed prefix-sum ranks
    "q131_deciles" -> (Relational.q131Deciles _),
    // median-absolute-deviation outlier screen
    "q132_mad_outliers" -> (graft.operators.Profiling.q132MadOutliers _),
    // Poisson-bootstrap confidence interval (single-pass resampling)
    "q133_bootstrap_ci" -> (graft.operators.Profiling.q133BootstrapCI _),
    // weighted quantiles via the distributed prefix-sum support
    "q134_weighted_quantiles" -> (Relational.q134WeightedQuantiles _),
    // daily bounce/conversion/duration KPIs on the session table
    "q135_session_kpis" -> (graft.operators.EventAnalytics.q135SessionKpis _),
    // compressed-container roundtrip: text-raster PNG encode (real zlib
    // DEFLATE + scanline filters) -> full decode -> raster stats
    "q136_png_stats" -> (graft.operators.Multimodal.q136PngStats _),
    // corpus-health Zipf rank-frequency fit over top-1000 tokens
    "q137_zipf_fit" -> (graft.operators.TextAnalysis.q137ZipfFit _),
    // winnow-fingerprint copy detection (substring-level near-dup pairs)
    "q138_fingerprint_overlap" -> (graft.operators.TextAnalysis.q138FingerprintOverlap _),
    // k-anonymity re-identification risk audit over quasi-identifiers
    "q139_k_anonymity" -> (graft.operators.Privacy.q139KAnonymity _),
    // Fellegi-Sunter record-linkage match scoring over blocked part pairs
    "q140_linkage_scores" -> (graft.operators.Linkage.q140LinkageScores _),
    // exponential time-decay engagement scores per user
    "q141_decay_engagement" -> (graft.operators.EventAnalytics.q141DecayEngagement _),
    // rendezvous (HRW) consistent shard routing of the corpus
    "q142_rendezvous_route" -> (graft.operators.CorpusOps.q142RendezvousRoute _),
    // time-series diagnostics over the daily ingest-volume series
    "q143_acf" -> (graft.operators.TimeSeries.q143Acf _),
    "q144_cusum" -> (graft.operators.TimeSeries.q144Cusum _),
    "q145_seasonal" -> (graft.operators.TimeSeries.q145Seasonal _),
    // Flesch/FK readability with planted sentence breaks
    "q146_readability" -> (TextAnalysis.q146Readability _),
    // Cohen's kappa between two quality-heuristic raters
    "q147_kappa" -> (graft.operators.Profiling.q147Kappa _),
    // l-diversity homogeneity audit (companion to q139 k-anonymity)
    "q148_l_diversity" -> (graft.operators.Privacy.q148LDiversity _),
    // t-closeness EMD audit — completes the privacy triad
    "q149_t_closeness" -> (graft.operators.Privacy.q149TCloseness _),
    // rank statistics on the prefix-sum scaffold
    "q150_spearman" -> (graft.operators.Profiling.q150Spearman _),
    "q151_gini" -> (graft.operators.Profiling.q151Gini _),
    // Kaplan–Meier churn survival with right censoring
    "q152_survival" -> (graft.operators.EventAnalytics.q152Survival _),
    // graph mining: bounded-peel k-core, Jaccard link prediction
    "q153_kcore" -> (graft.operators.Components.q153KCore _),
    "q154_jaccard_links" -> (graft.operators.Components.q154JaccardLinks _),
    // SCD Type-2 dimension history from the event stream
    "q155_scd2" -> (graft.operators.EventAnalytics.q155Scd2 _),
    // light suffix-stripping stem frequencies
    "q156_stems" -> (TextAnalysis.q156Stems _),
    // robust Theil–Sen trend of daily volume
    "q157_theil_sen" -> (graft.operators.TimeSeries.q157TheilSen _),
    // ε-DP Laplace count release (deterministic salted noise)
    "q158_dp_release" -> (graft.operators.Privacy.q158DpRelease _),
    // rank-sum ROC AUC on the prefix-sum scaffold
    "q159_auc" -> (graft.operators.Profiling.q159Auc _),
    // exact per-stratum deterministic sampling
    "q160_stratified_sample" -> (graft.operators.CorpusOps.q160StratifiedSample _),
    // embedding clustering: label silhouette, spherical k-means
    "q161_silhouette" -> (graft.operators.Clustering.q161Silhouette _),
    "q162_kmeans" -> (graft.operators.Clustering.q162KMeans _),
    // HITS hubs/authorities on the directed counterparty graph
    "q163_hits" -> (graft.operators.Components.q163Hits _),
    // cross-cohort quantile normalization via integer-rank equi-join
    "q164_quantile_normalize" -> (Relational.q164QuantileNormalize _),
    // mutual information between categorical columns
    "q165_mutual_information" -> (Relational.q165MutualInformation _),
    // CCNet-style corpus-model cross-entropy quality filter
    "q166_cross_entropy" -> (TextAnalysis.q166CrossEntropy _),
    // Monroe log-odds distinctive terms per source
    "q167_logodds_keywords" -> (graft.operators.CorpusOps.q167LogOddsKeywords _),
    // Hill power-law tail index of order revenue
    "q168_hill_tail" -> (graft.operators.Profiling.q168HillTail _),
    // funnel-edge latency percentiles
    "q169_conversion_lag" -> (graft.operators.EventAnalytics.q169ConversionLag _),
    // degree assortativity of the basket graph
    "q170_assortativity" -> (graft.operators.Components.q170Assortativity _),
    // token burstiness (Fano factor with zeros)
    "q171_burstiness" -> (TextAnalysis.q171Burstiness _),
    // sorted-neighborhood ER candidates (rank-join formulation)
    "q172_sorted_neighborhood" -> (graft.operators.NearDup.q172SortedNeighborhood _),
    // declared-vs-predicted language confusion audit
    "q173_lang_confusion" -> (graft.operators.LangId.q173LangConfusion _),
    // cumulative gains / lift at score deciles
    "q174_lift_curve" -> (Relational.q174LiftCurve _),
    // vocabulary coverage curve (tokenizer-budget diagnostic)
    "q175_vocab_coverage" -> (TextAnalysis.q175VocabCoverage _),
    // Newman modularity of the nation partition on the trade graph
    "q176_modularity" -> (graft.operators.Components.q176Modularity _),
    // ingest quality-gate attrition funnel
    "q177_filter_cascade" -> (graft.operators.CorpusOps.q177FilterCascade _),
    // incremental session-table maintenance ≡ full recompute
    "q178_incremental_sessions" -> (graft.operators.EventAnalytics.q178IncrementalSessions _),
    // BH-FDR-controlled drift battery (cross-engine-pinned normal CDF)
    "q179_bh_fdr" -> (Relational.q179BhFdr _),
    // shuffle-key skew pre-flight report
    "q180_key_skew" -> (graft.operators.Skew.q180KeySkew _),
    // weekly-cycle variance share (ANOVA eta-squared) per type
    "q181_weekly_eta" -> (graft.operators.TimeSeries.q181WeeklyEta _),
    // SCD2 point-in-time lookup (q155's dimension, consumed)
    "q182_scd2_lookup" -> (graft.operators.EventAnalytics.q182Scd2Lookup _),
    // ABC revenue-contribution classification
    "q183_abc_parts" -> (Relational.q183AbcParts _),
    // leakage-free leave-one-out target encoding
    "q184_target_encode" -> (Relational.q184TargetEncode _),
    // portable Count-Min sketch with exactness gate
    "q185_count_min" -> (TextAnalysis.q185CountMin _),
    // Bloom membership sketch with no-false-negatives gate
    "q186_bloom" -> (TextAnalysis.q186Bloom _),
    // dedup-threshold sensitivity curve (one join, bucketed re-counts)
    "q187_threshold_curve" -> (Dedup.q187ThresholdCurve _),
    // functional-dependency / key audit
    "q188_fd_audit" -> (graft.operators.Profiling.q188FdAudit _),
    // gaps-and-islands interval flattening
    "q189_merge_intervals" -> (graft.operators.EventAnalytics.q189MergeIntervals _),
    // bounded-window return-rate retention curve
    "q190_return_rate" -> (graft.operators.EventAnalytics.q190ReturnRate _),
    // approximate (MinHash-LSH over neighbor sets) Jaccard link prediction
    "q191_approx_jaccard_links" -> (graft.operators.Components.q191ApproxJaccardLinks _),
    // chunking via the native chunk_tokens user-defined table function
    "q192_chunk_udtf" -> (graft.operators.CorpusOps.q192ChunkUdtf _),
    // deterministic synchronous label-propagation communities
    "q193_label_propagation" -> (graft.operators.Components.q193LabelPropagation _),
    // per-node local clustering coefficient
    "q194_clustering_coef" -> (graft.operators.Components.q194ClusteringCoefficient _),
    // nDCG@5 retrieval-quality evaluation of the BM25 ranking
    "q195_ndcg" -> (graft.operators.Retrieval.q195Ndcg _),
    // passage-level (16-token block) boilerplate dedup
    "q196_passage_dedup" -> (graft.operators.Dedup.q196PassageDedup _),
    // embedding-space outlier screen vs own-label centroid
    "q197_embedding_outliers" -> (graft.operators.Clustering.q197EmbeddingOutliers _),
    // RFM quintile customer segmentation
    "q198_rfm" -> (graft.operators.Relational.q198Rfm _),
    // EWMA smoothing of daily volume via rescaled prefix sums
    "q199_ewma" -> (graft.operators.TimeSeries.q199Ewma _),
    // perceptual (dHash) near-duplicate image pairs through the real PNG decode
    "q200_dhash_pairs" -> (graft.operators.Multimodal.q200DhashPairs _),
    // acoustic fingerprint near-duplicate pairs through the real WAV decode
    "q201_wav_fingerprint" -> (graft.operators.Multimodal.q201WavFingerprintPairs _),
    // quality-aware dedup representative selection (keep-best per cluster)
    "q202_keep_best" -> (graft.operators.Components.q202KeepBest _),
    // stock session_window aggregation vs classic sessionization SQL
    "q203_session_window" -> (graft.operators.EventAnalytics.q203SessionWindowAgg _),
    // CUPED variance-reduced A/B readout (pre-period covariate adjustment)
    "q204_cuped" -> (graft.operators.Relational.q204Cuped _),
    // Kneser-Ney smoothed bigram LM self-scoring
    "q205_kn_bigram" -> (graft.operators.TextAnalysis.q205KnBigram _),
    // binary-segmentation changepoint localization on daily volumes
    "q206_changepoint" -> (graft.operators.TimeSeries.q206Changepoint _),
    // retrieval eval: MRR + recall@10 over the BM25 ranking
    "q207_mrr_recall" -> (graft.operators.Retrieval.q207MrrRecall _),
    // Johnson-Lindenstrauss +/-1 random projection (map-only sketch)
    "q208_random_projection" -> (graft.operators.Similarity.q208RandomProjection _),
    // 4-truss pruning (fixed 2 rounds) of the part co-purchase graph
    "q209_ktruss" -> (graft.operators.Components.q209Ktruss _),
    // cross-document duplicated 8-token span inventory (memorization report)
    "q210_dup_spans" -> (graft.operators.Dedup.q210DupSpans _),
    // SAX symbolization of daily volume series (z-norm + PAA + quartile bins)
    "q211_sax" -> (graft.operators.TimeSeries.q211Sax _),
    // landmark-sampled harmonic closeness (labeled multi-source BFS)
    "q212_closeness" -> (graft.operators.Components.q212Closeness _),
    // grid-blocked DBSCAN on the 2-D random-projection sketch
    "q213_dbscan" -> (graft.operators.Clustering.q213Dbscan _),
    // accuracy-weighted crowd-label consensus (one Dawid-Skene round)
    "q214_consensus" -> (graft.operators.Labeling.q214Consensus _),
    // Bradley-Terry preference strengths (2 pinned MM iterations)
    "q215_bradley_terry" -> (graft.operators.Labeling.q215BradleyTerry _),
    // ROUGE-1/2 clipped n-gram overlap over a pinned doc pairing
    "q216_rouge" -> (graft.operators.TextAnalysis.q216Rouge _),
    // univariate logistic regression, 2 pinned IRLS iterations
    "q217_logistic" -> (graft.operators.Relational.q217Logistic _),
    // mutual-best 1:1 assignment over the q140 linkage scores
    "q218_mutual_best" -> (graft.operators.Linkage.q218MutualBest _),
    // per-document span novelty (doc-level readout of q210's inventory)
    "q219_novelty" -> (graft.operators.Dedup.q219SpanNovelty _),
    // longest-shared-passage depth estimate (pinned 8/16/32 levels)
    "q220_passage_depth" -> (graft.operators.Dedup.q220PassageDepth _),
    // sampling-temperature mixture weights (n^alpha balance)
    "q221_temperature_mix" -> (graft.operators.CorpusOps.q221TemperatureMix _),
    // kNN label probe (majority vote over brute cosine top-10)
    "q222_knn_label" -> (graft.operators.Similarity.q222KnnLabel _),
    // per-label classifier report over the kNN predictions
    "q223_knn_report" -> (graft.operators.Similarity.q223KnnReport _),
    // c-TF-IDF cluster keywords (top-5 per embedding label)
    "q224_ctfidf" -> (graft.operators.Clustering.q224CtfidfKeywords _),
    // split-conformal interval calibration over the q217 model
    "q225_conformal" -> (graft.operators.Relational.q225Conformal _),
    // population stability index drift per event type
    "q226_psi" -> (graft.operators.Relational.q226Psi _),
    // expected calibration error of the q217 model (10-bin reliability)
    "q227_ece" -> (graft.operators.Relational.q227Ece _),
    // difference-in-differences on the arm x period 2x2 design
    "q228_did" -> (graft.operators.Relational.q228Did _),
    // Qini uplift deciles over the q217 score ranking
    "q229_qini" -> (graft.operators.Relational.q229Qini _),
    // seasonal-naive backtest with MASE scoring per event type
    "q230_mase" -> (graft.operators.TimeSeries.q230Mase _),
    // cohort LTV curves (cumulative value per cohort member by age)
    "q231_ltv_curve" -> (graft.operators.EventAnalytics.q231LtvCurve _),
    // order-to-delivery SLA percentiles per order month
    "q232_delivery_sla" -> (graft.operators.Relational.q232DeliverySla _),
    // price-volume decomposition of half-over-half revenue change
    "q233_pvm" -> (graft.operators.EventAnalytics.q233Pvm _),
    // Fleiss' kappa multi-rater agreement over the q214 vote fixture
    "q234_fleiss_kappa" -> (graft.operators.Labeling.q234FleissKappa _),
    // Markov stationary event-type mix (3 pinned power iterations)
    "q235_stationary" -> (graft.operators.EventAnalytics.q235Stationary _),
    // off-policy IPS/SNIPS evaluation of the best-arm-per-month policy
    "q236_off_policy" -> (graft.operators.EventAnalytics.q236OffPolicy _),
    // trigram-postings substring search (index plan == naive scan)
    "q237_trigram_search" -> (graft.operators.Retrieval.q237TrigramSearch _),
    // BPE merge-round pair ladder over the word vocabulary
    "q238_bpe_pairs" -> (graft.operators.CorpusOps.q238BpePairs _),
    // source-pair shingle-Jaccard corpus overlap matrix
    "q239_source_overlap" -> (graft.operators.CorpusOps.q239SourceOverlap _),
    // two-group log-rank survival test on q152 session lifetimes
    "q240_log_rank" -> (graft.operators.EventAnalytics.q240LogRank _),
    // Murphy Brier-score decomposition of the q217 logistic fit
    "q241_brier" -> (graft.operators.Relational.q241Brier _),
    // within-doc repetition-run audit (degenerate-generation screen)
    "q242_repetition_runs" -> (graft.operators.TextAnalysis.q242RepetitionRuns _),
    // Jensen-Shannon divergence matrix over source unigram mixes
    "q243_source_jsd" -> (graft.operators.CorpusOps.q243SourceJsd _),
    // Heaps'-law vocabulary-growth fit in ingest order
    "q244_heaps_fit" -> (graft.operators.TextAnalysis.q244HeapsFit _),
    // md5-permutation test for the odd/even user value difference
    "q245_permutation_test" -> (graft.operators.Relational.q245PermutationTest _),
    // top principal component by 3 pinned power iterations
    "q246_top_pc" -> (graft.operators.Similarity.q246TopPc _),
    // Hill tail-index of document lengths
    "q247_hill_tail" -> (graft.operators.Profiling.q247HillTail _),
    // Cochran-Mantel-Haenszel month-stratified association test
    "q248_cmh" -> (graft.operators.Relational.q248Cmh _),
    // Krippendorff's alpha inter-rater agreement (missing-tolerant)
    "q249_krippendorff" -> (graft.operators.Labeling.q249Krippendorff _),
    // one-way ANOVA F + eta^2 across event types
    "q250_anova" -> (graft.operators.HypothesisTests.q250Anova _),
    // Kruskal-Wallis rank test with exact midrank tie correction
    "q251_kruskal_wallis" -> (graft.operators.HypothesisTests.q251KruskalWallis _),
    // Brown-Forsythe median-centered variance-homogeneity test
    "q252_brown_forsythe" -> (graft.operators.HypothesisTests.q252BrownForsythe _),
    // weight of evidence + information value per quantity bin
    "q253_woe_iv" -> (graft.operators.Scoring.q253WoeIv _),
    // empirical-Bayes beta-binomial shrinkage of per-user rates
    "q254_eb_shrinkage" -> (graft.operators.Scoring.q254EbShrinkage _),
    // Bayesian A/B Beta posterior: P(variant B beats A) by quadrature
    "q255_bayes_ab" -> (graft.operators.Scoring.q255BayesAb _),
    // Good-Turing count-of-counts frequency smoothing
    "q256_good_turing" -> (graft.operators.TextAnalysis.q256GoodTuring _),
    // Fisher's exact 2x2 test via the native lgamma codegen expression
    "q257_fisher_exact" -> (graft.operators.HypothesisTests.q257FisherExact _),
    // two-sample Poisson rate test with log-normal CI on the ratio
    "q258_poisson_rate" -> (graft.operators.HypothesisTests.q258PoissonRate _),
    // isotonic (PAV) calibration of purchase rate vs value bin
    "q259_isotonic" -> (graft.operators.Scoring.q259Isotonic _),
    // Kendall's tau-b concordance from the discrete cell relation
    "q260_kendall_tau" -> (graft.operators.Profiling.q260KendallTau _),
    // iterative proportional fitting to uniform margins
    "q261_ipf_rake" -> (graft.operators.Scoring.q261IpfRake _),
    // lossy JPEG roundtrip via javax.imageio (dims exact, MAE-bounded)
    "q262_jpeg_stats" -> (graft.operators.Multimodal.q262JpegStats _),
    // Aho-Corasick blocklist audit (one automaton pass vs k contains)
    "q263_blocklist" -> (graft.operators.TextAnalysis.q263Blocklist _),
    // content-defined-chunk storage-dedup audit per source
    "q264_cdc_dedup" -> (graft.operators.CorpusOps.q264CdcDedup _),
    // exact Shapley-value channel attribution (2^n coalition grid)
    "q265_shapley" -> (graft.operators.EventAnalytics.q265Shapley _),
    // Markov removal-effect attribution (pinned 12-step absorption)
    "q266_removal_effect" -> (graft.operators.EventAnalytics.q266RemovalEffect _),
    // bottom-k hash-sample quantile sketch (mergeable, oracle-exact)
    "q267_sample_quantiles" -> (graft.operators.Profiling.q267SampleQuantiles _),
    // product-quantization codes + reconstruction error (4x16d, 8 cent)
    "q268_pq_codes" -> (graft.operators.Clustering.q268PqCodes _),
    // unsupervised EM estimation of Fellegi-Sunter m/u parameters
    "q269_fs_em" -> (graft.operators.Linkage.q269FsEm _),
    // IVF-PQ ANN: coarse lists + ADC over PQ codes + exact-recall flag
    "q270_ivf_pq" -> (graft.operators.Clustering.q270IvfPq _),
    // portable HLL distinct sketch (register-exact oracle replay)
    "q271_portable_hll" -> (graft.operators.Profiling.q271PortableHll _),
    // LATERAL correlated subquery in FROM (top-N per outer row)
    "q272_lateral" -> (graft.operators.SqlSurface.q272Lateral _),
    // MAP-typed property-bag ops (map_from_entries, keyed lookups)
    "q273_map_ops" -> (graft.operators.Relational.q273MapOps _),
    // PQ-bucket semantic-dedup audit (SemDeDup shape, exact verify)
    "q274_pq_dedup" -> (graft.operators.Clustering.q274PqDedup _),
    // salted-join result-equality contract on the skewed type key
    "q275_salted_join" -> (graft.operators.Skew.q275SaltedJoin _),
    // q33's streaming twin: a real Structured Streaming replay (memory
    // sink, complete mode) driver-checked against the same oracle
    "q276_stream_windows" -> (graft.streaming.EventStream.q276StreamEventWindows _),
    // q66's streaming twin: flatMapGroupsWithState sessionization with
    // event-time timeouts over an ordered file replay (append mode)
    "q277_stream_sessionize" -> (graft.streaming.EventStream.q277StreamSessionize _),
    // the full streaming ingest loop: per-trigger near-dup filter
    // against the live table + exactly-once deltalike appends
    "q278_stream_ingest_dedup" -> (graft.streaming.IngestDedup.q278StreamIngestDedup _),
    "q279_jaccard_links_lsh" -> (graft.operators.Components.q279JaccardLinksLsh _),
    // the Welford anomaly stream (flatMapGroupsWithState, order-
    // sensitive online contract) over the event-time-ordered replay
    "q280_stream_anomalies" -> (graft.streaming.EventStream.q280StreamAnomalies _),
    // q278 with the signature relation persisted as its own table:
    // per-trigger cost is O(batch + collisions), corpus text untouched
    "q281_stream_ingest_indexed" -> (graft.streaming.IngestDedup.q281StreamIngestIndexed _),
    // q154's graph through the router-free exact entry point — pins
    // direct entry ≡ the router's exact branch in the gate
    "q282_jaccard_links_collapsed" -> (graft.operators.Components.q282JaccardLinksCollapsed _),
    // q281's loop over the BAND-BUCKETED index: per-trigger corpus
    // touch is two file-pruned point lookups, flat in corpus size
    "q283_stream_ingest_banded" -> (graft.streaming.IngestDedup.q283StreamIngestBanded _),
  )

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. Omit for non-SQL-expressible ops.
    */
  def oracleSql: Map[String, String] = Map(
    "q01_pricing_summary" -> Relational.q01Sql,
    "q02_orders_agg" -> Relational.q02Sql,
    "q03_count_distinct" -> Relational.q03Sql,
    "q04_distinct_rows" -> Relational.q04Sql,
    "q05_approx_distinct" -> Relational.q05Sql,
    "q06_rollup" -> Relational.q06Sql,
    "q07_cube" -> Relational.q07Sql,
    "q08_revenue_by_nation" -> Relational.q08Sql,
    "q09_left_join_orders" -> Relational.q09Sql,
    "q10_semi_join" -> Relational.q10Sql,
    "q11_anti_join" -> Relational.q11Sql,
    "q12_full_outer" -> Relational.q12Sql,
    "q13_range_join" -> Relational.q13Sql,
    "q14_top3_per_customer" -> Relational.q14Sql,
    "q15_window_running" -> Relational.q15Sql,
    "q16_ranks" -> Relational.q16Sql,
    "q17_topk" -> Relational.q17Sql,
    "q18_set_ops" -> Relational.q18Sql,
    "q19_string_funcs" -> Relational.q19Sql,
    "q20_date_funcs" -> Relational.q20Sql,
    "q21_math_conditional" -> Relational.q21Sql,
    "q22_json_extract" -> Relational.q22Sql,
    "q23_array_ops" -> Relational.q23Sql,
    "q24_filter_in" -> Relational.q24Sql,
    "q25_union_withcolumn" -> Relational.q25Sql,
    "q26_merge_upsert" -> Versioned.q26Sql,
    "q27_time_travel" -> Versioned.q27Sql,
    "q55_change_feed" -> Versioned.q55Sql,
    "q28_text_stats" -> TextAnalysis.q28Sql,
    "q29_lang_quality" -> TextAnalysis.q29Sql,
    "q30_exact_dedup" -> Dedup.q30Sql,
    "q31_token_freq" -> TextAnalysis.q31Sql,
    "q32_cosine_topk" -> Similarity.q32Sql,
    "q33_event_windows" -> Relational.q33Sql,
    "q47_stats_aggs" -> Relational.q47Sql,
    "q50_quality_filter" -> TextAnalysis.q50Sql,
    "q51_quantile_gate" -> Relational.q51Sql,
    "q52_corpus_pipeline" -> TextAnalysis.q52Sql,
    "q53_incremental_dedup" -> Dedup.q53Sql,
    "q54_heavy_hitters" -> TextAnalysis.q54Sql,
    "q48_tfidf" -> TextAnalysis.q48Sql,
    "q49_asof_join" -> graft.operators.AsOfJoin.q49Sql,
    "q56_decontaminate" -> graft.operators.CorpusOps.q56Sql,
    "q57_token_shards" -> graft.operators.CorpusOps.q57Sql,
    "q58_stratified_sample" -> graft.operators.CorpusOps.q58Sql,
    "q34_jaccard_pairs" -> Dedup.q34Sql,
    "q35_minhash_pairs" -> NearDup.q35Sql,
    "q36_simhash_pairs" -> NearDup.q36Sql,
    "q59_embedding_dedup" -> NearDup.q59Sql,
    "q37_ann_topk" -> Similarity.q37Sql,
    "q38_media_features" -> graft.operators.Multimodal.q38Sql,
    "q44_ivf_topk" -> graft.operators.IvfIndex.q44Sql,
    "q45_lang_id" -> graft.operators.LangId.q45Sql,
    "q46_winnow_fingerprints" -> graft.operators.TextAnalysis.q46Sql,
    "q60_redact_pii" -> graft.operators.Privacy.q60Sql,
    "q61_repetition" -> graft.operators.TextAnalysis.q61Sql,
    "q62_domain_cap" -> graft.operators.CorpusOps.q62Sql,
    "q63_chunk" -> graft.operators.CorpusOps.q63Sql,
    "q64_unigram_logprob" -> graft.operators.TextAnalysis.q64Sql,
    "q65_quantize_int8" -> Similarity.q65Sql,
    "q66_sessionize" -> graft.streaming.EventStream.q66Sql,
    "q69_dedup_clusters" -> graft.operators.Components.q69Sql,
    "q73_strip_common" -> TextAnalysis.q73Sql,
    "q76_hashing_tf" -> TextAnalysis.q76Sql,
    "q77_hashed_topk" -> TextAnalysis.q77Sql,
    "q72_semantic_clusters" -> graft.operators.Components.q72Sql,
    "q81_pagerank" -> graft.operators.Components.q81Sql,
    "q67_shuffle" -> graft.operators.CorpusOps.q67Sql,
    "q68_length_batches" -> graft.operators.CorpusOps.q68Sql,
    "q75_mixture" -> graft.operators.CorpusOps.q75Sql,
    "q82_corpus_digest" -> graft.operators.CorpusOps.q82Sql,
    "q83_pack" -> graft.operators.CorpusOps.q83Sql,
    "q84_source_kl" -> graft.operators.CorpusOps.q84Sql,
    "q85_hard_negatives" -> graft.operators.Similarity.q85Sql,
    "q86_importance_sample" -> graft.operators.CorpusOps.q86Sql,
    "q87_cluster_split" -> graft.operators.Components.q87Sql,
    "q88_centroid_drift" -> graft.operators.Similarity.q88Sql,
    "q89_dataset_card" -> graft.operators.CorpusOps.q89Sql,
    "q90_bigram_logprob" -> graft.operators.TextAnalysis.q90Sql,
    "q91_quality_calibration" -> graft.operators.CorpusOps.q91Sql,
    "q92_version_drift" -> Versioned.q92Sql,
    "q93_sql_time_travel" -> Versioned.q93Sql,
    "q94_bm25_topk" -> graft.operators.Retrieval.q94Sql,
    "q95_quota_sample" -> graft.operators.CorpusOps.q95Sql,
    "q96_incremental_neardup" -> graft.operators.NearDup.q96Sql,
    // q35 is LSH-candidates + exact verification (all-pairs oracle);
    // q37/q44 are recall gates (oracle pins the exact side + a recall
    // boolean); specs additionally measure raw recall.
    "q39_grouping_sets" -> SqlSurface.q39Sql,
    "q40_ntile_first_last" -> SqlSurface.q40Sql,
    "q41_bag_set_ops" -> SqlSurface.q41Sql,
    "q42_correlated_subquery" -> SqlSurface.q42Sql,
    "q43_pivot" -> SqlSurface.q43Sql,
    "q70_unpivot" -> SqlSurface.q70Sql,
    "q71_exists" -> SqlSurface.q71Sql,
    "q74_recursive_cte" -> SqlSurface.q74Sql,
    "q78_range_frame" -> SqlSurface.q78Sql,
    "q79_median_mode" -> SqlSurface.q79Sql,
    "q80_jsonl_roundtrip" -> graft.sources.Sources.q80Sql,
    "q97_orc_roundtrip" -> graft.sources.Sources.q97Sql,
    "q98_bfs_reach" -> graft.operators.Components.q98Sql,
    "q99_edit_pairs" -> graft.operators.NearDup.q99Sql,
    "q100_hybrid_rrf" -> graft.operators.Retrieval.q100Sql,
    "q101_funnel" -> graft.operators.EventAnalytics.q101Sql,
    "q102_cohort_retention" -> graft.operators.EventAnalytics.q102Sql,
    "q103_gapfill" -> graft.operators.EventAnalytics.q103Sql,
    "q104_trustrank" -> graft.operators.Components.q104Sql,
    "q105_transitions" -> graft.operators.EventAnalytics.q105Sql,
    "q106_session_paths" -> graft.operators.EventAnalytics.q106Sql,
    "q107_triangles" -> graft.operators.Components.q107Sql,
    "q108_anomaly" -> graft.operators.EventAnalytics.q108Sql,
    "q109_weighted_sample" -> graft.operators.CorpusOps.q109Sql,
    "q110_jaro_winkler" -> graft.operators.NearDup.q110Sql,
    "q111_chi_squared" -> graft.operators.Relational.q111Sql,
    "q112_skyline" -> graft.operators.Relational.q112Sql,
    "q113_rolling_dau" -> graft.operators.EventAnalytics.q113Sql,
    "q114_ks_test" -> graft.operators.Relational.q114Sql,
    "q115_profile" -> graft.operators.Profiling.q115Sql,
    "q116_assoc_rules" -> graft.operators.Association.q116Sql,
    "q117_regression" -> graft.operators.Relational.q117Sql,
    "q118_collocations" -> graft.operators.TextAnalysis.q118Sql,
    "q119_entropy" -> graft.operators.TextAnalysis.q119Sql,
    "q120_benford" -> graft.operators.Profiling.q120Sql,
    "q121_correlations" -> graft.operators.Profiling.q121Sql,
    "q122_histogram" -> graft.operators.Profiling.q122Sql,
    "q123_mann_whitney" -> graft.operators.Relational.q123Sql,
    "q124_ab_test" -> graft.operators.Relational.q124Sql,
    "q125_golden_records" -> graft.operators.NearDup.q125Sql,
    "q126_phrase_search" -> graft.operators.Retrieval.q126Sql,
    "q127_attribution" -> graft.operators.EventAnalytics.q127Sql,
    "q128_sessionize" -> graft.operators.EventAnalytics.q128Sql,
    "q129_latest_snapshot" -> graft.operators.Dedup.q129Sql,
    "q130_winsorize" -> graft.operators.Profiling.q130Sql,
    "q131_deciles" -> Relational.q131Sql,
    "q132_mad_outliers" -> graft.operators.Profiling.q132Sql,
    "q133_bootstrap_ci" -> graft.operators.Profiling.q133Sql,
    "q134_weighted_quantiles" -> Relational.q134Sql,
    "q135_session_kpis" -> graft.operators.EventAnalytics.q135Sql,
    "q136_png_stats" -> graft.operators.Multimodal.q136Sql,
    "q137_zipf_fit" -> graft.operators.TextAnalysis.q137Sql,
    "q138_fingerprint_overlap" -> graft.operators.TextAnalysis.q138Sql,
    "q139_k_anonymity" -> graft.operators.Privacy.q139Sql,
    "q140_linkage_scores" -> graft.operators.Linkage.q140Sql,
    "q141_decay_engagement" -> graft.operators.EventAnalytics.q141Sql,
    "q142_rendezvous_route" -> graft.operators.CorpusOps.q142Sql,
    "q143_acf" -> graft.operators.TimeSeries.q143Sql,
    "q144_cusum" -> graft.operators.TimeSeries.q144Sql,
    "q145_seasonal" -> graft.operators.TimeSeries.q145Sql,
    "q146_readability" -> TextAnalysis.q146Sql,
    "q147_kappa" -> graft.operators.Profiling.q147Sql,
    "q148_l_diversity" -> graft.operators.Privacy.q148Sql,
    "q149_t_closeness" -> graft.operators.Privacy.q149Sql,
    "q150_spearman" -> graft.operators.Profiling.q150Sql,
    "q151_gini" -> graft.operators.Profiling.q151Sql,
    "q152_survival" -> graft.operators.EventAnalytics.q152Sql,
    "q153_kcore" -> graft.operators.Components.q153Sql,
    "q154_jaccard_links" -> graft.operators.Components.q154Sql,
    "q155_scd2" -> graft.operators.EventAnalytics.q155Sql,
    "q156_stems" -> TextAnalysis.q156Sql,
    "q157_theil_sen" -> graft.operators.TimeSeries.q157Sql,
    "q158_dp_release" -> graft.operators.Privacy.q158Sql,
    "q159_auc" -> graft.operators.Profiling.q159Sql,
    "q160_stratified_sample" -> graft.operators.CorpusOps.q160Sql,
    "q161_silhouette" -> graft.operators.Clustering.q161Sql,
    "q162_kmeans" -> graft.operators.Clustering.q162Sql,
    "q163_hits" -> graft.operators.Components.q163Sql,
    "q164_quantile_normalize" -> Relational.q164Sql,
    "q165_mutual_information" -> Relational.q165Sql,
    "q166_cross_entropy" -> TextAnalysis.q166Sql,
    "q167_logodds_keywords" -> graft.operators.CorpusOps.q167Sql,
    "q168_hill_tail" -> graft.operators.Profiling.q168Sql,
    "q169_conversion_lag" -> graft.operators.EventAnalytics.q169Sql,
    "q170_assortativity" -> graft.operators.Components.q170Sql,
    "q171_burstiness" -> TextAnalysis.q171Sql,
    "q172_sorted_neighborhood" -> graft.operators.NearDup.q172Sql,
    "q173_lang_confusion" -> graft.operators.LangId.q173Sql,
    "q174_lift_curve" -> Relational.q174Sql,
    "q175_vocab_coverage" -> TextAnalysis.q175Sql,
    "q176_modularity" -> graft.operators.Components.q176Sql,
    "q177_filter_cascade" -> graft.operators.CorpusOps.q177Sql,
    "q178_incremental_sessions" -> graft.operators.EventAnalytics.q178Sql,
    "q179_bh_fdr" -> Relational.q179Sql,
    "q180_key_skew" -> graft.operators.Skew.q180Sql,
    "q181_weekly_eta" -> graft.operators.TimeSeries.q181Sql,
    "q182_scd2_lookup" -> graft.operators.EventAnalytics.q182Sql,
    "q183_abc_parts" -> Relational.q183Sql,
    "q184_target_encode" -> Relational.q184Sql,
    "q185_count_min" -> TextAnalysis.q185Sql,
    "q186_bloom" -> TextAnalysis.q186Sql,
    "q187_threshold_curve" -> Dedup.q187Sql,
    "q188_fd_audit" -> graft.operators.Profiling.q188Sql,
    "q189_merge_intervals" -> graft.operators.EventAnalytics.q189Sql,
    "q190_return_rate" -> graft.operators.EventAnalytics.q190Sql,
    "q191_approx_jaccard_links" -> graft.operators.Components.q191Sql,
    "q192_chunk_udtf" -> graft.operators.CorpusOps.q192Sql,
    "q193_label_propagation" -> graft.operators.Components.q193Sql,
    "q194_clustering_coef" -> graft.operators.Components.q194Sql,
    "q195_ndcg" -> graft.operators.Retrieval.q195Sql,
    "q196_passage_dedup" -> graft.operators.Dedup.q196Sql,
    "q197_embedding_outliers" -> graft.operators.Clustering.q197Sql,
    "q198_rfm" -> graft.operators.Relational.q198Sql,
    "q199_ewma" -> graft.operators.TimeSeries.q199Sql,
    "q200_dhash_pairs" -> graft.operators.Multimodal.q200Sql,
    "q201_wav_fingerprint" -> graft.operators.Multimodal.q201Sql,
    "q202_keep_best" -> graft.operators.Components.q202Sql,
    "q203_session_window" -> graft.operators.EventAnalytics.q203Sql,
    "q204_cuped" -> graft.operators.Relational.q204Sql,
    "q205_kn_bigram" -> graft.operators.TextAnalysis.q205Sql,
    "q206_changepoint" -> graft.operators.TimeSeries.q206Sql,
    "q207_mrr_recall" -> graft.operators.Retrieval.q207Sql,
    "q208_random_projection" -> graft.operators.Similarity.q208Sql,
    "q209_ktruss" -> graft.operators.Components.q209Sql,
    "q210_dup_spans" -> graft.operators.Dedup.q210Sql,
    "q211_sax" -> graft.operators.TimeSeries.q211Sql,
    "q212_closeness" -> graft.operators.Components.q212Sql,
    "q213_dbscan" -> graft.operators.Clustering.q213Sql,
    "q214_consensus" -> graft.operators.Labeling.q214Sql,
    "q215_bradley_terry" -> graft.operators.Labeling.q215Sql,
    "q216_rouge" -> graft.operators.TextAnalysis.q216Sql,
    "q217_logistic" -> graft.operators.Relational.q217Sql,
    "q218_mutual_best" -> graft.operators.Linkage.q218Sql,
    "q219_novelty" -> graft.operators.Dedup.q219Sql,
    "q220_passage_depth" -> graft.operators.Dedup.q220Sql,
    "q221_temperature_mix" -> graft.operators.CorpusOps.q221Sql,
    "q222_knn_label" -> graft.operators.Similarity.q222Sql,
    "q223_knn_report" -> graft.operators.Similarity.q223Sql,
    "q224_ctfidf" -> graft.operators.Clustering.q224Sql,
    "q225_conformal" -> graft.operators.Relational.q225Sql,
    "q226_psi" -> graft.operators.Relational.q226Sql,
    "q227_ece" -> graft.operators.Relational.q227Sql,
    "q228_did" -> graft.operators.Relational.q228Sql,
    "q229_qini" -> graft.operators.Relational.q229Sql,
    "q230_mase" -> graft.operators.TimeSeries.q230Sql,
    "q231_ltv_curve" -> graft.operators.EventAnalytics.q231Sql,
    "q232_delivery_sla" -> graft.operators.Relational.q232Sql,
    "q233_pvm" -> graft.operators.EventAnalytics.q233Sql,
    "q234_fleiss_kappa" -> graft.operators.Labeling.q234Sql,
    "q235_stationary" -> graft.operators.EventAnalytics.q235Sql,
    "q236_off_policy" -> graft.operators.EventAnalytics.q236Sql,
    "q237_trigram_search" -> graft.operators.Retrieval.q237Sql,
    "q238_bpe_pairs" -> graft.operators.CorpusOps.q238Sql,
    "q239_source_overlap" -> graft.operators.CorpusOps.q239Sql,
    "q240_log_rank" -> graft.operators.EventAnalytics.q240Sql,
    "q241_brier" -> graft.operators.Relational.q241Sql,
    "q242_repetition_runs" -> graft.operators.TextAnalysis.q242Sql,
    "q243_source_jsd" -> graft.operators.CorpusOps.q243Sql,
    "q244_heaps_fit" -> graft.operators.TextAnalysis.q244Sql,
    "q245_permutation_test" -> graft.operators.Relational.q245Sql,
    "q246_top_pc" -> graft.operators.Similarity.q246Sql,
    "q247_hill_tail" -> graft.operators.Profiling.q247Sql,
    "q248_cmh" -> graft.operators.Relational.q248Sql,
    "q249_krippendorff" -> graft.operators.Labeling.q249Sql,
    "q250_anova" -> graft.operators.HypothesisTests.q250Sql,
    "q251_kruskal_wallis" -> graft.operators.HypothesisTests.q251Sql,
    "q252_brown_forsythe" -> graft.operators.HypothesisTests.q252Sql,
    "q253_woe_iv" -> graft.operators.Scoring.q253Sql,
    "q254_eb_shrinkage" -> graft.operators.Scoring.q254Sql,
    "q255_bayes_ab" -> graft.operators.Scoring.q255Sql,
    "q256_good_turing" -> graft.operators.TextAnalysis.q256Sql,
    "q257_fisher_exact" -> graft.operators.HypothesisTests.q257Sql,
    "q258_poisson_rate" -> graft.operators.HypothesisTests.q258Sql,
    "q259_isotonic" -> graft.operators.Scoring.q259Sql,
    "q260_kendall_tau" -> graft.operators.Profiling.q260Sql,
    "q261_ipf_rake" -> graft.operators.Scoring.q261Sql,
    "q262_jpeg_stats" -> graft.operators.Multimodal.q262Sql,
    "q263_blocklist" -> graft.operators.TextAnalysis.q263Sql,
    "q264_cdc_dedup" -> graft.operators.CorpusOps.q264Sql,
    "q265_shapley" -> graft.operators.EventAnalytics.q265Sql,
    "q266_removal_effect" -> graft.operators.EventAnalytics.q266Sql,
    "q267_sample_quantiles" -> graft.operators.Profiling.q267Sql,
    "q268_pq_codes" -> graft.operators.Clustering.q268Sql,
    "q269_fs_em" -> graft.operators.Linkage.q269Sql,
    "q270_ivf_pq" -> graft.operators.Clustering.q270Sql,
    "q271_portable_hll" -> graft.operators.Profiling.q271Sql,
    "q272_lateral" -> graft.operators.SqlSurface.q272Sql,
    "q273_map_ops" -> graft.operators.Relational.q273Sql,
    "q274_pq_dedup" -> graft.operators.Clustering.q274Sql,
    "q275_salted_join" -> graft.operators.Skew.q275Sql,
    // the streaming replay must equal the batch q33 relation exactly —
    // the batch-stream equivalence contract, checked by the same oracle
    "q276_stream_windows" -> graft.operators.Relational.q33Sql,
    // the drained session stream must equal the batch sessionization
    "q277_stream_sessionize" -> graft.streaming.EventStream.q66Sql,
    // the three ingest micro-batches replayed as sequential SQL layers
    "q278_stream_ingest_dedup" -> graft.streaming.IngestDedup.q278Sql,
    "q279_jaccard_links_lsh" -> graft.operators.Components.q279Sql,
    // the streamed detector equals the cumulative exclusive-frame screen
    "q280_stream_anomalies" -> graft.streaming.EventStream.q280Sql,
    // the indexed loop must be indistinguishable from the from-text loop
    "q281_stream_ingest_indexed" -> graft.streaming.IngestDedup.q278Sql,
    // the same exact top-N as q154, so the oracle is q154's SQL
    "q282_jaccard_links_collapsed" -> graft.operators.Components.q154Sql,
    // pruned point lookups must be verdict-invisible: q278's SQL again
    "q283_stream_ingest_banded" -> graft.streaming.IngestDedup.q278Sql,
  )
}
