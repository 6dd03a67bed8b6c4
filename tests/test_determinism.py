"""Determinism under repartitioning (SURVEY §5.2): run order-sensitive
declared queries with very different shuffle-partition counts and assert
identical multisets — catches partial-agg-order and window-tie bugs, the #1
hash-mismatch cause."""

from __future__ import annotations

import pytest

from tests.conftest import SF0001
from tests.harness import _rows_to_multiset

# Queries whose plans involve ordering, ranking, folds, or float aggregation —
# the ones that could silently depend on partitioning.
RISKY = [
    "q_agg_groupby_pricing",
    "q_agg_stats",
    "q_agg_collect_sorted",
    "q_win_topk_per_group",
    "q_win_running_sum",
    "q_order_limit_topk",
    "q_dedup_exact",
    "q_dedup_near_jaccard",
    "q_dedup_minhash_lsh",
    "q_dedup_components",
    "q_dedup_simhash",
    "q_dedup_embedding_cosine",
    "q_ann_ivf_topk",
    "q_vec_cosine_topk",
    "q_vec_centroid_norm",
    "q_join_asof",
    "q_stream_session",
    "q_udaf_gmean",
    "q_multimodal_features",
    "q_text_fingerprint",
    "q_text_wordcount",
    # r2 additions: float folds, percentile sorts, argmin/min_by ties,
    # iterative centroid sums — partition-independence is their design claim.
    "q_vec_kmeans_ivf",
    "q_vec_ivf_search_learned",
    "q_win_session_attrib",
    "q_agg_mode_median",
    "q_agg_quantiles",
    "q_text_pmi",
    "q_join_asof_fwd",
    # r3 additions: integer-quantized moment sums, graph rank/limit
    # sparsification, CMS cell sums, md5-priority ordering, RAKE integer
    # scoring, nearest-asof composition — each claims partition
    # independence by construction; pin it.
    "q_ts_anomaly_zscore",
    "q_ts_autocorr",
    "q_ts_ewma",
    "q_ts_decay_sum",
    "q_graph_pagerank",
    "q_graph_triangles",
    "q_graph_link_predict",
    "q_sketch_countmin_topk",
    "q_etl_sample_weighted",
    "q_text_rake_keywords",
    "q_text_bpe_pairs",
    "q_text_contamination",
    "q_join_asof_nearest",
    "q_vec_mips_topk",
    "q_vec_pq_adc",
    "q_dedup_containment",
    "q_win_streak",
    # waves 14-28: quantized-decimal float folds (PCA, HITS, KM survival,
    # Zipf, Theil, info-gain, decomposition), sorted-sequence aggregation
    # (event patterns), the grouped-map intra-group-order trap, and
    # min-label propagation — each claims partition independence; pin it.
    "q_vec_pca_power",
    "q_graph_hits",
    "q_graph_label_prop",
    "q_agg_survival_km",
    "q_text_zipf",
    "q_agg_theil",
    "q_agg_info_gain",
    "q_ts_decompose",
    "q_ts_seasonal_strength",
    "q_vec_scalar_quantize",
    "q_vec_maxsim",
    "q_win_event_pattern",
    "q_apply_in_pandas",
    "q_dedup_minhash_est",
    "q_etl_survivorship",
    "q_etl_merkle_diff",
    # waves 29-41: ordered string aggregation (LISTAGG), ntile scoring
    # (RFM, lift deciles), quantized entropy sums, largest-remainder
    # ranks, and the OOD moment pipeline — partition independence is
    # each one's design claim.
    "q_agg_listagg",
    "q_agg_rfm",
    "q_agg_lift_curve",
    "q_text_char_entropy",
    "q_agg_allocate",
    "q_vec_ood_score",
    "q_agg_cuped",
    "q_win_interval_merge",
    "q_win_max_concurrency",
    "q_dedup_cross_corpus",
    # waves 57-61: rank-from-cumulative-count devices (KW), windowed
    # ordinal patterns and sequence edges (their ORDER BY must totalize),
    # quantized entropy/Brier term sums, the integer-objective greedy
    # (MMR), and survivor argmax ties — partition independence is each
    # one's design claim.
    "q_agg_kruskal_wallis",
    "q_graph_reciprocity",
    "q_ts_permutation_entropy",
    "q_vec_mmr_diverse",
    "q_agg_brier_decomp",
    "q_text_log_odds_monroe",
    "q_dedup_cluster_representative",
    "q_graph_harmonic",
    # waves 62-67: quantized entropy sums (purity/NMI), user-day decimal
    # collapses (event study), exact group percentiles (lead time),
    # first-occurrence checkpoint cumulatives (Heaps), day-spine running
    # sums (backlog), and the quantized mean-jaccard fold (yield curve) —
    # partition independence is each one's design claim.
    "q_vec_cluster_purity",
    "q_ts_event_study",
    "q_win_lead_time",
    "q_text_heaps_law",
    "q_win_backlog",
    "q_dedup_yield_curve",
    # waves 68-73: quantized-fold cluster audits and their exact-sim
    # rankings (silhouette, DB, mutual-kNN), doubled-value median
    # devices (BF, MAD), ordered sign/lag windows (runs, MASE, peaks,
    # records), and the distinct-iterated SCC closure — partition
    # independence is each one's design claim.
    "q_vec_silhouette",
    "q_vec_davies_bouldin",
    "q_vec_mutual_knn",
    "q_graph_scc",
    "q_agg_brown_forsythe",
    "q_agg_mad_robust",
    "q_agg_runs_test",
    "q_win_record_highs",
    "q_ts_mase",
    "q_ts_peak_detect",
    # waves 74-75: hash-ordered budget cut (its window order must
    # totalize), quantized jackknife folds, and the forward-frame
    # error window — partition independence is each one's design claim.
    "q_etl_byte_budget_sample",
    "q_agg_group_jackknife",
    "q_win_time_to_error",
    # waves 76-80: exact-sim rankings (recall curve, hubness), the
    # global frequency-ordered coverage window, the quantized TwoNN
    # log fold, the global ntile split plan, and the recursive-CTE
    # fixpoint — partition independence is each one's design claim.
    "q_vec_recall_curve",
    "q_vec_hubness",
    "q_text_vocab_coverage",
    "q_vec_intrinsic_dim",
    "q_etl_range_split_plan",
    "q_sql_recursive_cte",
    # waves 81-84: quantized Ljung-Box folds, within-block Friedman
    # ranks, the magnitude-grouped Wilcoxon cumulative, the BFS
    # recursion, the PCA trace fold, and the value-grain KS cumulative
    # — partition independence is each one's design claim.
    "q_ts_ljung_box",
    "q_agg_friedman",
    "q_agg_wilcoxon_signed_rank",
    "q_graph_distance_histogram",
    "q_vec_pca_explained",
    "q_agg_ks_exact",
    # wave 85: quantized distance-mean folds and the severity-ranked
    # post-hoc window — partition independence is the design claim.
    "q_vec_energy_distance",
    "q_agg_prop_posthoc",
    # waves 86-89: the KPSS partial-sum window, per-period ntile
    # migration, Bartlett/dist-fit quantized ln folds, and the
    # shingle-curve quantized means — partition independence is each
    # one's design claim.
    "q_ts_kpss",
    "q_win_decile_migration",
    "q_agg_bartlett",
    "q_dedup_shingle_curve",
    "q_agg_dist_fit",
    # waves 90-92: the fully-quantized centroid-margin pipeline, the
    # spectral-entropy fold over windowed projections, and the Lorenz
    # ntile cumulative — partition independence is each one's claim.
    "q_vec_centroid_margin",
    "q_ts_spectral_entropy",
    "q_agg_lorenz_points",
    # waves 93-100: running-ratio monitors (tracking signal), hash-order
    # cumulatives (SPRT), exact-sim violation argmaxes, rank/top-k and
    # run-length/island windows, quantized stylometry and log-ratio
    # folds — partition independence is each one's design claim.
    "q_ts_tracking_signal",
    "q_agg_sprt",
    "q_vec_nn_label_error",
    "q_ts_run_lengths",
    "q_text_burrows_delta",
    "q_agg_hill_tail",
    "q_win_leaderboard_churn",
    "q_dedup_length_profile",
    "q_agg_grubbs",
    # r5 waves: top-k tie-breaks, decimal-equality correlations, and
    # order-statistic sketches — the partition-sensitive shapes.
    "q_tpch_q3",
    "q_tpch_q10",
    "q_tpch_q15",
    "q_tpch_q18",
    "q_tpch_q21",
    "q_tpch_q2",
    "q_sketch_ams_f2",
    "q_sketch_theta_diff",
    "q_sketch_histogram_quantile",
    "q_etl_temperature_resample",
    "q_text_context_length_bins",
    # r5 waves 116-127: argmax/argmin selections, ordered folds, spine
    # windows, and quantized cumulative devices.
    "q_vec_mrr",
    "q_vec_kmeanspp_init",
    "q_win_attribution_ushape",
    "q_agg_naive_bayes",
    "q_agg_decision_stump",
    "q_agg_dhondt",
    "q_text_textrank",
    "q_win_pareto_frontier",
    "q_agg_hodges_lehmann",
    "q_agg_nelson_aalen",
    "q_agg_crps_empirical",
    "q_agg_pinball_loss",
    "q_ts_matrix_profile",
    "q_ts_cusum_reset",
    "q_ts_bollinger",
    "q_ts_rsi",
    "q_stream_watermark_drop",
    "q_agg_mutual_information",
    "q_agg_price_elasticity",
    "q_graph_spectral_radius",
    # r5 waves 128-134: run-off triangles, rank-overlap trimming, SAX
    # bucketing, scalar-subquery thresholds, suffix-sum Shapley windows,
    # quantized oscillators, and integer-mass rank agreement — every one
    # claims partition independence through an exact-integer device.
    "q_agg_chain_ladder",
    "q_agg_trimmed_mean",
    "q_ts_sax_symbols",
    "q_ts_obv",
    "q_tpch_q11",
    "q_tpch_q20",
    "q_vec_knn_shapley",
    "q_graph_resource_alloc",
    "q_ts_stochastic",
    "q_ts_aroon",
    "q_text_yule_k",
    "q_agg_jonckheere",
    "q_vec_rbo_overlap",
    "q_ts_ulcer",
    # r5 waves 135-142: doubled-rank ties, integer-cleared fractions,
    # quantized block terms, argmin trees, threshold order statistics,
    # and pinned within-group run ordering.
    "q_agg_page_trend",
    "q_agg_fleiss_kappa",
    "q_agg_average_precision",
    "q_graph_squares",
    "q_etl_zone_map_skipping",
    "q_ts_binseg",
    "q_agg_gumbel_return",
    "q_agg_bootstrap_median",
    "q_ts_seasonal_mann_kendall",
    "q_graph_attr_assortativity",
    "q_agg_diff_in_diff",
    "q_agg_stratified_ate",
    "q_agg_partial_correlation",
    "q_agg_tail_dependence",
    "q_text_chao1_richness",
    "q_etl_encoding_advisor",
    # r5 waves 143-147: closed-form segment fits, NTILE factor ranks,
    # integer-division proration, cumulative-axis FIFO, sweep-line
    # integrals, Allen classification, integer reciprocals, quantized
    # Gram matrices, and microsecond gap moments.
    "q_ts_intervention",
    "q_win_factor_backtest",
    "q_etl_calendarize",
    "q_etl_fifo_match",
    "q_win_littles_law",
    "q_join_allen_census",
    "q_agg_hotelling_t2",
    "q_agg_atkinson",
    "q_ts_interevent_burstiness",
    "q_vec_cka_halves",
    # r5 waves 148-152: sorted trace strings, DFG lags, quantized KM
    # areas, list-pair diversity, composed funnels, winner attribution,
    # strict-rank xi, nearest-rank tail statistics, grouped beta.
    "q_win_process_variants",
    "q_win_process_dfg",
    "q_agg_survival_rmst",
    "q_vec_intra_list_diversity",
    "q_etl_curation_e2e",
    "q_dedup_mix_shift",
    "q_agg_binary_metrics",
    "q_agg_chatterjee_xi",
    "q_agg_expected_shortfall",
    "q_agg_market_beta",
    # r5 waves 153-158: moment-ratio estimators, dyadic folds, vnode
    # successor lookups, basket products, winnowing struct-minima,
    # NTILE deciles, and monthly duel nets.
    "q_agg_iv_wald",
    "q_agg_oaxaca_blinder",
    "q_ts_haar_energy",
    "q_etl_rebalance_audit",
    "q_agg_fisher_index",
    "q_graph_transitivity",
    "q_agg_mediation",
    "q_agg_theil_decomposition",
    "q_dedup_winnowing",
    "q_etl_erasure_impact",
    "q_agg_qini_curve",
    "q_agg_borda_copeland",
    # r5 waves 159-165: sweep-line level weights, sign-safe hi/lo
    # cross-moments, days-weighted fractiles, integer walk counts,
    # exact-halving folds, and integer-moment capability ratios.
    "q_win_queue_percentiles",
    "q_ts_dickey_fuller",
    "q_agg_newsvendor",
    "q_graph_katz",
    "q_ts_theta_forecast",
    "q_agg_process_capability",
    "q_agg_buhlmann_credibility",
    "q_ts_rs_rotation",
    "q_etl_abc_xyz",
    "q_win_growth_accounting",
    "q_etl_error_budget",
    "q_vec_rrf_fusion",
    "q_agg_airport_shapley",
    "q_agg_smr",
    # r5 waves 166-172: prefix struct-min subarrays, profile indexes,
    # Bradley-Terry MM folds, CDC chunk manifests, LCM betweenness
    # credits, Cramer closed forms, trough re-joins, NTILE kappa
    # quantization, gaps-and-islands BPE merges.
    "q_win_max_subarray",
    "q_agg_h_index",
    "q_agg_bradley_terry",
    "q_ts_cointegration_eg",
    "q_multimodal_cdc_chunks",
    "q_sketch_chebyshev_tail",
    "q_graph_betweenness_2hop",
    "q_sketch_aqp_error",
    "q_agg_bass_diffusion",
    "q_ts_underwater_recovery",
    "q_join_closest_pair_1d",
    "q_etl_partition_overwrite_plan",
    "q_agg_weighted_kappa",
    "q_text_bpe_round2",
    # r5 waves 173-179: scalar-row broadcasts, ratio floors before
    # k-sums, adaptive residual quantizers, LCM-60 coincidence sums,
    # modal-variant levenshtein, rank-cumsum change points, int128
    # rank statistics, LCM-420 channel bands.
    "q_agg_james_stein",
    "q_vec_lof",
    "q_agg_gk_lambda",
    "q_graph_temporal_triangles",
    "q_agg_krippendorff_alpha",
    "q_ts_durbin_watson",
    "q_vec_knn_label_test",
    "q_win_conformance",
    "q_agg_covariate_balance",
    "q_graph_config_triangles",
    "q_ts_pettitt",
    "q_etl_join_strategy_advisor",
    "q_agg_cramer_von_mises",
    "q_ts_atr_keltner",
    # r5 waves 180-199: PWM rank weights, Weiszfeld floor weights,
    # literal-trig resultants, int128 Wasserstein walks, md5 fold
    # chains, quantized ln terms, dyadic SES chains, LISA sign maps,
    # generated zero blocks, Aalen-Johansen increments.
    "q_agg_lin_ccc",
    "q_ts_foster_stuart",
    "q_agg_quade",
    "q_multimodal_shard_packing",
    "q_agg_design_effect",
    "q_win_oee",
    "q_agg_gpd_pwm",
    "q_agg_geometric_median",
    "q_vec_ivf_imbalance",
    "q_ts_xbar_r_chart",
    "q_agg_bowker_symmetry",
    "q_ts_pot_declustering",
    "q_agg_ridge_path",
    "q_etl_partition_evolution_plan",
    "q_ts_rayleigh_seasonality",
    "q_agg_kupiec_pof",
    "q_agg_wasserstein_1d",
    "q_dedup_weighted_jaccard",
    "q_etl_partition_hash_chain",
    "q_agg_g_test_3way",
    "q_graph_percolation_profile",
    "q_agg_nemenyi_posthoc",
    "q_vec_dunn_index",
    "q_ts_ses_grid",
    "q_etl_generalization_tradeoff",
    "q_graph_snowball_bias",
    "q_text_hill_diversity",
    "q_vec_participation_ratio",
    "q_agg_morans_i",
    "q_ts_fano_factor",
    "q_agg_hoover_index",
    "q_ts_allan_variance",
    "q_agg_geary_c",
    "q_multimodal_byte_entropy",
    "q_agg_local_moran_hotspots",
    "q_agg_gallagher_index",
    "q_text_dedup_diversity_impact",
    "q_func_timestamp_waterfall",
    "q_agg_competing_risks_cif",
    "q_agg_kendall_w",
    # r5 waves 201-206: verbatim EMA chains, permutation distances,
    # md5-delay synthesis, quantized log-log OLS, int128 mean
    # cross-multiplications, digest-keyed chunk accounting, integer
    # argmax operating points, data-relative tiering.
    "q_ts_macd_crossover",
    "q_agg_rank_distance_audit",
    "q_etl_watermark_completeness",
    "q_agg_weibull_mrr",
    "q_agg_min_variance_portfolio",
    "q_win_renewal_curve",
    "q_ts_spread_halflife",
    "q_agg_simpson_paradox",
    "q_multimodal_chunk_dedup_savings",
    "q_agg_youden_cutpoint",
    "q_etl_storage_tiering_plan",
    "q_vec_index_memory_budget",
    # r5 wave 207: int128 placement variances over tie-broken ranks
    "q_agg_brunner_munzel",
    # r5 wave 208: min-plus closure distances, lag-window sign counts
    "q_graph_global_efficiency",
    "q_agg_sign_test",
    # r6: the distributed global-rank/prefix-sum rewrites claim
    # partition-BOUNDARY invariance (rank is a property of the total
    # order, not of where RangePartitioner cuts) — pin it across very
    # different shuffle-partition counts for one key per rewrite recipe
    # (sprt/heaps-law/binseg were already pinned above).
    "q_win_percent_rank",        # rank arithmetic on global rn
    "q_win_rank_dense_ntile",    # ntile_from_rn
    "q_agg_mann_whitney",        # tie-group min-rank windows
    "q_agg_wasserstein_1d",      # prefix sums + dense-index self-join
    "q_etl_shard_manifest",      # byte prefix-sum shard assignment
    "q_etl_lateness_audit",      # exclusive running max
    "q_ts_time_weighted_avg",    # sweep-line level + lead self-join
]


def _multiset(df):
    cols = sorted(df.columns)
    idx = [df.columns.index(c) for c in cols]
    return _rows_to_multiset(df.collect(), idx)


@pytest.mark.parametrize("key", RISKY)
def test_partitioning_invariance(spark, registry, key):
    spec = registry[key]
    before = spark.conf.get("spark.sql.shuffle.partitions")
    try:
        spark.conf.set("spark.sql.shuffle.partitions", "2")
        a = _multiset(spec.builder(spark, SF0001))
        spark.conf.set("spark.sql.shuffle.partitions", "17")
        b = _multiset(spec.builder(spark, SF0001))
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", before)
    assert a == b, f"{key} output depends on partitioning"
