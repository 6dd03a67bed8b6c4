"""Physical-plan regression tests: the scale design (SURVEY §4) encoded as
assertions. A refactor that silently loses pushdown, pruning, a broadcast, or
re-introduces a shuffle fails HERE, not in a 100 TB incident."""

from __future__ import annotations

import re

import pytest

from tests.conftest import SF001
from tests.harness import executed_plan


def test_filter_pushdown_reaches_parquet(spark, registry):
    plan = executed_plan(registry["q_scan_filter_pushdown"].builder(spark, SF001))
    assert re.search(r"PushedFilters: \[.*GreaterThanOrEqual\(l_shipdate", plan), plan


def test_column_pruning_reaches_parquet(spark, registry):
    plan = executed_plan(registry["q_scan_projection_pushdown"].builder(spark, SF001))
    m = re.search(r"ReadSchema: struct<([^>]*)>", plan)
    assert m, plan
    cols = {c.split(":")[0] for c in m.group(1).split(",")}
    assert cols == {"l_orderkey", "l_quantity"}, cols


def test_star_join_broadcasts_all_dimensions(spark, registry):
    """The flagship 5-way star join: every dimension side (orders, customer,
    nation, region) must come in via broadcast — exactly one shuffle total
    (the final group-by), never a fact-table join shuffle."""
    plan = executed_plan(registry["q_join_star_5way"].builder(spark, SF001))
    assert plan.count("BroadcastHashJoin") >= 4, plan
    assert "SortMergeJoin" not in plan, plan
    # the only Exchange is the aggregation's, not a join's
    assert plan.count("Exchange hashpartitioning") <= 1, plan


def test_broadcast_hint_honored(spark, registry):
    plan = executed_plan(registry["q_join_broadcast"].builder(spark, SF001))
    assert "BroadcastHashJoin" in plan, plan


def test_minhash_broadcast_path_has_no_pair_shuffle(spark, registry):
    """strategy='broadcast', bucket_cap=None: the LSH band join, first-band
    dedup, and verify are all broadcast/row-local — no Exchange above the
    band-join subtree (only the fan_out repartition below it)."""
    plan = executed_plan(
        registry["q_dedup_minhash_lsh"].builder(
            spark, SF001, strategy="broadcast", bucket_cap=None
        )
    )
    assert "BroadcastHashJoin" in plan, plan
    assert "SortMergeJoin" not in plan, plan
    # exactly the fan_out round-robin exchange, no hashpartitioning shuffles
    assert plan.count("Exchange hashpartitioning") == 0, plan


def test_minhash_auto_cap_shuffles_only_band_rows(spark, registry):
    """The default path (bucket_cap='auto') adds exactly the cap machinery's
    pre-join shuffles — window exchanges keyed on (band,bkey) / doc_id over
    the tiny band-row stream — and NEVER a pair-stream shuffle: no
    hashpartitioning on pair columns, no dropDuplicates aggregate (pair
    dedup is the first-SURVIVING-band join residual), and the band rows are
    round-robin re-spread after the windows so a hot bucket's quadratic
    residual work stays parallel instead of serializing on one task."""
    import re

    plan = executed_plan(
        registry["q_dedup_minhash_lsh"].builder(spark, SF001, strategy="broadcast")
    )
    assert "BroadcastHashJoin" in plan, plan
    assert "SortMergeJoin" not in plan, plan
    for line in re.findall(r"Exchange hashpartitioning\([^)]*\)", plan):
        assert ("band#" in line and "bkey#" in line) or "doc_id#" in line, (
            line,
            plan,
        )
    assert "dropDuplicates" not in plan, plan
    # the post-window round-robin re-spread must sit above the doc_id window
    assert plan.count("Exchange RoundRobinPartitioning") >= 2, plan


@pytest.mark.parametrize(
    "key", ["q_dedup_minhash_lsh", "q_dedup_embedding_cosine", "q_text_edit_distance"]
)
def test_bucket_strategy_never_broadcasts_corpus_side(spark, registry, key):
    """strategy='bucket' (the 100 TB path): the corpus side must come in via
    a hash-partitioned shuffle join, never a BroadcastExchange — a broadcast
    of the big side is exactly the executor-OOM plan the switch exists to
    prevent."""
    plan = executed_plan(registry[key].builder(spark, SF001, strategy="bucket"))
    # The auto bucket-cap scalar legitimately arrives via a 1-row
    # IdentityBroadcastMode cross join — only HashedRelation broadcasts
    # (i.e. a corpus-side BroadcastHashJoin build) are the OOM hazard.
    assert "BroadcastHashJoin" not in plan, plan
    assert "HashedRelationBroadcastMode" not in plan, plan
    assert "ShuffledHashJoin" in plan, plan


def test_dedup_default_strategy_is_unhinted(registry):
    """strategy='auto' must leave join-side selection to the size-based
    planner + AQE: the optimized logical plan carries no join hints."""
    import inspect

    for key in ("q_dedup_minhash_lsh", "q_dedup_embedding_cosine",
                "q_text_edit_distance"):
        sig = inspect.signature(registry[key].builder)
        assert sig.parameters["strategy"].default == "auto", key


def test_topk_uses_take_ordered(spark, registry):
    plan = executed_plan(registry["q_order_limit_topk"].builder(spark, SF001))
    assert "TakeOrderedAndProject" in plan, plan


def test_whole_stage_codegen_covers_flagship(spark, registry):
    # codegen spans only materialize in the final (non-adaptive) plan
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try:
        plan = executed_plan(registry["q_agg_groupby_pricing"].builder(spark, SF001))
    finally:
        spark.conf.set("spark.sql.adaptive.enabled", "true")
    # codegen'd operators print as "*(<stage>) <Op>" in the plan string
    assert "*(1)" in plan and "*(2) HashAggregate" in plan, plan
    assert "FileScan" in plan


def test_python_boundary_tags_only_on_udf_families(registry):
    """Python evaluation nodes (BatchEvalPython / ArrowEvalPython / FlatMap*)
    may only appear in the declared UD*F/multimodal surface. The allowlist is
    registry-driven: a spec that legitimately crosses the Python boundary
    declares tags=("python_boundary",) at registration, so a new wave cannot
    rot a hand-maintained list here. tests/test_oracle_parity.py checks
    every untagged key's sf0.01 plan for Python evaluation nodes; this test
    pins that the tag itself is claimed only by those families."""
    for key, spec in registry.items():
        if "python_boundary" in spec.tags:
            assert key.startswith(("q_udf", "q_udaf", "q_udtf", "q_pandas_udf",
                                   "q_cogroup", "q_apply_in", "q_map_in",
                                   "q_multimodal")), key


def test_stratified_sample_is_shuffle_free(spark, registry):
    """E4 is a pure row-local predicate: no Exchange of any kind."""
    plan = executed_plan(registry["q_etl_sample_stratified"].builder(spark, SF001))
    assert "Exchange" not in plan, plan


def test_range_interval_join_broadcasts_spine(spark, registry):
    """J12: the generated spine must be the broadcast side of a nested-loop
    join (range-only predicate); the events scan never shuffles for the
    join itself."""
    plan = executed_plan(registry["q_join_range_interval"].builder(spark, SF001))
    assert "BroadcastNestedLoopJoin" in plan, plan
    assert "SortMergeJoin" not in plan, plan


def test_kmeans_assignment_is_map_only(spark, registry):
    """V6: the final assignment stage carries centroids as literals — the
    only exchanges in the output plan are the driver-free scan + one
    project; no join, no shuffle."""
    plan = executed_plan(registry["q_vec_kmeans_ivf"].builder(spark, SF001))
    assert "Join" not in plan, plan
    assert "Exchange hashpartitioning" not in plan, plan


def test_ivf_search_broadcasts_queries(spark, registry):
    """V7: the query side is broadcast; the corpus side never shuffles for
    the cell-constrained join (only the top-k window partitions by query)."""
    plan = executed_plan(registry["q_vec_ivf_search_learned"].builder(spark, SF001))
    assert "BroadcastHashJoin" in plan, plan
    assert "SortMergeJoin" not in plan, plan


def test_mode_median_broadcasts_mode_side(spark, registry):
    """A13: the 3-row mode table joins the median aggregate via broadcast."""
    plan = executed_plan(registry["q_agg_mode_median"].builder(spark, SF001))
    assert "BroadcastHashJoin" in plan, plan
    assert "SortMergeJoin" not in plan, plan


def test_unpivot_is_expand_not_union_rescan(spark, registry):
    """A18: df.unpivot must execute as a single-scan Expand, not a k-fold
    UNION rescan (the oracle's formulation)."""
    plan = executed_plan(registry["q_unpivot_melt"].builder(spark, SF001))
    assert "Expand" in plan, plan
    assert plan.count("FileScan") == 1, plan


def test_in_subquery_rewrites_to_semi_anti_joins(spark, registry):
    """P6: Catalyst must rewrite IN -> left semi and NOT IN -> null-aware
    left anti; no cartesian/nested-loop fallback."""
    plan = executed_plan(registry["q_filter_in_subquery"].builder(spark, SF001))
    assert "LeftSemi" in plan, plan
    assert "LeftAnti" in plan, plan


def test_ohlc_is_single_aggregation_shuffle(spark, registry):
    """TS1: the OHLC resample is one keyed aggregation — exactly one
    hash-partitioning exchange (partial agg upstream of it), no join."""
    plan = executed_plan(registry["q_ts_resample_ohlc"].builder(spark, SF001))
    assert "Join" not in plan, plan
    assert plan.count("Exchange hashpartitioning") == 1, plan


def test_frame_sample_is_map_only(spark, registry):
    """M3: frame sampling never shuffles payload bytes — no exchange at all
    between the scan and the mapInPandas stage."""
    plan = executed_plan(registry["q_multimodal_frame_sample"].builder(spark, SF001))
    assert "Exchange" not in plan, plan
    assert "ArrowEvalPython" in plan or "MapInPandas" in plan, plan


def test_decay_sum_pushes_partial_aggregation(spark, registry):
    """TS3: the decayed sum must map-side combine (partial HashAggregate
    below the exchange) — the quantized-DECIMAL sum exists so the
    aggregation stays associative and partial-aggregable."""
    plan = executed_plan(registry["q_ts_decay_sum"].builder(spark, SF001))
    agg_count = plan.count("HashAggregate")
    assert agg_count >= 2, plan
    assert plan.count("Exchange hashpartitioning") == 1, plan


def test_pq_adc_scan_broadcasts_query_tables(spark, registry):
    """V8: the ADC scan joins the corpus codes against 4 broadcast query
    distance tables — the corpus side never sort-merge shuffles."""
    plan = executed_plan(registry["q_vec_pq_adc"].builder(spark, SF001))
    assert plan.count("BroadcastHashJoin") >= 4, plan
    assert "SortMergeJoin" not in plan, plan


def test_zscore_anomaly_is_single_window_sort(spark, registry):
    """TS4: one window sort per user — exactly one hash-partitioning
    exchange (into the per-user window), no join, bounded ROWS frame."""
    plan = executed_plan(registry["q_ts_anomaly_zscore"].builder(spark, SF001))
    assert "Join" not in plan, plan
    assert plan.count("Exchange hashpartitioning") == 1, plan


def test_contamination_corpus_never_shuffles(spark, registry):
    """L8: the benchmark shingle set joins via broadcast; the corpus-side
    shingle stream reaches the join without a hash-partitioning exchange
    (the only shuffles aggregate the small per-doc hit counts)."""
    plan = executed_plan(registry["q_text_contamination"].builder(spark, SF001))
    assert "BroadcastHashJoin" in plan, plan
    assert "SortMergeJoin" not in plan, plan


def test_countmin_estimates_join_broadcast_cells(spark, registry):
    """SK1: the 4x256 cell table (bounded by construction) and the d-spine
    come in via broadcast — the vocabulary side never sort-merge shuffles
    against them."""
    plan = executed_plan(registry["q_sketch_countmin_topk"].builder(spark, SF001))
    assert "BroadcastHashJoin" in plan or "BroadcastNestedLoopJoin" in plan, plan
    assert "SortMergeJoin" not in plan, plan


def test_weighted_sample_uses_take_ordered(spark, registry):
    """E9: selection is per-partition top-k heaps + driver merge, never a
    global sort of the full table."""
    plan = executed_plan(registry["q_etl_sample_weighted"].builder(spark, SF001))
    assert "TakeOrderedAndProject" in plan, plan


def test_containment_default_strategy_is_unhinted(registry):
    """D8 joins under the same corpus_side() contract as D1/D3/D6."""
    import inspect

    sig = inspect.signature(registry["q_dedup_containment"].builder)
    assert sig.parameters["strategy"].default == "auto"


def test_mips_broadcasts_queries(spark, registry):
    """V10: query vectors broadcast; the corpus side never sort-merge
    shuffles (same contract as V3/V7)."""
    plan = executed_plan(registry["q_vec_mips_topk"].builder(spark, SF001))
    assert "BroadcastHashJoin" in plan or "BroadcastNestedLoopJoin" in plan, plan
    assert "SortMergeJoin" not in plan, plan


def test_degree_dist_is_two_aggregations_no_join_after_edges(spark, registry):
    """G3: after the edge build, the degree histogram is two keyed
    aggregations — no additional join above the edge join."""
    plan = executed_plan(registry["q_graph_degree_dist"].builder(spark, SF001))
    assert plan.count("HashAggregate") >= 4, plan  # partial+final x2


def test_runtime_bloom_filter_join_pruning(spark):
    """SCALE.md selective-join path: with AQE's runtime bloom filter
    enabled, a selective dim filter injects might_contain() pruning into
    the fact scan — rows that cannot join are dropped BEFORE the shuffle.
    Local thresholds are tiny, so the confs are scoped here; at cluster
    scale the defaults (10 MB creation side) trigger on real dims."""
    from pyspark.sql import functions as F

    from ai_to_cvent_etl_spark.io import load_table

    confs = {
        "spark.sql.optimizer.runtime.bloomFilter.enabled": "true",
        "spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold": "10GB",
        "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold": "0",
        "spark.sql.autoBroadcastJoinThreshold": "-1",
    }
    old = {k: spark.conf.get(k, None) for k in confs}
    try:
        for k, v in confs.items():
            spark.conf.set(k, v)
        li = load_table(spark, SF001, "lineitem")
        orders = load_table(spark, SF001, "orders").filter(
            F.col("o_orderstatus") == "P"
        )
        j = li.join(orders, li.l_orderkey == orders.o_orderkey).select(
            "l_orderkey", "l_quantity", "o_totalprice"
        )
        plan = executed_plan(j)
        assert "might_contain" in plan, plan
        assert "bloom_filter_agg" in plan, plan
    finally:
        for k, v in old.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


def test_corr_matrix_single_scan(spark, registry):
    """A26's contract: the whole correlation matrix comes from ONE scan of
    lineitem (a single moment aggregation + row-local stack), never one
    scan per column pair like the naive UNION formulation."""
    plan = executed_plan(registry["q_agg_corr_matrix"].builder(spark, SF001))
    assert plan.count("FileScan parquet") == 1, plan
    assert "Generate stack" in plan, plan


def test_column_profile_single_scan(spark, registry):
    """E13: all per-column profile metrics from a single scan + one
    aggregate (Catalyst Expand handles the multi-count-distinct), pivoted
    with a row-local stack."""
    plan = executed_plan(registry["q_etl_column_profile"].builder(spark, SF001))
    assert plan.count("FileScan parquet") == 1, plan
    assert "Generate stack" in plan, plan


def test_zorder_layout_no_global_sort(spark, registry):
    """E15's point: file assignment is map-only Morton-range DIV — the plan
    must contain no Sort/Window (a row_number binning would be a
    single-task global sort) and only the final aggregation exchange."""
    plan = executed_plan(registry["q_etl_zorder_layout"].builder(spark, SF001))
    assert "Window" not in plan, plan
    assert "rangepartitioning" not in plan, plan
    assert plan.count("Exchange hashpartitioning") <= 1, plan


def test_cogroup_pandas_plan(spark, registry):
    """X6: the cogrouped Arrow map must plan as FlatMapCoGroupsInPandas
    with exactly the two cogroup shuffles (one per side) — no extra
    exchange, no fallback join."""
    plan = executed_plan(registry["q_cogroup_pandas"].builder(spark, SF001))
    assert "FlatMapCoGroupsInPandas" in plan, plan
    assert plan.count("Exchange hashpartitioning") == 2, plan


def test_lateral_topk_rewrites_to_window(spark, registry):
    """J20: Catalyst must rewrite the correlated LATERAL LIMIT to a
    partitioned window/rank over orders + a broadcast join — never a
    per-row subquery or cartesian product."""
    plan = executed_plan(registry["q_join_lateral_topk"].builder(spark, SF001))
    assert "Window" in plan, plan
    assert "BroadcastHashJoin" in plan, plan
    assert "CartesianProduct" not in plan, plan


def test_null_safe_join_is_hash_join(spark, registry):
    """J18: Spark plans EqualNullSafe as a hash-join key — the 3-row
    per-status build side must come in as a BroadcastHashJoin, never a
    nested-loop/cartesian fallback (which is what a naive theta-join
    formulation of null-safe equality would produce)."""
    plan = executed_plan(registry["q_join_null_safe"].builder(spark, SF001))
    assert "BroadcastHashJoin" in plan, plan
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastNestedLoopJoin" not in plan, plan


def test_merge_upsert_single_join(spark, registry):
    """E16: the MERGE resolves as ONE outer join between target and change
    feed plus the insert-arm union — a second join (e.g. separate delete
    and update joins) would double-shuffle the 100 TB target."""
    plan = executed_plan(registry["q_etl_merge_upsert"].builder(spark, SF001))
    n_joins = sum(plan.count(j) for j in
                  ("SortMergeJoin", "BroadcastHashJoin", "ShuffledHashJoin"))
    assert n_joins == 1, plan
    assert "Union" in plan, plan
    assert "CartesianProduct" not in plan, plan


def test_hhi_two_keyed_reductions(spark, registry):
    """A29: customer revenue then segment moments — two partial-agg
    reductions with the dimension join broadcast; no window, no extra
    shuffle beyond the two aggregation exchanges."""
    plan = executed_plan(registry["q_agg_hhi"].builder(spark, SF001))
    assert "BroadcastHashJoin" in plan, plan
    assert "Window" not in plan, plan
    assert plan.count("Exchange hashpartitioning") <= 2, plan


def test_rolling_corr_windows_run_on_spine(spark, registry):
    """TS7: the corpus must collapse to the |days| spine via a keyed
    aggregation BEFORE the moment windows run — the plan has the daily
    HashAggregate below the Window, and no rangepartitioning (the
    bounded spine runs single-partition by design)."""
    plan = executed_plan(registry["q_ts_rolling_corr"].builder(spark, SF001))
    assert "Window" in plan, plan
    assert "HashAggregate" in plan, plan
    assert "rangepartitioning" not in plan, plan


# --- waves 14-16 -------------------------------------------------------------


def test_map_in_arrow_is_map_only(spark, registry):
    """X7: zero-copy Arrow transform — a MapInArrow node and NO exchange
    of any kind (the Python boundary must never induce a shuffle)."""
    plan = executed_plan(registry["q_map_in_arrow"].builder(spark, SF001))
    assert "MapInArrow" in plan, plan
    assert "Exchange" not in plan, plan


def test_higher_order_funcs_stay_in_codegen(spark, registry):
    """F14: the lambda HOF family runs entirely inside whole-stage codegen
    — no Python eval node, no exchange."""
    plan = executed_plan(registry["q_higher_order_funcs"].builder(spark, SF001))
    assert "BatchEvalPython" not in plan, plan
    assert "ArrowEvalPython" not in plan, plan
    assert "Exchange" not in plan, plan


def test_merkle_diff_single_reduction(spark, registry):
    """E21: both replica fingerprints ride ONE keyed reduction (partial
    XOR map-side) — one hashpartitioning exchange, no join."""
    plan = executed_plan(registry["q_etl_merkle_diff"].builder(spark, SF001))
    assert plan.count("Exchange hashpartitioning") == 1, plan
    for j in ("SortMergeJoin", "BroadcastHashJoin", "ShuffledHashJoin"):
        assert j not in plan, plan


def test_survivorship_union_single_shuffle(spark, registry):
    """E20: three versioned feeds union below ONE keyed aggregation —
    never a join per field (one hashpartitioning exchange total)."""
    plan = executed_plan(registry["q_etl_survivorship"].builder(spark, SF001))
    assert "Union" in plan, plan
    assert plan.count("Exchange hashpartitioning") == 1, plan
    for j in ("SortMergeJoin", "BroadcastHashJoin", "ShuffledHashJoin"):
        assert j not in plan, plan


def test_mix_shift_collapses_before_share_windows(spark, registry):
    """A32: the dim join broadcasts, the corpus collapses to |segments|
    rows in one keyed reduction, and the share windows run over the
    collapsed single-partition relation."""
    plan = executed_plan(registry["q_agg_mix_shift"].builder(spark, SF001))
    assert "BroadcastHashJoin" in plan, plan
    assert "SortMergeJoin" not in plan, plan
    assert plan.count("Exchange hashpartitioning") <= 1, plan


def test_outlier_iqr_bounds_broadcast(spark, registry):
    """W23: the <=3-row fences side must come back to orders via a
    size-based broadcast — never a shuffle join of the scan."""
    plan = executed_plan(registry["q_win_outlier_iqr"].builder(spark, SF001))
    assert "BroadcastHashJoin" in plan, plan
    assert "SortMergeJoin" not in plan, plan
    assert "CartesianProduct" not in plan, plan


def test_bm25_no_pairwise_shuffle(spark, registry):
    """T14: terms/df/avgdl all broadcast (the 3-row cross join is a
    BroadcastNestedLoopJoin by design); the corpus never shuffles into
    a join — only the df aggregation and the per-term rank window
    exchange."""
    plan = executed_plan(registry["q_text_bm25"].builder(spark, SF001))
    assert "SortMergeJoin" not in plan, plan
    assert "ShuffledHashJoin" not in plan, plan
    assert "CartesianProduct" not in plan, plan
    assert plan.count("Exchange hashpartitioning") <= 2, plan


def test_changepoint_single_window_pass(spark, registry):
    """TS11: daily aggregation collapses the corpus BEFORE the cumulative
    window (one hashpartitioning exchange), and the argmin is a
    TakeOrdered — never a global sort of candidates."""
    plan = executed_plan(registry["q_ts_changepoint"].builder(spark, SF001))
    assert "TakeOrdered" in plan, plan
    assert "Window" in plan, plan
    assert plan.count("Exchange hashpartitioning") == 1, plan


def test_distribution_audits_collapse_first(spark, registry):
    """A30/E19: one keyed reduction each; the share windows run over the
    collapsed band/digit relation (SinglePartition exchange of <=12
    rows), never over the scan."""
    for key in ("q_agg_benford", "q_etl_psi_drift"):
        plan = executed_plan(registry[key].builder(spark, SF001))
        assert plan.count("Exchange hashpartitioning") == 1, (key, plan)
        for j in ("SortMergeJoin", "BroadcastHashJoin", "ShuffledHashJoin"):
            assert j not in plan, (key, plan)


# --- waves 17-23 -------------------------------------------------------------


def test_maxsim_broadcasts_queries_no_pair_shuffle(spark, registry):
    """V18: the multi-vector query side broadcasts (nested-loop by
    design); the corpus never shuffles into a join — only the two
    reduction exchanges."""
    plan = executed_plan(registry["q_vec_maxsim"].builder(spark, SF001))
    assert "BroadcastNestedLoopJoin" in plan, plan
    assert "SortMergeJoin" not in plan, plan
    assert plan.count("Exchange hashpartitioning") <= 2, plan


def test_hamming_topk_broadcasts_queries(spark, registry):
    """V17: queries broadcast; the corpus word table never shuffles into
    a join — one rank-window exchange only."""
    plan = executed_plan(registry["q_vec_hamming_topk"].builder(spark, SF001))
    assert "BroadcastNestedLoopJoin" in plan, plan
    assert "SortMergeJoin" not in plan, plan
    assert plan.count("Exchange hashpartitioning") == 1, plan


def test_quarantine_single_pass(spark, registry):
    """E22: rule evaluation is map-only; one signature reduction."""
    plan = executed_plan(registry["q_etl_quarantine"].builder(spark, SF001))
    assert plan.count("Exchange hashpartitioning") == 1, plan
    for j in ("SortMergeJoin", "BroadcastHashJoin", "ShuffledHashJoin"):
        assert j not in plan, plan


def test_cdc_net_no_join(spark, registry):
    """E25: the net-effect compaction is explode + TWO keyed reductions
    (per-key netting, then the net-op rollup) — never a join."""
    plan = executed_plan(registry["q_etl_cdc_net"].builder(spark, SF001))
    assert plan.count("Exchange hashpartitioning") == 2, plan
    for j in ("SortMergeJoin", "BroadcastHashJoin", "ShuffledHashJoin"):
        assert j not in plan, plan


def test_bitmap_distinct_two_reductions(spark, registry):
    """SK6: per-(key,bucket) bitmap build then per-key popcount sum —
    two partial-agg-friendly exchanges, no join, no window."""
    plan = executed_plan(registry["q_sketch_bitmap_distinct"].builder(spark, SF001))
    assert plan.count("Exchange hashpartitioning") == 2, plan
    assert "Window" not in plan, plan


def test_column_diff_single_broadcast_join(spark, registry):
    """E26: ONE co-keyed join feeds all column comparisons — columns are
    expressions, not passes; no hashpartitioning exchange at this SF
    (broadcast + single global reduction)."""
    plan = executed_plan(registry["q_etl_column_diff"].builder(spark, SF001))
    n_joins = sum(plan.count(j) for j in
                  ("SortMergeJoin", "BroadcastHashJoin", "ShuffledHashJoin"))
    assert n_joins == 1, plan
    assert plan.count("Exchange hashpartitioning") == 0, plan


def test_record_link_blocked_join_no_shuffle(spark, registry):
    """D12: the equality-blocked linkage join broadcasts at this SF and
    never degenerates to a cartesian verify."""
    plan = executed_plan(registry["q_dedup_record_link"].builder(spark, SF001))
    assert "BroadcastHashJoin" in plan, plan
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastNestedLoopJoin" not in plan, plan


def test_spine_windows_stay_single_partition(spark, registry):
    """TS13/TS14/L15/A33: spine-bounded cumulative windows must not
    range-partition (the spine is bounded by design); the corpus
    collapses via at most two keyed exchanges first."""
    for key in ("q_ts_forecast_eval", "q_ts_max_drawdown",
                "q_text_sequence_pack", "q_agg_survival_km"):
        plan = executed_plan(registry[key].builder(spark, SF001))
        assert "rangepartitioning" not in plan, (key, plan)
        assert plan.count("Exchange hashpartitioning") <= 2, (key, plan)


# --- waves 24-40 -------------------------------------------------------------


def test_spatial_grid_blocked_join(spark, registry):
    """J21: the spatial self-join must be a cell-keyed hash join of the
    two point projections — never a cartesian pair explosion."""
    plan = executed_plan(registry["q_join_spatial_grid"].builder(spark, SF001))
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastNestedLoopJoin" not in plan, plan
    n_joins = sum(plan.count(j) for j in
                  ("SortMergeJoin", "BroadcastHashJoin", "ShuffledHashJoin"))
    assert n_joins == 1, plan


def test_cross_corpus_no_pair_shuffle(spark, registry):
    """D15: candidates emit via the row-local first-colliding-band filter
    — no pair-keyed exchange above the band join (the groupBy
    formulation OOM'd the sf0.1 sweep; this pins the fix)."""
    plan = executed_plan(registry["q_dedup_cross_corpus"].builder(spark, SF001))
    assert plan.count("Exchange hashpartitioning") == 0, plan
    assert "CartesianProduct" not in plan, plan


def test_reconcile_bucket_join(spark, registry):
    """J23: tolerance matching is a bucket-keyed join — never a range
    cross join; the probe explode is the only row multiplier."""
    plan = executed_plan(registry["q_join_reconcile"].builder(spark, SF001))
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastNestedLoopJoin" not in plan, plan
    assert "Generate" in plan, plan


def test_waterfall_broadcasts_rule_tiers(spark, registry):
    """J22: both rule tiers come in as broadcast joins — the fact side
    is scanned once, no per-tier rescan union."""
    plan = executed_plan(registry["q_join_waterfall"].builder(spark, SF001))
    assert plan.count("BroadcastHashJoin") == 2, plan
    assert plan.count("FileScan") == 1, plan


def test_rls_policy_is_semi_join(spark, registry):
    """E28: policy enforcement is a broadcast semi-join of the literal
    policy — never a full join materializing policy columns."""
    plan = executed_plan(registry["q_etl_rls_filter"].builder(spark, SF001))
    assert "LeftSemi" in plan, plan
    assert "SortMergeJoin" not in plan, plan


def test_shard_manifest_prefix_only(spark, registry):
    """E29 (r6): the byte prefix-sum runs on the distributed two-pass
    operator — a keyed per-partition window plus ONE broadcast hash join
    of the P-row offsets; never a shuffle join, never a single-partition
    exchange over the corpus."""
    plan = executed_plan(registry["q_etl_shard_manifest"].builder(spark, SF001))
    assert "SortMergeJoin" not in plan, plan
    assert "ShuffledHashJoin" not in plan, plan
    assert plan.count("BroadcastHashJoin") == 1, plan
    assert "Window" in plan, plan
    from tests.plan_lint import lint_plan

    assert not [v for v in lint_plan(plan) if v.startswith("R2")], plan


def test_allocate_collapses_before_rank(spark, registry):
    """A49: allocation ranks run over the |nations|-row collapsed
    relation — one keyed reduction feeding single-partition windows."""
    plan = executed_plan(registry["q_agg_allocate"].builder(spark, SF001))
    assert plan.count("Exchange hashpartitioning") == 1, plan
    assert "rangepartitioning" not in plan, plan


def test_role_playing_broadcasts_both_roles(spark, registry):
    """J24: both role joins broadcast the same generated date dimension
    — the fact side never shuffles for either role."""
    plan = executed_plan(registry["q_join_role_playing"].builder(spark, SF001))
    assert plan.count("BroadcastHashJoin") == 2, plan
    assert "SortMergeJoin" not in plan, plan


def test_multimodal_route_single_reduction(spark, registry):
    """M5: sniffing is map-only — one low-cardinality reduction, no
    join, payloads never decoded into a shuffle."""
    plan = executed_plan(registry["q_multimodal_route"].builder(spark, SF001))
    assert plan.count("Exchange hashpartitioning") == 1, plan
    for j in ("SortMergeJoin", "BroadcastHashJoin", "ShuffledHashJoin"):
        assert j not in plan, plan


def test_partition_pruning_reaches_scan(spark, registry):
    """S13: the partition-column filter must resolve at PLANNING time
    against directory names (PartitionFilters on the scan node), not as
    a post-scan row filter — the difference between opening 1/3 of the
    partitions and opening all of them."""
    plan = executed_plan(registry["q_scan_partition_pruning"].builder(spark, SF001))
    assert "PartitionFilters" in plan, plan
    import re

    m = re.search(r"PartitionFilters: \[[^\]]*o_orderstatus[^\]]*\]", plan)
    assert m and "= O" in m.group(0).replace("'", ""), plan


# ---------------------------------------------------------------------------
# Wave 110-113: TPC-H family (H) plan shapes.
# ---------------------------------------------------------------------------


def test_tpch_q3_broadcasts_customer_takes_ordered(spark, registry):
    """Q3: the segment-filtered customer slice broadcasts; the top-10 is a
    window over the small aggregated set, never a global sort of the fact."""
    plan = executed_plan(registry["q_tpch_q3"].builder(spark, SF001))
    assert "BroadcastHashJoin" in plan, plan
    assert re.search(r"PushedFilters: \[.*l_shipdate", plan), plan


def test_tpch_q6_is_scan_plus_partial_agg_no_shuffle_join(spark, registry):
    """Q6: pure filter+agg — every predicate reaches the scan, no join
    operator anywhere, single-row exchange only."""
    plan = executed_plan(registry["q_tpch_q6"].builder(spark, SF001))
    assert "Join" not in plan, plan
    assert re.search(r"PushedFilters: \[.*l_shipdate", plan), plan
    assert re.search(r"PushedFilters: \[.*l_discount", plan) or re.search(
        r"PushedFilters: \[.*l_quantity", plan
    ), plan


def test_tpch_q9_fact_joins_shuffle_once(spark, registry):
    """Q9: part/supplier/nation broadcast; the only SortMergeJoin (if any)
    is lineitem-orders on the orderkey."""
    plan = executed_plan(registry["q_tpch_q9"].builder(spark, SF001))
    assert plan.count("BroadcastHashJoin") >= 2, plan
    assert plan.count("SortMergeJoin") <= 1, plan


def test_tpch_q18_groups_fact_before_dimension_joins(spark, registry):
    """Q18: the qty-HAVING aggregate must run on the bare fact BEFORE any
    join (group-then-join ordering) — the survivor set then broadcasts."""
    plan = executed_plan(registry["q_tpch_q18"].builder(spark, SF001))
    agg_pos = plan.find("HashAggregate")
    join_pos = plan.find("Join")
    assert agg_pos != -1 and join_pos != -1, plan
    # executed plans print top-down: the LAST aggregate in the string is the
    # deepest; it must sit below (after) the joins textually
    assert plan.rfind("HashAggregate") > join_pos, plan


def test_tpch_q21_single_per_order_aggregate_no_self_join(spark, registry):
    """Q21: the EXISTS/NOT-EXISTS pair is decorrelated into ONE per-order
    aggregate — the fact must not self-join (that would be 3 shuffles)."""
    plan = executed_plan(registry["q_tpch_q21"].builder(spark, SF001))
    # one fact-orders join, zero fact-fact joins: at most one SMJ
    assert plan.count("SortMergeJoin") <= 1, plan
    # lineitem is scanned exactly once
    assert plan.count("lineitem.parquet") <= 1 or plan.count("lineitem") <= 2, plan


def test_tpch_q22_antijoin_and_scalar_broadcast(spark, registry):
    """Q22: dormancy check is a (broadcast) anti-join against the
    date-filtered orders projection; the avg threshold arrives as a
    broadcast, not a shuffle."""
    plan = executed_plan(registry["q_tpch_q22"].builder(spark, SF001))
    assert re.search(r"(Broadcast|SortMerge)HashJoin? LeftAnti|LeftAnti", plan), plan
    assert re.search(r"PushedFilters: \[.*o_orderdate", plan), plan
