"""Physical-plan assertions: the scale-critical plan shapes must not
regress (pushdown, broadcasts, partial aggregation, codegen-only text
paths, TakeOrderedAndProject top-k)."""

import pytest

from pandasy_spark.workload import QUERIES
from tests.helpers import GRAPH_GATE_JOBS


def _plan(spark, sf_dir, name) -> str:
    df = QUERIES[name](spark, sf_dir)
    return df._jdf.queryExecution().executedPlan().toString()


def test_q1_pushdown_and_partial_agg(spark, sf_dir):
    plan = _plan(spark, sf_dir, "q1_pricing_summary")
    assert "PushedFilters: [IsNotNull(l_shipdate), LessThanOrEqual(l_shipdate" in plan
    # map-side partial aggregation before the shuffle
    assert "partial_sum" in plan or "partial_count" in plan


def test_q3_broadcasts_dimensions(spark, sf_dir):
    plan = _plan(spark, sf_dir, "q3_shipping_priority")
    assert "BroadcastHashJoin" in plan
    assert "PushedFilters: [IsNotNull(c_mktsegment), EqualTo(c_mktsegment,BUILDING)" in plan


def test_q5_broadcasts_dimensions(spark, sf_dir):
    plan = _plan(spark, sf_dir, "q5_local_supplier")
    assert plan.count("BroadcastExchange") >= 3  # supp, nation, region


def test_text_stats_is_pure_jvm(spark, sf_dir):
    plan = _plan(spark, sf_dir, "text_stats")
    # no Python in the hot path: everything codegen'd JVM-side
    assert "ArrowEvalPython" not in plan
    assert "BatchEvalPython" not in plan
    assert "FlatMapGroupsInPandas" not in plan


def test_langid_and_dedup_exact_pure_jvm(spark, sf_dir):
    for name in ["text_langid", "dedup_exact"]:
        plan = _plan(spark, sf_dir, name)
        assert "Python" not in plan, name


def test_sort_limit_is_take_ordered(spark, sf_dir):
    plan = _plan(spark, sf_dir, "sort_limit_topn")
    assert "TakeOrderedAndProject" in plan
    # no global sort exchange
    assert "Sort " not in plan.split("TakeOrderedAndProject")[0]


def test_knn_broadcasts_queries(spark, sf_dir):
    plan = _plan(spark, sf_dir, "knn_cosine")
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastExchange" in plan


def test_dedup_exact_single_shuffle(spark, sf_dir):
    plan = _plan(spark, sf_dir, "dedup_exact")
    assert plan.count("Exchange hashpartitioning") == 1
    # map-side combine: duplicate-content hot keys collapse per mapper
    # BEFORE the shuffle (a ranking window would funnel every copy of
    # a hot fingerprint into one reducer)
    assert "partial_min_by" in plan


def test_events_window_partial_agg(spark, sf_dir):
    plan = _plan(spark, sf_dir, "events_window")
    assert "partial" in plan


def test_q8_broadcasts_dimension_chain(spark, sf_dir):
    plan = _plan(spark, sf_dir, "q8_market_share")
    assert "BroadcastHashJoin" in plan
    assert plan.count("BroadcastExchange") >= 2
    assert "CartesianProduct" not in plan


def test_q10_topk_is_take_ordered(spark, sf_dir):
    plan = _plan(spark, sf_dir, "q10_returned_items")
    assert "TakeOrderedAndProject" in plan


def test_q17_decorrelated_to_window_with_pushdown(spark, sf_dir):
    plan = _plan(spark, sf_dir, "q17_small_quantity")
    assert "Window" in plan
    assert "EqualTo(p_brand,Brand#3)" in plan  # filter reached the scan
    assert "CartesianProduct" not in plan


def test_q21_windows_not_self_joins(spark, sf_dir):
    plan = _plan(spark, sf_dir, "q21_waiting_supplier")
    assert "Window" in plan
    # decorrelation means the lineitem scan appears exactly once
    assert plan.count("lineitem.parquet") == 1


def test_array_map_functions_pure_jvm(spark, sf_dir):
    for name in ["array_functions", "map_functions", "multimodal_audio"]:
        plan = _plan(spark, sf_dir, name)
        assert "Python" not in plan, name


def test_multimodal_frames_is_arrow_batched(spark, sf_dir):
    plan = _plan(spark, sf_dir, "multimodal_frames")
    # intended Python boundary: exactly one Arrow-batched MapInPandas
    assert "MapInPandas" in plan
    assert "BatchEvalPython" not in plan


def test_plan_audit_subset_no_cartesian_or_row_python(spark, sf_dir):
    """Default-tier slice of the fleet audit below: the iterative graph
    gates plus every 20th registry name, a fixed deterministic set."""
    names = sorted(set(GRAPH_GATE_JOBS) | set(sorted(QUERIES)[::20]))
    offenders = {}
    for name in names:
        plan = _plan(spark, sf_dir, name)
        bad = [
            tag
            for tag in ("CartesianProduct", "BatchEvalPython")
            if tag in plan
        ]
        if bad:
            offenders[name] = bad
    assert not offenders, offenders


@pytest.mark.slow
def test_no_query_regresses_to_cartesian_or_row_python(spark, sf_dir):
    """Fleet-wide plan audit: no workload query may plan a
    CartesianProduct or row-at-a-time Python eval (BatchEvalPython).
    Arrow-batched pandas ops (MapInPandas/FlatMapGroupsInPandas) are
    the sanctioned Python boundary."""
    offenders = {}
    for name in sorted(QUERIES):
        plan = _plan(spark, sf_dir, name)
        bad = [
            tag
            for tag in ("CartesianProduct", "BatchEvalPython")
            if tag in plan
        ]
        if bad:
            offenders[name] = bad
    assert not offenders, offenders


def test_layout_zorder_no_fact_shuffle(spark, sf_dir):
    """Morton-key computation must not shuffle the fact table: the
    only exchanges allowed are the 1-row bounds aggregate + its
    broadcast."""
    plan = _plan(spark, sf_dir, "layout_zorder")
    assert "BroadcastNestedLoopJoin" in plan
    assert "Exchange hashpartitioning" not in plan
    assert "Python" not in plan


def test_events_hopping_expands_then_single_shuffle(spark, sf_dir):
    plan = _plan(spark, sf_dir, "events_hopping")
    assert "Expand" in plan  # windowDuration/slide assignments per row
    assert plan.count("Exchange hashpartitioning") == 1
    assert "partial_count" in plan or "partial_sum" in plan


def test_dedup_span_shuffles_on_uniform_fingerprints(spark, sf_dir):
    plan = _plan(spark, sf_dir, "dedup_span")
    assert "md5" in plan  # groupBy key is the chunk digest
    # first-occurrence pick is a min(struct) hash aggregate with a
    # map-side partial combine, not a ranking window
    assert "partial_min" in plan
    assert "CartesianProduct" not in plan
    assert "Python" not in plan


def test_profile_corr_is_one_scan_one_aggregate(spark, sf_dir):
    """corr_pairs claims ONE pass: every pairwise moment must ride a
    single lineitem scan (one FileScan) feeding one hash aggregate —
    no per-pair re-scans, no joins."""
    plan = _plan(spark, sf_dir, "profile_corr")
    assert plan.count("Scan parquet") == 1, plan
    assert "Join" not in plan
    assert "HashAggregate" in plan


def test_agg_incremental_merges_states_not_rows(spark, sf_dir):
    """The merged-state plan re-aggregates two per-slice states on the
    group key: two scans (old + new slice), no join — the merge is a
    union + aggregate whose shuffle volume is #groups per state."""
    plan = _plan(spark, sf_dir, "agg_incremental")
    assert "Join" not in plan
    assert "Union" in plan


def test_events_rfm_default_has_no_global_window_sort(spark, sf_dir):
    """The threshold-banding default must carry NO window at all — the
    old ntile form moved the whole per-user table through a
    single-partition sort three times.  The thresholds ride one
    aggregate and come back as a broadcast."""
    plan = _plan(spark, sf_dir, "events_rfm")
    assert "Window" not in plan, plan
    assert "percentile_disc" in plan
    assert "BroadcastExchange" in plan
    assert "Python" not in plan


def test_events_rfm_ntile_opt_in_still_available(spark, sf_dir):
    from pandasy_spark.extended.events import rfm_segments
    from pandasy_spark.workload import _t

    df = rfm_segments(_t(spark, sf_dir, "events"), banding="ntile")
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "ntile" in plan


def test_q2_part_filter_pruned_early(spark, sf_dir):
    """The filtered-part semi-join sits BELOW the min-cost aggregate:
    the supply relation is pruned ~30x before the EU join chain."""
    plan = _plan(spark, sf_dir, "q2_min_cost_supplier")
    assert "LeftSemi" in plan
    # the semi join must appear before (deeper than) the min_cost
    # aggregate in the plan string's bottom-up ordering: find the
    # partial_min aggregate and check a LeftSemi exists after it in
    # the printed (top-down) tree
    top_down = plan
    assert top_down.index("LeftSemi") > top_down.index("partial_min")


def test_runtime_bloom_filter_injects_on_selective_join(spark, sf_dir):
    """Spark's AQE runtime-filter pass injects a BloomFilter
    might-contain predicate on the FACT side of a selective dim-filter
    join — at 100 TB this prunes lineitem rows before the shuffle
    instead of after the join.  The size thresholds are tuned here
    because the sf0.1 files sit under the production defaults; the
    point pinned is that our plain declarative join SHAPE is eligible
    for injection (no manual semi-join needed)."""
    from pyspark.sql import functions as F

    from pandasy_spark.sources import load_table

    confs = {
        "spark.sql.optimizer.runtime.bloomFilter.enabled": "true",
        "spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold": "100GB",
        "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold": "0",
        "spark.sql.autoBroadcastJoinThreshold": "-1",
    }
    old = {k: spark.conf.get(k, None) for k in confs}
    try:
        for k, v in confs.items():
            spark.conf.set(k, v)
        o = load_table(spark, sf_dir, "orders").filter(
            F.col("o_totalprice") > 500000
        )
        li = load_table(spark, sf_dir, "lineitem")
        j = li.join(o, li.l_orderkey == o.o_orderkey)
        plan = j._jdf.queryExecution().optimizedPlan().toString()
        assert "bloom" in plan.lower(), plan[:2000]
    finally:
        for k, v in old.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


def test_ks_mannwhitney_cdf_not_single_partition(spark, sf_dir):
    """The ECDF/rank prefix sums must run as the range-partitioned
    two-pass scan (window partitioned by physical partition id), never
    as an unpartitioned Window.orderBy over the value domain — a
    cents-grid domain can reach 1e8 distinct values in one task at
    100 TB (r6 verdict)."""
    for name in ("profile_ks", "profile_mannwhitney"):
        plan = _plan(spark, sf_dir, name)
        # unpartitioned CDF window would order directly by __v
        assert "windowspecdefinition(__v" not in plan, name
        # the partition-local scan window is present instead
        assert "windowspecdefinition(__pid" in plan, name


def test_quantile_twopass_refine_not_single_partition(spark, sf_dir):
    """The no-group two-pass quantile forms (interpolated, weighted,
    and the discrete form inside profile_key_skew) must run their
    histogram and refine-sliver cumulative sums through the
    range-partitioned prefix scan, never a bare global Window.orderBy:
    the sliver holds up to `step` distinct values — bounded only by
    the densest coarse cell, which one dominant value can blow up to
    the whole domain at 100 TB (r7 verdict item #3)."""
    for name in ("agg_quantile_cont", "agg_weighted_median",
                 "profile_key_skew"):
        plan = _plan(spark, sf_dir, name)
        # an unpartitioned cumulative window over the VALUE domain
        # (the refine sliver) is the scale-killer; the __cell
        # histogram window stays plain because it is bounded by
        # construction (<= coarse_cells rows, like the carry window
        # inside ordered_prefix_scan itself)
        assert "windowspecdefinition(__v#" not in plan, name
        assert "windowspecdefinition(__v " not in plan, name
        # the partition-local scan window is present instead
        assert "windowspecdefinition(__pid" in plan, name


def test_quantile_twopass_grouped_windows_stay_per_group(spark, sf_dir):
    """The grouped form keeps plain per-group cumulative windows (each
    partition holds one group's <= coarse_cells histogram rows) — no
    prefix-scan machinery, and crucially no empty-partitionBy global
    window."""
    plan = _plan(spark, sf_dir, "agg_quantile_cont_grouped")
    assert "windowspecdefinition(l_returnflag" in plan
    # a global (partition-less) spec would start with the order col
    assert "windowspecdefinition(__v#" not in plan


def test_ndcg_windows_partitioned_by_query(spark, sf_dir):
    """Both NDCG rank passes must be windows PARTITIONED BY the query
    key (one exchange, two sort orders) — an empty-partitionBy window
    over the event stream would funnel the whole corpus through one
    task at 100 TB."""
    plan = _plan(spark, sf_dir, "ml_ndcg")
    assert "windowspecdefinition(__q#" in plan
    # no global (order-only) window spec anywhere
    assert "windowspecdefinition(__s#" not in plan
    assert "windowspecdefinition(__rel#" not in plan
    # and no Python in the path
    assert "BatchEvalPython" not in plan


def test_gains_cumulatives_via_prefix_scan(spark, sf_dir):
    """The gains table's descending cumulatives ride the
    range-partitioned prefix scan (partition-id windows), never a
    single-task window over the score domain."""
    plan = _plan(spark, sf_dir, "ml_gains")
    assert "windowspecdefinition(__pid" in plan
    assert "windowspecdefinition(__nv#" not in plan


def test_anova_is_two_aggregates_no_window(spark, sf_dir):
    """ANOVA is one map-combined aggregate keyed by group plus a k-row
    fold: no window, no Python, partial aggregation present."""
    plan = _plan(spark, sf_dir, "profile_anova")
    assert "windowspecdefinition" not in plan
    assert "partial_" in plan
    assert "BatchEvalPython" not in plan
    assert "ArrowEvalPython" not in plan


def test_modularity_joins_not_broadcast_assumed(spark, sf_dir):
    """Modularity's edge->community joins must work shuffle-side (the
    assignment is node-sized); at gate scale AQE may still broadcast —
    assert only that no cartesian product and no Python appear."""
    plan = _plan(spark, sf_dir, "graph_modularity")
    assert "CartesianProduct" not in plan
    assert "BatchEvalPython" not in plan


def test_regression_single_moment_aggregate(spark, sf_dir):
    """regression_metrics is ONE map-combined moment aggregate over
    the prediction frame (plus the tiny broadcast fit): no window, no
    per-row Python."""
    plan = _plan(spark, sf_dir, "ml_regression")
    assert "windowspecdefinition" not in plan
    assert "partial_" in plan
    assert "BatchEvalPython" not in plan


def test_ohlc_single_exchange_partial_minby(spark, sf_dir):
    """events_ohlc is ONE map-combined aggregate: partial
    min_by/max_by before the single key exchange — no ranking windows
    (the oracle's two ROW_NUMBER passes are the shape this avoids)."""
    plan = _plan(spark, sf_dir, "events_ohlc")
    assert "partial_min_by" in plan
    assert "windowspecdefinition" not in plan
    assert plan.count("Exchange hashpartitioning") == 1


def test_upsample_explode_stays_narrow(spark, sf_dir):
    """sample_poisson_upsample: the replication explode is a narrow
    map (no exchange between the scan and the explode), the fence
    aggregate broadcasts, and no Python anywhere."""
    plan = _plan(spark, sf_dir, "sample_poisson_upsample")
    assert "Generate explode" in plan
    assert "BroadcastHashJoin" in plan
    assert "BatchEvalPython" not in plan
    # the explode consumes the scan through projections only
    gen = plan.index("Generate explode")
    scan = plan.index("FileScan parquet", gen)
    assert "Exchange" not in plan[gen:scan]


def test_mcc_brier_single_row_aggregates(spark, sf_dir):
    """The MCC/Brier eval pair folds to a 1-row aggregate over the
    text-stats projection: no window, no join, JVM-only."""
    for name in ("ml_mcc", "ml_brier"):
        plan = _plan(spark, sf_dir, name)
        assert "windowspecdefinition" not in plan
        assert "partial_" in plan
        assert "BatchEvalPython" not in plan
        assert "ArrowEvalPython" not in plan


def test_holt_day_grid_then_fold(spark, sf_dir):
    """events_holt aggregates to the bounded day grid distributed
    (partial sums before the exchange); the sequential recurrence
    runs as an aggregate() HOF over the collected bounded series —
    never per-event Python or a per-event window."""
    plan = _plan(spark, sf_dir, "events_holt")
    assert "partial_sum" in plan
    assert "windowspecdefinition" not in plan
    assert "BatchEvalPython" not in plan


def test_tukey_fences_broadcast(spark, sf_dir):
    """profile_tukey joins the 3-row fence frame back to the values
    via broadcast, never a shuffle join on the value side."""
    plan = _plan(spark, sf_dir, "profile_tukey")
    assert "BroadcastHashJoin" in plan


def test_recall_at_k_hash_joins_and_partial_agg(spark, sf_dir):
    """The recall pair join must be a hash join (broadcast or
    shuffled), never a nested loop — only the exact brute-force
    scoring is sanctioned BroadcastNestedLoopJoin territory — and the
    hit counts must map-side combine."""
    plan = _plan(spark, sf_dir, "ml_recall_at_k")
    assert "BroadcastHashJoin" in plan or "SortMergeJoin" in plan
    assert "partial_count" in plan


def test_events_rate_limit_is_fold_not_window(spark, sf_dir):
    """The token bucket is an ordered per-key FOLD (collect_list →
    array_sort → aggregate); a ranking/running window sneaking in
    would mean someone 'simplified' the recurrence into something
    associative, which it is not."""
    plan = _plan(spark, sf_dir, "events_rate_limit")
    assert "Window" not in plan
    assert "collect_list" in plan


def test_link_prediction_anti_join_and_no_cartesian(spark, sf_dir):
    """Existing edges must leave via LeftAnti; the wedge join is an
    equi-join on the shared neighbor."""
    plan = _plan(spark, sf_dir, "graph_link_prediction")
    assert "LeftAnti" in plan
    assert "CartesianProduct" not in plan


def test_rolling_corr_day_grid_reduces_before_window(spark, sf_dir):
    """The six frame sums run over the bounded dense day grid; the
    raw events must reduce distributed (partial aggregation) BEFORE
    any window touches them."""
    plan = _plan(spark, sf_dir, "events_rolling_corr")
    assert "partial_sum" in plan or "partial_count" in plan
    assert "Window" in plan


def test_interpolate_reduces_before_spine_windows(spark, sf_dir):
    """Events reduce distributed to the hour grid (partial sums)
    BEFORE the bounded spine windows; the integer-lattice fill adds
    no Python stage."""
    plan = _plan(spark, sf_dir, "events_interpolate")
    assert "partial_sum" in plan
    assert "Window" in plan
    assert "BatchEvalPython" not in plan
    assert "CartesianProduct" not in plan


def test_acf_one_window_pass_then_group(spark, sf_dir):
    """All lag columns come from ONE window pass over the dense day
    grid (a single Window node), closed by a group-by-lag aggregate
    with map-side partials — no per-lag re-scan of the events."""
    plan = _plan(spark, sf_dir, "events_acf")
    assert plan.count("Window") == 1
    assert "partial_sum" in plan
    assert "BatchEvalPython" not in plan


def test_threshold_sweep_prefix_scan_not_global_window(spark, sf_dir):
    """The strictly-below pair comes from the range-partitioned
    prefix scan (range exchange present), never a single-task
    value-domain window; totals close via broadcast."""
    plan = _plan(spark, sf_dir, "ml_threshold_sweep")
    assert "windowspecdefinition(__pid" in plan
    assert "BroadcastHashJoin" in plan or "BroadcastNestedLoopJoin" in plan
    assert "BatchEvalPython" not in plan


def test_fairness_grouped_counts_broadcast_maxima(spark, sf_dir):
    """ONE grouped conditional-count aggregate with map-side
    partials; cross-group maxima join broadcast — no window over
    the group rows."""
    plan = _plan(spark, sf_dir, "ml_fairness")
    assert "partial_sum" in plan or "partial_count" in plan
    assert "Window" not in plan
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastHashJoin" in plan


def test_mrr_single_window_pass_no_global_sort(spark, sf_dir):
    """One rank window partitioned by query; no global Sort outside
    the window's per-partition sort, no Python stage."""
    plan = _plan(spark, sf_dir, "ml_mrr")
    assert plan.count("Window") == 1
    assert "BatchEvalPython" not in plan


def test_null_pattern_single_grouped_count_broadcast_total(spark, sf_dir):
    """ONE map-combined count per mask; total closes broadcast; no
    window, no Python."""
    plan = _plan(spark, sf_dir, "profile_null_pattern")
    assert "partial_count" in plan or "partial_sum" in plan
    assert "Window" not in plan
    assert "BatchEvalPython" not in plan


def test_id_gaps_prefix_scan_not_global_window(spark, sf_dir):
    """The predecessor comes from the range-partitioned prefix scan
    (partition-id windows), never an empty-partitionBy global LAG."""
    plan = _plan(spark, sf_dir, "profile_id_gaps")
    assert "windowspecdefinition(__pid" in plan
    assert "BatchEvalPython" not in plan


def test_matched_pairs_equi_join_on_rank_no_cartesian(spark, sf_dir):
    """The pair close is a hash equi-join on (stratum, salt, rank);
    ranks ride salted windows, never a global sort."""
    plan = _plan(spark, sf_dir, "sample_matched_pairs")
    assert "Window" in plan
    assert "CartesianProduct" not in plan
    assert "BatchEvalPython" not in plan


def test_compaction_plan_one_grouped_aggregate(spark, sf_dir):
    """ONE map-combined aggregate per partition key; the ceiling
    closes are projections — no join, no window, no Python."""
    plan = _plan(spark, sf_dir, "layout_compaction_plan")
    assert "partial_sum" in plan or "partial_count" in plan
    assert "Window" not in plan
    assert "Join" not in plan
    assert "BatchEvalPython" not in plan


def test_fingerprint_equi_join_no_cartesian(spark, sf_dir):
    """Landmark extraction is the sanctioned Arrow boundary
    (MapInPandas); matching is a hash EQUI-join on the landmark key
    with a per-query bounded top-1 window — never an all-pairs scan."""
    plan = _plan(spark, sf_dir, "multimodal_fingerprint")
    assert "MapInPandas" in plan
    assert "CartesianProduct" not in plan
    assert "BatchEvalPython" not in plan
    assert "Window" in plan


def test_boilerplate_hash_join_no_window(spark, sf_dir):
    """Line df is a map-combined distinct count; the verdict joins
    back by line hash (SortMerge/Hash equi-join); reassembly is a
    grouped aggregate — no ranking window, no Python."""
    plan = _plan(spark, sf_dir, "text_boilerplate")
    assert "Window" not in plan
    assert "BatchEvalPython" not in plan
    assert "CartesianProduct" not in plan
    assert "partial_count" in plan or "partial_sum" in plan


def test_allen_census_bucketed_equi_join(spark, sf_dir):
    """The pair set rides the span-bucket equi-join (hash join on
    (user, bucket)) — never a nested-loop theta join."""
    plan = _plan(spark, sf_dir, "events_allen")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "Exchange hashpartitioning" in plan


def test_fd_two_stage_distinct_no_expand_blowup(spark, sf_dir):
    """Each FD check is the two-stage distinct-pair shape (map-
    combined partial aggregates), unioned — no Expand multiplier, no
    join, no window."""
    plan = _plan(spark, sf_dir, "profile_fd")
    assert "Union" in plan
    assert "partial" in plan
    assert "Expand" not in plan
    assert "Window" not in plan
    assert "BatchEvalPython" not in plan


def test_hysteresis_is_fold_not_window(spark, sf_dir):
    """The burst recurrence folds per-key collected sequences (one
    grouped collect + higher-order aggregate); only the ordering
    LAG-equivalent rides in the collect — no per-event window chain,
    no Python."""
    plan = _plan(spark, sf_dir, "events_hysteresis")
    assert "aggregate(" in plan
    assert "BatchEvalPython" not in plan
    assert "CartesianProduct" not in plan


def test_assortativity_no_window_no_collect(spark, sf_dir):
    """Symmetrize + degree aggregate + two equi-joins + one 1-row
    moment aggregate: no window, no cartesian, no Python."""
    plan = _plan(spark, sf_dir, "graph_assortativity")
    assert "Window" not in plan
    assert "CartesianProduct" not in plan
    assert "BatchEvalPython" not in plan
    assert "partial_sum" in plan or "partial_count" in plan


def test_sketch_quantile_take_ordered_sample(spark, sf_dir):
    """The KMV sample is a TakeOrdered (partial per-partition top-k),
    never a full sort exchange; certification joins broadcast."""
    plan = _plan(spark, sf_dir, "sketch_quantile")
    assert "TakeOrderedAndProject" in plan
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastHashJoin" in plan
    assert "BatchEvalPython" not in plan


def test_pattern_match_is_fold_not_window_chain(spark, sf_dir):
    """The automaton folds per-key collected code sequences; no
    per-event window chain, no Python."""
    plan = _plan(spark, sf_dir, "events_pattern_match")
    assert "aggregate(" in plan
    assert "BatchEvalPython" not in plan


def test_systematic_sample_distributed_row_ids(spark, sf_dir):
    """The order rank rides stable_row_ids' partition-id machinery
    (range exchange + per-partition window), never an
    empty-partitionBy global row_number."""
    plan = _plan(spark, sf_dir, "sample_systematic")
    assert "monotonically_increasing_id" in plan
    assert "BatchEvalPython" not in plan


def test_kmv_diff_bounded_probe_no_corpus_join(spark, sf_dir):
    """The membership probe runs on the 64-row sketch (left-anti);
    the only corpus-width work is scans + the certification
    anti-join — no cartesian, no Python."""
    plan = _plan(spark, sf_dir, "sketch_kmv_diff")
    assert "LeftAnti" in plan
    assert "CartesianProduct" not in plan
    assert "BatchEvalPython" not in plan


def test_clustering_coeff_no_cartesian_no_python(spark, sf_dir):
    """Degree aggregate + oriented closure joins + broadcast close —
    no cartesian, no window, no Python."""
    plan = _plan(spark, sf_dir, "graph_clustering_coeff")
    assert "CartesianProduct" not in plan
    assert "Window" not in plan
    assert "BatchEvalPython" not in plan


def test_bcubed_linear_joins_no_pair_blowup(spark, sf_dir):
    """Three size aggregates joined back by cluster keys — hash
    joins only, no pair materialization (the quadratic Rand-index
    trap), no window."""
    plan = _plan(spark, sf_dir, "ml_bcubed")
    assert "CartesianProduct" not in plan
    assert "Window" not in plan
    assert "partial_count" in plan or "partial_sum" in plan
