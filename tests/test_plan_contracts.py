"""Physical-plan contracts: the scale properties the operators were
designed around, pinned so a refactor that silently degrades a plan
(broadcast → shuffle join, lost filter pushdown, extra exchanges) fails CI
instead of surfacing at 100 TB.

Counts are read from explain('formatted'), which prints each operator in
the tree and again in the details section — contracts therefore assert on
presence/absence and on generous upper bounds, not exact equality, so AQE
formatting changes don't flake.
"""

from __future__ import annotations

import contextlib
import io
import re

import pytest

from neotree_data_pipeline_kedro_spark.plans.queries import QUERIES

from conftest import SF_SMOKE


def plan_of(spark, name: str) -> str:
    df = QUERIES[name](spark, SF_SMOKE)
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


def exchanges(plan: str) -> int:
    # tree + details double-print; halve for the real count
    return len(re.findall(r"\bExchange\b", plan)) // 2


def test_dim_rollup_broadcasts_the_dim(spark):
    plan = plan_of(spark, "j9_dim_broadcast_rollup")
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_anti_incremental_stays_broadcast_or_hash(spark):
    # the incremental key probe must never sort-merge at this size
    plan = plan_of(spark, "j4_anti_incremental")
    assert "LeftAnti" in plan
    assert "SortMergeJoin" not in plan


def test_filter_pushdown_reaches_scan(spark):
    plan = plan_of(spark, "p1_p5_filter_map_tag")
    m = re.search(r"PushedFilters: \[([^\]]*)\]", plan)
    assert m and m.group(1).strip(), "no filters pushed to the parquet scan"


def test_projection_prunes_scan_schema(spark):
    # q1 touches 7 of lineitem's 16 columns; the scan must not read more
    plan = plan_of(spark, "q1_pricing_summary")
    m = re.search(r"ReadSchema: struct<([^>]*)>", plan)
    assert m is not None
    read_cols = [c for c in m.group(1).split(",") if c]
    assert len(read_cols) <= 7, read_cols


def test_window_dedup_is_single_shuffle(spark):
    # D1 = one window over (scriptid, uid, unique_key); anything beyond
    # scan + one exchange (+ the documented local-parallelism repartition)
    # is a regression
    plan = plan_of(spark, "d1_dedup_last_writer")
    assert exchanges(plan) <= 2
    assert "SortMergeJoin" not in plan and "BroadcastHashJoin" not in plan


def test_exact_fingerprint_is_single_shuffle(spark):
    plan = plan_of(spark, "dd_exact_fingerprint")
    assert exchanges(plan) <= 2


def test_repetition_metrics_shuffle_free(spark):
    # pure per-row expressions: only the local-parallelism repartition may
    # appear, never a key exchange
    plan = plan_of(spark, "ta_repetition_quality_filter")
    assert exchanges(plan) <= 1
    assert "hashpartitioning" not in plan


def test_ann_brute_force_broadcasts_queries(spark):
    plan = plan_of(spark, "ann_topk_bruteforce")
    # the corpus x queries product must be a broadcast nested loop (tiny
    # broadcast side), never a shuffled cartesian
    assert "BroadcastNestedLoopJoin" in plan
    assert "CartesianProduct" not in plan


@pytest.mark.parametrize(
    "name",
    ["j3_asof_nearest", "sm_all_lifecycle", "j1_j2_fuzzy_best_match"],
)
def test_no_cartesian_anywhere(spark, name):
    plan = plan_of(spark, name)
    assert "CartesianProduct" not in plan


def test_all_lifecycle_is_one_full_outer_join(spark):
    # one join of the two deduplicated sides, the shape of its oracle SQL
    plan = plan_of(spark, "sm_all_lifecycle")
    assert "FullOuter" in plan
    assert "Union" not in plan and "LeftAnti" not in plan


def test_q3_broadcasts_and_takes_ordered(spark):
    plan = plan_of(spark, "q3_shipping_priority")
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan
    assert "TakeOrderedAndProject" in plan


def test_vocab_topk_partial_aggregates_before_shuffle(spark):
    # Zipf-skewed word count: a partial HashAggregate must sit below the
    # key exchange so hot tokens reduce map-side, and the top-k must be
    # TakeOrdered, not a global sort
    plan = plan_of(spark, "ta_vocab_topk")
    assert re.search(r"partial_count|Functions \[1\]: \[partial_", plan), plan[:500]
    assert "TakeOrderedAndProject" in plan


def test_q5_star_join_stays_broadcast(spark):
    # the 6-way star join: every dim side broadcast, no sort-merge, and
    # only the final per-nation aggregate may shuffle by key
    plan = plan_of(spark, "q5_local_supplier_volume")
    assert plan.count("BroadcastHashJoin") >= 2
    assert "SortMergeJoin" not in plan
    assert "CartesianProduct" not in plan


def test_pivot_is_single_pass(spark):
    # explicit pivot values => one conditional-aggregate pass: no Expand,
    # a single aggregation exchange, no extra distinct-scan job
    plan = plan_of(spark, "a8_pivot_status")
    assert "Expand" not in plan
    assert exchanges(plan) <= 2


def test_rollup_single_scan_with_expand(spark):
    # ROLLUP = one scan through an Expand, one aggregation exchange —
    # never one scan per grouping level
    plan = plan_of(spark, "a9_rollup_orders")
    assert "Expand" in plan
    assert plan.count("Scan parquet") // 2 <= 1 or "Scan parquet" in plan
    assert exchanges(plan) <= 2


def test_stratified_sample_one_window_shuffle(spark):
    plan = plan_of(spark, "ta_stratified_sample")
    assert "Window" in plan
    assert exchanges(plan) <= 2


def test_salted_join_no_sort_merge_on_salted_key(spark):
    # the salted fixture's dim side replicates then hash-joins; the point
    # is a shuffle that spreads, never a broadcast (that would defeat the
    # fixture) nor a cartesian
    plan = plan_of(spark, "j12_salted_skew_join")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_q6_pushes_all_filters_and_prunes_schema(spark):
    plan = plan_of(spark, "q6_forecast_revenue")
    m = re.search(r"PushedFilters: \[([^\]]*)\]", plan)
    assert m, "no PushedFilters in q6 plan"
    pushed = m.group(1)
    for col in ("l_shipdate", "l_discount", "l_quantity"):
        assert col in pushed, f"{col} predicate not pushed: {pushed}"
    m2 = re.search(r"ReadSchema: struct<([^>]*)>", plan)
    assert m2
    read_cols = {c.split(":")[0] for c in m2.group(1).split(",") if c}
    assert read_cols <= {"l_shipdate", "l_discount", "l_quantity", "l_extendedprice"}


def test_q19_pushes_per_side_disjunction_to_scans(spark):
    # the OR-of-ANDs must not force a full-table join: the implied
    # brand/size OR reaches the part scan, the quantity envelope reaches
    # the lineitem scan, and the join side stays broadcast
    plan = plan_of(spark, "q19_disjunctive_revenue")
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan
    pushed = re.findall(r"PushedFilters: \[([^\]]*)\]", plan)
    assert any("l_quantity" in p for p in pushed), "quantity envelope not pushed"
    assert any("Or(" in p and "p_brand" in p for p in pushed), (
        "per-side brand/size disjunction not pushed to the part scan"
    )


def test_q21_shuffles_fact_once_and_broadcasts_supplier(spark):
    # window-decorrelated Q21: per-order distinct counts ride ONE
    # l_orderkey window shuffle over a single lineitem⋈orders evaluation
    # (the agg+re-join form scanned the fact subplan twice); supplier
    # lookup broadcasts
    plan = plan_of(spark, "q21_waiting_supplier_blame")
    assert "BroadcastHashJoin" in plan
    assert "Window" in plan
    assert plan.count("Scan parquet") // 2 <= 3, "fact subplan re-scanned"
    assert exchanges(plan) <= 5, f"too many exchanges:\n{plan[:2000]}"


def test_a12_cube_expands_after_scan(spark):
    # CUBE = Expand feeding ONE hash aggregate pair (partial + final):
    # replication is map-side, the exchange carries only partials
    plan = plan_of(spark, "a12_cube_status_priority")
    assert "Expand" in plan
    assert exchanges(plan) <= 1, "cube should need a single agg exchange"


def test_drift_histogram_shuffles_only_bucket_partials(spark):
    # two map-side partial aggs + a 10-row join: no exchange may carry
    # fact-table rows — every exchange key is the bucket id
    plan = plan_of(spark, "v_drift_histogram")
    # partial aggregation below each exchange is the real contract: the
    # fact scans collapse to <=10 bucket partials map-side, so every
    # exchange/join in the plan moves bucket rows, never order rows
    assert plan.count("HashAggregate") >= 4  # partial+final per snapshot
    # the only exchanges allowed: one per-snapshot bucket-partials shuffle
    # (the bucket expression prints as _groupingexpression) plus the
    # SinglePartition hop for the 10-row rate window
    assert exchanges(plan) <= 3, "an exchange is moving more than bucket rows"


def test_scd2_single_window_shuffle(spark):
    plan = plan_of(spark, "w7_scd2_user_history")
    assert exchanges(plan) <= 1, "SCD2 build must be one window shuffle"
    assert "Window" in plan


def test_winsorize_broadcasts_bounds_back(spark):
    # the per-group envelope is one row per group: it must broadcast onto
    # the fact side — the fact table is scanned once and never shuffled
    plan = plan_of(spark, "f_winsorize")
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_forward_fill_single_window_shuffle(spark):
    plan = plan_of(spark, "w8_forward_fill")
    assert exchanges(plan) <= 1
    assert "Window" in plan


def test_q8_star_stays_broadcast_single_agg_shuffle(spark):
    # eight-way market-share star: every dim broadcast, the lineitem→orders
    # chain is the only shuffle-eligible join, one agg exchange on o_year
    plan = plan_of(spark, "q8_market_share")
    assert plan.count("BroadcastHashJoin") >= 5 * 2  # tree+details print
    assert "SortMergeJoin" not in plan
    assert "CartesianProduct" not in plan


def test_q15_reuses_revenue_rollup(spark):
    # the max-of-aggregate probe must window over the ONE rollup, not
    # recompute it: a single lineitem scan in the plan
    plan = plan_of(spark, "q15_top_supplier")
    assert plan.count("Scan parquet") // 2 <= 2  # lineitem + supplier
    assert "Window" in plan


def test_q17_decorrelates_into_single_rollup_join(spark):
    # the correlated AVG becomes one per-part rollup re-joined on the
    # partkey hash the fact side already has — no nested-loop, no cartesian
    plan = plan_of(spark, "q17_small_quantity_revenue")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


@pytest.mark.slow  # r13: heavy tail, builder-run via -m slow
def test_no_cartesian_product_fleet_wide(spark):
    """Registry-wide contract: NO query may plan a CartesianProduct. The
    broadcast nested-loop joins some queries use (tiny broadcast side:
    ANN query sets, 1-row scalar thresholds) are fine; an unpartitioned
    full cross product is never the intended plan at 100 TB."""
    offenders = []
    for name in QUERIES:
        if "CartesianProduct" in plan_of(spark, name):
            offenders.append(name)
    assert not offenders, f"CartesianProduct in: {offenders}"


def test_null_aware_anti_join_semantics_and_plan(spark, duck):
    # NOT IN three-valued logic: one NULL in the list empties the result
    # — in BOTH engines; and Spark must plan the null-aware build, not a
    # plain LeftAnti (which would silently keep rows)
    plan = plan_of(spark, "j18_null_aware_anti")
    assert "LeftAnti" in plan
    from neotree_data_pipeline_kedro_spark.sources.tables import register_views

    register_views(spark, SF_SMOKE)
    poisoned = """
        SELECT o_orderkey FROM orders
        WHERE o_custkey NOT IN (
          SELECT CASE WHEN c_acctbal < 0 THEN NULL ELSE c_custkey END
          FROM customer)
    """
    assert spark.sql(poisoned).count() == 0
    assert duck.execute(poisoned).fetchall() == []


def test_hierarchy_closure_terminates_and_is_exact(spark):
    # tiny chain 1->0, 21->2->0, 321->32->3->0: closure rows with depths
    from pyspark.sql import functions as F

    from neotree_data_pipeline_kedro_spark.plans.queries import QUERIES

    out = QUERIES["j19_hierarchy_closure"](spark, SF_SMOKE)
    rows = {(r.node, r.ancestor): r.depth for r in out.collect()}
    # node 123: parents 12 (d1), 1 (d2), 0 (d3)
    assert rows[(123, 12)] == 1 and rows[(123, 1)] == 2 and rows[(123, 0)] == 3
    # single-level node
    assert rows[(7, 0)] == 1


def test_bloom_prefilter_join_shape(spark):
    # the membership test must run as a Filter before the closing
    # broadcast semi join — fact rows failing the bloom never reach it
    plan = plan_of(spark, "j20_bloom_prefilter_join")
    assert "BroadcastHashJoin" in plan and "LeftSemi" in plan
    assert "SortMergeJoin" not in plan
    assert "shiftleft" in plan  # the bit test survives into the scan stage


def test_salted_agg_is_two_phase(spark):
    # phase 1 on (key, salt) + phase 2 on key, each with partial+final
    # HashAggregates; no single-reducer shape anywhere
    plan = plan_of(spark, "a19_salted_agg")
    assert plan.count("HashAggregate") >= 4
    assert exchanges(plan) <= 3
    assert "xxhash64" in plan  # deterministic salt, not rand()


def test_ppjoin_never_cartesian_and_verifies_once(spark):
    plan = plan_of(spark, "dd_ppjoin_pairs")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_pareto_frontier_keeps_input_unshuffled(spark):
    # the input joins the broadcast frontier — no sort-merge on the data
    plan = plan_of(spark, "u6_pareto_frontier")
    assert "SortMergeJoin" not in plan
    assert "BroadcastHashJoin" in plan and "LeftSemi" in plan


def test_cdc_apply_single_window_shuffle(spark):
    plan = plan_of(spark, "s10_cdc_apply")
    assert plan.count("Window") >= 1
    assert exchanges(plan) <= 1  # one key shuffle, nothing else


def test_association_rules_unhinted_supports(spark):
    # the 1-row total stays a broadcast; the per-part support tables are
    # |part|-sized (grow with sf) so they must NOT be force-broadcast —
    # no hint in source, AQE decides at runtime (the g6 standard)
    plan = plan_of(spark, "a21_association_rules")
    assert "BroadcastHashJoin" in plan  # the 1-row tot cross join
    assert "CartesianProduct" not in plan
    import inspect

    from neotree_data_pipeline_kedro_spark.plans import queries as q

    src = inspect.getsource(q.a21_association_rules)
    assert "F.broadcast(ca)" not in src and "F.broadcast(cb)" not in src


def test_rfm_exact_ntile_without_window(spark):
    # the whole point: ANSI-exact quartiles with NO window operator (the
    # 1-row customer-count aggregate still plans its own tiny
    # SinglePartition exchange — that one is data-free and fine)
    plan = plan_of(spark, "a22_rfm_segmentation")
    assert "Window" not in plan
    assert "SortMergeJoin" not in plan


def test_gini_reuses_window_partitioning_for_rollup(spark):
    # dim broadcast + one (nation, cust) agg shuffle + the nation window;
    # the final nation rollup must NOT add an exchange
    plan = plan_of(spark, "a23_gini_concentration")
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan
    assert exchanges(plan) <= 2


def test_link_prediction_unhinted_degrees_anti_edges(spark):
    # the node-sized degree table must carry NO broadcast hint (it grows
    # with sf; AQE decides — g6 standard), and existing edges drop via
    # LEFT ANTI with no cartesian anywhere
    plan = plan_of(spark, "g5_link_prediction")
    assert "LeftAnti" in plan
    assert "CartesianProduct" not in plan
    import inspect

    from neotree_data_pipeline_kedro_spark.plans import queries as q

    for fn in (q.g5_link_prediction, q.g7_assortativity):
        src = inspect.getsource(fn)
        assert "F.broadcast(deg)" not in src, fn.__name__
        assert "F.broadcast(da)" not in src and "F.broadcast(db)" not in src


def test_gopher_and_sq8_are_shuffle_free(spark):
    # both are stateless scan-stage expression pipelines: the whole plan
    # must be one stage — no Exchange, no Python eval
    for name in ("ta_gopher_rules", "emb_sq8_quantize"):
        plan = plan_of(spark, name)
        assert "Exchange" not in plan, name
        assert "BatchEvalPython" not in plan and "ArrowEval" not in plan, name


def test_winnowing_pairs_equi_join_with_cold_cap(spark):
    # fingerprint derivation is in-row; the only joins are equi-keyed on
    # the fingerprint (candidate pair join + the hot-fingerprint cap) —
    # never a cartesian
    plan = plan_of(spark, "dd_winnowing_pairs")
    assert "CartesianProduct" not in plan
    assert "Generate" in plan  # the explode of window minima


def test_feature_hashing_is_shuffle_free(spark):
    # stateless scan-stage expressions: the plan may not shuffle at all
    plan = plan_of(spark, "f_feature_hashing")
    assert exchanges(plan) == 0


def test_target_encode_single_agg_shuffle(spark):
    plan = plan_of(spark, "f_target_encode_loo")
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan
    assert exchanges(plan) <= 1  # the group rollup; the join-back rides it


def test_ks_drift_single_key_shuffle_chain(spark):
    # (grp, v) agg -> grp windows (cum + totals from max-of-cum) -> grp
    # rollup reusing the window partitioning: exactly two shuffles, no
    # join and no second aggregation branch re-scanning the fact
    plan = plan_of(spark, "v_ks_drift")
    assert "Join" not in plan
    assert exchanges(plan) <= 2


def test_filtered_ann_is_hash_join_not_nested_loop(spark):
    # the point of pre-filtering: the label predicate turns brute
    # force's broadcast nested loop into a broadcast HASH join
    plan = plan_of(spark, "ann_topk_filtered")
    assert "BroadcastHashJoin" in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_keyset_pagination_pushes_cursor_and_takes_ordered(spark):
    plan = plan_of(spark, "u9_keyset_pagination")
    m = re.search(r"PushedFilters: \[([^\]]*)\]", plan)
    assert m and m.group(1).strip(), "cursor predicate not pushed to scan"
    assert "TakeOrderedAndProject" in plan


def test_pit_features_never_range_joins(spark):
    # the bounded offset explode keeps the as-of equi-joinable
    plan = plan_of(spark, "j25_point_in_time_features")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_abc_analysis_no_window_no_single_partition_sort(spark):
    # rank + running sum come from the two-phase scan, not a window
    plan = plan_of(spark, "a28_abc_analysis")
    assert "Window" not in plan


def test_active_users_single_agg_after_expand(spark):
    # distinct user-days -> bounded 28x expand -> ONE grouped aggregate
    # (Spark plans multi-distinct via Expand, not extra shuffles of data)
    plan = plan_of(spark, "a30_active_users")
    assert "Expand" in plan
    assert "SortMergeJoin" not in plan


def test_data_contract_single_plan_runs_all_checks(spark):
    # the whole contract is ONE lazy union; five 1-row aggregates appear
    # in a single plan (no per-check driver actions to pin, by design)
    plan = plan_of(spark, "v_data_contract")
    assert plan.count("Union") >= 1
    assert "LeftAnti" in plan  # the relationship check compiled in


def test_wedge_queries_carry_the_hub_cap_anti_join(spark):
    # g2/g5/g6 enumerate wedges (Sdeg^2 candidates); the enforced
    # cap_hub_degree guard must run BEFORE the wedge equi-join, and the
    # node-sized degree lookup in g6 must NOT be a driver-killing forced
    # broadcast at 100x (AQE may still pick broadcast at fixture size;
    # the contract is that no plan-time hint forces it -- asserted in
    # source, not the plan).
    #
    # Since round 8, g5/g6 flat_checkpoint the capped edge list (the r7
    # verdict's shared-subtree fix): the cap's two LeftAnti joins execute
    # inside the checkpoint-materialization job, so the FINAL plan reads
    # the capped edges from an ExistingRDD scan instead of re-deriving
    # them. Round 9 extended the same discipline to g2 (triangle_count
    # checkpoints its oriented-distinct edges AFTER cap_hub_degree, and
    # the shared _copurchase_edges builder checkpoints the raw edge
    # list), so g2's final plan also starts from the checkpoint. The
    # cap's anti-join shape itself is pinned by
    # test_round6_fixes.test_cap_hub_degree_planted_hub; here we assert
    # (a) g5 keeps its existing-edge anti, (b) g2/g5/g6 read the edge
    # list from the checkpoint (no lineitem re-scan downstream of the
    # cap), and (c) the cap is invoked at every wedge call site in
    # source order before wedge enumeration.
    plan5 = plan_of(spark, "g5_link_prediction")
    assert plan5.count("LeftAnti") >= 1  # the existing-edge anti
    for name in ("g2_triangle_count", "g5_link_prediction",
                 "g6_node_jaccard"):
        p = plan_of(spark, name)
        assert "ExistingRDD" in p, name  # capped edges come from the checkpoint
        assert "Scan parquet" not in p, name  # no base-table replay downstream
    import inspect

    from neotree_data_pipeline_kedro_spark.plans import queries as q

    src = inspect.getsource(q.g6_node_jaccard)
    assert "F.broadcast(dx)" not in src and "F.broadcast(dy)" not in src
    # …and the cap must actually be invoked at every wedge call site
    for fn in (q.g2_triangle_count, q.g5_link_prediction, q.g6_node_jaccard):
        s = inspect.getsource(fn)
        assert "cap_hub_degree" in s or "max_degree=1000" in s, fn.__name__
    # the checkpoint must come AFTER the cap (capping a materialized
    # uncapped list downstream would re-open the quadratic wedge path)
    for fn in (q.g5_link_prediction, q.g6_node_jaccard):
        s = inspect.getsource(fn)
        assert s.index("cap_hub_degree(e") < s.rindex("flat_checkpoint(e)"), fn.__name__


# ---------------------------------------------------------------------------
# round-7 continuation batch: SAX / bounce / funnel / chi2 / BPE stay pure
# JVM (no Python stage), and their shuffle budgets hold.
# ---------------------------------------------------------------------------

def test_sax_symbols_no_python_bounded_shuffles(spark):
    plan = plan_of(spark, "w27_sax_symbols")
    assert "MapInPandas" not in plan and "FlatMapGroupsInPandas" not in plan
    # daily grain + per-user stats + join back + final agg: <= 5 exchanges
    assert exchanges(plan) <= 5


def test_bounce_rate_single_window_family(spark):
    plan = plan_of(spark, "a40_bounce_rate")
    assert "MapInPandas" not in plan
    # sessionize window + session rollup + day rollup
    assert exchanges(plan) <= 4
    assert plan.count("Window") >= 2  # tree+details double print of 1 window


def test_funnel_no_cartesian_beyond_singleton_cross(spark):
    plan = plan_of(spark, "a39_funnel_steps")
    # the only nested-loop joins are the 1-row x 1-row count crosses
    assert "CartesianProduct" not in plan
    assert "MapInPandas" not in plan


def test_chi2_scans_fact_once(spark):
    plan = plan_of(spark, "v_chi2_independence")
    # orders+customer scanned once each (double-printed): window sums run
    # over the 25-cell contingency table, never re-scan the fact side
    assert plan.count("Scan parquet") // 2 <= 2
    assert "MapInPandas" not in plan


def test_bpe_token_count_pushes_projection(spark):
    plan = plan_of(spark, "ta_bpe_token_count")
    m = re.search(r"ReadSchema: struct<([^>]*)>", plan)
    assert m is not None
    cols = [c.split(":")[0] for c in m.group(1).split(",") if c]
    assert set(cols) <= {"event_type", "props"}, cols
    assert "MapInPandas" not in plan


def test_pca_projection_stage_is_jvm_side(spark):
    # the PROJECTION map of emb_pca_project must stay zip_with/aggregate
    # (JVM) — only the moment collection may touch Python-free exchanges;
    # no pandas stage anywhere
    plan = plan_of(spark, "emb_pca_project")
    assert "MapInPandas" not in plan and "FlatMapGroupsInPandas" not in plan


def test_star_obt_all_broadcast_no_fact_shuffle_join(spark):
    """The OBT denormalization must stream the fact through broadcast hash
    joins — a sort-merge join against any dimension is the 100TB regression
    this pins against. Date + region predicates must reach the scans."""
    plan = plan_of(spark, "j28_star_obt")
    assert "SortMergeJoin" not in plan
    assert plan.count("BroadcastHashJoin") // 2 >= 6
    m = re.findall(r"PushedFilters: \[([^\]]*)\]", plan)
    pushed = " ".join(m)
    assert "r_name" in pushed and "o_orderdate" in pushed


def test_langid_profile_join_is_broadcast(spark):
    # the profile table is vocabulary-sized, never corpus-sized: the
    # scoring join must be broadcast-hash; if it sort-merges, the whole
    # corpus shuffles on raw n-gram strings
    plan = plan_of(spark, "ta_langid_ngram")
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan


def test_cdc_chunks_windows_partition_by_doc(spark):
    # all three window passes (lag, lag, running boundary sum) must stay
    # inside per-document partitions — no global sort, no cartesian
    plan = plan_of(spark, "dd_cdc_chunks")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    # per-doc window sort, not a global Sort+single partition
    assert re.search(r"Sort \[__doc", plan) or "__doc" in plan


def test_bitmap_rollup_weekly_never_rescans_events(spark):
    # weekly counts must derive from the daily bitmap STATE: exactly one
    # scan of the events parquet in the whole union plan
    # the daily state is localCheckpoint-pinned, so both grains read the
    # checkpointed bitmap RDD; at most one parquet scan (printed twice:
    # tree + details) may appear, and never two distinct event scans
    plan = plan_of(spark, "a47_bitmap_rollup")
    assert len(re.findall(r"Scan parquet", plan)) <= 2


def test_knn_grid_join_is_equi_not_cartesian(spark):
    # the grid join must stay an equi-join on the composite cell key;
    # a cartesian/BNLJ here means the blocking regressed to all-pairs
    plan = plan_of(spark, "j30_knn_grid")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_ppr_no_cartesian(spark):
    plan = plan_of(spark, "g12_ppr")
    assert "CartesianProduct" not in plan


def test_modularity_community_maps_broadcast(spark):
    # the node->community map is dimension-sized: both community joins
    # must broadcast; the fact edge list must never sort-merge against it
    plan = plan_of(spark, "g13_modularity")
    assert plan.count("BroadcastHashJoin") >= 2
    assert "CartesianProduct" not in plan


def test_bitmap_retention_no_event_rescan(spark):
    # everything derives from the checkpointed bitmap state: no parquet
    # scan may survive into the final plan
    plan = plan_of(spark, "a48_bitmap_retention")
    assert "Scan parquet" not in plan


def test_histogram_quantiles_state_reused_not_rescanned(spark):
    # both quantile picks read the checkpointed histogram state: the
    # final plan may not re-scan orders
    plan = plan_of(spark, "u15_histogram_quantiles")
    assert "Scan parquet" not in plan


def test_allen_relations_pair_join_is_keyed(spark):
    # pair expansion must ride the customer-key equi-join, never a
    # cartesian; classification is expression-only (no extra join)
    plan = plan_of(spark, "j31_allen_relations")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


# ---------------------------------------------------------------------------
# Iterative-operator round-count contracts (VERDICT r8 #7): the graph loops
# have data-dependent round counts, so a convergence regression (a frontier
# that stops shrinking, a fixpoint test that stops firing) would silently
# multiply bench time instead of failing. Each loop round ends in exactly one
# localCheckpoint, so the checkpoint count on the pinned fixture IS the
# round count (plus a documented constant setup/teardown overhead).
# ---------------------------------------------------------------------------


def _checkpoint_count(spark, monkeypatch, name: str) -> int:
    from pyspark.sql.classic import dataframe as dmod

    orig = dmod.DataFrame.localCheckpoint
    n = [0]

    def patched(self, eager=True):
        n[0] += 1
        return orig(self, eager)

    monkeypatch.setattr(dmod.DataFrame, "localCheckpoint", patched)
    QUERIES[name](spark, SF_SMOKE).count()
    return n[0]


@pytest.mark.parametrize(
    ("name", "expected"),
    [
        # e + nodes + frontier0 (3 setup) + one per round (depth-2 DAG on
        # the fixture => frontiers t=1,2 non-empty, t=3 empty => 3) +
        # final merged layer table (1)
        ("g15_dag_layers", 7),
        # the seed state (1) + edge-list base (1) + one frontier
        # checkpoint per step, walk_length=4 (static); all LAZY since
        # r12 (persist-on-first-use inside the one final action)
        ("g14_random_walks", 6),
        # edges + seed distances (2) + one (frontier, settled) pair per
        # hop; fixture reaches max_hops with non-empty frontiers => 2+3*2
        ("g8_bfs_hops", 8),
        # pagerank: edge base + per-iteration rank states on the fixture
        ("g1_pagerank", 6),
        # k=24 peels the sf0.001 fixture to EMPTY in 3 rounds (the r10
        # non-degenerate fixture); edge base (1) + kept_edges checkpoint
        # per round (3). keep is deliberately UNcheckpointed since r12:
        # both semi-join builds share the deg subtree's exchange
        # (ReusedExchange) inside the one kept_edges job.
        ("g4_kcore", 4),
        # ppr: edge base + degree-annotated edge list (r13: out-degrees
        # attach ONCE before the loop instead of a per-iteration
        # aggregate+join — one extra setup checkpoint buys two fewer
        # subtrees per iteration) + per-push round states
        ("g12_ppr", 5),
    ],
)
def test_iterative_round_counts_pinned(spark, monkeypatch, name, expected):
    assert _checkpoint_count(spark, monkeypatch, name) == expected


def test_scc_uses_flat_checkpoint_not_local(spark, monkeypatch):
    # SCC's forward/backward reach loops can exceed ~8 generations:
    # plain localCheckpoint keeps originStats whose join-size estimates
    # multiply generation-over-generation until Catalyst's BigInteger
    # math OOMs the driver — the loop must go through flat_checkpoint
    # (JVM-side RDD rebuild, drops originStats). Contract: at most the
    # single seed-table localCheckpoint, and flat_checkpoint is what the
    # source calls.
    import inspect

    from neotree_data_pipeline_kedro_spark.operators import components as c

    src = inspect.getsource(c.strongly_connected_components)
    assert "flat_checkpoint" in src
    assert _checkpoint_count(spark, monkeypatch, "g11_scc") <= 1


# ---------------------------------------------------------------------------
# round-9 operator scale contracts
# ---------------------------------------------------------------------------


def test_interval_overlap_join_is_bucketed_equi(spark):
    # both interval sides explode into covered buckets and meet on an
    # ordinary (keys, bucket) equi-join: never a cartesian or BNLJ, and
    # no post-join distinct aggregation (pairs are emitted exactly once
    # at the greatest-start bucket)
    plan = plan_of(spark, "j34_interval_overlap_join")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert plan.count("Generate") >= 2  # the two explodes survive


def test_compaction_bins_single_scan_two_phase(spark):
    # one two-phase global prefix scan: the file inventory is read once
    # and the running sum comes from mapInPandas + driver offsets, not
    # a single-partition window sort
    plan = plan_of(spark, "s19_compaction_bins")
    assert plan.count("Scan parquet") // 2 <= 1
    assert "MapInPandas" in plan


def test_corpus_gates_are_single_pass(spark):
    # the marker-ladder gates are scan-stage expression pipelines: one
    # scan, one aggregation shuffle, no Python stage
    for name in ("ta_refusal_detect", "ta_code_quality_gates",
                 "ta_script_mix"):
        plan = plan_of(spark, name)
        assert plan.count("Scan parquet") // 2 == 1, name
        assert exchanges(plan) <= 1, name
        assert "BatchEvalPython" not in plan, name


def test_mann_whitney_no_per_segment_sort_window(spark):
    # ranks come from the distinct-value grain two-phase scan; the only
    # Window allowed is over the tiny segment-offset table (its input
    # is an aggregate, never the fact scan). Assert in source that the
    # rank path routes through global_prefix_scan.
    import inspect

    from neotree_data_pipeline_kedro_spark.plans import queries as q

    src = inspect.getsource(q.a80_mann_whitney)
    assert "global_prefix_scan" in src
    assert "row_number" not in src.lower()
    plan = plan_of(spark, "a80_mann_whitney")
    assert "CartesianProduct" not in plan


def test_er_pipeline_no_cartesian_and_checkpointed_matches(spark):
    # blocking is equi-only (no cartesian); the shared match graph is
    # checkpointed so er2's base/delta slices read materialized edges
    import inspect

    from neotree_data_pipeline_kedro_spark.plans import queries as q

    for name in ("er1_entity_resolution", "er2_incremental_clusters"):
        plan = plan_of(spark, name)
        assert "CartesianProduct" not in plan, name
        assert "Scan parquet" not in plan, name  # post-checkpoint plans
    src = inspect.getsource(q._er_match_graph)
    assert "localCheckpoint" in src


# ---------------------------------------------------------------------------
# round-10 operator scale contracts
# ---------------------------------------------------------------------------


def test_corpus_funnel_scale_shape(spark):
    # text is dropped and the projected base checkpointed BEFORE any
    # shuffle: the final plan reads materialized RDDs, never re-scans
    # the corpus; the ONLY nested-loop join is the broadcast 1-row
    # budget crossJoin (bounded by construction); the per-source
    # running total is the two-phase prefix scan (MapInPandas), not a
    # per-source sort window
    plan = plan_of(spark, "cb1_corpus_build_funnel")
    assert "CartesianProduct" not in plan
    assert "Scan parquet" not in plan  # both bases are checkpointed
    assert plan.count("BroadcastNestedLoopJoin") // 2 <= 1
    assert "MapInPandas" in plan
    import inspect

    from neotree_data_pipeline_kedro_spark.plans import queries as q

    src = inspect.getsource(q.cb1_corpus_build_funnel)
    assert "global_prefix_scan" in src
    assert " div " in src  # budget arithmetic never routes through `/`


def test_split_leak_guard_blocked_join_only(spark):
    # r11 shape (VERDICT r10 #2): MinHash-LSH candidates — the Arrow
    # signature kernel (MapInPandas), banding as a Catalyst projection,
    # candidates meeting on the (band, bhash) EQUI-join — then exact
    # verification re-joining shingle payloads by id; the split
    # assignment is a stateless expression. No cartesian, no BNLJ, no
    # row-at-a-time Python, and no within-length-bucket all-pairs stage
    # (the r10 plan this replaced).
    plan = plan_of(spark, "cb2_split_leak_guard")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "BatchEvalPython" not in plan
    # the vectorized signature/shingle kernels ride Arrow batches
    assert "MapInPandas" in plan


def test_golden_record_post_checkpoint_single_agg(spark):
    # reuses the checkpointed er match graph: no parquet rescans, no
    # cartesian, and the survivorship merge is ONE grouped aggregation
    # over the payload join (no window, no Python stage)
    plan = plan_of(spark, "er3_golden_record")
    assert "CartesianProduct" not in plan
    assert "Scan parquet" not in plan
    assert "Window" not in plan
    assert "MapInPandas" not in plan and "BatchEvalPython" not in plan
    assert plan.count("Exchange") // 2 <= 5


# ------------------------------------------------- round-11 query pins
def test_retrieval_eval_one_postings_pass_no_cartesian(spark):
    # ONE checkpointed postings build serves scoring AND labels; the
    # query-term/df/stats tables ride broadcasts; no cartesian beyond
    # the 1-row broadcast-scalar stats crossJoin; no row-Python
    plan = plan_of(spark, "ir1_retrieval_eval")
    assert "CartesianProduct" not in plan
    assert "BatchEvalPython" not in plan
    assert "BroadcastHashJoin" in plan
    # the postings checkpoint shows as an RDD scan, not repeated
    # tokenize/groupBy subtrees per consumer
    assert "Scan ExistingRDD" in plan


def test_rrf_fusion_bounded_and_takeordered(spark):
    # both rankers are depth-capped; the final top-20 is a TakeOrdered,
    # never a global Sort over the corpus
    plan = plan_of(spark, "ir2_rrf_fusion")
    assert "CartesianProduct" not in plan
    assert "TakeOrderedAndProject" in plan
    assert "BatchEvalPython" not in plan


def test_session_funnel_two_exchanges_one_scan(spark):
    # sessionize window + per-session groupBy; the funnel walk is
    # in-row over the sorted struct list — no per-step self-joins
    plan = plan_of(spark, "w39_session_funnel")
    assert "CartesianProduct" not in plan
    assert "BatchEvalPython" not in plan
    assert plan.count("Scan parquet") <= 2  # tree + details of ONE scan
    assert exchanges(plan) <= 3


def test_blocking_quality_scalar_crossjoins_only(spark):
    # metric assembly crossJoins 1-row aggregates (broadcast scalars);
    # candidate generation is id-only equi-joins off the checkpointed
    # record pool — no cartesian over data-sized frames, no row-Python
    plan = plan_of(spark, "er4_blocking_quality")
    assert "CartesianProduct" not in plan
    assert "BatchEvalPython" not in plan


def test_compaction_plan_no_global_sort(spark):
    # the bin id comes from global_prefix_scan (range partition + local
    # cumsum + driver offsets) — a single-partition global Sort of the
    # inventory must never appear
    plan = plan_of(spark, "s23_compaction_plan")
    assert "CartesianProduct" not in plan
    assert "BatchEvalPython" not in plan
    assert not re.search(r"Exchange SinglePartition[\s\S]{0,200}?\bSort\b", plan)


def test_decontamination_broadcasts_benchmark_index(spark):
    # the benchmark's inverted shingle index broadcasts; corpus text
    # never shuffles; the removal join is a broadcast probe
    plan = plan_of(spark, "cb5_decontamination_plan")
    assert "CartesianProduct" not in plan
    assert "BroadcastHashJoin" in plan


def test_mahalanobis_topk_is_takeordered_no_window(spark):
    # VERDICT r11 #1: the top-20 must be TakeOrderedAndProject (per-
    # partition heaps + driver merge), never a global row_number window
    # funnelling the scored corpus through one task. Rank attaches on
    # the 20-row result via a broadcast self-join count, so the final
    # plan carries ZERO Window operators. (localCheckpoint truncates
    # lineage to ExistingRDD — the corpus-side shape is covered by the
    # pre-checkpoint stage, which we re-derive by grepping the source
    # for orderBy+limit instead of a Window rank.)
    plan = plan_of(spark, "emb_outlier_mahalanobis")
    assert "Window" not in plan
    assert "CartesianProduct" not in plan
    import inspect

    from neotree_data_pipeline_kedro_spark.plans import queries as q

    src = inspect.getsource(q.emb_outlier_mahalanobis)
    assert ".limit(20)" in src
    # the DuckDB oracle string legitimately ranks with row_number();
    # the Spark body must not
    assert "F.row_number" not in src


def test_ml_eval_suite_one_scan_fanout(spark):
    # VERDICT r11 #6: every panel (AUC, KS, calibration, lift,
    # threshold sweep) derives from ONE events scan collapsed to the
    # (cohort, distinct-score) histogram and localCheckpointed; the
    # final union plan reads only ExistingRDD snapshots — zero parquet
    # scans, zero cartesians
    plan = plan_of(spark, "ml3_eval_suite")
    assert "Scan parquet" not in plan
    assert "ExistingRDD" in plan
    assert "CartesianProduct" not in plan


def test_dedup_threshold_sweep_single_candidate_pass(spark):
    # one PPJoin (prefix-filtered exact) pass at the lowest floor
    # serves every threshold; the sweep itself is a conditional
    # aggregate + stack — no per-threshold re-join, no cartesian; the
    # only Python is the shingle kernel upstream of the checkpoint
    plan = plan_of(spark, "ta_dedup_threshold_sweep")
    assert "CartesianProduct" not in plan
    assert "BatchEvalPython" not in plan
    assert "Window" not in plan


def test_slice_finder_bounded_rollups_takeordered(spark):
    # fact scan collapses to the checkpointed domain-bounded cell frame;
    # slice rollups read ExistingRDD only; top-20 is TakeOrdered
    plan = plan_of(spark, "ml4_slice_finder")
    assert "Scan parquet" not in plan
    assert "ExistingRDD" in plan
    assert "TakeOrderedAndProject" in plan
    assert "CartesianProduct" not in plan


def test_index_health_one_assignment_pass(spark):
    # the corpus assignment pass materializes the <= k-row cell census
    # once; totals and the final join read the checkpoint — zero parquet
    # scans in the final plan, no corpus-wide window
    plan = plan_of(spark, "emb_index_health")
    assert "Scan parquet" not in plan
    assert "ExistingRDD" in plan
    assert "Window" not in plan
    assert "CartesianProduct" not in plan


def test_mixture_plan_is_broadcast_algebra(spark):
    # one corpus scan collapses to the 5-row language census; every
    # later step is <= 5-row frames with 1-row broadcast crosses
    plan = plan_of(spark, "cb6_mixture_plan")
    assert "Scan parquet" not in plan
    assert "ExistingRDD" in plan
    assert "CartesianProduct" not in plan
    assert "SortMergeJoin" not in plan


def test_tiered_assignment_runs_in_jvm(spark):
    # the greedy scan is one aggregate lambda per (uid, facility) group
    # after a single shuffle: no Python worker node, no join
    plan = plan_of(spark, "j3_tiered_greedy_assignment")
    assert not re.search(r"\b\w*(?:InPandas|EvalPython|InArrow)\b", plan)
    assert "Join" not in plan
    assert exchanges(plan) == 1


def test_tidy_pivot_reuses_the_entry_window_shuffle(spark):
    # entry_rows' last-wins window partitions by the session columns only,
    # which is exactly the pivot's grouping: the pivot adds no Exchange on
    # top of dedup's and the window's
    from test_pipeline import _engine, _sessions

    eng = _engine()
    deduped = eng.deduplicate(eng.import_raw(_sessions(spark)))

    def n_exchanges(df) -> int:
        plan = df._jdf.queryExecution().executedPlan().toString()
        return len(re.findall(r"\bExchange\b", plan))

    wide = eng.tidy(deduped)
    for name in ("admissions", "discharges"):
        assert n_exchanges(wide[name]) == n_exchanges(deduped) + 1, name
