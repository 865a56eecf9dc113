"""Physical-plan shape assertions (SURVEY.md §4.2 / §5.2): the scale
claims are checked against the actual Catalyst output, not taken on
faith — pushdown reaches the parquet scan, dims broadcast, top-n pushes
a group-limit below the shuffle, UDFs run Arrow-batched.
"""

from __future__ import annotations

import contextlib
import io

from cloudtrail_streamer_spark.registry import all_queries

SF = "/root/testdata/sf0.001"


def _plan(spark, name: str, mode: str = "formatted") -> str:
    df = all_queries()[name](spark, SF)
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain(mode=mode)
    return buf.getvalue()


def _tree(plan: str) -> str:
    """The tree section of a formatted explain, WITHOUT the per-node
    detail section. Formatted mode prints every node name twice — once
    in the tree, once as a "(n) NodeName" detail block — so substring
    counts over the full output are doubled. All node-COUNT assertions
    go through this helper so the doubling assumption lives in exactly
    one place (ReadSchema/PushedFilters checks still use the full
    output, where the detail section is the point)."""
    return plan.split("\n\n(1)")[0]


def _nodes(spark, name: str) -> str:
    return _tree(_plan(spark, name))


def test_scan_pruned_pushdown(spark):
    plan = _plan(spark, "scan_pruned")
    assert "PushedFilters: [" in plan and "IsNotNull(l_shipdate)" in plan, plan
    assert "GreaterThanOrEqual(l_shipdate" in plan, "range filter must reach parquet"
    # column pruning: only the 5 selected columns in ReadSchema
    read_schema = plan.split("ReadSchema:")[1].splitlines()[0]
    assert "l_comment" not in read_schema
    assert "l_orderkey" in read_schema and "l_shipdate" in read_schema
    assert "l_returnflag" not in read_schema, "unused columns must be pruned"


def test_q1_partial_aggregation(spark):
    plan = _plan(spark, "agg_group_q1")
    assert plan.count("HashAggregate") >= 2, "partial+final hash agg expected"
    # codegen mode reports the compiled whole-stage subtrees
    assert "WholeStageCodegen subtrees" in _plan(spark, "agg_group_q1", mode="codegen")


def test_broadcast_join_strategy(spark):
    plan = _plan(spark, "join_broadcast")
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan, "dims must broadcast, never SMJ"


def test_semi_anti_rewrites(spark):
    assert "LeftSemi" in _plan(spark, "join_semi")
    assert "LeftAnti" in _plan(spark, "join_anti")


def test_theta_join_keeps_equi_key(spark):
    plan = _plan(spark, "join_theta_range")
    assert "BroadcastNestedLoopJoin" not in plan and "CartesianProduct" not in plan, (
        "the p_brand equi-key must make this a hash/merge join, not a BNLJ"
    )


def test_topk_take_ordered(spark):
    assert "TakeOrderedAndProject" in _plan(spark, "limit_topk"), (
        "global ORDER BY+LIMIT must compile to per-partition top-k"
    )


def test_top_n_per_group_limit_pushdown(spark):
    assert "WindowGroupLimit" in _plan(spark, "top_n_per_group"), (
        "rank<=k filter must push a group limit below the window sort"
    )


def test_pandas_udf_arrow(spark):
    plan = _plan(spark, "udf_pandas_vectorized")
    assert "ArrowEvalPython" in plan, "pandas UDF must run Arrow-batched"


def test_asof_is_single_window_pass(spark):
    plan = _plan(spark, "join_asof")
    assert "Join" not in plan.split("AdaptiveSparkPlan")[0] or "Window" in plan
    assert "Window" in plan
    # exactly one shuffle: the user_id repartition for the window
    assert _tree(plan).count("Exchange") <= 1


def test_sim_topk_broadcasts_probes(spark):
    plan = _plan(spark, "sim_search_topk")
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan

def test_pivot_single_scan_no_discovery_job(spark):
    # Explicit pivot-value list => no distinct-value discovery job.
    plan = _plan(spark, "agg_pivot")
    assert _tree(plan).count("Scan parquet") == 1, "pivot must scan orders exactly once"
    assert "o_orderdate" not in plan.split("ReadSchema")[1][:200], "prune unused cols"


def test_rowlocal_fns_no_shuffle(spark):
    # Scalar string/bitwise ops are embarrassingly parallel: zero Exchange.
    for name in ("fn_levenshtein", "fn_bitwise", "fn_url_decode"):
        plan = _plan(spark, name)
        assert "Exchange" not in plan, f"{name} must not shuffle"
        assert "WholeStageCodegen subtrees" in _plan(spark, name, mode="codegen")


def test_string_agg_broadcasts_dim(spark):
    plan = _plan(spark, "agg_string_concat")
    assert "BroadcastHashJoin" in plan and "SortMergeJoin" not in plan


def test_distribution_window_single_shuffle(spark):
    # percent_rank/cume_dist/ntile share one window spec => one Exchange,
    # one Window node.
    plan = _nodes(spark, "win_distribution")
    assert plan.count("Exchange") <= 1, "all three fns must share one window pass"

def test_bucketed_join_zero_exchange(spark):
    """Bucketed co-location: join + same-key aggregation must run with
    ZERO Exchange — the scan's bucketing satisfies the distribution
    requirement end to end."""
    plan = _plan(spark, "join_bucketed_colocated")
    assert "SelectedBucketsCount" in plan, "scan must be bucket-aware"
    tree = _tree(plan)
    assert tree.count("Exchange") == 0, "bucketed join must not shuffle"
    assert "SortMergeJoin" in tree


def test_dpp_prunes_fact_partitions(spark):
    """SURVEY §4.2: joining the hive-partitioned fact on its partition
    column against a selectively-filtered dim must inject a
    DynamicPruning subquery into the fact scan's PartitionFilters —
    at scale the fact reads only surviving partitions."""
    plan = _plan(spark, "join_dpp_partitioned")
    assert "dynamicpruning" in plan.lower(), "DPP must reach the partitioned scan"


def test_tpch_q3_composite_plan(spark):
    plan = _plan(spark, "tpch_q3_shipping_priority")
    # no forced hint: size-based selection broadcasts the filtered
    # customer segment at this sf; at 100 TB it may legitimately shuffle
    assert "BroadcastHashJoin" in plan, "filtered customer dim should broadcast at sf0.001"
    assert "TakeOrderedAndProject" in plan, "top-10 must not global-sort"
    assert _tree(plan).count("HashAggregate") >= 2, "partial+final agg expected"


def test_tpch_q5_star_join_scale_safe(spark):
    """The scale-correct Q5 shape: the bounded dims (nation, region) are
    hint-broadcast; customer/supplier strategy is left to size-based
    selection / AQE (forcing them broadcast would OOM at 100 TB, where
    they scale with sf). No plan may degenerate to a cartesian/BNLJ."""
    plan = _nodes(spark, "tpch_q5_local_supplier")
    assert plan.count("BroadcastHashJoin") >= 2, "nation+region must broadcast"
    assert "CartesianProduct" not in plan and "BroadcastNestedLoopJoin" not in plan


def test_quota_sample_pushes_group_limit_below_shuffle(spark):
    """sample_quota_per_source claims each map task emits ≤K rows per
    source: the rank ≤ 40 predicate must compile to WindowGroupLimit
    (Partial before the exchange, Final after), not a full window over
    every row of a skewed source."""
    tree = _nodes(spark, "sample_quota_per_source")
    assert "WindowGroupLimit" in tree
    assert tree.count("WindowGroupLimit") >= 2  # partial + final


def test_split_assignment_no_extra_shuffle(spark):
    """split_train_val_test is a pure row-local hash + one 3-group agg:
    exactly one exchange (the final agg), nothing from the CASE."""
    tree = _nodes(spark, "split_train_val_test")
    assert tree.count("Exchange") <= 1


def test_rate_limit_window_group_limit_pushdown(spark):
    """events_rate_limit (rn <= 3): Catalyst must plan a WindowGroupLimit
    so each map task emits at most k rows per key before the shuffle."""
    tree = _tree(_plan(spark, "events_rate_limit"))
    assert "WindowGroupLimit" in tree


def test_q18_aggregates_before_join(spark):
    """tpch_q18: the lineitem aggregate (and its HAVING filter) must sit
    BELOW the joins so only qualifying orderkeys are joined."""
    plan = _plan(spark, "tpch_q18_large_volume", mode="extended")
    phys = plan.split("== Physical Plan ==")[-1]
    agg_pos = phys.find("HashAggregate")
    join_pos = phys.find("Join")
    assert agg_pos != -1 and join_pos != -1
    # formatted trees print top-down: the join appears before (above) the
    # aggregate in text iff the aggregate is its child
    assert join_pos < agg_pos


def test_pq_codebook_broadcasts_centroids(spark):
    """embed_pq_codebook: the 32-row centroid side must broadcast; the
    big side must not shuffle for the assignment join."""
    tree = _tree(_plan(spark, "embed_pq_codebook"))
    assert "BroadcastHashJoin" in tree


def test_vector_index_partition_pruning(spark):
    """sim_index_partition_pruned: the probe's index scan must carry
    PartitionFilters on centroid_id (directory-level pruning), and the
    number of partitions read must be under the 16-cell total."""
    plan = _plan(spark, "sim_index_partition_pruned")
    assert "PartitionFilters" in plan
    import re

    m = re.search(r"centroid_id", plan.split("PartitionFilters", 1)[1][:200])
    assert m, "pruning filter must be on the partition column"


def test_bloom_prefilter_semi_before_shuffle_join(spark):
    """join_bloom_prefilter: the bucket membership filter must be a
    broadcast SEMI join (probe side never shuffles for the prefilter),
    and the exact equi-join must still be present after it."""
    plan = _plan(spark, "join_bloom_prefilter")
    assert "LeftSemi" in plan, "bucket prefilter must plan as a semi join"
    semi_pos = plan.index("LeftSemi")
    assert "BroadcastHashJoin" in plan[: semi_pos + 200] or "Broadcast" in plan, plan
    # the real join on l_orderkey = o_orderkey survives downstream
    assert plan.count("Join") >= 2 or plan.count("HashJoin") >= 2


def test_q19_disjunctive_derived_pushdown(spark):
    """tpch_q19_disjunctive: Catalyst must derive the single-side
    implications of the OR-of-ANDs and push them into BOTH parquet
    scans (brand/size envelope on part, quantity envelope on lineitem)
    while keeping the full disjunction as the join residual."""
    plan = _plan(spark, "tpch_q19_disjunctive")
    pushed = [l for l in plan.splitlines() if "PushedFilters" in l]
    assert any("p_brand" in l and "Or(" in l for l in pushed), pushed
    assert any("l_quantity" in l and "Or(" in l for l in pushed), pushed


def test_q4_semi_join_with_residual(spark):
    """tpch_q4_order_priority: correlated-EXISTS shape must plan as a
    LEFT SEMI join and the quarter filter must reach the orders scan."""
    plan = _plan(spark, "tpch_q4_order_priority")
    assert "LeftSemi" in plan
    assert any(
        "o_orderdate" in l and "GreaterThanOrEqual" in l
        for l in plan.splitlines()
        if "PushedFilters" in l
    )


def test_q6_all_predicates_pushed(spark):
    """tpch_q6: the shipdate range must reach the parquet scan as
    PushedFilters and ReadSchema must carry only the 4 referenced
    columns — the scan-bound query's whole 100 TB story."""
    plan = _plan(spark, "tpch_q6_forecast_revenue")
    pushed = [l for l in plan.splitlines() if "PushedFilters" in l]
    assert any("l_shipdate" in l and "GreaterThanOrEqual" in l for l in pushed), pushed
    assert any("l_quantity" in l and "LessThan" in l for l in pushed), pushed
    read_schema = plan.split("ReadSchema:")[1].splitlines()[0]
    assert "l_extendedprice" in read_schema and "l_orderkey" not in read_schema


def test_q2_correlated_min_is_one_window_pass(spark):
    """tpch_q2: the per-part MIN qualification must plan as a single
    Window over ONE scan of the offers aggregate — not a self-join
    rescan (which would be O(parts·scan) at 100 TB)."""
    tree = _nodes(spark, "tpch_q2_min_cost_supplier")
    assert tree.count("Window") == 1, tree
    assert tree.count("Scan parquet") <= 5, "each base table scanned once"
    assert "TakeOrderedAndProject" in tree, "top-20 must not global-sort"


def test_q17_window_rewrite_no_rescan(spark):
    """tpch_q17: the correlated AVG subquery is a window over the
    brand-filtered lineitem — lineitem must be scanned exactly once and
    the brand filter must broadcast-semi into it before the window."""
    tree = _nodes(spark, "tpch_q17_small_qty_revenue")
    assert tree.count("Scan parquet") == 2, tree  # lineitem once + part once
    assert tree.count("Window") == 1, tree


def test_q21_single_window_pass_over_order_groups(spark):
    """tpch_q21: the EXISTS/NOT-EXISTS pair is rewritten to window
    aggregates over one orderkey partition — no second lineitem scan,
    no self-join of the fact."""
    tree = _nodes(spark, "tpch_q21_suppliers_waiting")
    assert tree.count("Scan parquet") == 3, tree  # lineitem, orders, supplier
    assert "CartesianProduct" not in tree


def test_q22_anti_join_and_broadcast_threshold(spark):
    """tpch_q22: the dormancy check must plan as LeftAnti on the
    date-pruned orders slice, and the scalar threshold must broadcast
    (a 1-row BroadcastExchange), never a shuffle."""
    plan = _plan(spark, "tpch_q22_dormant_customers")
    assert "LeftAnti" in plan
    assert "BroadcastExchange" in plan
    pushed = [l for l in plan.splitlines() if "PushedFilters" in l]
    assert any("o_orderdate" in l and "GreaterThanOrEqual" in l for l in pushed), pushed


def test_q16_distinct_agg_two_phase(spark):
    """tpch_q16: COUNT(DISTINCT suppkey) must plan as the expand/two-
    phase distinct aggregate (partial dedup map-side), and part must be
    the broadcast build side."""
    tree = _nodes(spark, "tpch_q16_supplier_part_counts")
    assert tree.count("HashAggregate") >= 3, "two-phase distinct agg expected"
    assert "BroadcastHashJoin" in tree


def test_fuzzy_symdelete_is_equi_join(spark):
    """join_fuzzy_symdelete: the deletion-neighborhood block must plan
    as a hash equi-join on the variant key — never a cartesian/BNLJ
    (the all-pairs form lives only in the oracle)."""
    tree = _nodes(spark, "join_fuzzy_symdelete")
    assert "CartesianProduct" not in tree and "BroadcastNestedLoopJoin" not in tree
    assert "Join" in tree


def test_interpolate_windows_over_spine_not_fact(spark):
    """events_interpolate_linear: the fact must collapse to hourly
    counts BEFORE any window — the windowed input is spine-sized. The
    aggregate must appear below the windows in the plan."""
    tree = _nodes(spark, "events_interpolate_linear")
    assert tree.count("Window") >= 1
    assert "HashAggregate" in tree


def test_mv_refresh_never_rescans_base(spark):
    """mv_incremental_refresh: exactly two base scans (MV half + delta
    half of the demonstration split) feeding partial aggregates; the
    merge is an agg over their union, not a third scan."""
    tree = _nodes(spark, "mv_incremental_refresh")
    assert tree.count("Scan parquet") == 2, tree


def test_asof_tolerance_single_window_no_lateral(spark):
    """join_asof_tolerance: the correlated LATERAL of the oracle must
    not appear — one scan of events, one window, no join node at all."""
    tree = _nodes(spark, "join_asof_tolerance")
    assert tree.count("Scan parquet") == 1, tree
    assert "Join" not in tree, "as-of must be a window carry-forward, not a join"


def test_bitmap_distinct_no_expand(spark):
    """agg_bitmap_distinct: the bitmap leg must aggregate bit_or longs
    (plain partial+final agg); only the certificate leg may use the
    distinct-aggregate Expand."""
    tree = _nodes(spark, "agg_bitmap_distinct")
    assert "HashAggregate" in tree
    assert tree.count("Expand") <= 1, tree


def test_streak_collapses_fact_before_window(spark):
    """win_streak_longest: the distinct-day aggregate must sit below
    the row_number window, so the window input is calendar-bounded."""
    tree = _nodes(spark, "win_streak_longest")
    assert tree.count("Window") == 1
    assert "HashAggregate" in tree


def test_triangle_count_no_cartesian(spark):
    """graph_triangle_count: wedge construction must stay equi-joins on
    node keys (the hour self-join and the two wedge joins) — no
    cartesian anywhere, and the fact collapses to distinct (user, hour)
    before any join."""
    tree = _nodes(spark, "graph_triangle_count")
    assert "CartesianProduct" not in tree
    assert "HashAggregate" in tree


def test_dq_suite_fk_check_is_anti_join(spark):
    """dq_constraint_suite: referential integrity must plan as
    LeftAnti, not a correlated subquery rescan."""
    plan = _plan(spark, "dq_constraint_suite")
    assert "LeftAnti" in plan


def test_skyline_single_window_pass(spark):
    """win_skyline_pareto: the O(N²) NOT-EXISTS of the oracle must plan
    as windows over ONE scan — no join, no cartesian."""
    tree = _nodes(spark, "win_skyline_pareto")
    assert tree.count("Scan parquet") == 1, tree
    assert "Join" not in tree and "CartesianProduct" not in tree


def test_pit_features_one_window_shuffle(spark):
    """feature_pit_join: all prior-history features from a single
    window pass — one scan of orders, no self-join."""
    tree = _nodes(spark, "feature_pit_join")
    assert tree.count("Scan parquet") == 1, tree
    assert "Join" not in tree


def test_nested_scan_prunes_payload(spark):
    """scan_nested_pushdown: the nested read's ReadSchema must carry
    only the meta subfields — payload (the bulky struct) stays unread."""
    plan = _plan(spark, "scan_nested_pushdown")
    nested_reads = [
        l for l in plan.splitlines() if "ReadSchema" in l and "meta" in l
    ]
    assert nested_reads, plan
    assert all("payload" not in l for l in nested_reads), nested_reads


def test_markov_single_scan_window_total(spark):
    """win_markov_transitions: row totals must come from a window over
    the transition matrix, not an agg+join that rescans events."""
    tree = _nodes(spark, "win_markov_transitions")
    assert tree.count("Scan parquet") == 1, tree


def test_benford_single_scan(spark):
    """agg_benford_audit: the grand total is a window over the 9-row
    digit aggregate — orders must scan exactly once."""
    tree = _nodes(spark, "agg_benford_audit")
    assert tree.count("Scan parquet") == 1, tree


def test_cohort_ltv_single_scan(spark):
    """win_cohort_ltv: cohort assignment is a window MIN — one scan of
    orders, not the aggregate-plus-self-join double scan."""
    tree = _nodes(spark, "win_cohort_ltv")
    assert tree.count("Scan parquet") == 1, tree


def test_triangle_count_shared_subtrees_cached(spark):
    """graph_triangle_count: active/edges/oriented each feed multiple
    subtrees; without persist the plan compounds to 43 fact scans.
    The caches must be present (InMemoryTableScan in the tree)."""
    tree = _nodes(spark, "graph_triangle_count")
    assert "InMemoryTableScan" in tree, tree


def test_minhash_recall_single_shingle_pass(spark):
    """dedup_minhash_recall: one persisted shingle relation feeds both
    the LSH candidates and the exact-Jaccard truth set (was 8 scans).
    NOTE: formatted explain re-prints a cached relation's DEFINING plan
    (including its parquet scan) under every InMemoryTableScan
    reference, so scan-count-in-text is meaningless once caches are
    involved — these tests pin the cache nodes instead; execution
    computes each cached plan once."""
    tree = _nodes(spark, "dedup_minhash_recall")
    assert tree.count("InMemoryTableScan") >= 2, tree


def test_gap_fill_cached_hourly_aggregate(spark):
    """events_gap_fill / events_interpolate_linear: spine bounds, the
    type dim, and the outer join must all read the persisted hourly
    aggregate (one fact pass at execution; was three)."""
    for name in ("events_gap_fill", "events_interpolate_linear"):
        tree = _nodes(spark, name)
        assert tree.count("InMemoryTableScan") >= 3, (name, tree)


def test_sim_topk_cost_based_routing(spark):
    """sim_search_topk must pick the codegen SQL plan below the kernel
    crossover (the fixture is 500 vectors) — no Python in the plan —
    while sim_search_arrow_kernel always plans the Arrow stream kernel:
    a single MapInPandas over the candidate scan with NO exchange
    before it (the r8 shape — probes ride a broadcast variable, the
    corpus never shuffles; the r7 blk-join kernel fanned every
    candidate out once per probe)."""
    routed = _nodes(spark, "sim_search_topk")
    assert "FlatMapGroupsInPandas" not in routed and "MapInPandas" not in routed
    assert "BroadcastExchange" in routed  # probes broadcast in the SQL plan
    forced = _nodes(spark, "sim_search_arrow_kernel")
    assert "MapInPandas" in forced
    # zero-shuffle pin: nothing may sit between the parquet scan and the
    # Python kernel — the only exchange in the plan is the tiny
    # partitions×5-rows-per-probe merge ABOVE it
    pre_kernel = forced.split("MapInPandas")[-1]  # tree prints leaves last
    assert "Exchange" not in pre_kernel, forced


def test_cbo_stats_single_scan_per_table(spark):
    """agg_cbo_stats unpivots each table's 1-row wide aggregate with
    stack(); a per-column select would re-expand the agg subtree and
    scan the table once per column (r4 scan-sweep catch)."""
    plan = _plan(spark, "agg_cbo_stats")
    for t in ("orders", "lineitem", "customer", "events"):
        assert plan.count(f"{t}.parquet") == 1, f"{t} must be scanned exactly once"


def test_dedup_pipeline_caches_shared_stages(spark):
    """pipeline_dedup_e2e persists the three relations referenced by
    multiple subtrees (exact-tagged corpus, shingles, bands); the plan
    must read them via InMemoryTableScan rather than re-expanding the
    corpus scan per reference."""
    plan = _nodes(spark, "pipeline_dedup_e2e")
    assert "InMemoryTableScan" in plan
    spark.catalog.clearCache()


def test_cbo_join_reorder_flips_join_tree(spark):
    """join_reorder_cbo: with ANALYZE stats in the catalog and CBO on,
    the optimizer must abandon the as-written big-table-first order
    (orders ⋈ customer ⋈ nation) and build the filtered dimension pair
    first — the optimized plan's relation order flips to
    customer/nation before orders. Rule-based Catalyst never reorders
    inner joins, so the flip can only come from ANALYZE-fed costing
    (rowCount itself is not assertable here: LogicalPlan.stats is
    recomputed under the restored non-CBO conf as size-only)."""
    import re

    df = all_queries()["join_reorder_cbo"](spark, SF)
    qe = df._jdf.queryExecution()
    opt = qe.optimizedPlan()
    rels = re.findall(r"cbo_(orders|customer|nation)_\w+", opt.toString())
    order = list(dict.fromkeys(rels))
    assert order and order[-1] == "orders", (
        f"CBO should join the dimension pair first, orders last: {order}"
    )
    # conf hygiene: the op restores session CBO confs before returning
    assert spark.conf.get("spark.sql.cbo.enabled") == "false"


def test_merge_rewrites_only_touched_partitions(spark):
    """merge_upsert_partitioned: dynamic partition overwrite must
    replace ONLY the partitions the source batch touches (1995 updates,
    2005 inserts). Untouched partitions keep their original data files
    from the initial write — their mtimes predate every touched-
    partition file written by the merge pass."""
    import os

    from cloudtrail_streamer_spark.catalog import scratch_dir

    all_queries()["merge_upsert_partitioned"](spark, SF).collect()
    root = os.path.join(scratch_dir("merge_upsert_partitioned", SF), "orders_tbl")
    parts = {
        d: [
            os.path.getmtime(os.path.join(root, d, f))
            for f in os.listdir(os.path.join(root, d))
            if f.endswith(".parquet")
        ]
        for d in os.listdir(root)
        if d.startswith("o_year=")
    }
    assert "o_year=2005" in parts, "insert partition must exist"
    untouched = [m for d, ms in parts.items() for m in ms
                 if d not in ("o_year=1995", "o_year=2005")]
    touched = [m for d in ("o_year=1995", "o_year=2005") for m in parts[d]]
    assert untouched and touched
    assert max(untouched) < min(touched), (
        "untouched partitions must keep their original files; "
        "a full-table rewrite would stamp every partition at merge time"
    )


def test_time_travel_reuses_untouched_files(spark):
    """sink_snapshot_time_travel: v2's manifest must REFERENCE (not
    copy) every v1 file the update didn't touch, and the replaced v1
    files must still exist on disk — old snapshots stay readable
    because data files are immutable, exactly the Iceberg/Delta
    contract."""
    import os

    from cloudtrail_streamer_spark.catalog import scratch_dir

    all_queries()["sink_snapshot_time_travel"](spark, SF).collect()
    root = scratch_dir("sink_snapshot_time_travel", SF)
    man = {
        v: {
            r["f"]
            for r in spark.read.parquet(os.path.join(root, "manifests", f"v={v}")).collect()
        }
        for v in (1, 2)
    }
    shared = man[1] & man[2]
    replaced = man[1] - man[2]
    added = man[2] - man[1]
    assert shared, "untouched v1 files must be reused by reference in v2"
    assert replaced and added, "the COW update must swap at least one file"
    for f in man[1] | man[2]:
        assert os.path.exists(f.replace("file://", "").replace("file:", "")), f


def test_sql_udf_inlines_no_python(spark):
    """Scalar SQL UDF body must inline into the projection — no Python
    eval node of any kind (the whole point of the fifth UDF rung)."""
    plan = _plan(spark, "udf_sql_declarative")
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan, plan
    assert "Project" in plan


def test_sql_table_udf_decorrelates_to_hash_join(spark):
    """Table-valued SQL UDF called via correlated LATERAL must
    decorrelate into an equi-join — a nested-loop per-row evaluation
    would be the 100 TB scale-killer."""
    plan = _plan(spark, "udf_sql_table_valued")
    assert "BroadcastNestedLoopJoin" not in plan and "CartesianProduct" not in plan, plan
    assert "Join" in plan or "HashJoin" in plan, plan


def test_udtf_arrow_uses_arrow_eval(spark):
    """r12: the Arrow-NATIVE UDTF (arrow_udtf + TABLE argument) must run
    as ArrowEvalPythonUDTF mapped directly over the scan partitions —
    no pickled-row evaluator and, critically, no Exchange: with no
    PARTITION BY declared the planner must NOT shuffle the input to the
    UDTF (single-partition or hash-partitioned execution would be the
    100 TB scale-killer for a per-row generator)."""
    plan = _plan(spark, "udtf_arrow")
    assert "ArrowEvalPythonUDTF" in plan, plan
    assert "BatchEvalPython" not in plan, plan
    assert "Exchange" not in plan, plan


def test_runtime_bloom_filter_injected(spark):
    """join_runtime_bloom: Catalyst's InjectRuntimeFilter must plant a
    bloom build on the selective side and a might_contain predicate on
    the probe side, and the conf window must restore the session's
    broadcast threshold after planning."""
    before = spark.conf.get("spark.sql.autoBroadcastJoinThreshold", None)
    plan = _plan(spark, "join_runtime_bloom")
    assert "might_contain" in plan, plan
    assert "bloom_filter_agg" in plan or "BloomFilterAggregate" in plan, plan
    after = spark.conf.get("spark.sql.autoBroadcastJoinThreshold", None)
    assert before == after, f"conf leaked: {before!r} -> {after!r}"


def test_shuffle_hash_join_no_sort(spark):
    """join_shuffle_hash: the hint must elect ShuffledHashJoin — a
    one-pass hash build per partition with no Sort on either side."""
    tree = _nodes(spark, "join_shuffle_hash")
    assert "ShuffledHashJoin" in tree, tree
    assert "SortMergeJoin" not in tree and "BroadcastHashJoin" not in tree, tree
    assert "Sort" not in tree, tree


def test_mor_delete_read_broadcasts_anti_join(spark):
    """sink_snapshot_mor_deletes: the merge-on-read anti-join must
    broadcast the (small) delete-key side — the data files never
    shuffle to apply deletes."""
    plan = _plan(spark, "sink_snapshot_mor_deletes")
    assert "LeftAnti" in plan, plan
    anti = plan.index("LeftAnti")
    assert "BroadcastHashJoin" in plan[max(0, anti - 60) : anti + 60], plan


def test_pandas_api_no_python_nodes(spark):
    """The pandas-on-Spark family must compile to pure Catalyst plans —
    zero Python evaluation nodes. The pandas dialect is a front-end,
    not an execution path: a BatchEvalPython/ArrowEvalPython node here
    would mean the engine silently left the JVM on a relational op."""
    for name in ("ps_groupby_agg", "ps_merge_join", "ps_pivot_table", "ps_sort_head"):
        plan = _plan(spark, name)
        assert "BatchEvalPython" not in plan, f"{name}: {plan}"
        assert "ArrowEvalPython" not in plan, f"{name}: {plan}"
        assert "FlatMapGroupsInPandas" not in plan, f"{name}: {plan}"


def test_ps_sort_head_takeordered(spark):
    """sort_values().head(k) must plan as TakeOrderedAndProject (per-
    partition top-k + k-row driver merge), never a global Sort."""
    tree = _nodes(spark, "ps_sort_head")
    assert "TakeOrderedAndProject" in tree, tree


def test_ps_merge_broadcasts_bounded_dim(spark):
    """ps_merge_join: the 25-row nation dim must broadcast under the
    same size rules as the explicit-hint join (no shuffle of customer)."""
    tree = _nodes(spark, "ps_merge_join")
    assert "BroadcastHashJoin" in tree, tree


def test_sql_pipe_pushdown_reaches_scan(spark):
    """sql_pipe_syntax: the |> WHERE stage must desugar into the same
    logical Filter as nested SQL — i.e. its predicates reach the parquet
    scan as PushedFilters, proving the pipe parser adds zero plan cost."""
    plan = _plan(spark, "sql_pipe_syntax")
    assert "PushedFilters" in plan, plan
    pushed = [ln for ln in plan.splitlines() if "PushedFilters" in ln]
    assert any("o_totalprice" in ln or "o_orderdate" in ln for ln in pushed), plan


def test_single_scan_scalar_normalizers(spark):
    """pipeline_domain_mixture / agg_psi_drift / agg_ab_test_ztest: the
    normalization scalars must come from global windows (or a single agg
    chain) over the tiny post-aggregate frame — a crossJoin of a derived
    1-row aggregate re-expands the corpus subtree into extra full scans
    (measured: the crossJoin formulation cost 4 documents scans)."""
    import re
    from collections import Counter

    for name, tbl, want in (
        ("pipeline_domain_mixture", "documents", 1),
        ("agg_psi_drift", "events", 1),
        ("agg_ab_test_ztest", "events", 1),
        # r10 replan (VERDICT r09 #4): crossdoc trades the r8 single
        # scan + full SORT of the window relation for TWO scans and NO
        # sort — the n_windows side is per-doc arithmetic over a second
        # (cheap, shuffle-free) pass of documents, and the heavy shuffle
        # becomes a hash aggregate. A THIRD scan would mean the explode
        # subtree got re-inlined — still pinned.
        ("text_crossdoc_substring", "documents", 2),
    ):
        plan = _plan(spark, name)
        locs = re.findall(r"Location: InMemoryFileIndex[^\n]*/(\w+)\.parquet", plan)
        got = Counter(locs)[tbl]
        assert got == want, f"{name}: {tbl} scanned {got}x, want {want}"


def test_aqe_skew_join_splits(spark):
    """AQE skew handling under a deliberately hot key (VERDICT r06 #6):
    one key owning 20% of the fact rows must be SPLIT by AQE's skew-join
    rule — the executed SortMergeJoin carries skew=true — instead of one
    straggler task processing the whole hot partition. Thresholds are
    scaled to local-bench partition sizes (the trigger is a ratio test
    plus a byte floor; production defaults fire at production sizes —
    the RULE, not the constant, is what's under test). Broadcast is
    disabled because at this scale Spark would otherwise (correctly)
    broadcast the dim and sidestep the skew — the test targets the
    100 TB regime where both sides shuffle. The timing half of the
    certificate (sf1, skew-on vs skew-off wall-clock) lives in SCALE.md
    §AQE skew-join certificate via tools/skew_cert.py."""
    import sys

    sys.path.insert(0, "/root/repo")
    from tools.skew_cert import build_skew_join

    confs = {
        "spark.sql.autoBroadcastJoinThreshold": "-1",
        "spark.sql.adaptive.autoBroadcastJoinThreshold": "-1",
        "spark.sql.adaptive.skewJoin.enabled": "true",
        # keep the join SMJ: the session's SMJ->SHJ conversion would make
        # the skewed fact the SHJ BUILD side, which OptimizeSkewedJoin
        # cannot split (it splits stream/either-SMJ sides only)
        "spark.sql.adaptive.maxShuffledHashJoinLocalMapThreshold": "0",
        # sf0.1's hot partition is ~150KB of compressed shuffle blocks
        "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes": "10KB",
        "spark.sql.adaptive.advisoryPartitionSizeInBytes": "5KB",
        "spark.sql.adaptive.coalescePartitions.minPartitionSize": "2KB",
        "spark.sql.adaptive.skewJoin.skewedPartitionFactor": "2",
    }
    # the 10-row-group rechunked sf0.1 (NOT the 1-row-group driver
    # fixture): a skewed reduce partition is split by MAPPER ranges
    # (PartialReducerPartitionSpec), so a 1-mapper shuffle — which is
    # what a single-row-group file scan produces — physically cannot be
    # split and AQE correctly declines (verified; documented in SCALE.md)
    from tools.make_sf1 import ensure_rechunked

    sf_dir = ensure_rechunked()
    if sf_dir is None:
        import pytest

        pytest.skip("bench-data build unavailable")
    prior = {c: spark.conf.get(c, None) for c in confs}
    for c, v in confs.items():
        spark.conf.set(c, v)
    try:
        df = build_skew_join(spark, sf_dir)
        # execute the Dataset's own QueryExecution (a noop write runs a
        # separate one whose adaptive plan never finalizes on df._jdf)
        df.collect()
        plan = df._jdf.queryExecution().executedPlan().toString()
    finally:
        for c, v in prior.items():
            if v is None:
                spark.conf.unset(c)
            else:
                spark.conf.set(c, v)
    assert "skew=true" in plan, f"AQE must mark the hot-key join skewed:\n{plan[:2000]}"


def test_dsir_broadcasts_ratio_table_and_takeordered(spark):
    """text_dsir_importance (r8): the 256-row bucket-ratio table must
    BROADCAST into the doc-bucket join (never shuffle the doc side by
    bucket id), and the top-100 must be TakeOrderedAndProject — never a
    global Sort of every document."""
    plan = _plan(spark, "text_dsir_importance")
    tree = _tree(plan)
    assert "BroadcastHashJoin" in tree
    assert "TakeOrderedAndProject" in tree
    assert "Sort [dsir_score" not in tree  # no global sort of all docs


def test_covariance_partials_aggregate_map_side(spark):
    """embed_covariance_matrix (r8): the Arrow Gram kernel feeds a
    keyed agg that must have a partial (map-side) HashAggregate below
    the exchange — the shuffle carries 2,080-row partials per task,
    never raw vectors — and exactly one exchange total."""
    tree = _nodes(spark, "embed_covariance_matrix")
    assert tree.count("HashAggregate") >= 2  # partial + final
    # one shuffle for the (i,j) agg; the orderBy adds a rangepartition
    assert tree.count("Exchange") <= 2
    assert "ArrowEvalPython" in tree or "MapInArrow" in tree or "PythonMapInArrow" in tree


def test_novelty_single_window_scan(spark):
    """text_ngram_novelty (r8): the window-hash relation must be built
    from ONE scan of documents (the crossdoc single-scan discipline) —
    first-seen is a window over the hash partition feeding one keyed
    agg, never a second consumer that re-inlines the explode subtree."""
    tree = _nodes(spark, "text_ngram_novelty")
    assert tree.count("Scan parquet") == 1


def test_lsh_hash_families_stay_let_bound(spark):
    """The r9 md5-derived LSH families rely on the let-binding idiom
    (transform(array(e), x -> body)[0]) to stop CollapseProject from
    re-inlining the per-shingle/per-token digest into every downstream
    fold reference — the naive chained-select form recomputed md5s
    multiplicatively (443 s vs 5 s for dedup_simhash at 500 docs,
    SCALE.md §Round-9). Pin the bound: the OPTIMIZED plan must contain
    only a handful of md5 call sites (2 join sides × {token/shingle
    hash, band hash}); the collapsed form shows 33+ per side."""
    from cloudtrail_streamer_spark.registry import all_queries

    sf = "/root/testdata/sf0.001"
    # dedup_simhash's bound covers the r11 exact-group prepass too: the
    # md5(lower(text)) grouping key appears once in each of the
    # members/stats relations and their expansion-join renders (20
    # sites measured) — still far under the 33+-per-side collapse shape.
    for name, bound in (("dedup_near_minhash", 8), ("dedup_simhash", 24)):
        df = all_queries()[name](spark, sf)
        plan = df._jdf.queryExecution().optimizedPlan().toString()
        n = plan.count("md5")
        assert n <= bound, (
            f"{name}: {n} md5 sites in the optimized plan (bound {bound}) — "
            "an expression refactor reintroduced the CollapseProject blowup"
        )


def test_fixed_k_sample_take_ordered(spark):
    """sample_fixed_k_md5 claims no global sort at any scale: ORDER BY h
    LIMIT k must compile to TakeOrderedAndProject (per-partition top-k
    heaps + k-row driver merge), never Sort + GlobalLimit over a full
    exchange."""
    plan = _plan(spark, "sample_fixed_k_md5")
    assert "TakeOrderedAndProject" in plan, plan
    assert "rangepartitioning" not in plan.lower(), "global sort crept in"


def test_crossdoc_sort_free_hash_agg(spark):
    """text_crossdoc_substring r10 replan (VERDICT r09 #4): the heavy
    window-hash shuffle must be a HASH aggregate with a map-side partial
    below the exchange — never the r8 Window (shuffle + TOTAL SORT of
    every window instance). At sf0.001 the doc-level join broadcasts, so
    the whole plan is sort-free; at scale an SMJ sort of the |docs|-row
    metadata relation would be acceptable, but a Sort/Window over the
    window relation itself would be the regression this test pins out."""
    tree = _nodes(spark, "text_crossdoc_substring")
    assert "Window" not in tree, tree
    assert "Sort" not in tree, tree
    # partial + final for the w-agg, partial + final for the doc rollup
    assert tree.count("HashAggregate") >= 4, tree


def test_q3_default_plan_broadcasts_dims(spark):
    """tpch_q3_shipping_priority (VERDICT r10 #7): the sf10 A/B showed
    the default plan beating every forced alternative, and that
    optimality rests on the dims broadcasting while the lineitem fact
    shuffles ONCE (for the aggregate). Pin it: both join legs are
    broadcast hash joins, never SMJ, and the only exchange below the
    top-k is the aggregate's."""
    tree = _nodes(spark, "tpch_q3_shipping_priority")
    assert "BroadcastHashJoin" in tree, tree
    assert "SortMergeJoin" not in tree, tree
    assert "TakeOrderedAndProject" in tree, "global top-10 must be per-partition top-k"
    # one hash-partitioned exchange for the agg; the broadcast exchanges
    # are BroadcastExchange nodes, counted separately
    t = tree.replace("BroadcastExchange", "BX")
    assert t.count("Exchange") <= 1, tree


def test_q5_default_plan_broadcasts_dims(spark):
    """tpch_q5_local_supplier: all five joins broadcast at this sf (two
    by explicit hint, orders by the stats-routed hint, customer/supplier
    by size) — the fact table's only exchanges are the per-nation agg
    and the final ORDER BY over <=25 rows."""
    tree = _nodes(spark, "tpch_q5_local_supplier")
    assert "SortMergeJoin" not in tree, tree
    assert tree.count("BroadcastHashJoin") == 5, tree
    t = tree.replace("BroadcastExchange", "BX")
    assert t.count("Exchange") <= 2, tree


def test_q5_hints_survive_disabled_size_broadcasts(spark, monkeypatch):
    """The load-bearing part of VERDICT r10 #7: with BOTH size-based
    broadcast thresholds at -1, only hint-driven broadcasts remain.
    Since the r11 nation shrink that is all five joins at this sf —
    nation + region (explicit), the time-filtered orders dim, and the
    ASIA-shrunk customer/supplier slices (all three stats-routed from
    parquet footer metadata). With the stats gate refusing the shrunk
    slices — the path production takes when they exceed 512 MB — three
    hint broadcasts remain and customer/supplier degrade to shuffle
    joins, the 100 TB fallback for the sf-scaled tables. If a refactor
    drops any routing, a count changes."""
    from cloudtrail_streamer_spark.operators import tpch
    from cloudtrail_streamer_spark.session import conf_scope

    confs = {
        "spark.sql.autoBroadcastJoinThreshold": "-1",
        "spark.sql.adaptive.autoBroadcastJoinThreshold": "-1",
    }
    with conf_scope(spark, confs):
        tree = _nodes(spark, "tpch_q5_local_supplier")
        monkeypatch.setattr(tpch, "_keyed_dim_fits_broadcast", lambda *a: False)
        tree_gated = _nodes(spark, "tpch_q5_local_supplier")
    assert tree.count("BroadcastHashJoin") == 5, tree
    assert tree_gated.count("BroadcastHashJoin") == 3, tree_gated
    # gated customer/supplier legs fall back to shuffle joins — the
    # 100 TB shape when even the filtered slices exceed the stats gate
    assert (
        "SortMergeJoin" in tree_gated or "ShuffledHashJoin" in tree_gated
    ), tree_gated


def test_q5_nation_shrink_pushes_in_filters(spark):
    """r11 transitive nation shrink: the ASIA nationkey IN-list derived
    from the bounded nation/region dims must reach BOTH sf-scaled dim
    scans as pushed filters (guide §6 — predicate pushdown verified at
    the scan, not assumed), so customer/supplier ship ~1/5 of their
    rows into their joins."""
    from cloudtrail_streamer_spark.operators.tpch import _region_nation_keys

    keys = _region_nation_keys(SF, "ASIA")
    assert keys, "bounded nation/region dims must yield the ASIA keys"
    assert 0 < len(keys) < 25
    plan = _plan(spark, "tpch_q5_local_supplier")
    for col in ("c_nationkey", "s_nationkey"):
        assert any(
            f"In({col}" in ln and "PushedFilters" in ln
            for ln in plan.splitlines()
        ), f"{col} IN-list must push into the parquet scan:\n{plan}"


def test_filtered_ann_prunes_before_kernel(spark):
    """sim_search_filtered (VERDICT r10 #8): both pruning layers must
    sit below the scoring join — the probe's cell list as
    PartitionFilters on the index's centroid_id partition column
    (directories skipped) and the metadata predicate as PushedFilters
    on label (rows never reach the distance kernel)."""
    plan = _plan(spark, "sim_search_filtered")
    scan = plan[plan.index("PartitionFilters") :]
    assert "centroid_id" in scan.splitlines()[0], plan
    pushed = [ln for ln in plan.splitlines() if "PushedFilters" in ln and "label" in ln]
    assert pushed and any("In(label" in ln for ln in pushed), plan


def test_approx_sketches_not_rekeyed_by_distinct(spark):
    """r11: agg_approx / agg_approx_bounds must NOT fold countDistinct
    into the sketch agg — Catalyst's distinct rewrite re-keys the
    partial phase by (status, custkey), replicating the 16 KB
    rsd=0.01 HLL++ buffer per CUSTOMER group (52 s at sf0.1 for a
    3-row result). Every partial approx_count_distinct must aggregate
    by the 1-column status key only."""
    for name in ("agg_approx", "agg_approx_bounds"):
        plan = _plan(spark, name)
        blocks = [b for b in plan.split("\n\n") if "partial_approx_count_distinct" in b]
        assert blocks, f"{name}: HLL partial phase missing:\n{plan}"
        for b in blocks:
            assert "Keys [1]:" in b, (
                f"{name}: HLL partial must key on status alone, "
                f"not ride the distinct rewrite:\n{b}"
            )


def test_join_interval_day_bucket_equi_key(spark):
    """r11: join_interval must widen its 16-value mod key with the
    calendar-day bucket (orders exploded into the ≤8 days a 7-day
    window touches) — without it the hash join degenerates into a
    1/16-cross-join (102 s at sf0.1, quadratic in data size)."""
    plan = _plan(spark, "join_interval")
    assert "Generate" in _tree(plan), "orders must explode into day buckets"
    join_blocks = [
        b for b in plan.split("\n\n") if b.splitlines() and "Join" in b.splitlines()[0]
    ]
    assert join_blocks, plan
    assert any(
        "day_bucket" in b and "% 16)" in b for b in join_blocks
    ), f"join keys must be (mod-16, day_bucket):\n{plan}"


def test_join_null_safe_aggregates_before_join(spark):
    """r11: join_null_safe must pre-aggregate both sides to (key, count)
    BEFORE the null-safe join — joining the raw sides materializes
    ~|orders|²/4/51 pair rows (100 M at sf0.1) that the old groupBy
    immediately collapsed. The join itself must stay a null-safe HASH
    join (coalesce/isnull key pair), not a BNLJ."""
    plan = _plan(spark, "join_null_safe")
    tree = _tree(plan)
    assert tree.count("HashAggregate") == 4, f"partial+final agg per side:\n{tree}"
    join_line = next(ln for ln in tree.splitlines() if "Join" in ln)
    agg_line = next(ln for ln in tree.splitlines() if "HashAggregate" in ln)
    assert tree.index(join_line) < tree.index(agg_line), (
        f"aggregates must sit BELOW the join:\n{tree}"
    )
    assert "coalesce(ka" in plan and "isnull(ka" in plan, (
        f"null-safe equality must stay a hash-join key:\n{plan}"
    )


def test_udaf_kernels_grouped_by_scale_adaptive_bucket(spark):
    """r11: the grouped/cogrouped pandas kernels must group by the
    pmod(xxhash64(user_id), n) bucket, not raw user_id — one Python
    invocation per ~100k-row bucket instead of per ~13-row user (12 s →
    0.45 s for the cogrouped asof at sf0.1, identical output)."""
    from cloudtrail_streamer_spark.operators.udfs import _buckets_for_rows, _kernel_buckets

    plan = _plan(spark, "udaf_cogrouped_asof")
    assert "FlatMapCoGroupsInPandas" in plan
    assert "pmod(xxhash64(user_id" in plan, plan
    plan2 = _plan(spark, "udaf_applyinpandas")
    assert "FlatMapGroupsInPandas" in plan2
    assert "pmod(xxhash64(user_id" in plan2, plan2
    # bucket count grows with rows and respects the floor
    assert _kernel_buckets(SF, "events") == 16
    assert _kernel_buckets("/root/testdata/sf0.1", "events", target_rows=1000) == 100
    # r12 (VERDICT r11 #5): rows-per-bucket is BOUNDED as data scales —
    # for any row count above the floor regime, ceil(n/target) buckets
    # keep every bucket's expected slice at <= target_rows, so the
    # per-kernel pandas frame (and hence worker memory) stays flat at
    # 100 TB instead of growing with the table. Verified across four
    # decades of synthetic counts through the row-count -> bucket step
    # _kernel_buckets itself uses (the measured-RSS evidence at
    # sf0.1/sf1/sf10 lives in OPTIMIZATION_r12.md §"kernel memory audit").
    for n in (10**5, 10**6, 10**7, 10**8):
        assert n / _buckets_for_rows(n) <= 100_000


def test_median_quantile_single_percentile_buffer(spark):
    """r11: one percentile(col, array(q1,q2,q3)) call — three separate
    percentile calls each built an independent value-count map over the
    same column (12 call sites in the old plan, 3 buffers)."""
    plan = _plan(spark, "agg_median_quantile")
    assert plan.count("percentile(") == 4, plan  # partial+final × tree+detail


def test_quantize_single_cast_minmax_site(spark):
    """r11 let-binding: array_min/array_max of the cast array must be
    bound once per row (the old plan re-evaluated them — and the cast —
    per element inside the codes lambda: O(d²) per row)."""
    plan = _plan(spark, "embed_quantize_int8")
    assert plan.count("array_min") == 1, plan
    assert plan.count("array_max") == 1, plan


def test_neardup_single_dot_per_pair(spark):
    """r11: per candidate pair exactly ONE zip_with dot — norms are
    precomputed per vector below the join and the score is let-bound
    behind an explode barrier so the threshold filter doesn't
    re-evaluate the cosine (6 zip_with sites → 3: pair dot + one norm
    per side)."""
    plan = _plan(spark, "embed_neardup_cosine")
    assert plan.count("zip_with") <= 3, plan
    assert "Generate" in _tree(plan), "explode barrier must survive"
