"""Physical-plan assertions: the scale properties we designed for must
be visible in the optimized plans, not just claimed in docstrings.
Guards against regressions that stay correct but stop scaling (a lost
pushdown or a join that silently degrades to cartesian)."""

from __future__ import annotations

import pytest

from e2e_data_pipeline_spark.operators import QUERIES
from tests.conftest import SF_SMALL


def plan_of(spark, name: str) -> str:
    df = QUERIES[name](spark, SF_SMALL)
    return df._jdf.queryExecution().explainString(
        spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
    )


def test_filter_pushdown_reaches_scan(spark):
    plan = plan_of(spark, "filter_ne")
    assert "PushedFilters" in plan
    assert "GreaterThanOrEqual(l_discount,0.05)" in plan
    assert "Not(EqualTo(l_quantity,0.0))" in plan


def test_column_pruning_reaches_scan(spark):
    plan = plan_of(spark, "filter_ne")
    # only the 5 projected columns may be read
    read = [l for l in plan.splitlines() if "ReadSchema" in l][0]
    assert "l_extendedprice" in read and "l_tax" not in read and "l_shipdate" not in read


def test_dimension_joins_are_broadcast(spark):
    plan = plan_of(spark, "join_broadcast")
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan


def test_multiway_join_pushes_region_filter(spark):
    plan = plan_of(spark, "join_multiway")
    assert "In(r_name, [ASIA,EUROPE])" in plan
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan


def test_partition_pruning_on_orderdate(spark):
    plan = plan_of(spark, "join_multiway")
    assert "GreaterThanOrEqual(o_orderdate,1996-01-01" in plan


def test_theta_join_is_broadcast_not_cartesian(spark):
    plan = plan_of(spark, "join_theta_range")
    assert "BroadcastNestedLoopJoin" in plan
    assert "CartesianProduct" not in plan


def test_topk_is_window_not_global_sort(spark):
    plan = plan_of(spark, "win_topk_per_group")
    # per-group rank limit: WindowGroupLimit pushes k into the sort
    assert "WindowGroupLimit" in plan


def test_sort_limit_is_take_ordered(spark):
    plan = plan_of(spark, "sort_limit")
    assert "TakeOrderedAndProject" in plan  # k-heap per partition, no full sort


def test_grouped_agg_has_partial_phase(spark):
    plan = plan_of(spark, "agg_groupby")
    # map-side combine: a HashAggregate below the Exchange
    lines = plan.splitlines()
    agg_idx = [i for i, l in enumerate(lines) if "HashAggregate" in l]
    ex_idx = [i for i, l in enumerate(lines) if "Exchange" in l and "Broadcast" not in l]
    assert agg_idx and ex_idx
    assert max(agg_idx) > min(ex_idx), "expected partial aggregate below the shuffle"


def test_sim_topk_broadcasts_queries(spark):
    plan = plan_of(spark, "sim_topk")
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan


def test_bucketed_join_has_no_shuffle(spark):
    # Both sides bucketed by the join key: sort-merge join AND the
    # following same-key groupBy must run without any hash exchange.
    plan = plan_of(spark, "sink_bucketed")
    assert "SortMergeJoin" in plan
    assert "Bucketed: true" in plan
    assert "Exchange hashpartitioning" not in plan


def test_salted_join_spreads_hot_keys(spark):
    # The salted join must shuffle on (key, salt), not the bare key —
    # that's the property that splits a hot key across partitions.
    plan = plan_of(spark, "join_skew_salted")
    exchanges = [l for l in plan.splitlines() if "hashpartitioning" in l]
    assert any("salt" in l and "user_id" in l for l in exchanges)
    assert "CartesianProduct" not in plan


def test_partitioned_sink_reread_prunes_partitions(spark):
    # The re-read after the partitioned write must prune directories:
    # the l_returnflag=R filter shows up as a PartitionFilter, and the
    # partition columns must NOT appear in the data ReadSchema.
    plan = plan_of(spark, "sink_parquet_partitioned")
    part_lines = [l for l in plan.splitlines() if "PartitionFilters" in l]
    assert any("l_returnflag" in l and "R" in l for l in part_lines)
    read = [
        l
        for l in plan.splitlines()
        if "ReadSchema" in l and "l_extendedprice" in l
    ][0]
    assert "l_returnflag" not in read


def test_daypartitioned_scan_prunes_directories(spark):
    # Date-partitioned-at-rest: the day range must be a PARTITION
    # filter (directory pruning — no file open, no footer read for
    # out-of-range days), day must come from the path (absent from
    # the data ReadSchema), and nothing may fall back to a post-scan
    # Filter on day.
    plan = plan_of(spark, "scan_partition_pruned")
    part_lines = [l for l in plan.splitlines() if "PartitionFilters" in l]
    assert any(
        "day" in l and "2024-01-10" in l and "2024-01-12" in l for l in part_lines
    ), f"day range not in PartitionFilters: {part_lines}"
    read = [l for l in plan.splitlines() if "ReadSchema" in l][0]
    assert "day" not in read, "partition column leaked into data ReadSchema"


def test_asof_join_is_linear_not_quadratic(spark):
    # The as-of join must be the union+window formulation (one shuffle
    # on the key), never an inequality join, which plans as a nested
    # loop and explodes quadratically.
    plan = plan_of(spark, "join_asof")
    assert "Window" in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan


def test_gapfill_has_no_cartesian(spark):
    # Grid generation must come from per-key bounds (explode), not a
    # calendar cross join against the fact table.
    plan = plan_of(spark, "ts_gapfill")
    assert "Generate" in plan  # explode of the per-key bounds sequence
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_grouping_sets_single_scan(spark):
    # GROUPING SETS must expand in one pass — exactly one lineitem
    # scan node, with the Expand operator doing the set duplication.
    import re

    plan = plan_of(spark, "agg_grouping_sets")
    scan_nodes = re.findall(r"\(\d+\) Scan parquet", plan)
    assert len(scan_nodes) == 1
    assert "Expand" in plan


def test_rebalanced_agg_keeps_pushdown(spark):
    # agg_groupby opts into the layout-aware post-scan rebalance; the
    # shipdate filter and column pruning must still reach the scan
    # below the round-robin exchange.
    plan = plan_of(spark, "agg_groupby")
    assert "LessThanOrEqual(l_shipdate,2001-09-02" in plan
    read = [l for l in plan.splitlines() if "ReadSchema" in l][0]
    assert "l_comment" not in read and "l_orderkey" not in read


def test_rebalance_noop_for_small_tables(spark):
    # Small dims must not pay a rebalance shuffle (size gate).
    from e2e_data_pipeline_spark.catalog import load_table
    from tests.conftest import SF_SMALL

    df = load_table(spark, SF_SMALL, "nation", parallelize_scan=True)
    assert "Repartition" not in df._jdf.queryExecution().logical().toString()


def test_disjunctive_predicate_factored_into_both_scans(spark):
    # Q19's OR-of-ANDs spans lineitem and part; Catalyst must factor
    # the single-table halves out of the disjunction and push them into
    # EACH scan (quantity range → lineitem, brand/size → part), leaving
    # only the mixed residual on the join.
    plan = plan_of(spark, "join_q19_disjunct")
    li_scans = [l for l in plan.splitlines()
                if "PushedFilters" in l and "l_quantity" in l]
    part_scans = [l for l in plan.splitlines()
                  if "PushedFilters" in l and "p_brand" in l]
    assert li_scans, "quantity disjunction not pushed to lineitem scan"
    assert part_scans, "brand disjunction not pushed to part scan"
    assert "CartesianProduct" not in plan


def test_q18_semi_join_probes_aggregated_side(spark):
    # The HAVING-subquery must plan as a LeftSemi join whose build side
    # is the pre-aggregated lineitem (shrunk before the join), not a
    # row-level semi join against raw lineitem.
    plan = plan_of(spark, "join_q18_big_orders")
    assert "LeftSemi" in plan
    assert "CartesianProduct" not in plan


def test_q13_outer_join_condition_pushes_to_inner_side(spark):
    # The priority predicate lives in the OUTER join's ON clause; it
    # must still push into the orders (inner-side) scan — filtering the
    # preserved side would be wrong, filtering the null-producing side
    # is free.
    plan = plan_of(spark, "join_q13_custdist")
    pushed = [l for l in plan.splitlines()
              if "PushedFilters" in l and "o_orderpriority" in l]
    assert pushed, "join-condition predicate not pushed to orders scan"
    read = [l for l in plan.splitlines()
            if "ReadSchema" in l and "c_custkey" in l][0]
    assert "c_name" not in read and "c_acctbal" not in read


def test_q4_semi_join_with_inequality_residual(spark):
    # The EXISTS must plan as LeftSemi driven by the order-key equi
    # condition (never a cartesian product for the date inequality),
    # with the quarter filter pushed into the orders scan.
    plan = plan_of(spark, "join_q4_priority")
    assert "LeftSemi" in plan
    assert "CartesianProduct" not in plan
    pushed = [l for l in plan.splitlines()
              if "PushedFilters" in l and "o_orderdate" in l]
    assert any("1996-01-01" in l for l in pushed)


def test_q7_aliased_nation_broadcasts_twice(spark):
    # nation joins the pipeline twice under different aliases; both
    # must broadcast, and the 2-year shipdate range must reach the
    # lineitem scan.
    plan = plan_of(spark, "join_q7_volume")
    assert plan.count("BroadcastHashJoin") >= 2
    pushed = [l for l in plan.splitlines()
              if "PushedFilters" in l and "l_shipdate" in l]
    assert pushed, "shipdate range not pushed to lineitem scan"


def test_q15_scalar_max_broadcasts_no_global_sort(spark):
    # The MAX(total_revenue) threshold must come back as a broadcast
    # 1-row frame — not a window over an unpartitioned frame (single
    # task) and not a global sort.
    plan = plan_of(spark, "join_q15_top_supplier")
    assert "Window" not in plan
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastExchange" in plan


def test_q21_per_order_stats_replace_self_joins(spark):
    # The EXISTS + NOT EXISTS pair must collapse into one per-order
    # aggregation joined back on the key: expect hash aggregates over
    # l_orderkey and no cartesian/broadcast-nested-loop blowup.
    plan = plan_of(spark, "join_q21_sole_blame")
    assert "CartesianProduct" not in plan
    assert "LeftSemi" in plan  # orders-status filter applied as semi join


def test_q22_anti_join_reads_filtered_orders(spark):
    # Dormancy anti join: the date cutoff must reach the orders scan
    # (at real scale that is the partition-pruning path), and the
    # scalar-average comparison must not force a join on the fact side.
    plan = plan_of(spark, "join_q22_dormant")
    pushed = [l for l in plan.splitlines()
              if "PushedFilters" in l and "o_orderdate" in l]
    assert any("2000-01-01" in l for l in pushed)
    assert "LeftAnti" in plan


@pytest.mark.parametrize(
    "name", ["agg_groupby", "join_shuffle", "filter_ne", "win_rank"]
)
def test_whole_stage_codegen_active(spark, name):
    # AQE wraps the pre-execution plan in AdaptiveSparkPlan, which hides
    # codegen subtrees until runtime; assert on the static plan instead.
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try:
        df = QUERIES[name](spark, SF_SMALL)
        plan = df._jdf.queryExecution().explainString(
            spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("codegen")
        )
    finally:
        spark.conf.set("spark.sql.adaptive.enabled", "true")
    assert "WholeStageCodegen subtrees" in plan
    assert "Found 0 WholeStageCodegen" not in plan


def test_scd2_windows_share_one_shuffle(spark):
    # Both window passes partition on user_id; the plan must contain
    # exactly ONE hash exchange — the lead window reuses the lag
    # window's partitioning (and its sort, filter permitting).
    import re

    plan = plan_of(spark, "scd2_history")
    exchanges = re.findall(r"\(\d+\) Exchange", plan)
    assert len(exchanges) == 1, f"expected 1 exchange, plan has {len(exchanges)}"


def test_q6_predicates_push_to_scan_and_schema_prunes(spark):
    """Q6 is the pushdown showcase: all three predicates must reach the
    parquet scan and only the four referenced columns may be read."""
    plan = plan_of(spark, "agg_q6_forecast")
    assert "PushedFilters" in plan
    assert "GreaterThanOrEqual(l_discount,0.05)" in plan
    assert "LessThan(l_quantity,24.0)" in plan
    read = [l for l in plan.splitlines() if "ReadSchema" in l][0]
    assert "l_extendedprice" in read and "l_partkey" not in read


def test_q2_window_min_no_cartesian(spark):
    """Q2's correlated MIN must be a window over the aggregated
    (part, supplier) frame — never a self-join blowup or cartesian."""
    plan = plan_of(spark, "join_q2_mincost")
    assert "CartesianProduct" not in plan
    assert "Window" in plan
    assert "BroadcastHashJoin" in plan


def test_q20_semi_joins_no_cartesian(spark):
    """Q20's nested-IN chain must compile to semi joins over the
    pre-aggregated quantity frames."""
    plan = plan_of(spark, "join_q20_excess")
    assert "CartesianProduct" not in plan
    assert "LeftSemi" in plan


def test_python_ds_partition_count_scales_with_rows(spark):
    """The custom connector's declared ranges must drive task
    parallelism (no single-cursor scan)."""
    from e2e_data_pipeline_spark.sources.python_ds import register_python_sources

    register_python_sources(spark)
    df = (
        spark.read.format("synthetic_events")
        .option("rows", "100000")
        .option("rowsPerPartition", "12500")
        .load()
    )
    assert df.rdd.getNumPartitions() == 8


def _n_exchange_nodes(plan: str) -> int:
    # formatted explain lists every node twice (tree + details); count
    # unique "(k) Exchange" detail headers instead.
    import re

    return len(set(re.findall(r"^\((\d+)\) Exchange", plan, re.M)))


def test_funnel_two_windows_share_one_shuffle(spark):
    """Both funnel window passes AND the per-user aggregation partition
    on user_id — one exchange serves all three; the only other exchange
    is the O(4)-row depth histogram."""
    plan = plan_of(spark, "win_funnel_path")
    assert _n_exchange_nodes(plan) == 2, plan
    # no re-shuffle between the two Window nodes: they appear back to
    # back in the tree with only the shared sort below.
    import re

    tree = plan.split("\n\n")[0]
    win_lines = [i for i, l in enumerate(tree.splitlines()) if "Window" in l]
    between = tree.splitlines()[win_lines[0] : win_lines[-1]]
    assert not any("Exchange" in l for l in between), plan


def test_ohlc_window_shares_groupby_exchange(spark):
    """The OHLC window partitions on the same (user, hour) key as the
    final groupBy, so one exchange serves both."""
    plan = plan_of(spark, "ts_ohlc_bars")
    assert _n_exchange_nodes(plan) == 1, plan


def test_runtime_bloom_filter_semi_join_reduction(spark):
    """Spark injects a runtime bloom filter (bloom_filter_agg on the
    filtered build side, might_contain on the probe scan) for selective
    shuffle joins — the semi-join-reduction mechanism that prunes probe
    I/O at 100 TB. Fixture tables sit under the size thresholds, so the
    test lowers them to prove the mechanism is available and wired; at
    production scale the stock thresholds (10 GB scan side) fire on
    their own."""
    from pyspark.sql import functions as F

    confs = {
        "spark.sql.optimizer.runtime.bloomFilter.enabled": "true",
        "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold": "0",
        "spark.sql.autoBroadcastJoinThreshold": "-1",
    }
    old = {k: spark.conf.get(k, None) for k in confs}
    try:
        for k, v in confs.items():
            spark.conf.set(k, v)
        orders = (
            spark.read.parquet(f"{SF_SMALL}/orders.parquet")
            .where(F.col("o_orderpriority") == "1-URGENT")
        )
        li = spark.read.parquet(f"{SF_SMALL}/lineitem.parquet")
        j = (
            li.join(orders, li.l_orderkey == orders.o_orderkey)
            .groupBy("o_orderpriority")
            .count()
        )
        optimized = j._jdf.queryExecution().optimizedPlan().toString()
        assert "bloom_filter_agg" in optimized
        assert "might_contain" in optimized
    finally:
        for k, v in old.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


def test_range_binned_join_is_hash_not_nested_loop(spark):
    """The binned interval join must plan as an equi hash/sort-merge
    join on (user, bin) — never a nested loop, which is what the raw
    interval predicate degenerates to."""
    plan = plan_of(spark, "join_range_binned")
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan
    # hash join driven by the (user, bin) equi keys; at fixture size the
    # build side broadcasts, at scale the same keys drive the shuffle.
    assert "HashJoin" in plan or "SortMergeJoin" in plan
    key_lines = [l for l in plan.splitlines() if "keys" in l.lower()]
    assert any("user_id" in l and "bin_j" in l for l in key_lines), plan


def test_cap_per_group_rank_limits_before_shuffle(spark):
    """sample_cap_per_group must show a map-side WindowGroupLimit under
    the exchange: each input partition stops its groups at K rows
    before any data moves, so the shuffle carries O(K x groups) rows —
    the property that makes a per-domain cap feasible at 100 TB."""
    plan = plan_of(spark, "sample_cap_per_group")
    pre_exchange = plan.split("Exchange")[0]
    assert "WindowGroupLimit" in pre_exchange
    assert "CartesianProduct" not in plan


def test_countmin_probe_join_is_broadcast(spark):
    """agg_countmin_freq's probe joins the 256-cell sketch — must be a
    broadcast hash join (the sketch is tiny by construction), never a
    shuffle of the probe side against it."""
    plan = plan_of(spark, "agg_countmin_freq")
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan


def test_bigrams_aggregate_has_partial_phase(spark):
    """text_ngram_bigrams: the (lang, bigram) count must partial-
    aggregate map-side so the shuffle carries vocabulary cells, not
    one row per token pair."""
    plan = plan_of(spark, "text_ngram_bigrams")
    # The formatted tree prints top-down, so positional slicing lies;
    # assert the partial phase via the node details instead.
    assert "partial_count" in plan
    assert "CartesianProduct" not in plan


def test_interp_windows_collapse_to_one_operator(spark):
    """ts_interp_linear's four window expressions (last/first over the
    backward and forward unbounded frames) share one partitioning and
    ordering, so Catalyst must fuse them into a SINGLE Window operator
    over a single sort — not one sort+shuffle per frame direction."""
    plan = plan_of(spark, "ts_interp_linear")
    assert plan.count("Window (") == 1, plan
    assert "CartesianProduct" not in plan


def test_recon_fuzzy_is_hash_join_on_buckets(spark):
    """join_recon_fuzzy must hash-join on the exploded amount bucket —
    a BETWEEN-over-expressions formulation silently degenerates to a
    nested-loop join (observed 15x slower at sf0.1)."""
    plan = plan_of(spark, "join_recon_fuzzy")
    assert "SortMergeJoin" in plan or "ShuffledHashJoin" in plan or (
        "BroadcastHashJoin" in plan
    )
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan


def test_cbo_reorders_star_join_by_stats(spark):
    """CostBasedJoinReorder must rewrite the deliberately-bad join
    order (lineitem first) so the filtered customer dim joins before
    lineitem — and must NOT rewrite when CBO/stats are off."""
    from e2e_data_pipeline_spark.operators.joins import _cbo_materialize

    df = QUERIES["join_cbo_reorder"](spark, SF_SMALL)
    plan = df._jdf.queryExecution().optimizedPlan().toString()
    li = plan.index(".lineitem")
    assert plan.index(".orders") < li and plan.index(".customer") < li, (
        "with stats + CBO, orders⋈customer should join before lineitem"
    )
    # Control: identical SQL with CBO off keeps the written order
    # (lineitem joined first) — proves the reorder was stats-driven.
    db = _cbo_materialize(spark, SF_SMALL)
    ctrl = spark.sql(
        f"""
        SELECT c.c_mktsegment, COUNT(*) AS n
        FROM {db}.lineitem l
        JOIN {db}.orders o   ON l.l_orderkey = o.o_orderkey
        JOIN {db}.customer c ON o.o_custkey  = c.c_custkey
        WHERE c.c_mktsegment IN ('BUILDING', 'MACHINERY')
        GROUP BY c.c_mktsegment
        """
    )
    p2 = ctrl._jdf.queryExecution().optimizedPlan().toString()
    assert p2.index(".lineitem") < p2.index(".customer")


def test_geo_grid_join_is_hash_not_nested_loop(spark):
    """The 2-D radius join must run as an equi-join on grid cells —
    a raw band predicate would degrade to BroadcastNestedLoopJoin."""
    plan = plan_of(spark, "join_geo_grid")
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan
    assert ("SortMergeJoin" in plan) or ("HashJoin" in plan)


def test_dynamic_partition_pruning_fires(spark):
    """join_dpp_prune's fact scan must carry a dynamicpruning
    subquery on its partition filters — proof the runtime dim result
    prunes directories, not just rows."""
    df = QUERIES["join_dpp_prune"](spark, SF_SMALL)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "dynamicpruning" in plan.lower()


def test_runtime_bloom_filter_injected(spark):
    """join_bloom_runtime must carry a bloom_filter_agg on the
    creation side and a might_contain probe on the application side
    below the pre-aggregation shuffle."""
    df = QUERIES["join_bloom_runtime"](spark, SF_SMALL)
    plan = df._jdf.queryExecution().optimizedPlan().toString()
    assert "bloom_filter_agg" in plan
    assert "might_contain" in plan


def test_runtime_bloom_executes_without_broadcast(spark):
    """join_bloom_runtime disables broadcast to model a dimension too
    big to broadcast; the conf must still hold when the returned
    DataFrame is executed, not only when it was built."""
    df = QUERIES["join_bloom_runtime"](spark, SF_SMALL)
    df.collect()
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "isFinalPlan=true" in plan
    assert "BroadcastHashJoin" not in plan
    assert "SortMergeJoin" in plan or "ShuffledHashJoin" in plan


def test_jdbc_filters_are_pushed_to_database(spark):
    """scan_jdbc_pushdown's predicate must reach the JDBCRelation as
    PushedFilters — rows are filtered inside the database, not after
    crossing the wire."""
    df = QUERIES["scan_jdbc_pushdown"](spark, SF_SMALL)
    plan = df._jdf.queryExecution().explainString(
        spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
            "formatted"
        )
    )
    assert "JDBCRelation" in plan
    assert "GreaterThan(C_ACCTBAL,1000.0)" in plan.replace("c_acctbal", "C_ACCTBAL")
    assert "EqualTo" in plan and "BUILDING" in plan


def test_cached_table_reads_from_memory(spark):
    """scan_cached_table must scan the in-memory columnar cache, not
    re-read parquet."""
    df = QUERIES["scan_cached_table"](spark, SF_SMALL)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "InMemoryTableScan" in plan


def test_join_hint_strategy_matrix(spark):
    """Each join-strategy hint must produce its physical operator —
    the knobs a 100 TB tuning session actually turns."""
    from e2e_data_pipeline_spark.catalog import load_table

    orders = load_table(spark, SF_SMALL, "orders")
    li = load_table(spark, SF_SMALL, "lineitem")
    cases = [
        ("BROADCAST", "BroadcastHashJoin"),
        ("SHUFFLE_MERGE", "SortMergeJoin"),
        ("SHUFFLE_HASH", "ShuffledHashJoin"),
    ]
    for hint, op in cases:
        j = li.join(orders.hint(hint), li.l_orderkey == orders.o_orderkey)
        plan = j._jdf.queryExecution().executedPlan().toString()
        assert op in plan, f"hint {hint} did not produce {op}"


def test_aqe_splits_skewed_join_partition(spark):
    """AQE's OptimizeSkewedJoin must split a pathological hot-key
    partition at RUNTIME (skew=true in the final adaptive plan) — the
    no-code-change companion to the explicit join_skew_salted rewrite.
    Thresholds are scoped down because the probe data is small; the
    mechanism is identical at 100 TB defaults."""
    import pyspark.sql.functions as F

    keys = [
        "spark.sql.autoBroadcastJoinThreshold",
        "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes",
        "spark.sql.adaptive.advisoryPartitionSizeInBytes",
        "spark.sql.adaptive.skewJoin.skewedPartitionFactor",
    ]
    prev = {k: spark.conf.get(k, None) for k in keys}
    try:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        spark.conf.set(
            "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes",
            "64KB",
        )
        spark.conf.set("spark.sql.adaptive.advisoryPartitionSizeInBytes", "16KB")
        spark.conf.set("spark.sql.adaptive.skewJoin.skewedPartitionFactor", "2")
        left = spark.range(0, 60000).select(
            F.when(F.col("id") % 20 != 0, 7)
            .otherwise(F.col("id") % 97)
            .alias("k"),
            F.col("id").alias("v"),
        )
        right = spark.range(0, 100).select(
            F.col("id").alias("k"), (F.col("id") * 2).alias("w")
        )
        j = left.join(right, "k").select("k", (F.col("v") + F.col("w")).alias("z"))
        # Execute THIS DataFrame's own QueryExecution: AQE finalizes the
        # adaptive plan only on the executed QE (count() would build a
        # different one).
        assert len(j.toPandas()) == 60000
        plan = j._jdf.queryExecution().executedPlan().toString()
        assert "skew=true" in plan.lower()
    finally:
        for k, v in prev.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


def test_sequence_ops_use_a_single_shuffle(spark):
    """win_sessionize_gap and cdc_apply_log each promise ONE
    user-keyed shuffle serving every window pass and aggregation —
    the property that keeps sequence analytics linear at 100 TB."""
    for name in ("win_sessionize_gap", "cdc_apply_log"):
        plan = plan_of(spark, name)
        n_shuffles = sum(
            1
            for line in plan.splitlines()
            if line.strip().startswith("(")
            and "Exchange" in line
            and "Broadcast" not in line
            and "Reused" not in line
        )
        assert n_shuffles == 1, f"{name}: {n_shuffles} shuffles, expected 1"


def test_ip_cidr_routing_table_is_broadcast(spark):
    # the CIDR block table must classify via a broadcast nested loop /
    # broadcast join — a shuffle on the fact side would be a scale bug
    plan = plan_of(spark, "fn_ip_cidr")
    assert "Broadcast" in plan
    assert "SortMergeJoin" not in plan


def test_kmeans_assign_is_broadcast_per_iteration(spark):
    # every Lloyd assign pass joins points against broadcast centroids;
    # no iteration may degrade to a shuffled join of the point set
    plan = plan_of(spark, "ml_kmeans_lloyd")
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_triangle_join_is_hash_not_nested_loop(spark):
    # two-hop triangle closure must run as equi-joins on edge endpoints
    # (the only nested-loop joins allowed are the 1-row scalar
    # aggregates folded into the final output row)
    plan = plan_of(spark, "graph_triangles")
    assert "CartesianProduct" not in plan
    assert "BroadcastHashJoin" in plan or "SortMergeJoin" in plan


def test_cooccur_pairs_join_and_topk_shape(spark):
    # pair generation is an equi-join on doc_id; the top-20 must be a
    # TakeOrderedAndProject, never a global sort of the pair set
    plan = plan_of(spark, "text_cooccur_lift")
    assert "TakeOrderedAndProject" in plan
    assert "CartesianProduct" not in plan


def test_interval_overlap_join_is_hash_on_buckets(spark):
    # the interval self-join must run as an equi-join on (day, hour)
    # buckets — the naive theta form degrades to a nested loop
    plan = plan_of(spark, "join_interval_overlap")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "BroadcastHashJoin" in plan or "SortMergeJoin" in plan


def test_permutation_replicates_pre_reduce_before_shuffle(spark):
    # the 100x replicate explode must partial-aggregate map-side: the
    # plan needs a partial HashAggregate below the exchange
    plan = plan_of(spark, "stats_permutation_test")
    assert "HashAggregate" in plan
    assert "CartesianProduct" not in plan


def test_kmv_topk_uses_window_group_limit(spark):
    # the per-group 64-smallest must push the rank limit into the sort
    plan = plan_of(spark, "agg_kmv_sketch")
    assert "WindowGroupLimit" in plan
    assert "CartesianProduct" not in plan


def test_semantic_det_centroids_broadcast(spark):
    # the IVF assign pass joins points against broadcast centroids;
    # the candidate/verify stages must all be equi-joins
    plan = plan_of(spark, "dedup_semantic_det")
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan


def test_attribution_touch_join_is_hash_on_user(spark):
    # the time-banded touch join must hash on user_id (band condition
    # as residual), never degrade to a nested loop over events
    plan = plan_of(spark, "agg_attribution_linear")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "BroadcastHashJoin" in plan or "SortMergeJoin" in plan


def test_abc_classification_single_scan(spark):
    # the revenue agg is computed once and pinned by global_rank's
    # localCheckpoint; the returned frame rides the checkpointed RDD
    # (no parquet re-scan, no cartesian)
    import re

    plan = plan_of(spark, "agg_abc_classification")
    scans = re.findall(r"\(\d+\) Scan parquet", plan)
    assert len(scans) == 0, f"expected 0 parquet scans, saw {len(scans)}"
    assert "Scan ExistingRDD" in plan
    assert "CartesianProduct" not in plan


GLOBAL_RANK_KEYS = [
    "agg_var_es",
    "agg_lorenz_points",
    "agg_abc_classification",
    "agg_cr4",
    "agg_rfm_segmentation",
    "agg_decile_lift",
    # round-5: the five row-grain windows distributed per VERDICT r4
    "stats_cvm_2sample",
    "ml_conformal_interval",
    "ts_burstiness",
    "ts_mtbf_mttr",
    "dq_id_gaps",
]


@pytest.mark.parametrize("key", GLOBAL_RANK_KEYS)
def test_entity_grain_ranks_are_distributed(spark, key):
    # the six formerly-global-sort ops must rank via the two-pass
    # global_rank construction: every Window node partitioned by
    # __pid (no single-partition WindowExec), the rank shuffle a
    # 32-way hashpartitioning, and the only SinglePartition exchanges
    # the partial->final cells of global aggregates (never feeding a
    # Sort or Window)
    import re

    plan = plan_of(spark, key)
    assert "hashpartitioning(__pid" in plan, f"{key}: rank shuffle missing"
    for m in re.finditer(r"windowspecdefinition\((\w+)", plan):
        assert m.group(1).startswith("__pid"), (
            f"{key}: unpartitioned window over {m.group(1)}"
        )
    # an Exchange SinglePartition followed (tree-wise) by Sort/Window
    # would be the old trap; in the formatted tree the offender shows
    # as a Sort/Window node whose child is that exchange
    tree = plan.split("\n\n")[0]
    lines = tree.splitlines()
    for i, line in enumerate(lines):
        if "Window" in line or re.search(r"\bSort\b", line):
            below = "\n".join(lines[i + 1 : i + 3])
            assert "SinglePartition" not in below, (
                f"{key}: sort/window fed by a single-partition exchange"
            )


def test_drill_across_facts_never_meet_row_level(spark):
    """join_drill_across must aggregate each fact to the conformed
    grain BEFORE any join: both fact aggregates carry a partial
    HashAggregate below their exchange, the dim joins are
    BroadcastHashJoin, and no join input is an un-aggregated fact
    scan pair (no fact x fact fan-out)."""
    plan = plan_of(spark, "join_drill_across")
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan
    assert "CartesianProduct" not in plan
    # partial aggregation below the shuffle for both facts
    assert plan.count("HashAggregate") >= 4


def test_distinct_on_mapping_has_no_window_sort(spark):
    """sql_distinct_on's max_by translation must be one
    partial-aggregable shuffle: no Window, no global Sort."""
    plan = plan_of(spark, "sql_distinct_on")
    assert "Window" not in plan
    assert "rangepartitioning" not in plan
    assert "ObjectHashAggregate" in plan or "SortAggregate" in plan


def test_connected_components_round_is_key_partitioned(spark):
    """graph_connected_components' propagation round must be
    hash-join based (no BroadcastNestedLoop/Cartesian from the
    neighbour lookup)."""
    from pyspark.sql import functions as F

    from e2e_data_pipeline_spark.operators.llm_dedup import (
        _copurchase_edges,
    )

    edges = _copurchase_edges(spark, SF_SMALL)
    und = edges.select(
        F.col("p1").alias("u"), F.col("p2").alias("v")
    ).unionAll(
        edges.select(F.col("p2").alias("u"), F.col("p1").alias("v"))
    ).localCheckpoint()
    lab = (
        und.select(F.col("u").alias("node"))
        .distinct()
        .select("node", F.col("node").alias("lab"))
        .localCheckpoint()
    )
    one_round = (
        lab.join(und, lab.node == und.u)
        .join(
            lab.select(
                F.col("node").alias("vnode"), F.col("lab").alias("vlab")
            ),
            F.col("v") == F.col("vnode"),
        )
        .groupBy("node")
        .agg(F.least(F.min("lab"), F.min("vlab")).alias("lab"))
    )
    plan = one_round._jdf.queryExecution().explainString(
        spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
            "formatted"
        )
    )
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_sort_within_partitions_adds_no_exchange(spark):
    """sort_partial_cluster must plan a LOCAL sort (global=false)
    with no Exchange introduced above the scan."""
    plan = plan_of(spark, "sort_partial_cluster")
    assert "Sort" in plan
    # a GLOBAL sort would require a range-partitioning Exchange; its
    # absence proves the sort stayed partition-local
    assert "Exchange" not in plan
    assert "rangepartitioning" not in plan


def test_exists_trio_plans_semi_and_anti(spark):
    """subq_exists_trio: EXISTS -> semi join, NOT EXISTS -> anti
    join, both hash-based (no nested-loop correlation)."""
    plan = plan_of(spark, "subq_exists_trio")
    assert "LeftSemi" in plan
    assert "LeftAnti" in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan


def test_cci_mad_join_is_equi_not_nested_loop(spark):
    # The 20-row rolling-MAD lookback is exploded into candidate row
    # numbers and equi-joined; a BETWEEN join here would plan as
    # BroadcastNestedLoopJoin (the repo-wide bucketed-join rule).
    plan = plan_of(spark, "win_cci")
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan


def test_mood_median_rank_is_range_partitioned(spark):
    # The grand-median rank must come from the distributed global_rank
    # two-pass (per-__pid window over the checkpointed range layout),
    # never a single-partition global window.
    plan = plan_of(spark, "stats_mood_median")
    assert "windowspecdefinition(__pid" in plan


def test_matryoshka_query_side_is_broadcast(spark):
    plan = plan_of(spark, "sim_matryoshka_probe")
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan


def test_eoq_dim_join_is_broadcast(spark):
    plan = plan_of(spark, "agg_eoq")
    assert "BroadcastHashJoin" in plan


def test_editdist_blocking_is_equi_join_not_nested_loop(spark):
    """dedup_editdist_blocked must candidate-generate through the
    deletion-variant EQUI-join; a levenshtein theta-join would plan as
    BroadcastNestedLoopJoin/CartesianProduct (the join_recon_fuzzy
    trap)."""
    plan = plan_of(spark, "dedup_editdist_blocked")
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan
    assert "HashJoin" in plan or "SortMergeJoin" in plan


def test_hamming_topk_broadcasts_queries_and_group_limits(spark):
    """sim_hamming_topk: the fixed 8-query probe must broadcast (never
    shuffle the corpus onto the query side) and rank<=5 must compile
    to WindowGroupLimit."""
    plan = plan_of(spark, "sim_hamming_topk")
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastHashJoin" in plan
    assert "WindowGroupLimit" in plan


def test_perceptron_sample_is_take_ordered(spark):
    """ml_perceptron_int's bottom-k sample must plan as
    TakeOrderedAndProject (no global sort of the fact table). The
    sample is checkpointed inside the query fn, so inspect the
    pre-checkpoint sample plan directly."""
    from pyspark.sql import functions as F

    from e2e_data_pipeline_spark.catalog import load_table

    li = load_table(spark, SF_SMALL, "lineitem")
    probe = (
        li.select(F.md5(F.col("l_orderkey").cast("string")).alias("h"))
        .orderBy("h")
        .limit(32)
    )
    plan = probe._jdf.queryExecution().explainString(
        spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
            "formatted"
        )
    )
    assert "TakeOrderedAndProject" in plan


def test_markov_sessionize_is_user_partitioned(spark):
    """agg_attribution_markov's sessionize windows must shuffle on
    user_id (never a global single-partition sort over raw events)."""
    plan = plan_of(spark, "agg_attribution_markov")
    assert "hashpartitioning(user_id" in plan


def test_uplift_part_dim_is_broadcast(spark):
    """ml_uplift_segments joins the part dimension by broadcast — the
    fact side never shuffles onto a dimension key."""
    plan = plan_of(spark, "ml_uplift_segments")
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan


def test_ivf_index_probe_prunes_buckets(spark):
    """sim_ivf_index_roundtrip's probe phase must read ONLY the probed
    cells' buckets from the persisted index (bucket pruning visible as
    SelectedBucketsCount) and join them with a broadcast of the tiny
    probe set — never a shuffle of the corpus-sized index."""
    import re

    plan = plan_of(spark, "sim_ivf_index_roundtrip")
    m = re.search(r"SelectedBucketsCount: (\d+) out of (\d+)", plan)
    assert m, "bucket pruning missing from the index scan"
    assert int(m.group(1)) <= int(m.group(2))
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan


def test_corpus_manifest_pack_is_distributed(spark):
    """corpus_e2e_manifest's cumulative token sum must ride the
    global_rank construction (per-__pid windows over the pinned
    range layout), never a single-partition running sum."""
    import re

    plan = plan_of(spark, "corpus_e2e_manifest")
    assert "hashpartitioning(__pid" in plan
    tree = plan.split("\n\n")[0]
    lines = tree.splitlines()
    for i, line in enumerate(lines):
        if "Window" in line or re.search(r"\bSort\b", line):
            below = "\n".join(lines[i + 1 : i + 3])
            assert "SinglePartition" not in below, (
                "manifest pack: single-partition sort/window"
            )


def test_knn_join_is_cell_equi_join(spark):
    """sim_knn_join's candidate generation must be an equi-join on
    the cell id (plus the intended broadcast of the tiny centroid
    table) — never a corpus×corpus cartesian."""
    plan = plan_of(spark, "sim_knn_join")
    assert "CartesianProduct" not in plan
    assert "BroadcastHashJoin" in plan or "SortMergeJoin" in plan


def test_centroid_drift_fanout_combines_map_side(spark):
    """sim_centroid_drift's 64x (cell, dim) posexplode must partial-
    aggregate below its exchange so the shuffle carries K*64 cells,
    not N*64 elements."""
    lines = plan_of(spark, "sim_centroid_drift").splitlines()
    agg_idx = [i for i, l in enumerate(lines) if "HashAggregate" in l]
    ex_idx = [
        i for i, l in enumerate(lines)
        if "Exchange" in l and "Broadcast" not in l
    ]
    assert agg_idx and ex_idx
    assert max(agg_idx) > min(ex_idx), "partial aggregate missing below shuffle"


def test_ip_cidr_join_is_binned_equi_join(spark):
    """join_ip_cidr must probe via the /16-bin equi-join (containment
    as residual) — a bare BETWEEN would plan as a nested loop."""
    plan = plan_of(spark, "join_ip_cidr")
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan
    assert "BroadcastHashJoin" in plan or "SortMergeJoin" in plan


def test_zorder_beats_linear_sort_on_secondary_key():
    """The z-order layout's reason to exist: for a probe on the
    SECONDARY key alone (partkey bucket 9), per-file min/max pruning
    skips files under z-clustering but can skip NOTHING under an
    orderkey-sorted layout (every file spans the full partkey range).
    Computed from data (same math the sunk footers carry) on sf0.001
    via DuckDB."""
    import duckdb

    con = duckdb.connect()
    con.execute(
        "CREATE VIEW lineitem AS SELECT * FROM "
        "read_parquet('/root/testdata/sf0.001/lineitem.parquet')"
    )
    z_skips, lin_skips = con.execute(
        """
        WITH mx AS (
            SELECT MAX(l_orderkey) // 16 + 1 AS wo,
                   MAX(l_partkey) // 16 + 1 AS wp
            FROM lineitem
        ),
        b AS (
            SELECT l_partkey AS pk,
                   l_orderkey // wo AS a, l_partkey // wp AS b2,
                   NTILE(8) OVER (ORDER BY l_orderkey) AS lin_file
            FROM lineitem, mx
        ),
        z AS (
            SELECT pk, lin_file,
                   ((b2 % 2) + 2 * (a % 2)
                    + 4 * ((b2 // 2) % 2) + 8 * ((a // 2) % 2)
                    + 16 * ((b2 // 4) % 2) + 32 * ((a // 4) % 2)
                    + 64 * ((b2 // 8) % 2) + 128 * ((a // 8) % 2)) // 32
                       AS z_file
            FROM b
        ),
        zb AS (SELECT z_file, MIN(pk) AS mn, MAX(pk) AS mx2
               FROM z GROUP BY 1),
        lb AS (SELECT lin_file, MIN(pk) AS mn, MAX(pk) AS mx2
               FROM z GROUP BY 1),
        probe AS (SELECT 9 * wp AS lo, 10 * wp - 1 AS hi FROM mx)
        SELECT
          (SELECT COUNT(*) FROM zb, probe
            WHERE NOT (mn <= hi AND mx2 >= lo)),
          (SELECT COUNT(*) FROM lb, probe
            WHERE NOT (mn <= hi AND mx2 >= lo))
        """
    ).fetchone()
    assert z_skips > lin_skips, (z_skips, lin_skips)
    assert lin_skips == 0  # linear layout prunes nothing on partkey
    assert z_skips >= 4  # z fixes partkey's top bit per 32-z slab


def test_join_hints_are_obeyed(spark):
    """join_hint_override's MERGE and SHUFFLE_HASH hints must reach
    the physical plan: the merged variant plans a SortMergeJoin, the
    hashed variant a ShuffledHashJoin, and neither broadcasts."""
    from pyspark.sql import functions as F

    from e2e_data_pipeline_spark.catalog import load_table

    orders = load_table(spark, SF_SMALL, "orders").where(
        F.col("o_orderstatus") == "F"
    )
    li = load_table(spark, SF_SMALL, "lineitem").select("l_orderkey")

    merged = orders.hint("merge").join(
        li, F.col("l_orderkey") == F.col("o_orderkey")
    )
    hashed = orders.hint("shuffle_hash").join(
        li, F.col("l_orderkey") == F.col("o_orderkey")
    )
    mp = merged._jdf.queryExecution().executedPlan().toString()
    hp = hashed._jdf.queryExecution().executedPlan().toString()
    assert "SortMergeJoin" in mp and "BroadcastHashJoin" not in mp
    assert "ShuffledHashJoin" in hp and "BroadcastHashJoin" not in hp


def test_fact_joins_build_on_smaller_side_not_broadcast_biggest(spark):
    """r10 optimization pins: the two headline fact joins must stay
    ShuffledHashJoin with the build on the smaller side — Catalyst's
    column-ratio size estimate used to put the BIGGEST table
    (lineitem / orders) under the broadcast threshold and collect +
    hash it single-threaded on the driver (r10 A/B: join_shuffle
    1.013 -> 0.595 s, join_multiway 1.056 -> 0.777 s)."""
    shuffle_plan = plan_of(spark, "join_shuffle")
    assert "ShuffledHashJoin" in shuffle_plan
    assert "BuildLeft" in shuffle_plan  # build = orders, stream = lineitem

    mw_plan = plan_of(spark, "join_multiway")
    assert "ShuffledHashJoin" in mw_plan
    # lineitem is the stream (left) side: the build side of the SHJ
    # must be the filtered customer⋈orders subtree, never lineitem.
    import re

    shj = mw_plan.split("ShuffledHashJoin", 1)[1]
    assert "BuildRight" in shj.splitlines()[0]


def test_asof_probe_filter_propagated_to_event_side(spark):
    """r10 optimization pin: the o_custkey < 150 probe filter must
    reach the events scan as a user_id pushdown (the window only
    reads a probe's own uid partition, so the manual propagation is
    result-identical and drops the unprobed users before the
    shuffle)."""
    plan = plan_of(spark, "join_asof")
    assert "LessThan(user_id,150)" in plan


def test_xpath_kernel_is_rebalanced_at_fixture_layout(spark):
    """r10 optimization pin: fn_xpath's per-row XML parse must not
    inherit the fixture's single-task scan — the layout-gated
    round-robin rebalance has to appear below the parse (20.3 s ->
    sub-second at sf0.1; structurally absent once the scan has more
    row groups than cores)."""
    plan = plan_of(spark, "fn_xpath")
    # deterministic-key hash rebalance (catalog._spread), never the
    # sorting round-robin form
    assert "hashpartitioning(xxhash64(" in plan
    assert "RoundRobinPartitioning" not in plan
    assert "XPathStringEvaluator" in plan
