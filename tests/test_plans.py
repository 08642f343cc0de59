"""Physical-plan assertions (SURVEY.md §4.3 / M9): the plans the
engine produces must be the plans you'd want at 100 TB — predicates
pushed into the parquet scan, columns pruned, dimension joins
broadcast, no cartesian products outside the explicitly-exact
brute-force similarity ops."""

from __future__ import annotations

import os

import pytest

from mo_etl_spark.session import CACHE_ROOT
from mo_etl_spark.tables import cache_path


def plan_of(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


@pytest.fixture(scope="module")
def sf001():
    return "/root/testdata/sf0.001"


def test_q1_pushdown_and_pruning(spark, sf001):
    from mo_etl_spark.suites.tpch import q1_pricing_summary

    df = q1_pricing_summary(spark, sf001)
    plan = plan_of(df)
    assert "PushedFilters: [IsNotNull(l_shipdate), LessThanOrEqual(l_shipdate" in plan
    # column pruning: the scan must not read l_orderkey/l_partkey/...
    read_schema = [l for l in plan.splitlines() if "ReadSchema" in l][0]
    assert "l_orderkey" not in read_schema
    assert "l_quantity" in read_schema


def test_q5_broadcasts_dimensions(spark, sf001):
    from mo_etl_spark.suites.relational import join_q5_local_supplier_volume

    plan = plan_of(join_q5_local_supplier_volume(spark, sf001))
    assert plan.count("BroadcastHashJoin") >= 3  # supplier, nation, region
    assert "CartesianProduct" not in plan


def test_asof_join_single_shuffle(spark, sf001):
    from mo_etl_spark.suites.relational import join_asof_purchase_last_click

    plan = plan_of(join_asof_purchase_last_click(spark, sf001))
    # union+window technique: no join node at all, exactly one exchange
    # feeding the window sort (plus AQE reads)
    assert "SortMergeJoin" not in plan and "CartesianProduct" not in plan
    assert "Window" in plan


def test_range_join_is_equi_not_nested_loop(spark, sf001):
    from mo_etl_spark.suites.relational import join_range_clicks_before_purchase

    plan = plan_of(join_range_clicks_before_purchase(spark, sf001))
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan


def test_topk_uses_take_ordered(spark, sf001):
    from mo_etl_spark.suites.relational import top_k_orders

    plan = plan_of(top_k_orders(spark, sf001))
    assert "TakeOrderedAndProject" in plan  # no full sort at any scale


def test_filter_pushdown_through_jx(spark, sf001):
    """The jx compiler's predicates reach the parquet scan too."""
    from mo_etl_spark.jx import jx_run
    from mo_etl_spark.tables import load_table

    events = load_table(spark, sf001, "events")
    df = jx_run(
        {"from": events, "where": {"eq": {"event_type": "purchase"}},
         "select": ["event_id"]}
    )
    plan = plan_of(df)
    # jx eq is null-safe -> pushes down as EqualNullSafe
    assert "PushedFilters" in plan and "EqualNullSafe(event_type,purchase)" in plan
    read_schema = [l for l in plan.splitlines() if "ReadSchema" in l][0]
    assert "props" not in read_schema  # pruned


def test_no_python_udf_in_core_suites(spark, sf001):
    """Core relational/agg/window plans contain no Python evaluation
    (UDF suites and multimodal are the sanctioned exceptions)."""
    import mo_etl_spark.registry as R

    py_tags = {
        "udf_scalar", "udaf", "udtf", "python_udtf", "grouped_map",
        "applyInPandas", "udf_mapinpandas", "mapInPandas", "mapInArrow",
        "applyInArrow", "scalar_iter", "stateful_custom", "multimodal_col",
        "unicode_normalize", "compression_ratio_filter",
    }
    core = [
        n
        for n, s in R.all_queries().items()
        if not n.startswith(("udf_", "udtf_", "llm_multimodal"))
        and not (set(s.tags) & py_tags)
    ]
    for name in core[:: max(1, len(core) // 12)]:  # sample across suites
        df = R.QUERIES[name].fn(spark, sf001)
        plan = plan_of(df)
        assert "BatchEvalPython" not in plan, name
        assert "ArrowEvalPython" not in plan, name


def test_partitioned_sink_scan_prunes_partitions(spark, sf001):
    from mo_etl_spark.suites.sources import source_partitioned_pruning

    df = source_partitioned_pruning(spark, sf001)
    plan = plan_of(df)
    scan = [l for l in plan.splitlines() if "FileScan" in l][0]
    # the filter must prune at the PARTITION level (directory skip),
    # not ride along as a post-scan data filter
    assert "PartitionFilters: [isnotnull(event_type" in scan
    assert "= purchase)" in scan
    read_schema = [l for l in plan.splitlines() if "ReadSchema" in l][0]
    assert "event_id" not in read_schema  # unused column pruned


def test_salted_agg_is_two_stage(spark, sf001):
    from mo_etl_spark.suites.aggregates import agg_salted_skew_sum

    plan = plan_of(agg_salted_skew_sum(spark, sf001))
    # stage 1 shuffles on (event_type, _salt), stage 2 on event_type
    exchanges = [l for l in plan.splitlines() if "Exchange hashpartitioning" in l]
    assert len(exchanges) == 2
    assert any("_salt" in l for l in exchanges)
    assert any("_salt" not in l for l in exchanges)


def test_broadcast_hint_query_builds_broadcasts(spark, sf001):
    from mo_etl_spark.suites.relational import join_broadcast_region_suppliers

    plan = plan_of(join_broadcast_region_suppliers(spark, sf001))
    assert plan.count("BroadcastHashJoin") == 2
    assert "SortMergeJoin" not in plan


def test_bucketed_join_has_no_shuffle(spark, sf001):
    """Bucketed managed tables co-locate the join: both sides are
    written bucketBy(8, key) so the SortMergeJoin needs NO Exchange —
    the 100 TB pattern for repeated large-x-large equi-joins."""
    from mo_etl_spark.tables import load_table

    import shutil

    orders = load_table(spark, sf001, "orders").select("o_orderkey", "o_custkey")
    li = load_table(spark, sf001, "lineitem").select("l_orderkey", "l_quantity")
    for t in ("bkt_orders", "bkt_lineitem"):
        spark.sql(f"DROP TABLE IF EXISTS {t}")
        # the embedded metastore is per-session but warehouse files
        # persist — a stale location blocks re-creation
        shutil.rmtree(os.path.join(CACHE_ROOT, "warehouse", t), ignore_errors=True)
    orders.write.bucketBy(8, "o_orderkey").sortBy("o_orderkey").saveAsTable("bkt_orders")
    li.write.bucketBy(8, "l_orderkey").sortBy("l_orderkey").saveAsTable("bkt_lineitem")
    joined = spark.table("bkt_orders").join(
        spark.table("bkt_lineitem"),
        spark.table("bkt_orders").o_orderkey == spark.table("bkt_lineitem").l_orderkey,
    )
    # disable broadcast so the join strategy under test is SMJ
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        plan = plan_of(joined)
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
    assert "SortMergeJoin" in plan
    assert "Exchange hashpartitioning" not in plan


def test_aqe_splits_skewed_join(spark):
    """The engine's AQE config must split a skewed sort-merge join at
    runtime (the 100 TB answer to hot join keys the salting operator
    doesn't cover).  Synthetic 500k-row fact with 90% of rows on one
    key; thresholds lowered so the local data qualifies; the FINAL
    adaptive plan must show the skew-split markers."""
    from pyspark.sql import functions as F

    tuned = {
        "spark.sql.autoBroadcastJoinThreshold": "-1",
        "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes": "256k",
        "spark.sql.adaptive.advisoryPartitionSizeInBytes": "128k",
        "spark.sql.adaptive.skewJoin.skewedPartitionFactor": "2",
    }
    prev = {k: spark.conf.get(k) for k in tuned}
    for k, v in tuned.items():
        spark.conf.set(k, v)
    try:
        fact = spark.range(500_000).select(
            F.when(F.col("id") % 10 < 9, 0)
            .otherwise(F.pmod(F.xxhash64("id"), F.lit(1000)))
            .alias("key"),
            F.concat(F.lit("payload-"), F.col("id").cast("string")).alias("p"),
        )
        dim = spark.range(1000).select(F.col("id").alias("key"), F.col("id").alias("v"))
        j = fact.join(dim, "key")
        assert len(j.collect()) == 500_000
        plan = plan_of(j)
        assert "isFinalPlan=true" in plan
        assert "SortMergeJoin(skew=true)" in plan
    finally:
        for k, v in prev.items():
            spark.conf.set(k, v)


def test_runtime_bloom_filter_prunes_probe_side(spark, sf001):
    """Spark injects a runtime Bloom filter on the fact side of a
    shuffle join when the build side is selectively filtered — the
    semi-join reduction that cuts probe-side shuffle volume at 100 TB.
    Local thresholds are tuned down to reproduce the big-cluster
    decision (the application-side scan there exceeds the default
    threshold naturally); broadcast is disabled because a broadcast
    hash join already prunes without needing the bloom filter."""
    from pyspark.sql import functions as F

    confs = {
        "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold": "0",
        "spark.sql.autoBroadcastJoinThreshold": "-1",
    }
    saved = {k: spark.conf.get(k) for k in confs}
    try:
        for k, v in confs.items():
            spark.conf.set(k, v)
        li = spark.read.parquet(f"{sf001}/lineitem.parquet")
        o = spark.read.parquet(f"{sf001}/orders.parquet").where(
            F.col("o_orderpriority") == "1-URGENT"
        )
        j = li.join(o, li.l_orderkey == o.o_orderkey).groupBy("o_orderpriority").count()
        plan = plan_of(j)
        assert "bloom" in plan.lower()  # BloomFilterMightContain on the scan side
        # and it still computes the right thing
        assert j.collect()[0]["o_orderpriority"] == "1-URGENT"
    finally:
        for k, v in saved.items():
            spark.conf.set(k, v)


def test_q4_semi_join_not_nested_loop(spark, sf001):
    from mo_etl_spark.suites.tpch_extra import join_q4_priority_late_ship

    plan = plan_of(join_q4_priority_late_ship(spark, sf001))
    # EXISTS with mixed equi+theta condition must still key the join on
    # orderkey (hash/SMJ LeftSemi), never a nested loop over the fact
    assert "LeftSemi" in plan
    assert "BroadcastNestedLoopJoin" not in plan and "CartesianProduct" not in plan


def test_q19_pushes_envelope_to_part_scan(spark, sf001):
    from mo_etl_spark.suites.tpch_extra import join_q19_disjunctive_revenue

    plan = plan_of(join_q19_disjunctive_revenue(spark, sf001))
    # part side broadcasts, and the disjunction's common envelope
    # (brand/size Or-chain) reaches the part parquet scan as a pushed filter
    assert "BroadcastHashJoin" in plan
    assert "PushedFilters" in plan and "Or(" in plan


def test_q22_threshold_stays_distributed(spark, sf001):
    from mo_etl_spark.suites.tpch_extra import join_q22_idle_rich_customers

    plan = plan_of(join_q22_idle_rich_customers(spark, sf001))
    # one-row scalar threshold rides a broadcast nested loop (1-row build
    # side — fine); the NOT EXISTS compiles to LeftAnti on custkey
    assert "LeftAnti" in plan


def test_q2_argmin_shares_partkey_shuffle(spark, sf001):
    from mo_etl_spark.suites.tpch_extra import join_q2_min_balance_supplier

    plan = plan_of(join_q2_min_balance_supplier(spark, sf001))
    # candidate set and its per-part MIN join on the part key; the
    # dimension chain (supplier/nation/region) must all broadcast
    assert plan.count("BroadcastHashJoin") >= 3
    assert "CartesianProduct" not in plan


def test_q15_no_lineitem_rescan(spark, sf001):
    from mo_etl_spark.suites.tpch_extra import join_q15_top_supplier

    plan = plan_of(join_q15_top_supplier(spark, sf001))
    # the max comes from re-aggregating the 100-row revenue view, not a
    # second pass over the fact table: exactly one lineitem scan
    assert plan.count("lineitem.parquet") == 1 or plan.count("Scan parquet") == 1


def test_q6_all_predicates_pushed(spark, sf001):
    from mo_etl_spark.suites.tpch_extra import q6_forecast_revenue

    plan = plan_of(q6_forecast_revenue(spark, sf001))
    # pure scan-filter-agg: the ship-year and quantity bounds must reach
    # the parquet scan (the cents(discount) band is an expression, so it
    # filters post-scan), and there is no join at all
    pushed = [l for l in plan.splitlines() if "PushedFilters" in l][0]
    # (the PushedFilters list is truncated in toString — assert the lead
    # filters and that both pushdown columns appear)
    assert "GreaterThanOrEqual(l_shipdate" in pushed
    assert "IsNotNull(l_quantity)" in pushed
    assert "Join" not in plan


def test_q16_exclusion_is_broadcast_anti(spark, sf001):
    from mo_etl_spark.suites.tpch_extra import join_q16_supplier_count

    plan = plan_of(join_q16_supplier_count(spark, sf001))
    # NOT IN over non-null keys compiles to a broadcast LeftAnti against
    # the tiny negative-balance supplier set; part side also broadcasts
    assert "LeftAnti" in plan and "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan


def test_q20_single_fact_pass(spark, sf001):
    from mo_etl_spark.suites.tpch_extra import join_q20_excess_shippers

    plan = plan_of(join_q20_excess_shippers(spark, sf001))
    # the correlated 0.5x-sum threshold decorrelates into ONE conditional
    # aggregate: exactly one lineitem scan, and both the red-part filter
    # and the supplier semi join stay hash-keyed
    assert plan.count("lineitem.parquet") == 1
    assert "LeftSemi" in plan
    assert "BroadcastNestedLoopJoin" not in plan and "CartesianProduct" not in plan


def test_q21_window_reuses_groupby_shuffle(spark, sf001):
    from mo_etl_spark.suites.tpch_extra import join_q21_waiting_suppliers

    df = join_q21_waiting_suppliers(spark, sf001)
    plan = plan_of(df)
    # the per-order window aggregates must ride the orderkey partitioning
    # rather than forcing their own exchange: the only exchanges are the
    # join/groupBy shuffles, and the final top-25 is TakeOrdered
    assert "TakeOrderedAndProject" in plan
    assert "CartesianProduct" not in plan
    # one pass over the fact table (classic Q21 needs three)
    assert plan.count("lineitem.parquet") == 1


def test_pivot_is_single_aggregate_pass(spark, sf001):
    """Pinned pivot values must read the fact table ONCE (no
    values-discovery scan) and aggregate with map-side combine: the
    plan is partial/final agg on (group, pivot) keys + the tiny
    pivotfirst reshape — two small exchanges, zero extra fact passes."""
    from mo_etl_spark.suites.aggregates import agg_pivot_status_by_priority

    plan = plan_of(agg_pivot_status_by_priority(spark, sf001))
    assert plan.count("Scan parquet") == 1
    assert plan.count("Exchange") <= 2
    assert "partial_pivotfirst" in plan  # reshape is map-side combined too


def test_percentile_query_avoids_whole_partition_window(spark, sf001):
    """win_percentile_values must plan as aggregate + broadcast join —
    a whole-partition Window here would drag every fact row into a
    handful of giant window partitions at scale."""
    from mo_etl_spark.suites.windows import win_percentile_values

    plan = plan_of(win_percentile_values(spark, sf001))
    assert "Window" not in plan
    assert "BroadcastHashJoin" in plan


def test_simhash_hamming_banding_bounds_join(spark, sf001):
    """The hamming-pair plan must join on (chunk, value) buckets —
    a hash/sort-merge equi join — never a cartesian pair scan."""
    from mo_etl_spark.suites.llm import llm_dedup_simhash_hamming

    plan = plan_of(llm_dedup_simhash_hamming(spark, sf001))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_dynamic_partition_pruning_from_dim_filter(spark, sf001):
    """Dynamic partition pruning: when the partition column's filter
    arrives through a JOIN (dim side filtered at runtime), the fact
    scan must carry a dynamicpruning subquery on the partition column
    instead of reading every directory — the 100 TB star-join staple
    alongside static PartitionFilters."""
    import os

    from pyspark.sql import functions as F
    from mo_etl_spark.tables import load_table

    path = os.path.join(CACHE_ROOT, "sf0_001", "events_dpp")
    if not os.path.exists(os.path.join(path, "_SUCCESS")):
        load_table(spark, sf001, "events").select(
            "event_id", "user_id", "event_type",
            F.round(F.col("value") * 100).cast("long").alias("value_cents"),
        ).write.mode("overwrite").partitionBy("event_type").parquet(path)
    fact = spark.read.parquet(path)
    dim = (
        load_table(spark, sf001, "events")
        .select("event_type")
        .distinct()
        .withColumn("keep", F.col("event_type").startswith("p"))
    )
    joined = fact.join(dim.where("keep"), "event_type").groupBy("user_id").count()
    plan = joined._jdf.queryExecution().executedPlan().toString()
    assert "dynamicpruning" in plan.lower()


def test_range_sorted_sink_yields_disjoint_file_bands(spark, sf001):
    """sink_range_sorted_layout's claim is the physical layout: after
    repartitionByRange + sortWithinPartitions, each parquet file's
    [min, max] band on the sort column must be disjoint from every
    other file's — that's what lets row-group statistics prune a
    time-range scan file-by-file."""
    import glob

    import pyarrow.parquet as pq

    from mo_etl_spark.suites.sources import sink_range_sorted_layout

    sink_range_sorted_layout(spark, sf001).count()  # materialize the sink
    bands = []
    for f in glob.glob(cache_path(sf001, "orders_range_sorted/*.parquet")):
        md = pq.ParquetFile(f).metadata
        idx = md.schema.names.index("o_orderdate")
        lo = min(md.row_group(i).column(idx).statistics.min for i in range(md.num_row_groups))
        hi = max(md.row_group(i).column(idx).statistics.max for i in range(md.num_row_groups))
        bands.append((lo, hi))
    assert len(bands) >= 4  # actually range-partitioned, not one file
    bands.sort()
    for (_, hi_prev), (lo_next, _) in zip(bands, bands[1:]):
        assert hi_prev <= lo_next  # disjoint (range boundaries may touch)


def test_funnel_is_single_fact_shuffle_no_joins(spark, sf001):
    """The funnel walks per-user arrays — no per-stage self-joins."""
    from mo_etl_spark.suites.analytics import win_funnel_signup_purchase

    plan = plan_of(win_funnel_signup_purchase(spark, sf001))
    assert "Join" not in plan
    assert plan.count("Exchange") <= 2  # groupBy(user) + global 1-row agg


def test_ivm_increment_broadcasts_both_delta_joins(spark, sf001):
    """Delta-side joins must broadcast the dimension; the base fact
    side must never shuffle."""
    from mo_etl_spark.suites.analytics import etl_incremental_join_view

    plan = plan_of(etl_incremental_join_view(spark, sf001))
    assert plan.count("BroadcastHashJoin") == 2
    assert "SortMergeJoin" not in plan


def test_interval_overlap_is_equi_join_not_nested_loop(spark, sf001):
    """Bucketing turns the interval theta join into an equi join."""
    from mo_etl_spark.suites.analytics import join_interval_overlap_sessions

    plan = plan_of(join_interval_overlap_sessions(spark, sf001))
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan
    assert ("SortMergeJoin" in plan) or ("ShuffledHashJoin" in plan) or (
        "BroadcastHashJoin" in plan
    )


def test_pagerank_materializes_edges_once(spark, sf001):
    """All 8 iterations must read the degree-annotated edge list from
    ONE materialization (localCheckpoint lineage truncation) — without
    it the plan re-scans lineitem 50+ times (6-7 FileScans per
    iteration, measured)."""
    from mo_etl_spark.suites.analytics import graph_pagerank_supply

    plan = plan_of(graph_pagerank_supply(spark, sf001))
    assert plan.count("FileScan") <= 4
    assert "ExistingRDD" in plan  # checkpointed edges/nodes feed iterations


def test_top_k_per_group_uses_window_group_limit(spark, sf001):
    """Spark 3.5+ plans rank-filter windows (row_number <= k) with
    WindowGroupLimit: each task keeps only k rows per partition key
    BEFORE the full sort/window — the optimization that makes
    top-k-per-group viable when a group has millions of rows.  Guard
    it so a refactor to a rank-then-filter-later shape doesn't
    silently lose it."""
    from mo_etl_spark.registry import all_queries

    df = all_queries()["top_k_per_group_orders"].fn(spark, sf001)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "WindowGroupLimit" in plan


def test_nested_schema_pruning_reaches_scan(spark, sf001, tmp_path):
    """Selecting one subfield of an array<struct> column must prune the
    parquet ReadSchema to that leaf — Dremel columnar means the other
    struct members are never read (the jx-sqlite snowflake promise at
    scan level)."""
    from pyspark.sql import functions as F

    li = spark.read.parquet(f"{sf001}/lineitem.parquet").limit(2000)
    nested = (
        li.groupBy("l_orderkey")
        .agg(
            F.collect_list(
                F.struct("l_partkey", "l_quantity", "l_extendedprice", "l_shipdate")
            ).alias("items")
        )
    )
    path = str(tmp_path / "nested")
    nested.write.mode("overwrite").parquet(path)
    df = (
        spark.read.parquet(path)
        .select(F.explode("items").alias("it"))
        .select(F.col("it.l_quantity").alias("q"))
        .groupBy()
        .sum("q")
    )
    plan = plan_of(df)
    scan_schema = [l for l in plan.splitlines() if "ReadSchema" in l]
    assert scan_schema, plan
    line = scan_schema[0]
    assert "l_quantity" in line
    assert "l_extendedprice" not in line and "l_shipdate" not in line, line
    assert df.collect()[0][0] is not None



def test_grouped_agg_over_window_plan(spark, sf001):
    """Pin the physical operator of the pandas-UDAF-over-window
    contract query (VERDICT r2 item #6): it must run as
    WindowInPandas (the per-frame Arrow-shipping operator whose
    O(rows x frame_len) cost the docstring documents), and the
    builtin rewrite of the same result must NOT — a Spark upgrade
    that reroutes either direction should fail here, not surprise a
    bench."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from mo_etl_spark.functions.numeric import cents
    from mo_etl_spark.suites.udfs import udf_grouped_agg_over_window
    from mo_etl_spark.tables import load_table

    plan = plan_of(udf_grouped_agg_over_window(spark, sf001))
    # Spark 4.1 names it ArrowWindowPython (WindowInPandasExec pre-4.1)
    assert "ArrowWindowPython" in plan or "WindowInPandas" in plan, plan

    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(-2, Window.currentRow)
    )
    builtin = (
        load_table(spark, sf001, "events")
        .select("event_id", "user_id", "ts", cents("value").alias("vc"))
        .select("event_id", "user_id", F.sum("vc").over(w).alias("trailing3_cents"))
    )
    bplan = plan_of(builtin)
    assert "ArrowWindowPython" not in bplan and "WindowInPandas" not in bplan, bplan
    assert "Window" in bplan, bplan


def _window_lines(plan: str) -> list[str]:
    return [
        ln
        for ln in plan.splitlines()
        if "Window [" in ln and "windowspecdefinition" in ln
    ]


def test_rfm_ntile_has_no_partitionless_window(spark, sf001):
    """agg_rfm_segmentation (VERDICT r3 item #2): the three quintile
    scores must come from the two-pass distributed ntile — every
    Window in the plan partitioned by the range-partition id, zero
    ntile-over-global-order windows.  A partition-less Window here
    would force every customer row through one task, three times."""
    from mo_etl_spark.suites.analytics import agg_rfm_segmentation

    plan = plan_of(agg_rfm_segmentation(spark, sf001))
    wins = _window_lines(plan)
    assert len(wins) == 3, plan  # one row_number per score, nothing else
    for ln in wins:
        assert "_go_pid" in ln, ln  # partition spec present
        assert "row_number" in ln and "ntile" not in ln, ln


def test_skyline_running_max_is_two_pass(spark, sf001):
    """analytics_skyline_2d (VERDICT r3 item #2): the strictly-cheaper
    running max must be partitioned by the range-partition id and the
    same-price max by price_cents — no global-order RANGE window."""
    from mo_etl_spark.suites.analytics import analytics_skyline_2d

    plan = plan_of(analytics_skyline_2d(spark, sf001))
    wins = _window_lines(plan)
    assert wins, plan
    for ln in wins:
        assert "_go_pid" in ln or "price_cents" in ln, ln


def test_pack_sequences_prefix_sum_is_sharded(spark, sf001):
    """llm_pack_sequences (VERDICT r3 item #5): the global start-offset
    prefix sum must run as per-shard cumsums (Window partitioned by
    the range-partition id) merged with broadcast shard offsets —
    the documented 100-TB form, now the implemented form."""
    from mo_etl_spark.suites.llm import llm_pack_sequences

    plan = plan_of(llm_pack_sequences(spark, sf001))
    wins = _window_lines(plan)
    assert wins, plan
    for ln in wins:
        assert "_go_pid" in ln, ln
    assert "BroadcastHashJoin" in plan or "BroadcastExchange" in plan, plan


def test_pagerank_iterations_broadcast_ranks(spark, sf001):
    """pagerank (r4 scale-table rewrite): below the node-count cutoff
    every iteration must join ranks into the checkpointed edges as a
    BROADCAST join — a sort-merge rank join means the full edge list
    shuffles per iteration again (the 2x wall the rewrite removed)."""
    from pyspark.sql import functions as F

    from mo_etl_spark.operators.graph import pagerank

    edges = spark.range(500).select(
        (F.col("id") % 53).alias("src"), (F.col("id") % 47).alias("dst")
    )
    edges = edges.unionByName(
        edges.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    )
    df = pagerank(edges, iters=4, n_nodes=53)
    plan = plan_of(df)
    assert plan.count("BroadcastHashJoin") >= 4, plan
    assert "SortMergeJoin" not in plan, plan


def test_pagerank_bucketed_edges_contribution_agg_no_shuffle(spark, sf001):
    """The 100-TB PageRank route, pinned on the REAL operator
    (VERDICT r5 item #4: previously only the pattern was pinned while
    graph_pagerank_supply never ran it): pagerank_bucketed's
    per-iteration contribution aggregate (groupBy dst over a broadcast
    rank join into the dst-bucketed persisted edges) must need NO
    dst exchange — and its ranks must equal the checkpoint-form
    pagerank's exactly."""
    import os
    import shutil

    from pyspark.sql import functions as F

    from mo_etl_spark.operators.graph import pagerank, pagerank_bucketed

    t = "bkt_pr_edges"
    # teardown path derived from the SESSION's warehouse (ADVICE r4:
    # a hard-coded path leaks the table under other session configs)
    wh = spark.conf.get(
        "spark.sql.warehouse.dir", os.path.join(CACHE_ROOT, "warehouse")
    ).removeprefix("file:")
    spark.sql(f"DROP TABLE IF EXISTS {t}")
    shutil.rmtree(os.path.join(wh, t), ignore_errors=True)
    try:
        edges = spark.range(2000).select(
            (F.col("id") % 97).alias("src"), (F.col("id") % 89).alias("dst")
        )
        edges = edges.unionByName(
            edges.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
        )
        df = pagerank_bucketed(edges, iters=4, table=t, n_buckets=8)
        plan = plan_of(df)
        assert "BroadcastHashJoin" in plan, plan
        agg_exchanges = [
            ln for ln in plan.splitlines() if "Exchange hashpartitioning(dst" in ln
        ]
        assert not agg_exchanges, plan
        # both routes, identical ranks (the routing in
        # graph_pagerank_supply must be a pure cost decision)
        got = {
            r["node"]: round(r["r"], 9)
            for r in pagerank_bucketed(
                edges, iters=4, table=t, reuse_existing=True
            ).collect()
        }
        want = {
            r["node"]: round(r["r"], 9) for r in pagerank(edges, iters=4).collect()
        }
        assert got == want
    finally:
        # don't leak the table into the shared warehouse (ADVICE r4)
        spark.sql(f"DROP TABLE IF EXISTS {t}")
        shutil.rmtree(os.path.join(wh, t), ignore_errors=True)


def test_incremental_pruned_verify_uses_dpp(spark, sf001):
    """llm_dedup_incremental_pruned: the exact-Jaccard verify lookups
    against the bucket-partitioned corpus table must carry a
    dynamicpruningexpression in the scan's PartitionFilters — the
    mechanism behind 'a daily batch pays |batch| + matched buckets,
    never |corpus|'.  Without DPP the partitioned layout is cosmetic
    and every batch re-scans the whole persisted corpus."""
    from mo_etl_spark.suites.llm import llm_dedup_incremental_pruned

    df = llm_dedup_incremental_pruned(spark, sf001)
    full = df._jdf.queryExecution().toString()
    scans = [
        ln
        for ln in full.splitlines()
        if "PartitionFilters" in ln and "incr_corpus_bucketed" in ln
    ]
    assert scans, full
    pruned = [ln for ln in scans if "dynamicpruningexpression" in ln]
    assert pruned, "\n".join(scans)
    # r6: the band-index probe is matched-bucket too — static ib IN
    # filters on the ib-partitioned index scans (same mechanism as the
    # stream's, VERDICT r5 item #1)
    idx_scans = [
        ln
        for ln in full.splitlines()
        if "FileScan parquet" in ln and "ib#" in ln
    ]
    assert idx_scans, full
    for ln in idx_scans:
        pf = ln.split("PartitionFilters")[1]
        assert "ib#" in pf and ("INSET" in pf or " IN " in pf), ln


def test_ivf_persisted_serving_uses_dpp(spark, sf001):
    """llm_sim_ivf_persisted: serving from the (c_id, vec, cell) index
    must carry a dynamicpruningexpression on the cell-partitioned scan
    — a query batch probing p of N cells reads ~p/N of the index.  And
    no raw-corpus scan: the embeddings table appears only as the query
    batch + centroid inputs, never joined corpus-wide by c_id."""
    from mo_etl_spark.suites.llm import llm_sim_ivf_persisted

    df = llm_sim_ivf_persisted(spark, sf001)
    full = df._jdf.queryExecution().toString()
    scans = [
        ln
        for ln in full.splitlines()
        if "PartitionFilters" in ln and "ivf_vec_index" in ln
    ]
    assert scans, full
    assert any("dynamicpruningexpression" in ln for ln in scans), "\n".join(scans)


def test_lsh_persisted_serving_uses_dpp(spark, sf001):
    """llm_sim_lsh_persisted: same contract as the IVF twin — the
    bucket-partitioned index scan must carry a
    dynamicpruningexpression so a query batch reads only its probed
    buckets."""
    from mo_etl_spark.suites.llm import llm_sim_lsh_persisted

    df = llm_sim_lsh_persisted(spark, sf001)
    full = df._jdf.queryExecution().toString()
    scans = [
        ln
        for ln in full.splitlines()
        if "PartitionFilters" in ln and "lsh_vec_index" in ln
    ]
    assert scans, full
    assert any("dynamicpruningexpression" in ln for ln in scans), "\n".join(scans)


def test_ivfpq_serving_uses_dpp(spark, sf001):
    """llm_sim_ivfpq_topk: the cell-partitioned CODE table scan must
    carry a dynamicpruningexpression — serving reads probed cells of
    8-byte codes, never raw vectors."""
    from mo_etl_spark.suites.llm import llm_sim_ivfpq_topk

    df = llm_sim_ivfpq_topk(spark, sf001)
    full = df._jdf.queryExecution().toString()
    scans = [
        ln
        for ln in full.splitlines()
        if "PartitionFilters" in ln and "ivfpq_code_index" in ln
    ]
    assert scans, full
    assert any("dynamicpruningexpression" in ln for ln in scans), "\n".join(scans)


def test_ivf_serving_dpp_survives_filterless_batch(spark, sf001):
    """stream_real_ivf_serving's per-trigger claim: inside foreachBatch
    the query side is a checkpointed micro-batch with NO filter of its
    own, and DPP must still prune the index scan — the selective
    predicate DPP's heuristic needs is the top-nprobe rank filter
    inside the probe pipeline, not anything on the batch."""
    from pyspark.sql import functions as F

    from mo_etl_spark.operators import similarity as S
    from mo_etl_spark.suites.llm import _ivf_index_params, _ivf_vec_index

    emb = spark.read.parquet(sf001 + "/embeddings.parquet")
    cents = emb.where(F.col("vec_id") < 16).select(
        F.col("vec_id").alias("cent_id"), F.col("embedding").alias("vec")
    )
    idx_path = _ivf_vec_index(spark, sf001, 16)
    indexed = S.load_ann_index(spark, idx_path, _ivf_index_params(16))
    cell_subs = S.cell_subs_from_params(spark, S.index_params(idx_path))
    batch = (
        emb.where(F.col("vec_id") < 12)
        .select("vec_id", "embedding")
        .localCheckpoint(eager=True)  # foreachBatch's batch_df shape
    )
    q = batch.select(F.col("vec_id").alias("q_id"), F.col("embedding").alias("vec"))
    df = S.ivf_topk(
        q, None, cents, k=5, nprobe=4, indexed_corpus=indexed, cell_subs=cell_subs
    )
    assert "dynamicpruningexpression" in df._jdf.queryExecution().toString()


def test_ivfpq_residual_serving_uses_dpp(spark, sf001):
    """llm_sim_ivfpq_residual: residual encoding must not change the
    serving plan — the cell-partitioned residual-code scan still
    carries the dynamicpruningexpression."""
    from mo_etl_spark.suites.llm import llm_sim_ivfpq_residual

    df = llm_sim_ivfpq_residual(spark, sf001)
    full = df._jdf.queryExecution().toString()
    scans = [
        ln
        for ln in full.splitlines()
        if "PartitionFilters" in ln and "ivfpq_residual_index" in ln
    ]
    assert scans, full
    assert any("dynamicpruningexpression" in ln for ln in scans), "\n".join(scans)


def test_stream_incremental_dedup_state_reads_bucket_pruned(spark, sf001, tmpdir):
    """VERDICT r5 item #1: the STREAMED incremental dedup's per-trigger
    state reads must be matched-bucket reads, not full state scans —
    the probe's band-index scans carry a static ``ib IN (...)``
    partition filter and the verify's corpus scans a ``db IN (...)``
    one, pushed through the per-batch-dir union into EVERY scan.
    (Static pruning, not DPP: the batched state is a union of
    per-batch roots and dynamic pruning does not reach through a
    Union — same cost shape, plan-time instead of heuristic.)"""
    from pyspark.sql import functions as F

    from mo_etl_spark.suites.llm import _incr_new_batch
    from mo_etl_spark.suites.streaming_real import (
        _incr_dedup_apply_batch,
        _incr_dedup_seed_dirs,
    )
    from mo_etl_spark.tables import load_table

    docs = load_table(spark, sf001, "documents")
    base = docs.where(F.col("doc_id") < 400).select("doc_id", "text")
    new = _incr_new_batch(docs)
    idx, arr, pairs = f"{tmpdir}/idx", f"{tmpdir}/arr", f"{tmpdir}/pairs"
    _incr_dedup_seed_dirs(spark, sf001, base, idx, arr, pairs)
    probe: dict = {}
    _incr_dedup_apply_batch(spark, idx, arr, pairs, new, 0, plan_probe=probe)

    # identify the state scans by their partition column (the gen-0
    # base is an external snapshot since r8 — seed_batched references
    # the cache path, so run-dir path tags no longer match every scan;
    # Location paths also truncate in long plans)
    def scans(plan: str, part_col: str) -> list[str]:
        return [
            ln
            for ln in plan.splitlines()
            if "PartitionFilters" in ln and f"{part_col}#" in ln
        ]

    idx_scans = scans(probe["probe"], "ib")
    assert idx_scans, probe["probe"]
    for ln in idx_scans:
        assert "ib#" in ln.split("PartitionFilters")[1], ln  # pruned, not []
    arr_scans = scans(probe["verify"], "db")
    assert arr_scans, probe["verify"]
    for ln in arr_scans:
        assert "db#" in ln.split("PartitionFilters")[1], ln


def test_stream_cdc_state_reads_bucket_pruned(spark, sf001, tmpdir):
    """The streamed CDC-chunk dedup's index probe must read matched
    hash buckets only — static ``hb IN (...)`` partition filters on
    every per-batch index scan (same mechanism as the minhash
    stream's, VERDICT r5 items #1/#7)."""
    from pyspark.sql import functions as F

    from mo_etl_spark.suites.llm import _incr_new_batch
    from mo_etl_spark.suites.streaming_real import (
        _incr_cdc_apply_batch,
        _incr_cdc_seed_dirs,
    )
    from mo_etl_spark.tables import load_table

    docs = load_table(spark, sf001, "documents")
    base = docs.where(F.col("doc_id") < 400).select("doc_id", "text")
    new = _incr_new_batch(docs)
    idx, pairs = f"{tmpdir}/cidx", f"{tmpdir}/cpairs"
    _incr_cdc_seed_dirs(spark, sf001, base, idx, pairs)
    probe: dict = {}
    _incr_cdc_apply_batch(spark, idx, pairs, new, 0, plan_probe=probe)
    # identify index scans by their hb partition column (the Location
    # path gets truncated in long plan strings)
    scans = [
        ln
        for ln in probe["probe"].splitlines()
        if "FileScan parquet" in ln and "hb#" in ln
    ]
    assert scans, probe["probe"]
    for ln in scans:
        pf = ln.split("PartitionFilters")[1]
        assert "hb#" in pf and ("INSET" in pf or " IN " in pf), ln


def test_stream_ivf_upsert_serve_is_cell_pruned_and_sub_capped(spark, sf001):
    """The streamed index-upsert's final serve must read matched cells
    only — static ``cell IN (...)`` partition filters on every
    per-batch index scan (the r6 probe-keyed state discipline; scans
    identified by their cell partition column since plan Location
    strings truncate) — AND take the hot-cell-capped scoring path
    (VERDICT r6 what's-wrong #1): the index scans carry the ``sub``
    partition column and the cogroup is keyed by (cell, sub), so a
    drifted refresh that floods one cell yields bounded scoring tasks,
    not one straggler."""
    from mo_etl_spark.suites.streaming_real import stream_real_ivf_index_upsert

    df = stream_real_ivf_index_upsert(spark, sf001)
    plan = df._jdf.queryExecution().toString()
    scans = [
        ln
        for ln in plan.splitlines()
        if "FileScan parquet" in ln and "cell#" in ln
    ]
    assert scans, plan
    for ln in scans:
        pf = ln.split("PartitionFilters")[1]
        assert "cell#" in pf and ("INSET" in pf or " IN " in pf), ln
        assert "sub#" in ln  # (cell, sub) layout reaches the scan
    cogroups = [
        ln for ln in plan.splitlines() if "FlatMapCoGroupsInPandas" in ln
    ]
    assert any("cell#" in ln and "sub#" in ln for ln in cogroups), plan


def test_incremental_retract_probe_stays_pruned(spark, sf001):
    """VERDICT r6 what's-wrong #2: retraction must compose with the
    PRUNED route — llm_dedup_incremental_retract's tombstone anti-join
    sits above the bucket-pruned scans, so the plan keeps BOTH the
    static ``ib IN`` partition filters on the band-index scan and the
    dynamicpruningexpression on the bucketed-corpus verify lookups.
    A retraction that forced full-table reads would undo the layout's
    entire point."""
    from mo_etl_spark.suites.llm import llm_dedup_incremental_retract

    df = llm_dedup_incremental_retract(spark, sf001)
    full = df._jdf.queryExecution().toString()
    assert "BroadcastHashJoin" in full and "LeftAnti" in full, full
    scans = [
        ln
        for ln in full.splitlines()
        if "PartitionFilters" in ln and "incr_corpus_bucketed" in ln
    ]
    assert scans, full
    assert [ln for ln in scans if "dynamicpruningexpression" in ln], "\n".join(scans)
    idx_scans = [
        ln
        for ln in full.splitlines()
        if "FileScan parquet" in ln and "ib#" in ln
    ]
    assert idx_scans, full
    for ln in idx_scans:
        pf = ln.split("PartitionFilters")[1]
        assert "ib#" in pf and ("INSET" in pf or " IN " in pf), ln


def test_pagerank_cobucketed_no_rank_broadcast(spark, sf001):
    """VERDICT r6 what's-wrong #4: beyond the broadcast regime the
    rank vector must never be broadcast and the edge list must never
    re-shuffle — pagerank_cobucketed joins ranks into the SRC-bucketed
    persisted edges via sort-merge (only narrow rank/contribution rows
    move; no 'Exchange hashpartitioning(src' anywhere means the 100-TB
    object reads in place every iteration).  pagerank_bucketed's gate
    must route here past its node-count ceiling, and all three routes
    must agree on the ranks."""
    import os
    import shutil

    from pyspark.sql import functions as F

    from mo_etl_spark.operators.graph import (
        pagerank,
        pagerank_bucketed,
        pagerank_cobucketed,
    )

    ts = ("bkt_pr_src", "bkt_pr_gate_src", "bkt_pr_gate")
    wh = spark.conf.get(
        "spark.sql.warehouse.dir", os.path.join(CACHE_ROOT, "warehouse")
    ).removeprefix("file:")
    for t in ts:
        spark.sql(f"DROP TABLE IF EXISTS {t}")
        shutil.rmtree(os.path.join(wh, t), ignore_errors=True)
    try:
        edges = spark.range(2000).select(
            (F.col("id") % 97).alias("src"), (F.col("id") % 89).alias("dst")
        )
        edges = edges.unionByName(
            edges.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
        )
        df = pagerank_cobucketed(edges, iters=4, table="bkt_pr_src", n_buckets=8)
        plan = plan_of(df)
        # the rank join is a sort-merge, never a broadcast-hash (the
        # only broadcasts left are the single-row node-count scalar)
        assert "SortMergeJoin" in plan, plan
        assert "BroadcastHashJoin" not in plan, plan
        # edges never move: no exchange re-partitions on src — the
        # bucketed scan satisfies the join's src distribution in place
        assert "Exchange hashpartitioning(src" not in plan, plan
        scan = [ln for ln in plan.splitlines() if "FileScan" in ln and "bkt_pr_src" in ln]
        assert scan and "SelectedBucketsCount" in scan[0], plan

        got = {
            r["node"]: round(r["r"], 9)
            for r in pagerank_cobucketed(
                edges, iters=4, table="bkt_pr_src", reuse_existing=True
            ).collect()
        }
        want = {
            r["node"]: round(r["r"], 9) for r in pagerank(edges, iters=4).collect()
        }
        assert got == want
        # the gate: past the ceiling, pagerank_bucketed delegates here
        # (same ranks, no rank broadcast in the delegated plan)
        routed = pagerank_bucketed(
            edges, iters=4, table="bkt_pr_gate", n_buckets=8, broadcast_cutoff=0
        )
        rplan = plan_of(routed)
        assert "BroadcastHashJoin" not in rplan, rplan
        assert {r["node"]: round(r["r"], 9) for r in routed.collect()} == want
    finally:
        for t in ts:
            spark.sql(f"DROP TABLE IF EXISTS {t}")
            shutil.rmtree(os.path.join(wh, t), ignore_errors=True)


def test_spec_evolution_mixed_window_scans_pruned(spark, tmpdir):
    """PARTITION-SPEC EVOLUTION (r8): after an online re-bucket, a
    probe over a MIXED table — new-spec base, an old-spec-stamped
    in-flight batch, and an unstamped (crashed-before-stamp) batch —
    must still carry a static ``ib IN (...)`` partition filter on
    every scan whose spec is known (with the value list TRANSLATED to
    each dir's own spec), and scan the unstamped dir unpruned (the
    safe direction) — never drop it."""
    from pyspark.sql import functions as F

    from mo_etl_spark import streaming as S

    def ib(n):
        return F.pmod(F.xxhash64("k"), F.lit(int(n)))

    def batch(lo, hi, bid, n, stamp=True):
        df = (
            spark.range(lo, hi)
            .select(F.col("id").alias("k"), (F.col("id") * 10).alias("v"))
            .withColumn("ib", ib(n))
        )
        S.idempotent_batch_write(df, f"{tmpdir}/tbl", bid, partition_cols=["ib"])
        if stamp:
            S.stamp_spec(f"{tmpdir}/tbl", bid, n)

    for b in range(4):
        batch(b * 64, (b + 1) * 64, b, 2)
    S.compact_batched(
        spark,
        f"{tmpdir}/tbl",
        min_dirs=0,
        partition_cols=["ib"],
        gc_grace_sec=0,
        transform=S.rebucket_transform(
            "ib", ib, 2, cap_rows=16, prior_extra=S.read_manifest_extra(f"{tmpdir}/tbl")
        ),
    )
    n_new = S.current_spec(f"{tmpdir}/tbl", 2)
    assert n_new > 2
    batch(1000, 1064, 50, 2)  # in-flight writer: old spec, stamped
    batch(2000, 2064, 51, n_new, stamp=False)  # crashed before stamp
    keys = [3, 1003, 2007]
    vals = sorted(
        r["v"]
        for r in spark.createDataFrame([(k,) for k in keys], "k BIGINT")
        .select(ib(n_new).alias("v"))
        .distinct()
        .collect()
    )
    got = S.read_batched_pruned(
        spark, f"{tmpdir}/tbl", "ib", vals, n_new, "k BIGINT, v BIGINT, ib BIGINT"
    )
    plan = got._jdf.queryExecution().toString()
    scans = [
        ln
        for ln in plan.splitlines()
        if "FileScan parquet" in ln and "ib#" in ln
    ]
    assert len(scans) == 3, plan  # base1 + b50 + b51
    unpruned = [ln for ln in scans if "PartitionFilters: []" in ln]
    pruned = [ln for ln in scans if ln not in unpruned]
    assert len(unpruned) == 1, plan  # exactly the unstamped dir
    for ln in pruned:
        pf = ln.split("PartitionFilters")[1]
        # a translated single-value list renders as an equality, a
        # multi-value one as IN/INSET — all are static partition prunes
        assert "ib#" in pf and (
            "INSET" in pf or " IN " in pf or " = " in pf
        ), ln
    # and the rows are exact despite the mix
    rows = sorted(
        (r["k"], r["v"]) for r in got.where(F.col("k").isin(keys)).collect()
    )
    assert rows == [(k, k * 10) for k in sorted(keys)]


def test_txn_group_ann_serve_excludes_uncommitted_batch(spark, sf001):
    """The cross-family txn group query's serve (r11) reads AT the
    group watermark: the phantom trigger's batch dir (written complete
    to both tables, never committed) must be absent from the serve
    plan's scan locations AND from the corpus summary's — one leaked
    path is the torn window the group protocol exists to kill.  The
    serve also keeps the matched-cell pruning of the upsert family."""
    from mo_etl_spark.suites.streaming_real import stream_real_txn_group_ann

    df = stream_real_txn_group_ann(spark, sf001)
    plan = df._jdf.queryExecution().toString()
    # the phantom batch is always watermark+1 = 4 at this feed split
    # (4 files -> batches 0..3); both tables' b4 must not be scanned
    assert "b4" not in plan, [
        ln for ln in plan.splitlines() if "b4" in ln
    ]
    scans = [
        ln
        for ln in plan.splitlines()
        if "FileScan parquet" in ln and "cell#" in ln
    ]
    assert scans, plan
    for ln in scans:
        pf = ln.split("PartitionFilters")[1]
        assert "cell#" in pf and ("INSET" in pf or " IN " in pf), ln


_GROUPED_MAP_QUERIES = (
    "udf_grouped_map_sequence",
    "win_sessionize_capped",
    "ts_ewma_per_user",
    "ts_holt_trend_per_user",
    "ts_capped_running_balance",
)


@pytest.mark.parametrize("name", _GROUPED_MAP_QUERIES)
def test_grouped_map_queries_run_one_map_in_pandas(spark, sf001, name):
    """The engine's grouped maps go through ``grouped_pandas``: one
    ``MapInPandas`` (Python once per Arrow batch) behind ONE keyed
    exchange, never the per-group ``FlatMapGroupsInPandas``."""
    import __spark_entry__ as entry

    plan = plan_of(entry.queries()[name](spark, sf001))
    assert "MapInPandas" in plan and "FlatMapGroupsInPandas" not in plan, plan
    exchanges = [ln for ln in plan.splitlines() if "Exchange" in ln]
    assert len(exchanges) == 1, plan
    assert "hashpartitioning(user_id#" in exchanges[0], exchanges


def test_sim_topk_build_runs_no_job(spark, sf001):
    """``llm_sim_topk`` routes by the table's footer row count
    (``tables.table_rows``), so building its DataFrame starts no Spark
    job: no eager checkpoint and count of the corpus."""
    from mo_etl_spark.suites.llm import llm_sim_topk
    from mo_etl_spark.tables import load_table

    # a table's first scan infers its schema with a footer job of its own
    load_table(spark, sf001, "embeddings")
    sc = spark.sparkContext
    # the tracker below lists jobs outside any job group
    assert sc.getLocalProperty("spark.jobGroup.id") is None
    tracker = sc.statusTracker()
    bus = sc._jsc.sc().listenerBus()
    bus.waitUntilEmpty()
    before = set(tracker.getJobIdsForGroup())
    llm_sim_topk(spark, sf001)
    bus.waitUntilEmpty()
    assert set(tracker.getJobIdsForGroup()) - before == set()
