"""Physical-plan regression tests: the scale properties the engine
promises (broadcast placement, filter pushdown, top-k without global
sort, partial aggregation) asserted against the optimizer's output —
so a refactor that silently degrades a plan fails CI, not the bench."""

from __future__ import annotations

import io
from contextlib import redirect_stdout

import pytest

from big_data_chicago_crimes_spark.plans.registry import all_queries

QUERIES = all_queries()


def formatted_plan(spark, sf_dir, name) -> str:
    df = QUERIES[name].build(spark, sf_dir)
    buf = io.StringIO()
    with redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


def test_star_join_broadcasts_dims(spark, sf_dir):
    plan = formatted_plan(spark, sf_dir, "revenue_by_nation")
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan  # at test SF everything fits broadcast


def test_not_in_filter_pushed_to_scan(spark, sf_dir):
    # the r17 merge pushes the NOT-IN predicate (the IN-set nests
    # inside its complement, so one pushed filter serves both legs)
    plan = formatted_plan(spark, sf_dir, "events_filter_topk_surface")
    assert "Not(In(event_type" in plan


def test_range_filter_pushed_to_scan(spark, sf_dir):
    plan = formatted_plan(spark, sf_dir, "pricing_summary")
    assert "LessThanOrEqual(l_shipdate" in plan


def test_topk_uses_take_ordered(spark, sf_dir):
    plan = formatted_plan(spark, sf_dir, "events_filter_topk_surface")
    assert "TakeOrderedAndProject" in plan
    # no global Sort node outside the top-k operator
    assert plan.count("Sort (") == 0 or "TakeOrderedAndProject" in plan


def test_agg_has_partial_final(spark, sf_dir):
    plan = formatted_plan(spark, sf_dir, "events_count_by_type")
    assert plan.count("HashAggregate") >= 2  # partial + final


def test_column_pruning_reaches_scan(spark, sf_dir):
    plan = formatted_plan(spark, sf_dir, "events_count_by_type")
    # the events scan must read ONLY event_type (no ts/props/value)
    read_schemas = [l for l in plan.splitlines() if "ReadSchema" in l]
    assert any("struct<event_type:string>" in l for l in read_schemas), read_schemas


def test_semi_join_no_right_columns(spark, sf_dir):
    plan = formatted_plan(spark, sf_dir, "exists_join_surface")
    assert "LeftSemi" in plan


def test_q3_filters_pushed_before_joins(spark, sf_dir):
    """TPC-H Q3 shape: the segment, order-date, and ship-date predicates
    must all reach their parquet scans — filtering after the join would
    move the whole fact table through the shuffle."""
    plan = formatted_plan(spark, sf_dir, "orders_q3_topk_surface")
    assert "EqualTo(c_mktsegment,BUILDING)" in plan
    assert "LessThan(o_orderdate" in plan
    assert "GreaterThan(l_shipdate" in plan
    assert "TakeOrderedAndProject" in plan


def test_jaccard_pair_join_not_single_task(spark, sf_dir):
    """The blocked all-pairs self-join must not stream over the raw
    1-row-group scan (one task computing every pair): the spread
    repartition has to sit below the join on the streaming side."""
    plan = formatted_plan(spark, sf_dir, "docs_jaccard_pairs")
    assert "RoundRobinPartitioning" in plan


def test_ann_query_vector_is_filter_not_full_read(spark, sf_dir):
    """The ANN probe fetches its query vector via a pushed-down vec_id
    filter (one row to the driver), never a full-table read: the plan of
    the 1-row fetch must show the pushed filter."""
    from pyspark.sql import functions as F

    from big_data_chicago_crimes_spark.sources.readers import load_tables

    t = load_tables(spark, sf_dir)
    q = t.embeddings.filter(F.col("vec_id") == 0).select("embedding")
    buf = io.StringIO()
    with redirect_stdout(buf):
        q.explain("formatted")
    assert "EqualTo(vec_id,0)" in buf.getvalue()


def test_partitioned_lake_scan_prunes_partitions(spark, sf_dir):
    """orders_lake_partitioned_scan's priority equality must resolve as
    a PartitionFilter against the hive-partitioned directory layout (the
    sink the query itself writes) — directories outside the selected
    priority are never opened. A filter that degrades to a post-scan
    predicate would read every partition at 100 TB."""
    plan = formatted_plan(spark, sf_dir, "orders_lake_partitioned_scan")
    scan = [l for l in plan.splitlines() if "PartitionFilters" in l]
    assert any("o_orderpriority" in l for l in scan), plan
    # and the pruned column never appears as a pushed DATA filter — it
    # exists only in directory names
    assert not any(
        "o_orderpriority" in l for l in plan.splitlines() if "PushedFilters" in l
    )


def test_bucketed_join_avoids_shuffle(spark, tmp_path):
    """Bucketing both sides on the join key co-locates partitions: the
    join plan contains NO Exchange (the 100 TB repeated-join strategy)."""
    spark.sql("DROP TABLE IF EXISTS b_fact")
    spark.sql("DROP TABLE IF EXISTS b_dim")
    fact = spark.range(1000).selectExpr("id % 50 AS k", "id AS v")
    dim = spark.range(50).selectExpr("id AS k", "id * 2 AS w")
    (fact.write.mode("overwrite").bucketBy(8, "k").sortBy("k")
         .option("path", str(tmp_path / "b_fact")).saveAsTable("b_fact"))
    (dim.write.mode("overwrite").bucketBy(8, "k").sortBy("k")
        .option("path", str(tmp_path / "b_dim")).saveAsTable("b_dim"))
    joined = (
        spark.table("b_fact")
        .hint("merge")  # force SMJ so the bucketing (not broadcast) is exercised
        .join(spark.table("b_dim"), "k")
    )
    plan = joined._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan, plan


def test_global_window_warns_on_raw_unaggregated_input(spark, sf_dir):
    """Raw-scale guard (operators/windows.py): a global (unpartitioned)
    window over a raw scan funnels every row into one WindowExec
    partition — the helpers must warn. Aggregated series and partitioned
    windows stay silent."""
    import warnings

    from pyspark.sql import functions as F

    from big_data_chicago_crimes_spark.operators.windows import (
        moving_average,
        running_total,
    )
    from big_data_chicago_crimes_spark.sources.readers import load_table

    orders = load_table(spark, sf_dir, "orders")
    with warnings.catch_warnings(record=True) as caught:
        warnings.simplefilter("always")
        moving_average(orders, ["o_orderdate"], "o_totalprice")
        running_total(orders, ["o_orderdate"], "o_totalprice")
    assert len([w for w in caught if "WindowExec" in str(w.message)]) == 2

    monthly = orders.groupBy(F.year("o_orderdate").alias("y")).agg(
        F.sum("o_totalprice").alias("s")
    )
    with warnings.catch_warnings(record=True) as caught:
        warnings.simplefilter("always")
        moving_average(monthly, ["y"], "s")                      # aggregated: ok
        running_total(orders, ["o_orderdate"], "o_totalprice",
                      partition_by=["o_custkey"])                # partitioned: ok
    assert not [w for w in caught if "WindowExec" in str(w.message)]


def test_pair_join_broadcast_pin_is_size_guarded(spark):
    """_pin_pair_join_build_side must NOT hint broadcast when the build
    side's estimated size exceeds autoBroadcastJoinThreshold (VERDICT r2
    #6) — an oversized hint is a driver OOM at larger SFs."""
    from big_data_chicago_crimes_spark.operators.dedup import (
        _pin_pair_join_build_side,
    )

    big = spark.range(2_000_000).selectExpr("id", "CAST(id AS STRING) AS s")
    small = spark.range(10).selectExpr("id", "CAST(id AS STRING) AS s")
    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", str(1 << 20))  # 1 MiB
    try:
        hinted_small = _pin_pair_join_build_side(small)
        hinted_big = _pin_pair_join_build_side(big)
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)
    def has_hint(df):
        return "ResolvedHint" in df._jdf.queryExecution().analyzed().toString()
    assert has_hint(hinted_small), "small build side should carry the hint"
    assert not has_hint(hinted_big), "oversized build side must not be hinted"


def test_quota_sample_histogram_cached_and_windows_bounded(spark, sf_dir):
    """quota_sample's scale contract: the groups-sized cutoff frame is
    persisted (both output legs read InMemoryTableScan — the histogram
    subtree plans once), it reaches the data via broadcast joins, and
    the only window over DATA rows is partitioned by the group (the
    boundary bucket), never unbounded."""
    import re

    df = QUERIES["docs_domain_quota"].build(spark, sf_dir)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert plan.count("InMemoryTableScan") >= 2, plan
    assert "BroadcastHashJoin" in plan
    # Every row_number window must be PARTITION-bounded: the quota
    # leg's boundary rank by the group (source), and — since the r11
    # ccnet_head leg — score_ntile's boundary rank by (lang, coarse
    # score bucket __sb). An unpartitioned/global row_number anywhere
    # is the single-straggler shape this test exists to forbid.
    row_specs = re.findall(
        r"row_number\(\) windowspecdefinition\(([^)]*?)\)", plan
    )
    assert row_specs, plan
    for s in row_specs:
        assert ("source" in s) or ("lang" in s and "__sb" in s), s


def test_temperature_mix_thresholds_broadcast_no_data_shuffle(spark, sf_dir):
    """temperature_mix's data-sized pass must be a scan + broadcast-join
    filter: the domain-threshold frame reaches the corpus via broadcast,
    never a SortMergeJoin shuffle of the data."""
    plan = formatted_plan(spark, sf_dir, "docs_temperature_mix")
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan, plan


def test_global_hash_order_rank_window_is_bucket_partitioned(spark, sf_dir):
    """global_hash_order's exact-rank window must be partitioned by
    (stage, hash bucket) — a bounded partition per task — never a
    global or stage-wide row_number (the single-straggler shape the
    histogram-offset design exists to avoid)."""
    import re

    df = QUERIES["docs_curriculum_order"].build(spark, sf_dir)
    plan = df._jdf.queryExecution().executedPlan().toString()
    specs = re.findall(r"row_number\(\) windowspecdefinition\(([^)]*?)\)", plan)
    assert specs, plan
    for s in specs:
        assert "stage" in s and "__ob" in s, s


def test_batch_ann_probe_side_broadcasts_corpus_never_shuffles(spark, sf_dir):
    """embedding_batch_topk's scale contract: the query-probe frame is
    the BROADCAST side of the bucket join (corpus never shuffles into
    it) and the per-query rerank window partitions by query_id over
    probed candidates only — no corpus-wide Exchange below the join."""
    plan = formatted_plan(spark, sf_dir, "embedding_batch_topk")
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan
    # the rerank window exists and partitions by query_id
    assert "Window" in plan and "query_id" in plan
    # the bucket join DYNAMICALLY PARTITION-PRUNES the lake index scan:
    # only the partitions in the broadcast probe set are read
    assert "dynamicpruning" in plan, "lake scan not DPP-pruned"


def test_batch_ivf_probe_side_broadcasts_and_prunes_lake(spark, sf_dir):
    """The batch_ivf leg of embedding_ivf_topk_lake_seeded: the
    (query, cell) probe frame is the BROADCAST side of the centroid_id
    join, and the literal-codebook lake scan is dynamically
    partition-pruned to the probed cells — the corpus side never
    shuffles (same contract as the LSH batch path)."""
    plan = formatted_plan(spark, sf_dir, "embedding_ivf_topk_lake_seeded")
    assert "BroadcastHashJoin" in plan
    assert "dynamicpruning" in plan, "literal-codebook lake scan not DPP-pruned"


def test_incremental_dedup_is_anti_join_on_fingerprints(spark, sf_dir):
    """docs_incremental_dedup's scale contract: the corpus participates
    via a LeftAnti join on the fingerprint column (plus the final
    LeftSemi id join) — no window, no sort of corpus text anywhere."""
    plan = formatted_plan(spark, sf_dir, "docs_incremental_dedup")
    assert "LeftAnti" in plan
    assert "LeftSemi" in plan
    assert "Window" not in plan


def test_interval_join_is_single_key_shuffle_with_range_residual(spark, sf_dir):
    """events_interval_join_batch: one equi-key join on user with the
    time-range bound as a residual condition — not a cross join, not a
    broadcast nested loop over the fact table."""
    plan = formatted_plan(spark, sf_dir, "events_interval_join_batch")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_intra_doc_dedup_query_is_zero_shuffle(spark, sf_dir):
    """docs_intra_dedup's load-bearing scale claim: the whole dedup pass
    is scalar expressions — the ONLY exchange in the plan belongs to the
    final presentation orderBy, never the dedup itself."""
    plan = formatted_plan(spark, sf_dir, "docs_intra_dedup")
    # formatted plans list each node twice (tree + details): count the
    # tree entries ("Node (" form) only
    # one range-partitioning exchange for the orderBy; nothing else
    assert plan.count("Exchange (") <= 1, plan
    assert "HashAggregate (" not in plan  # no census/groupBy anywhere
    assert "Join (" not in plan


def test_temporal_bucket_surface_single_scan(spark, sf_dir):
    """The merged temporal query's one-scan contract: GROUPING SETS
    consumed once — a union of two aggregates over the same parent
    would duplicate the subplan (2 scans, no ReuseExchange; measured
    r12)."""
    import re

    plan = formatted_plan(spark, sf_dir, "orders_temporal_bucket_surface")
    # tree entries are "Scan parquet  (N)" (note double space)
    assert len(re.findall(r"Scan parquet\s+\(", plan)) == 1, plan
    assert "Expand (" in plan  # grouping sets, not a union of groupBys
    assert "Union (" not in plan


def test_maximal_spans_candidate_pipeline_planned_once(spark, sf_dir):
    """maximal_span_pairs scratch-persists its gram frame so the
    candidate pipeline (the strided xxhash64 join + gram explosion) is
    planned ONCE and both self-join sides read the cached relation — a
    regression to two full candidate subtrees doubles the operator's
    dominant cost (r15 A/B). The persist shows as InMemoryTableScan on
    both join inputs (the regression case shows ZERO InMemoryTableScan
    and two independent scan+join subtrees; operator string-counts
    above the cache boundary are not meaningful — the cached plan's own
    operators print once per scan site)."""
    from big_data_chicago_crimes_spark.operators.dedup import maximal_span_pairs
    from big_data_chicago_crimes_spark.session import release_scratch_caches
    from big_data_chicago_crimes_spark.sources.readers import load_tables

    docs = load_tables(spark, sf_dir).documents.select("doc_id", "text")
    df = maximal_span_pairs(docs, min_span=50, k=40)
    plan = df._jdf.queryExecution().executedPlan().toString()
    release_scratch_caches()
    assert plan.count("InMemoryTableScan") >= 2, plan[:2000]


# The nine short queries perfbench's ``olap`` workload cycles through:
# one pass generates more classes than Spark's stock 100-entry codegen
# cache holds.
OLAP_CYCLE = [
    "events_count_by_type",
    "hourly_max_event_count",
    "orders_quarter_pivot",
    "orders_lake_partitioned_scan",
    "revenue_by_nation",
    "pricing_summary",
    "orders_running_total",
    "events_sliding_1h_30m",
    "lineitem_rollup",
]


def test_codegen_cache_holds_a_query_cycle(spark, sf_dir):
    """A session that re-runs the same queries (the menu, a registry
    cycle) must reuse their generated classes: with Spark's 100-entry
    default the second cycle recompiled ~50 of them, so every pass paid
    Janino again (session.py sizes the cache)."""
    from big_data_chicago_crimes_spark.session import codegen_counters, release_scratch_caches

    def cycle():
        for name in OLAP_CYCLE:
            QUERIES[name].build(spark, sf_dir).write.format("noop").mode("overwrite").save()
            release_scratch_caches()

    cycle()
    before, _ = codegen_counters(spark)
    cycle()
    recompiled = codegen_counters(spark)[0] - before
    assert recompiled == 0, f"{recompiled} classes recompiled on the second cycle"
