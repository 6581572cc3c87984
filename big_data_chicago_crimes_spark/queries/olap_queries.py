"""OLAP coverage beyond the reference's surface: grouping sets
(rollup/cube — SURVEY.md §2.4 notes pivot is the reference's closest
construct and the engine should expose the full family), running
totals, exact distinct counts, percentiles, and schema'd JSON parsing.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

from big_data_chicago_crimes_spark.operators.windows import running_total
from big_data_chicago_crimes_spark.plans.registry import register
from big_data_chicago_crimes_spark.sources.readers import load_tables


@register(
    "lineitem_rollup",
    # r9: the former lineitem_correlations registration (reference:M13 —
    # the three global Pearson pairs, r7-green) folds into this SAME
    # single-pass rollup aggregate: corr() rides the existing groups and
    # the grand-total row carries the identical global values. One scan
    # and one aggregate instead of two; the slot freed funds
    # embedding_semantic_dedup. The 4×4 matrix form (ml_correlation_matrix)
    # still certifies M13's matrix surface separately.
    # r10 adjudication (interleaved A/B; the r9 merge cost is in
    # BENCH_ATTRIBUTION_r09.md): at sf0.1 the merged form measures
    # ~0.09 s ABOVE the former pair (the extra co-moment updates at the
    # two coarser grouping levels cost more than the nearly-free second
    # scan at that size); at sf1 the scan is no longer free and the
    # merged form wins — 2.63 s vs 2.71 s median-of-3 alternating. The
    # one-scan rationale is a scale property, not an sf0.1 one; kept
    # merged.
    oracle="""
        SELECT l_returnflag, l_linestatus,
               COUNT(*) AS cnt, ROUND(SUM(l_quantity), 2) AS sum_qty,
               ROUND(corr(l_quantity, l_extendedprice), 6) AS corr_qty_price,
               ROUND(corr(l_extendedprice, l_discount), 6) AS corr_price_discount,
               ROUND(corr(l_quantity, l_tax), 6) AS corr_qty_tax
        FROM lineitem
        GROUP BY ROLLUP (l_returnflag, l_linestatus)
        ORDER BY l_returnflag NULLS FIRST, l_linestatus NULLS FIRST
    """,
    tags=("olap", "grouping-sets", "ml", "stats", "reference:M13"),
)
def lineitem_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ROLLUP hierarchy totals: (flag, status) → (flag) → grand total.
    One shuffle; Catalyst expands the grouping sets into a single agg.
    Pearson correlations (F.corr — same math as ml.stat.Correlation,
    Dataset.py:883-885) ride the same aggregate per group; the grand-
    total row's values are the former lineitem_correlations result."""
    t = load_tables(spark, sf_dir)
    return (
        t.lineitem.rollup("l_returnflag", "l_linestatus")
        .agg(
            F.count("*").alias("cnt"),
            F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
            F.round(F.corr("l_quantity", "l_extendedprice"), 6).alias("corr_qty_price"),
            F.round(F.corr("l_extendedprice", "l_discount"), 6).alias("corr_price_discount"),
            F.round(F.corr("l_quantity", "l_tax"), 6).alias("corr_qty_tax"),
        )
        .orderBy(
            F.col("l_returnflag").asc_nulls_first(),
            F.col("l_linestatus").asc_nulls_first(),
        )
    )


@register(
    "orders_grouping_surface",
    # r7 merge of orders_cube + orders_grouping_sets (the
    # purchaser_error_overlap precedent): BOTH grouping-set surfaces —
    # the DataFrame .cube() API and explicit SQL GROUPING SETS — certify
    # in ONE registry slot (union with a leg marker), funding a new
    # query's place in the 50-entry driver window.
    # r9: a third 'pctl' leg absorbs the former orders_price_quantiles
    # registration (exact interpolated percentiles over the SAME orders
    # scan — 4 rows, metric name in k1, value in total_price), freeing
    # its slot to fund docs_line_dedup. The exact GK-sketch contrast
    # query (orders_price_quantiles_approx) is unchanged.
    oracle="""
        SELECT 'cube' AS leg,
               CAST(EXTRACT(year FROM o_orderdate) AS VARCHAR) AS k1,
               o_orderstatus AS k2,
               COUNT(*) AS n,
               CAST(NULL AS DOUBLE) AS total_price
        FROM orders
        GROUP BY CUBE (2, o_orderstatus)
        UNION ALL
        SELECT 'gsets' AS leg,
               COALESCE(o_orderpriority, 'ALL') AS k1,
               COALESCE(o_orderstatus, 'ALL') AS k2,
               COUNT(*) AS n,
               ROUND(SUM(o_totalprice), 2) AS total_price
        FROM orders
        GROUP BY GROUPING SETS ((o_orderpriority), (o_orderstatus), ())
        UNION ALL
        SELECT 'pctl' AS leg, m.k1, 'ALL' AS k2, s.n, m.v AS total_price
        FROM (SELECT COUNT(*) AS n,
                     ROUND(median(o_totalprice), 4) AS med,
                     ROUND(quantile_cont(o_totalprice, 0.9), 4) AS p90,
                     ROUND(MIN(o_totalprice), 4) AS mn,
                     ROUND(MAX(o_totalprice), 4) AS mx
              FROM orders) s,
             LATERAL (VALUES ('max_price', s.mx), ('median_price', s.med),
                             ('min_price', s.mn), ('p90_price', s.p90)) m(k1, v)
        ORDER BY leg, k1 NULLS FIRST, k2 NULLS FIRST
    """,
    tags=("olap", "grouping-sets", "percentile", "extension"),
)
def orders_grouping_surface(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Grouping-set machinery through BOTH API surfaces in one result:
    CUBE over (year, status) via the DataFrame API (all four grouping
    combinations) and explicit GROUPING SETS ((priority),(status),())
    via SQL — per-priority totals, per-status totals, and the grand
    total in ONE pass each (Spark expands the sets map-side — one
    shuffle, not three scans). The 'pctl' leg carries the exact
    interpolated percentiles of o_totalprice (SQL percentile_cont
    semantics on both engines — former orders_price_quantiles,
    merged r9): one global aggregate, 4 metric rows."""
    t = load_tables(spark, sf_dir)
    cube_leg = (
        t.orders.select(
            F.year("o_orderdate").cast("string").alias("k1"), "o_orderstatus"
        )
        .cube("k1", "o_orderstatus")
        .agg(F.count("*").alias("n"))
        .select(
            F.lit("cube").alias("leg"),
            "k1",
            F.col("o_orderstatus").alias("k2"),
            "n",
            F.lit(None).cast("double").alias("total_price"),
        )
    )
    t.orders.createOrReplaceTempView("orders_gs")
    gsets_leg = spark.sql("""
        SELECT 'gsets' AS leg,
               COALESCE(o_orderpriority, 'ALL') AS k1,
               COALESCE(o_orderstatus, 'ALL') AS k2,
               COUNT(*) AS n,
               ROUND(SUM(o_totalprice), 2) AS total_price
        FROM orders_gs
        GROUP BY GROUPING SETS ((o_orderpriority), (o_orderstatus), ())
    """)
    # ONE percentile(array(...)) aggregate, not median()+percentile():
    # each separate call buffers the full column independently inside
    # the sort-based agg — measured 0.9 s vs 0.4 s at sf0.1 for the
    # identical interpolated values.
    pctl_leg = (
        t.orders.agg(
            F.count(F.lit(1)).alias("n"),
            F.percentile(
                "o_totalprice", F.array(F.lit(0.5), F.lit(0.9))
            ).alias("ps"),
            F.min("o_totalprice").alias("mn0"),
            F.max("o_totalprice").alias("mx0"),
        )
        .select(
            "n",
            F.round(F.col("ps")[0], 4).alias("med"),
            F.round(F.col("ps")[1], 4).alias("p90"),
            F.round(F.col("mn0"), 4).alias("mn"),
            F.round(F.col("mx0"), 4).alias("mx"),
        )
        .select(
            F.lit("pctl").alias("leg"),
            F.explode(
                F.array(
                    F.struct(F.lit("max_price").alias("k1"), F.col("mx").alias("v")),
                    F.struct(F.lit("median_price").alias("k1"), F.col("med").alias("v")),
                    F.struct(F.lit("min_price").alias("k1"), F.col("mn").alias("v")),
                    F.struct(F.lit("p90_price").alias("k1"), F.col("p90").alias("v")),
                )
            ).alias("m"),
            "n",
        )
        .select(
            "leg",
            F.col("m.k1").alias("k1"),
            F.lit("ALL").alias("k2"),
            "n",
            F.col("m.v").alias("total_price"),
        )
    )
    return cube_leg.unionByName(gsets_leg).unionByName(pctl_leg).orderBy(
        "leg", F.col("k1").asc_nulls_first(), F.col("k2").asc_nulls_first()
    )


@register(
    "orders_running_total",
    oracle="""
        WITH m AS (
            SELECT CAST(EXTRACT(year FROM o_orderdate) AS INTEGER) AS year,
                   CAST(EXTRACT(month FROM o_orderdate) AS INTEGER) AS month,
                   COUNT(*) AS cnt
            FROM orders GROUP BY 1, 2
        )
        SELECT year, month, cnt,
               CAST(SUM(cnt) OVER (ORDER BY year, month
                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
                    AS running_total
        FROM m ORDER BY year, month
    """,
    tags=("window", "running-total"),
)
def orders_running_total(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cumulative monthly order count (unbounded-preceding frame over the
    aggregated series — ~80 rows, so the single-partition window is safe)."""
    t = load_tables(spark, sf_dir)
    monthly = (
        t.orders.select(
            F.year("o_orderdate").alias("year"), F.month("o_orderdate").alias("month")
        )
        .groupBy("year", "month")
        .agg(F.count("*").alias("cnt"))
    )
    return running_total(monthly, ["year", "month"], "cnt").orderBy("year", "month")


@register(
    "users_distinct_exact_vs_approx",
    # r7 merge of distinct_users_by_type + approx_distinct_users_by_type
    # (the purchaser_error_overlap precedent): the exact two-phase
    # COUNT(DISTINCT) and the HLL sketch certify in ONE registry slot,
    # funding a new query's place in the 50-entry driver window. HLL
    # VALUES differ engine-to-engine by design, but the sketch's error
    # CONTRACT is checkable (VERDICT r2 #4): emit the exact count
    # (DuckDB-verifiable) plus a boolean asserting the HLL estimate landed
    # within 5% of it (rsd=0.02 → ±2% expected; 5% absorbs tail cases).
    oracle="""
        SELECT event_type,
               CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_users_exact,
               TRUE AS approx_within_5pct
        FROM events GROUP BY event_type ORDER BY event_type
    """,
    tags=("agg", "distinct", "approx"),
)
def users_distinct_exact_vs_approx(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact COUNT(DISTINCT) per group (two-phase: partial distinct
    map-side, exchange on (type,user), final count) side-by-side with
    approx_count_distinct (HyperLogLog++) — the 100 TB substitute: no
    exchange of the distinct keys, fixed-size mergeable sketch.
    Certified by the exact count plus the sketch's bounded relative
    error against it."""
    t = load_tables(spark, sf_dir)
    return (
        t.events.groupBy("event_type")
        .agg(
            F.countDistinct("user_id").alias("n_users_exact"),
            F.approx_count_distinct("user_id", rsd=0.02).alias("n_approx"),
        )
        .select(
            "event_type",
            "n_users_exact",
            (
                F.abs(F.col("n_approx") - F.col("n_users_exact"))
                <= 0.05 * F.col("n_users_exact")
            ).alias("approx_within_5pct"),
        )
        .orderBy("event_type")
    )


# orders_price_quantiles merged into orders_grouping_surface's 'pctl'
# leg (r9) — identical exact-percentile values over the same scan, one
# registry slot freed to fund docs_line_dedup. The GK-sketch contrast
# (orders_price_quantiles_approx) below still certifies approx vs exact.

# Histogram-sketch leg constants: o_totalprice spans ~850-560k at every
# TPC-H SF (per-order totals are SF-invariant), so [0, 600000) covers
# it; 4096 bins → width 146.484375 (600000/4096 — EXACT in binary, so
# the bound literal is the same double in both engines).
_QS_LO, _QS_HI, _QS_BINS = 0.0, 600000.0, 4096
_QS_BINW = (_QS_HI - _QS_LO) / _QS_BINS


def _quantiles_surface_oracle() -> str:
    from big_data_chicago_crimes_spark.operators.sketches import (
        qsketch_quantile_oracle_sql,
    )

    hist = qsketch_quantile_oracle_sql(
        "'all'", "o_totalprice", "SELECT * FROM orders",
        [0.5, 0.9], _QS_LO, _QS_HI, _QS_BINS,
    )
    return f"""
        SELECT e.median_exact, e.p90_exact,
               TRUE AS median_within_1pct,
               TRUE AS p90_within_1pct,
               ROUND(h.q_0_5, 4) AS hist_median,
               ROUND(h.q_0_9, 4) AS hist_p90,
               ABS(h.q_0_5 - e.median_exact) <= {_QS_BINW!r}
                   AS hist_median_within_binw,
               ABS(h.q_0_9 - e.p90_exact) <= {_QS_BINW!r}
                   AS hist_p90_within_binw,
               -- merge-of-halves == sketch-of-union: integer cell sums,
               -- so the direct sketch's estimates ARE the merged truth;
               -- the Spark side computes them through qsketch_merge of
               -- o_orderkey-parity halves, making the driver hash a
               -- mergeability certification (the HLL 'merged'-leg
               -- pattern)
               ROUND(h.q_0_5, 4) AS hist_median_merged,
               ROUND(h.q_0_9, 4) AS hist_p90_merged
        FROM (SELECT ROUND(median(o_totalprice), 4) AS median_exact,
                     ROUND(quantile_cont(o_totalprice, 0.9), 4) AS p90_exact
              FROM orders) e
        CROSS JOIN ({hist}) h
    """


@register(
    "events_json_profile",
    # r7 merge of events_json_extract + events_from_json_struct (the
    # purchaser_error_overlap precedent): both JSON access paths — the
    # stringly get_json_object leg and the schema'd from_json struct leg —
    # hash-certify in ONE registry slot, funding a new query's place in
    # the 50-entry driver window (engine extension; the reference has no
    # JSON columns — SURVEY.md §2.8).
    oracle="""
        SELECT event_type,
               CAST(SUM(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT) AS sum_k,
               ROUND(AVG(CAST(json_extract_string(props, '$.k') AS BIGINT)), 6) AS avg_k,
               CAST(MIN(CAST(json_extract_string(props, '$.k') AS INTEGER)) AS INTEGER) AS min_k,
               CAST(MAX(CAST(json_extract_string(props, '$.k') AS INTEGER)) AS INTEGER) AS max_k
        FROM events GROUP BY event_type ORDER BY event_type
    """,
    tags=("json", "extension"),
)
def events_json_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Both JSON extraction mechanisms over events.props, certified
    against each other in one result: sum/avg via JVM-side
    get_json_object (stringly path), min/max via from_json → typed
    struct (schema'd path). ONE aggregation pass — a two-leg join on the
    group key would silently drop a NULL event_type group (NULL != NULL)
    while the one-pass oracle emits it. No UDF on either leg."""
    t = load_tables(spark, sf_dir)
    k = F.get_json_object("props", "$.k").cast("bigint")
    schema = T.StructType([T.StructField("k", T.IntegerType())])
    p = F.from_json("props", schema).alias("p")
    return (
        t.events.select("event_type", k.alias("k"), p)
        .groupBy("event_type")
        .agg(
            F.sum("k").alias("sum_k"),
            F.round(F.avg("k"), 6).alias("avg_k"),
            F.min("p.k").alias("min_k"),
            F.max("p.k").alias("max_k"),
        )
        .orderBy("event_type")
    )


@register(
    "orders_price_quantiles_approx",
    # GK sketch VALUES differ engine-to-engine by design, but the rank-error
    # contract is checkable (VERDICT r2 #4): emit the exact interpolated
    # percentiles (DuckDB-verifiable) plus booleans asserting the sketch
    # landed within 1% relative error (accuracy=10000 → rank error 1e-4·n;
    # the o_totalprice distribution is dense, so value error is far below 1%).
    # r14 zero-cost extend (the keep_best-inside-docs_exact_dedup
    # precedent): a 'hist_*' leg runs the ENGINE-PORTABLE histogram
    # quantile sketch (operators/sketches.qsketch_build/_quantile — the
    # quantile member of the CMS/HLL family; unlike the GK sketch its
    # state is a storable, cell-wise-mergeable TABLE any engine
    # replays), whose estimates the oracle reproduces EXACTLY and whose
    # error bound (one bin width) is certified against the exact values.
    oracle=_quantiles_surface_oracle(),
    tags=("agg", "percentile", "approx", "sketch"),
)
def orders_price_quantiles_approx(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate quantiles, two sketch families certified in one row:

    - ``m_approx``/``p_approx`` booleans — percentile_approx (GK
      sketch), the built-in 100 TB substitute for exact percentiles:
      mergeable fixed-size state instead of a global sort. Its values
      differ engine-to-engine by design, so certification is bounded
      relative error vs the exact percentiles.
    - ``hist_*`` — the engine-portable histogram quantile sketch
      (qsketch_*): equi-width (group, bin, c) state over [0, 600000),
      4096 bins, cell-wise-ADDITION merge — the quantile member of the
      CMS/HLL sketch-table family. Deterministic integer-rank estimates
      the DuckDB oracle replays bit-for-bit, plus booleans pinning the
      one-bin-width error bound against the exact values. The quantile
      window runs over ≤ 4096 sketch rows, never the data.
    - ``hist_*_merged`` — the same estimates computed through
      ``qsketch_merge`` of two o_orderkey-parity half-sketches; the
      oracle states them from the DIRECT sketch, so the driver hash
      certifies merge-of-halves == sketch-of-union (the HLL
      'merged'-leg pattern)."""
    from big_data_chicago_crimes_spark.operators.sketches import (
        qsketch_build,
        qsketch_merge,
        qsketch_quantile,
    )

    t = load_tables(spark, sf_dir)

    def half_sketch(parity: int):
        return qsketch_build(
            t.orders.filter(F.col("o_orderkey") % 2 == parity).select(
                F.lit("all").alias("g"), "o_totalprice"
            ),
            "o_totalprice",
            ["g"],
            lo=_QS_LO,
            hi=_QS_HI,
            n_bins=_QS_BINS,
        )

    sk = qsketch_build(
        t.orders.select(F.lit("all").alias("g"), "o_totalprice"),
        "o_totalprice",
        ["g"],
        lo=_QS_LO,
        hi=_QS_HI,
        n_bins=_QS_BINS,
    )
    hq = qsketch_quantile(sk, [0.5, 0.9], ["g"], _QS_LO, _QS_HI, _QS_BINS).drop("g")
    merged = qsketch_merge(half_sketch(0), half_sketch(1), ["g"])
    hq_m = (
        qsketch_quantile(merged, [0.5, 0.9], ["g"], _QS_LO, _QS_HI, _QS_BINS)
        .drop("g")
        .select(
            F.col("q_0_5").alias("mq_0_5"),
            F.col("q_0_9").alias("mq_0_9"),
        )
    )
    base = t.orders.agg(
        F.round(F.median("o_totalprice"), 4).alias("median_exact"),
        F.round(F.percentile("o_totalprice", 0.9), 4).alias("p90_exact"),
        F.percentile_approx("o_totalprice", 0.5, 10000).alias("m_approx"),
        F.percentile_approx("o_totalprice", 0.9, 10000).alias("p_approx"),
    )
    return base.crossJoin(F.broadcast(hq)).crossJoin(F.broadcast(hq_m)).select(
        "median_exact",
        "p90_exact",
        (
            F.abs(F.col("m_approx") - F.col("median_exact"))
            <= 0.01 * F.col("median_exact")
        ).alias("median_within_1pct"),
        (
            F.abs(F.col("p_approx") - F.col("p90_exact"))
            <= 0.01 * F.col("p90_exact")
        ).alias("p90_within_1pct"),
        F.round(F.col("q_0_5"), 4).alias("hist_median"),
        F.round(F.col("q_0_9"), 4).alias("hist_p90"),
        (F.abs(F.col("q_0_5") - F.col("median_exact")) <= F.lit(_QS_BINW)).alias(
            "hist_median_within_binw"
        ),
        (F.abs(F.col("q_0_9") - F.col("p90_exact")) <= F.lit(_QS_BINW)).alias(
            "hist_p90_within_binw"
        ),
        F.round(F.col("mq_0_5"), 4).alias("hist_median_merged"),
        F.round(F.col("mq_0_9"), 4).alias("hist_p90_merged"),
    )


@register(
    "revenue_metric_surface",
    # merges the former forecast_revenue_change (TPC-H Q6 shape) and
    # promo_revenue_pct (TPC-H Q14 shape) registrations (both r11-green,
    # both single-row global aggregates over a pushdown-filtered lineitem
    # scan) into one leg-labeled surface: the Q6 pushdown probe and the
    # Q14 join+ratio aggregate both still execute and hash-certify in a
    # single registry slot (the purchaser_error_overlap precedent; one
    # action schedules both legs' stages concurrently). The slot freed
    # funds docs_heavy_hitters_cms.
    oracle="""
        SELECT 'q14_promo_pct' AS leg,
               ROUND(100.0 * SUM(CASE WHEN p_type = 'PROMO'
                              THEN l_extendedprice * (1 - l_discount) ELSE 0 END)
                     / SUM(l_extendedprice * (1 - l_discount)), 6) AS value,
               COUNT(*) AS n_items
        FROM lineitem JOIN part ON l_partkey = p_partkey
        WHERE l_shipdate >= TIMESTAMP '1998-01-01'
          AND l_shipdate <  TIMESTAMP '1998-04-01'
        UNION ALL
        SELECT 'q6_forecast' AS leg,
               ROUND(SUM(l_extendedprice * l_discount), 2) AS value,
               COUNT(*) AS n_items
        FROM lineitem
        WHERE l_shipdate >= TIMESTAMP '1998-01-01'
          AND l_shipdate <  TIMESTAMP '1999-01-01'
          AND l_discount >= 0.05 AND l_discount <= 0.07
          AND l_quantity < 25
        ORDER BY leg
    """,
    tags=("agg", "join", "tpch:q6", "tpch:q14"),
)
def revenue_metric_surface(spark, sf_dir):
    """Two single-row revenue metrics in one surface.

    'q6_forecast' leg — TPC-H Q6 shape: the pure scan-side aggregate;
    every predicate (date band, discount band, quantity cap) pushes to
    the parquet scan, no join, no groupBy shuffle (single global
    aggregate with map-side partials). The canonical 'is pushdown
    working' probe.

    'q14_promo_pct' leg — TPC-H Q14 shape: promo-type revenue share over
    one quarter. The date filter pushes to the lineitem scan; part joins
    on partkey (AQE decides broadcast vs shuffle — part scales with the
    catalog, not with facts, so no unconditional hint); one global ratio
    aggregate."""

    from big_data_chicago_crimes_spark.sources.readers import load_tables

    t = load_tables(spark, sf_dir)
    q6 = t.lineitem.filter(
        (F.col("l_shipdate") >= F.lit("1998-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1999-01-01").cast("timestamp"))
        & (F.col("l_discount") >= 0.05)
        & (F.col("l_discount") <= 0.07)
        & (F.col("l_quantity") < 25)
    ).agg(
        F.round(F.sum(F.col("l_extendedprice") * F.col("l_discount")), 2).alias(
            "value"
        ),
        F.count(F.lit(1)).alias("n_items"),
    ).select(F.lit("q6_forecast").alias("leg"), "value", "n_items")

    li = t.lineitem.filter(
        (F.col("l_shipdate") >= F.lit("1998-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1998-04-01").cast("timestamp"))
    ).select("l_partkey", (F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias("rev"))
    joined = li.join(t.part.select("p_partkey", "p_type"), li.l_partkey == F.col("p_partkey"))
    promo = F.sum(F.when(F.col("p_type") == "PROMO", F.col("rev")).otherwise(0.0))
    q14 = joined.agg(
        F.round(100.0 * promo / F.sum("rev"), 6).alias("value"),
        F.count(F.lit(1)).alias("n_items"),
    ).select(F.lit("q14_promo_pct").alias("leg"), "value", "n_items")

    return q14.unionByName(q6).orderBy("leg")


@register(
    "nation_balance_window_surface",
    # merges the former customer_balance_quartiles and
    # nation_balance_extremes registrations (both r7-green, SAME input
    # join and SAME window spec — PARTITION BY n_name ORDER BY
    # c_acctbal, c_custkey) into one result: NTILE(4), PERCENT_RANK,
    # and FIRST/LAST_VALUE now ride a single customer⋈nation scan and a
    # single per-nation sort instead of two (the
    # orders_monthly_window_surface precedent). The slot freed funds
    # docs_stream_static_dedup_batch.
    oracle="""
        WITH ranked AS (
            SELECT n_name, c_acctbal,
                   NTILE(4) OVER w AS quartile,
                   PERCENT_RANK() OVER w AS pr,
                   FIRST_VALUE(c_name) OVER (w ROWS BETWEEN UNBOUNDED PRECEDING
                                             AND UNBOUNDED FOLLOWING) AS poorest,
                   LAST_VALUE(c_name) OVER (w ROWS BETWEEN UNBOUNDED PRECEDING
                                            AND UNBOUNDED FOLLOWING) AS richest
            FROM customer JOIN nation ON c_nationkey = n_nationkey
            WINDOW w AS (PARTITION BY n_name ORDER BY c_acctbal, c_custkey)
        )
        SELECT n_name, quartile,
               COUNT(*) AS n_customers,
               ROUND(SUM(c_acctbal), 2) AS total_balance,
               CAST(SUM(CASE WHEN ROUND(pr, 6) >= 0.9 THEN 1 ELSE 0 END)
                    AS BIGINT) AS n_top_decile,
               MIN(poorest) AS poorest_customer,
               MIN(richest) AS richest_customer
        FROM ranked GROUP BY n_name, quartile ORDER BY n_name, quartile
    """,
    tags=("window", "ntile", "percent-rank", "extension"),
)
def nation_balance_window_surface(spark, sf_dir):
    """Window-function breadth beyond rank/lag in ONE per-nation pass:
    NTILE(4) quartile assignment, PERCENT_RANK (the top-decile census —
    decile members land in quartile 4, so the per-nation figure is the
    quartile-4 row's), and FIRST_VALUE/LAST_VALUE over the full
    partition frame (poorest/richest customer name, constant per
    nation). All four functions share one window spec — bounded key
    cardinality, one sort, no global ordering. Deterministic via a
    c_custkey tie-break; the decile threshold compares a 6dp-ROUNDED
    percent_rank so the census is float-stable on both engines. SUM,
    not AVG, for balances: an average of 2dp money can land exactly on
    a .005 midpoint where the two engines' doubles round apart; a sum
    of 2dp-grained values never sits on a midpoint."""
    from pyspark.sql import Window

    from big_data_chicago_crimes_spark.operators.relational import dim_join
    from big_data_chicago_crimes_spark.sources.readers import load_tables

    t = load_tables(spark, sf_dir)
    cust = dim_join(
        t.customer.select("c_custkey", "c_name", "c_acctbal", "c_nationkey"),
        t.nation.select("n_nationkey", "n_name"),
        F.col("c_nationkey") == F.col("n_nationkey"),
    )
    w = Window.partitionBy("n_name").orderBy("c_acctbal", "c_custkey")
    full = w.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    ranked = cust.select(
        "n_name",
        "c_acctbal",
        F.ntile(4).over(w).alias("quartile"),
        F.round(F.percent_rank().over(w), 6).alias("pr"),
        F.first("c_name").over(full).alias("poorest"),
        F.last("c_name").over(full).alias("richest"),
    )
    return (
        ranked.groupBy("n_name", "quartile")
        .agg(
            F.count(F.lit(1)).alias("n_customers"),
            F.round(F.sum("c_acctbal"), 2).alias("total_balance"),
            F.sum((F.col("pr") >= 0.9).cast("long")).alias("n_top_decile"),
            F.min("poorest").alias("poorest_customer"),
            F.min("richest").alias("richest_customer"),
        )
        .orderBy("n_name", "quartile")
    )


@register(
    "events_join_size_cms",
    # The r16-recorded slot plan (registry.py r16 notes) executed:
    # cms_inner_product (operators/sketches.py, Cormode & Muthukrishnan
    # 2005 §4.2) certified on events user_id multisets. Sketch
    # deliberately undersized (depth 4 × width 16 vs 150 distinct
    # users) so bucket collisions — the thing the min-over-rows
    # estimate exists to survive — occur organically and the hash pins
    # REAL overestimates, the docs_heavy_hitters_cms convention.
    # Production sizing is width ≈ 2/ε; the plan shape is identical at
    # any width. Funded by the r17 pair-merges
    # (events_type_stats_census + null census,
    # events_filter_topk_surface).
    oracle="""
        WITH pe AS (
            SELECT event_type, user_id, COUNT(*) AS c
            FROM events
            WHERE event_type IN ('purchase', 'error') AND user_id IS NOT NULL
            GROUP BY 1, 2
        ),
        rows_r AS (SELECT unnest([0, 1, 2, 3]) AS r),
        sk AS (
            SELECT event_type, r,
                   ('0x' || substring(md5('cms' || CAST(r AS VARCHAR) || '|'
                                          || CAST(user_id AS VARCHAR)),
                                      1, 8))::BIGINT % 16 AS bucket,
                   CAST(SUM(c) AS BIGINT) AS c
            FROM pe CROSS JOIN rows_r
            GROUP BY 1, 2, 3
        ),
        sp AS (SELECT r, bucket, c FROM sk WHERE event_type = 'purchase'),
        se AS (SELECT r, bucket, c FROM sk WHERE event_type = 'error'),
        est_cross AS (
            SELECT CAST(COALESCE(MIN(dot), 0) AS BIGINT) AS est FROM (
                SELECT a.r, SUM(a.c * COALESCE(b.c, 0)) AS dot
                FROM sp a LEFT JOIN se b ON a.r = b.r AND a.bucket = b.bucket
                GROUP BY a.r)
        ),
        est_self AS (
            SELECT CAST(COALESCE(MIN(dot), 0) AS BIGINT) AS est FROM (
                SELECT a.r, SUM(a.c * COALESCE(b.c, 0)) AS dot
                FROM sp a LEFT JOIN sp b ON a.r = b.r AND a.bucket = b.bucket
                GROUP BY a.r)
        ),
        exact_cross AS (
            SELECT CAST(COALESCE(SUM(p.c * e.c), 0) AS BIGINT) AS x
            FROM (SELECT user_id, c FROM pe WHERE event_type = 'purchase') p
            JOIN (SELECT user_id, c FROM pe WHERE event_type = 'error') e
              USING (user_id)
        ),
        exact_self AS (
            SELECT CAST(COALESCE(SUM(c * c), 0) AS BIGINT) AS x
            FROM pe WHERE event_type = 'purchase'
        )
        SELECT 'purchase_self' AS pair,
               exact_self.x AS exact_join_size,
               est_self.est AS cms_join_size_est,
               est_self.est >= exact_self.x AS never_undercounts
        FROM exact_self, est_self
        UNION ALL
        SELECT 'purchase_x_error' AS pair,
               exact_cross.x AS exact_join_size,
               est_cross.est AS cms_join_size_est,
               est_cross.est >= exact_cross.x AS never_undercounts
        FROM exact_cross, est_cross
        ORDER BY pair
    """,
    tags=("sketch", "cms", "join", "extension"),
)
def events_join_size_cms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Equi-join SIZE estimation from stored count-min sketches
    (operators/sketches.py:cms_inner_product — Cormode & Muthukrishnan
    2005 §4.2: a·b = Σ_x f_a(x)·f_b(x) = |A ⋈ B|): the planner-side
    "how big would this join be?" primitive, answered WITHOUT running
    the join. Two legs over events user_id multisets, each as
    (pair, exact_join_size, cms_join_size_est, never_undercounts):

    - 'purchase_x_error' — the cross pair: how many (purchase, error)
      row pairs share a user (the size of the purchase ⋈ error
      equi-join on user_id);
    - 'purchase_self' — the self-join size Σ f(x)², i.e. the second
      frequency moment (the Alon–Matias–Szegedy F2 use of the same
      inner product): the skew statistic a shuffle planner reads.

    Plan: ONE events scan (IN-filter pushed) → one per-(type, user)
    count aggregate, scratch-persisted; BOTH sketches build from the
    count frame via the weighted cms_build (bit-identical to
    instance-built, no second corpus pass) and are dim-sized
    (≤ depth × width rows) scratch-persists; each estimate is one
    broadcast join of two sketch tables; the exact twins (the
    certification freight — production reads the sketches only) ride
    the SAME persisted count frame: a per-key count join, never a row
    × row join. Geometry is caller-declared and validated
    (cms_inner_product depth/width checks, ADVICE r16). The
    ``never_undercounts`` column pins the estimator's one-sided-error
    guarantee under the driver hash; ``cms_join_size_est`` itself pins
    the md5 bucket geometry DuckDB replays with LEFT-JOIN-per-row dots
    (COALESCE(c, 0): a sketch_a row with zero overlap participates in
    the min)."""
    from big_data_chicago_crimes_spark.operators.sketches import (
        cms_build,
        cms_inner_product,
        cms_validate_geometry,
    )
    from big_data_chicago_crimes_spark.session import scratch_persist

    t = load_tables(spark, sf_dir)
    counts = scratch_persist(
        t.events.filter(F.col("event_type").isin(["purchase", "error"]))
        .filter(F.col("user_id").isNotNull())
        .groupBy("event_type", "user_id")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    cp = counts.filter(F.col("event_type") == "purchase").select("user_id", "c")
    ce = counts.filter(F.col("event_type") == "error").select("user_id", "c")
    sk_p = scratch_persist(cms_build(cp, "user_id", depth=4, width=16, weight_col="c"))
    sk_e = scratch_persist(cms_build(ce, "user_id", depth=4, width=16, weight_col="c"))

    # ONE geometry-validation job for both stored sketches (r17; the
    # per-call eager checks cost one job per operand per estimate — four
    # jobs here — and dominated the build phase), then the estimates
    # skip their per-call re-validation of the same frames.
    cms_validate_geometry({"sk_p": sk_p, "sk_e": sk_e}, depth=4, width=16)
    est_self = cms_inner_product(
        sk_p, sk_p, "cms_join_size_est", depth=4, width=16, validate=False
    )
    est_cross = cms_inner_product(
        sk_p, sk_e, "cms_join_size_est", depth=4, width=16, validate=False
    )
    exact_self = cp.agg(
        F.coalesce(F.sum(F.col("c") * F.col("c")), F.lit(0))
        .cast("bigint")
        .alias("exact_join_size")
    )
    exact_cross = (
        cp.alias("a")
        .join(ce.alias("b"), "user_id")
        .agg(
            F.coalesce(F.sum(F.col("a.c") * F.col("b.c")), F.lit(0))
            .cast("bigint")
            .alias("exact_join_size")
        )
    )
    legs = [
        ("purchase_self", exact_self, est_self),
        ("purchase_x_error", exact_cross, est_cross),
    ]
    out = None
    for pair, exact, est in legs:
        leg = (
            exact.crossJoin(F.broadcast(est))
            .select(
                F.lit(pair).alias("pair"),
                "exact_join_size",
                "cms_join_size_est",
                (F.col("cms_join_size_est") >= F.col("exact_join_size")).alias(
                    "never_undercounts"
                ),
            )
        )
        out = leg if out is None else out.unionByName(leg)
    return out.orderBy("pair")
