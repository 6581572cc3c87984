"""Reference-derived analytical queries (SURVEY.md §2.2/2.4/2.6/2.8).

Each reference query shape (FIXTURES.md fixture-3 mapping) transposed to
the driver's synthetic tables. Citations point at the reference use-site
whose capability the query certifies.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from big_data_chicago_crimes_spark.functions.temporal import quarter_name, season
from big_data_chicago_crimes_spark.operators.aggregates import (
    count_by,
    count_then_max,
    pivot_counts,
)
from big_data_chicago_crimes_spark.plans.registry import register
from big_data_chicago_crimes_spark.sources.readers import load_tables


@register(
    "events_count_by_type",
    oracle="""
        SELECT event_type, COUNT(*) AS cnt
        FROM events GROUP BY event_type
        ORDER BY cnt DESC, event_type
    """,
    tags=("agg", "reference:A2"),
)
def events_count_by_type(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Crimes-per-Primary-Type (Dataset.py:214) → events per type.
    Scan → partial agg → 1 shuffle on a 5-value key → final agg."""
    t = load_tables(spark, sf_dir)
    return count_by(t.events, "event_type").orderBy(
        F.col("cnt").desc(), F.col("event_type")
    )


@register(
    "orders_priority_fill_rollup",
    # merges the former orders_count_by_priority (reference:A2 group
    # count) and orders_filled_pct (reference:A6 global ratio)
    # registrations — both r7-green single-scan aggregates over orders —
    # into ONE ROLLUP pass: per-priority count AND filled-% per row,
    # plus the grand-total row whose pct IS the former global ratio.
    # One scan and one aggregate instead of two. The slot freed funds
    # docs_shared_span_pairs.
    oracle="""
        SELECT COALESCE(o_orderpriority, 'ALL') AS o_orderpriority,
               COUNT(*) AS cnt,
               ROUND(SUM(CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END)
                     * 100.0 / COUNT(*), 6) AS pct
        FROM orders GROUP BY ROLLUP(o_orderpriority)
        ORDER BY o_orderpriority
    """,
    tags=("agg", "rollup", "reference:A2", "reference:A6"),
)
def orders_priority_fill_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Crimes-per-District (Dataset.py:344) + arrest percentage
    (Dataset.py:463-465) in one pass: orders per priority with the
    filled (status F) percentage per priority, ROLLUP'd so the
    grand-total row carries the original global ratio. SUM*100/COUNT
    (not AVG of 0/1) keeps the rounding midpoint behavior identical on
    both engines."""
    t = load_tables(spark, sf_dir)
    filled = F.sum(
        F.when(F.col("o_orderstatus") == "F", F.lit(1)).otherwise(F.lit(0))
    )
    return (
        t.orders.rollup("o_orderpriority")
        .agg(
            F.count(F.lit(1)).alias("cnt"),
            F.round(filled * 100.0 / F.count(F.lit(1)), 6).alias("pct"),
        )
        .select(
            F.coalesce(F.col("o_orderpriority"), F.lit("ALL")).alias(
                "o_orderpriority"
            ),
            "cnt",
            "pct",
        )
        .orderBy("o_orderpriority")
    )


@register(
    "hourly_max_event_count",
    oracle="""
        WITH c AS (
            SELECT CAST(EXTRACT(hour FROM ts) AS INTEGER) AS hour,
                   event_type, COUNT(*) AS cnt
            FROM events GROUP BY 1, 2
        )
        SELECT hour, CAST(MAX(cnt) AS BIGINT) AS max_cnt
        FROM c GROUP BY hour ORDER BY hour
    """,
    tags=("agg", "reference:A4"),
)
def hourly_max_event_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Busiest-crime-type-count per hour (Dataset.py:180-181): two-level
    count-then-max. Two hash aggregates, both with map-side partials."""
    t = load_tables(spark, sf_dir)
    ev = t.events.withColumn("hour", F.hour("ts"))
    return count_then_max(ev, ["hour", "event_type"], ["hour"]).orderBy("hour")


@register(
    "orders_quarter_pivot",
    oracle="""
        SELECT CAST(EXTRACT(year FROM o_orderdate) AS INTEGER) AS year,
               CAST(COUNT(*) FILTER (WHERE EXTRACT(quarter FROM o_orderdate) = 1) AS BIGINT) AS "Q1",
               CAST(COUNT(*) FILTER (WHERE EXTRACT(quarter FROM o_orderdate) = 2) AS BIGINT) AS "Q2",
               CAST(COUNT(*) FILTER (WHERE EXTRACT(quarter FROM o_orderdate) = 3) AS BIGINT) AS "Q3",
               CAST(COUNT(*) FILTER (WHERE EXTRACT(quarter FROM o_orderdate) = 4) AS BIGINT) AS "Q4"
        FROM orders GROUP BY 1 ORDER BY year
    """,
    tags=("pivot", "reference:A7"),
)
def orders_quarter_pivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Season×year pivot (Dataset.py:382-390) → order counts year×quarter.
    Pivot values seeded → stable schema, no extra distinct job."""
    t = load_tables(spark, sf_dir)
    df = t.orders.select(
        F.year("o_orderdate").alias("year"), quarter_name("o_orderdate").alias("q")
    )
    return pivot_counts(df, "year", "q", ["Q1", "Q2", "Q3", "Q4"]).orderBy("year")


# orders_filled_pct (reference:A6) merged into orders_priority_fill_rollup
# above — the ROLLUP grand-total row carries the identical global ratio.
# The ratio_of operator stays library surface (app.py arrest-rate panel,
# covered by tests/test_app.py).


# top10_part_types (reference:O4, Dataset.py:477's top-10-locations
# shape) merged into part_catalog_surface in join_queries.py — the
# identical top_k leg rides the part scan the anti-join leg already
# pays for. The ``aggregates.top_k`` operator itself stays certified by
# orders_q3_topk_surface (both legs); the former purchase_top_users
# top-k shape lives on as the 'top_users' leg of
# events_filter_topk_surface (r17 merge).


@register(
    "events_filter_topk_surface",
    # r17 merge of purchase_top_users (P8 IN-list + O4 top-k,
    # r15-green) and events_not_in_filter (P9 NOT-IN exclusion,
    # r15-green) — funding the events_join_size_cms window slot (the
    # in-cohort pair-merge pattern, precedent docs_token_surface /
    # orders_temporal_bucket_surface). The two predicates nest: the
    # IN-set {purchase, signup} is a subset of the NOT-IN complement
    # of {error, view}, so ONE scan with the NOT-IN predicate pushed
    # to parquet feeds both legs; GROUPING SETS ((user_id),
    # (event_type)) computes both groupings in a single aggregate
    # (map-side expand), the IN-list narrowing rides the (user_id)
    # set as a conditional count. The aggregate is scratch-persisted
    # (distinct-users + distinct-types rows) because the top-k leg
    # needs its own TakeOrderedAndProject — a window rank would drag
    # every user into one partition at scale. user_id is top-k'd as
    # BIGINT (ties break numerically) then cast to VARCHAR to share
    # the leg schema.
    oracle="""
        WITH base AS (
            SELECT event_type, user_id FROM events
            WHERE event_type NOT IN ('error', 'view')
        )
        SELECT 'not_in' AS leg, event_type AS key, CAST(COUNT(*) AS BIGINT) AS cnt
        FROM base GROUP BY event_type
        UNION ALL
        SELECT 'top_users' AS leg, CAST(user_id AS VARCHAR) AS key,
               CAST(cnt AS BIGINT) AS cnt
        FROM (
            SELECT user_id,
                   SUM(CASE WHEN event_type IN ('purchase', 'signup')
                       THEN 1 ELSE 0 END) AS cnt
            FROM base GROUP BY user_id
            HAVING SUM(CASE WHEN event_type IN ('purchase', 'signup')
                       THEN 1 ELSE 0 END) > 0
            ORDER BY cnt DESC, user_id LIMIT 10
        )
        ORDER BY leg, cnt DESC, key
    """,
    tags=("topk", "filter", "reference:P8,P9,O4", "merged"),
)
def events_filter_topk_surface(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Filter + top-k surface: the violent-crimes IN-list + top-k areas
    shape (Dataset.py:507-509 → 'top_users' leg, top-10 users by
    purchase/signup events with deterministic numeric tie-break) and
    the NOT-IN category exclusion (Dataset.py:143-145 → 'not_in' leg,
    counts per surviving type) certified in one result. ONE events
    scan with the NOT-IN predicate pushed to the parquet reader (the
    IN-set nests inside its complement), one GROUPING SETS aggregate
    for both groupings; the top-k leg is TakeOrderedAndProject over
    the persisted aggregate, never a global sort."""
    from big_data_chicago_crimes_spark.session import scratch_persist

    t = load_tables(spark, sf_dir)
    gs = scratch_persist(
        t.events.filter(~F.col("event_type").isin(["error", "view"]))
        .select("event_type", "user_id")
        .groupingSets([["user_id"], ["event_type"]], "user_id", "event_type")
        .agg(
            F.count(F.lit(1)).alias("cnt_all"),
            F.sum(
                F.when(
                    F.col("event_type").isin(["purchase", "signup"]), F.lit(1)
                ).otherwise(F.lit(0))
            ).alias("cnt_in"),
            F.grouping("event_type").alias("__ge"),
        )
    )
    not_in = gs.filter(F.col("__ge") == 0).select(
        F.lit("not_in").alias("leg"),
        F.col("event_type").alias("key"),
        F.col("cnt_all").alias("cnt"),
    )
    top_users = (
        gs.filter((F.col("__ge") == 1) & (F.col("cnt_in") > 0))
        .orderBy(F.col("cnt_in").desc(), F.col("user_id").asc())
        .limit(10)
        .select(
            F.lit("top_users").alias("leg"),
            F.col("user_id").cast("string").alias("key"),
            F.col("cnt_in").alias("cnt"),
        )
    )
    return not_in.unionByName(top_users).orderBy(
        "leg", F.col("cnt").desc(), "key"
    )


@register(
    "orders_temporal_bucket_surface",
    # r12 merge: the former orders_year_range_filter (P6 range + P7
    # modulo predicates, r10-green) and orders_by_season (P14
    # when/otherwise bucketing, r10-green) in ONE registry slot — the
    # slot freed funds docs_intra_dedup (the purchaser_error_overlap
    # merge-funding pattern). ONE scan via GROUPING SETS ((season),
    # (year)): a union of two aggregates over the same parent does NOT
    # get ReuseExchange (verified on the executed plan — 2 scans, 0
    # reuse; the same non-reuse the shared-LM-fit A/B measured), so the
    # single-pass form is explicit, not assumed. The year-range
    # predicate filters GROUP KEYS, so it commutes with the aggregation
    # and applies post-agg on the year grouping's rows.
    oracle="""
        WITH ym AS (
            SELECT CAST(EXTRACT(year FROM o_orderdate) AS INTEGER) AS year,
                   CASE
                     WHEN EXTRACT(month FROM o_orderdate) IN (12, 1, 2) THEN 'Winter'
                     WHEN EXTRACT(month FROM o_orderdate) BETWEEN 3 AND 5 THEN 'Spring'
                     WHEN EXTRACT(month FROM o_orderdate) BETWEEN 6 AND 8 THEN 'Summer'
                     ELSE 'Autumn'
                   END AS season,
                   COUNT(*) AS cnt
            FROM orders GROUP BY 1, 2
        )
        SELECT 'season' AS leg, season AS bucket, CAST(SUM(cnt) AS BIGINT) AS cnt
        FROM ym GROUP BY season
        UNION ALL
        SELECT 'year_range' AS leg, CAST(year AS VARCHAR) AS bucket,
               CAST(SUM(cnt) AS BIGINT) AS cnt
        FROM ym
        WHERE year % 2 = 0 AND year > 1995 AND year < 2001
        GROUP BY year
        ORDER BY leg, bucket
    """,
    tags=("filter", "expr", "reference:P6,P7,P14", "merged"),
)
def orders_temporal_bucket_surface(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temporal bucketing surface: the season when/otherwise CASE
    (Dataset.py:123-129) and the leap-year-modulo + AND-range predicate
    (Dataset.py:101,103) certified in one result. ONE orders scan, one
    shuffle: GROUPING SETS ((season), (year)) computes both groupings
    in a single aggregate pass (the expand duplicates each input row
    once per set, map-side); each leg then filters its grouping's rows
    — ``grouping('year')`` tags the set structurally, robust to NULL
    group keys — and the year-range predicate applies post-agg (it
    filters group keys, which commutes with aggregation)."""
    t = load_tables(spark, sf_dir)
    gs = (
        t.orders.select(
            F.year("o_orderdate").alias("year"),
            season(F.month("o_orderdate")).alias("season"),
        )
        .groupingSets([["season"], ["year"]], "year", "season")
        # grouping('year') tags the set STRUCTURALLY (1 = year rolled
        # up, i.e. the (season) set) — ADVICE r12: discriminating by
        # year IS NULL was data-dependent (an organically NULL
        # o_orderdate would land its (year)-set row in the season leg)
        .agg(F.count(F.lit(1)).alias("cnt"), F.grouping("year").alias("__gy"))
    )
    # no union: a union of two filters of gs would duplicate the whole
    # aggregate subplan (no ReuseExchange) — one when() projection
    # keeps the plan consumed exactly once
    is_season = F.col("__gy") == 1
    return (
        gs.filter(
            is_season
            | (
                (F.col("year") % 2 == 0)
                & (F.col("year") > 1995)
                & (F.col("year") < 2001)
            )
        )
        .select(
            F.when(is_season, F.lit("season"))
            .otherwise(F.lit("year_range"))
            .alias("leg"),
            F.when(is_season, F.col("season"))
            .otherwise(F.col("year").cast("string"))
            .alias("bucket"),
            "cnt",
        )
        .orderBy("leg", "bucket")
    )



@register(
    "events_dedup_keyed",
    oracle="""
        SELECT user_id, event_type, CAST(MIN(event_id) AS BIGINT) AS event_id
        FROM events GROUP BY user_id, event_type
        ORDER BY user_id, event_type
    """,
    tags=("dedup", "reference:P13"),
)
def events_dedup_keyed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """drop_duplicates (Dataset.py:85) with DETERMINISTIC keep-one
    semantics: keep the min event_id per (user_id, event_type). Plain
    dropDuplicates keeps an arbitrary row — unusable under a value-hash
    oracle; min-per-group is one hash aggregate (cheaper than the
    row_number window alternative: no sort)."""
    t = load_tables(spark, sf_dir)
    return (
        t.events.groupBy("user_id", "event_type")
        .agg(F.min("event_id").alias("event_id"))
        .orderBy("user_id", "event_type")
    )


_EVENT_COLS = ("event_id", "ts", "user_id", "event_type", "value", "props")


@register(
    "events_type_stats_census",
    # The A5 multi-expression aggregate, the A8 exact distinct and the
    # A1 per-column null census in ONE scan, one ROLLUP aggregate: the
    # per-type rows carry the A5 stats and the census sliced by type,
    # the rolled-up row carries the SAME stats globally plus the exact
    # distinct-type count and the global census (six null-count
    # expressions, zero extra shuffles). grouping() tags the set
    # structurally — never discriminate by key null-ness.
    oracle="""
        SELECT CASE WHEN GROUPING(event_type) = 1 THEN 'all'
                    ELSE 'by_type' END AS leg,
               COALESCE(event_type, 'ALL') AS event_type,
               COUNT(*) AS cnt,
               ROUND(AVG(value), 6) AS avg_value,
               ROUND(MIN(value), 6) AS min_value,
               ROUND(MAX(value), 6) AS max_value,
               COUNT(DISTINCT event_type) AS n_types,
               COUNT(*) FILTER (WHERE event_id IS NULL) AS n_null_event_id,
               COUNT(*) FILTER (WHERE ts IS NULL) AS n_null_ts,
               COUNT(*) FILTER (WHERE user_id IS NULL) AS n_null_user_id,
               COUNT(*) FILTER (WHERE event_type IS NULL) AS n_null_event_type,
               COUNT(*) FILTER (WHERE value IS NULL) AS n_null_value,
               COUNT(*) FILTER (WHERE props IS NULL) AS n_null_props
        FROM events GROUP BY ROLLUP(event_type)
        ORDER BY leg, event_type
    """,
    tags=("agg", "cleaning", "reference:A1,A5,A8", "merged"),
)
def events_type_stats_census(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-expression aggregate (A5 — the reference's per-district
    centroid agg, Dataset.py:272-276), exact distinct (A8,
    Dataset.py:210), and the per-column null census (A1, Dataset.py:79
    — operators/cleaning.py:null_count_exprs) in one ROLLUP pass:
    per-type count + avg/min/max + null-count rows, plus the
    grand-total row whose ``n_types`` IS the reference's
    ``select(col).distinct()`` count and whose ``n_null_*`` columns ARE
    its one-row global null census.
    One scan, one aggregate (the distinct-count's expand rides the same
    exchange); per-type rows report their trivially-1 distinct count so
    no column is ever NULL."""
    from big_data_chicago_crimes_spark.operators.cleaning import null_count_exprs

    t = load_tables(spark, sf_dir)
    gs = t.events.rollup("event_type").agg(
        F.count(F.lit(1)).alias("cnt"),
        F.round(F.avg("value"), 6).alias("avg_value"),
        F.round(F.min("value"), 6).alias("min_value"),
        F.round(F.max("value"), 6).alias("max_value"),
        F.countDistinct("event_type").alias("n_types"),
        *null_count_exprs(list(_EVENT_COLS), prefix="n_null_"),
        F.grouping("event_type").alias("__g"),
    )
    return (
        gs.select(
            F.when(F.col("__g") == 1, F.lit("all"))
            .otherwise(F.lit("by_type"))
            .alias("leg"),
            F.coalesce(F.col("event_type"), F.lit("ALL")).alias("event_type"),
            "cnt",
            "avg_value",
            "min_value",
            "max_value",
            "n_types",
            *[f"n_null_{c}" for c in _EVENT_COLS],
        )
        .orderBy("leg", "event_type")
    )
