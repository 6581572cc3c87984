"""Window-function and event-time-window queries (SURVEY.md §2.5, §2.9).

Includes the reference's moving average with CORRECTED semantics (its
Window.partitionBy over the grouping keys degenerates to identity —
Dataset.py:521-523, SURVEY.md §2.5), plus ranking/lag analytics and the
event-time windows (tumbling / sliding / session). The sliding, session
and windowed-HLL queries call the streaming/windows.py builders, so
each oracle certifies the transformation a streaming job runs.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from big_data_chicago_crimes_spark.operators.aggregates import count_by
from big_data_chicago_crimes_spark.operators.windows import (
    lag_delta,
    moving_average,
    top_k_per_group,
)
from big_data_chicago_crimes_spark.plans.registry import register
from big_data_chicago_crimes_spark.sources.readers import load_tables
from big_data_chicago_crimes_spark.streaming.windows import (
    session_window_agg,
    sliding_window_agg,
    windowed_distinct_hll,
)


def _monthly_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = load_tables(spark, sf_dir)
    df = t.orders.select(
        F.year("o_orderdate").alias("year"), F.month("o_orderdate").alias("month")
    )
    return count_by(df, "year", "month")


@register(
    "orders_monthly_window_surface",
    # BOTH window operators — the 3-row trailing-average frame and the
    # lag-1 delta — execute and hash-certify on one monthly-aggregate
    # spine in a single registry slot
    oracle="""
        WITH m AS (
            SELECT CAST(EXTRACT(year FROM o_orderdate) AS INTEGER) AS year,
                   CAST(EXTRACT(month FROM o_orderdate) AS INTEGER) AS month,
                   COUNT(*) AS cnt
            FROM orders GROUP BY 1, 2
        )
        SELECT year, month, cnt,
               ROUND(AVG(cnt) OVER (ORDER BY year, month
                     ROWS BETWEEN 2 PRECEDING AND CURRENT ROW), 6) AS moving_avg,
               CAST(cnt - LAG(cnt, 1) OVER (ORDER BY year, month) AS BIGINT) AS delta
        FROM m ORDER BY year, month
    """,
    tags=("window", "lag", "reference:W1"),
)
def orders_monthly_window_surface(spark: SparkSession, sf_dir: str) -> DataFrame:
    """3-month trailing average AND month-over-month delta of monthly
    order counts on one spine — the INTENDED semantics of
    show_moving_average (Dataset.py:516-541; the reference partitions by
    (year,month) so its frame always holds one row), plus the lag-1
    analytic. Unpartitioned windows are safe here: input is the
    aggregated monthly series (~80 rows), not raw orders, and both
    analytics share one WindowExec ordering (single sort, no extra
    shuffle)."""
    monthly = _monthly_orders(spark, sf_dir)
    avg = moving_average(monthly, ["year", "month"], "cnt")
    return lag_delta(avg, ["year", "month"], "cnt").orderBy("year", "month")


@register(
    "best_order_per_customer",
    oracle="""
        SELECT o_custkey, o_orderkey, o_totalprice
        FROM (
            SELECT o_custkey, o_orderkey, o_totalprice,
                   ROW_NUMBER() OVER (PARTITION BY o_custkey
                        ORDER BY o_totalprice DESC, o_orderkey) AS rn
            FROM orders
        ) WHERE rn = 1
        ORDER BY o_custkey
    """,
    tags=("window", "rank"),
)
def best_order_per_customer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-1-per-group via row_number — one shuffle on the partition key,
    per-partition sort, no global sort. Tie-break on o_orderkey."""
    t = load_tables(spark, sf_dir)
    best = top_k_per_group(
        t.orders.select("o_custkey", "o_orderkey", "o_totalprice"),
        ["o_custkey"],
        [F.col("o_totalprice").desc(), F.col("o_orderkey")],
        1,
    )
    return best.orderBy("o_custkey")


@register(
    "customer_balance_rank_in_nation",
    oracle="""
        SELECT c_custkey, c_nationkey, c_acctbal, rnk
        FROM (
            SELECT c_custkey, c_nationkey, c_acctbal,
                   CAST(DENSE_RANK() OVER (PARTITION BY c_nationkey
                        ORDER BY c_acctbal DESC) AS INTEGER) AS rnk
            FROM customer
        ) WHERE rnk <= 3
        ORDER BY c_nationkey, rnk, c_custkey
    """,
    tags=("window", "rank"),
)
def customer_balance_rank_in_nation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """dense_rank top-3 balances per nation (rank family coverage)."""
    t = load_tables(spark, sf_dir)
    w = Window.partitionBy("c_nationkey").orderBy(F.col("c_acctbal").desc())
    return (
        t.customer.select("c_custkey", "c_nationkey", "c_acctbal")
        .withColumn("rnk", F.dense_rank().over(w))
        .filter(F.col("rnk") <= 3)
        .orderBy("c_nationkey", "rnk", "c_custkey")
    )


def _hourly_tumbling_oracle() -> str:
    from big_data_chicago_crimes_spark.operators.sketches import hll_oracle_sql

    hour_expr = "STRFTIME(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S')"
    hll = hll_oracle_sql(hour_expr, "CAST(user_id AS VARCHAR)", "SELECT * FROM events")
    return f"""
        WITH base AS (
            SELECT {hour_expr} AS window_start,
                   COUNT(*) AS cnt,
                   ROUND(SUM(value), 2) AS total_value,
                   CAST(COUNT(DISTINCT user_id) AS BIGINT) AS distinct_users
            FROM events GROUP BY 1
        ), hll AS ({hll})
        SELECT b.window_start, b.cnt, b.total_value, b.distinct_users,
               h.n_regs AS hll_regs, h.z_int AS hll_z_int,
               h.hll_est AS hll_users
        FROM base b JOIN hll h ON h.grp = b.window_start
        ORDER BY window_start
    """


@register(
    "events_hourly_tumbling",
    # per-window exact distinct users next to the windowed-HLL estimate
    # (streaming/windows.windowed_distinct_hll — the chained
    # two-aggregation plan Spark runs as a STREAM in append mode; this
    # row hash-certifies its full integer sketch state against the
    # DuckDB replay). The exact countDistinct leg cannot run on a
    # stream, so the HLL builder is this query's streaming form.
    oracle=_hourly_tumbling_oracle(),
    tags=("time-window", "streaming-shape", "sketch", "hll"),
)
def events_hourly_tumbling(spark: SparkSession, sf_dir: str) -> DataFrame:
    """1-hour tumbling event-time window (batch F.window — the exact
    groupBy a Structured Streaming job would run with a watermark;
    SURVEY.md §2.9), carrying both distinct-user answers per window:
    ``distinct_users`` (exact — state grows with distinct keys) and
    ``hll_users`` + integer sketch state (``hll_regs``/``hll_z_int`` —
    ≤ 2^p register rows per window at ANY cardinality, the form that
    survives a 100 TB/day stream; built by the SAME
    ``windowed_distinct_hll`` plan the streaming job runs)."""
    t = load_tables(spark, sf_dir)
    base = (
        t.events.groupBy(F.window("ts", "1 hour").alias("w"))
        .agg(
            F.count("*").alias("cnt"),
            F.round(F.sum("value"), 2).alias("total_value"),
            F.countDistinct("user_id").cast("bigint").alias("distinct_users"),
        )
        .select(
            F.date_format("w.start", "yyyy-MM-dd HH:mm:ss").alias("window_start"),
            "cnt",
            "total_value",
            "distinct_users",
        )
    )
    hll = windowed_distinct_hll(t.events).select(
        F.date_format("w.start", "yyyy-MM-dd HH:mm:ss").alias("window_start"),
        F.col("n_regs").alias("hll_regs"),
        F.col("z_int").alias("hll_z_int"),
        F.col("hll_est").alias("hll_users"),
    )
    return base.join(hll, "window_start").select(
        "window_start", "cnt", "total_value", "distinct_users",
        "hll_regs", "hll_z_int", "hll_users",
    ).orderBy("window_start")


@register(
    "events_sliding_1h_30m",
    oracle="""
        WITH assigned AS (
            SELECT to_timestamp(CAST(floor(epoch(ts) / 1800) AS BIGINT) * 1800) AS w0, *
            FROM events
        ), exploded AS (
            SELECT w0 AS window_start, event_id, value FROM assigned
            UNION ALL
            SELECT w0 - INTERVAL 30 MINUTE, event_id, value FROM assigned
        )
        SELECT STRFTIME(window_start, '%Y-%m-%d %H:%M:%S') AS window_start,
               COUNT(*) AS cnt,
               ROUND(SUM(value), 2) AS total_value
        FROM exploded GROUP BY 1 ORDER BY window_start
    """,
    tags=("time-window", "streaming-shape"),
)
def events_sliding_1h_30m(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding 1-hour window, 30-minute slide: each event lands in 2
    windows. The oracle reproduces Spark's window assignment (windows
    aligned to the slide grid, window_start ∈ {trunc30(ts), trunc30(ts)-30m})."""
    t = load_tables(spark, sf_dir)
    return sliding_window_agg(t.events).orderBy("window_start")


@register(
    "events_interval_join_batch",
    # Certifies the BATCH degradation of the watermarked stream-stream
    # interval join: the builder is batch/stream symmetric by
    # construction (watermarks only attach to streaming inputs), so a
    # full-oracle row here certifies the shared join logic the streaming
    # path executes. Exact-membership output: every (purchase,
    # preceding view) pair inside the 6-hour interval.
    oracle="""
        SELECT p.user_id AS p_user, p.event_id AS purchase_id,
               STRFTIME(p.ts, '%Y-%m-%d %H:%M:%S') AS p_ts,
               STRFTIME(v.ts, '%Y-%m-%d %H:%M:%S') AS v_ts
        FROM events p JOIN events v
          ON p.user_id = v.user_id
         AND v.ts <= p.ts AND v.ts >= p.ts - INTERVAL 6 HOUR
        WHERE p.event_type = 'purchase' AND v.event_type = 'view'
        ORDER BY p_user, purchase_id, v_ts
    """,
    tags=("join", "interval", "streaming-shape"),
)
def events_interval_join_batch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Purchases joined to every view by the same user within the 6
    hours before them — the batch degradation of the watermarked
    stream-stream interval join (same builder both modes). Equi key +
    time-range residual: one shuffle on user_id; in streaming mode the
    range bound is what lets Spark evict state past the watermark."""
    from big_data_chicago_crimes_spark.streaming.joins import (
        purchases_after_views_interval_join,
    )

    t = load_tables(spark, sf_dir)
    purchases = t.events.filter(F.col("event_type") == "purchase")
    views = t.events.filter(F.col("event_type") == "view")
    joined = purchases_after_views_interval_join(purchases, views, window="6 hours")
    return joined.select(
        "p_user",
        "purchase_id",
        F.date_format("p_ts", "yyyy-MM-dd HH:mm:ss").alias("p_ts"),
        F.date_format("v_ts", "yyyy-MM-dd HH:mm:ss").alias("v_ts"),
    ).orderBy("p_user", "purchase_id", "v_ts")


@register(
    "user_session_counts",
    oracle="""
        WITH gaps AS (
            SELECT user_id, ts,
                   CASE WHEN ts - LAG(ts) OVER (PARTITION BY user_id ORDER BY ts)
                             >= INTERVAL 30 MINUTE
                        OR LAG(ts) OVER (PARTITION BY user_id ORDER BY ts) IS NULL
                        THEN 1 ELSE 0 END AS new_session
            FROM events
        )
        SELECT user_id, CAST(SUM(new_session) AS BIGINT) AS n_sessions
        FROM gaps GROUP BY user_id ORDER BY user_id
    """,
    tags=("time-window", "session", "streaming-shape"),
)
def user_session_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sessionization with a 30-minute inactivity gap: sessions per
    user over the session_window_agg builder (the same operator
    Structured Streaming runs statefully). The oracle is the
    gaps-and-islands formulation — session_window merges events whose
    gap is STRICTLY less than 30m, so a gap of exactly 30m starts a new
    session on both sides."""
    t = load_tables(spark, sf_dir)
    return (
        session_window_agg(t.events)
        .groupBy("user_id")
        .agg(F.count("*").alias("n_sessions"))
        .orderBy("user_id")
    )
