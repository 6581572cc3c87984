"""Event-time windowed aggregations, batch/stream symmetric.

The same ``F.window`` / ``F.session_window`` groupings run identically
over a batch DataFrame and a ``readStream`` DataFrame. Each builder here
is the transformation its registered window query runs
(window_queries.py), so the query's DuckDB oracle certifies the operator
a streaming job runs; on a stream, ``withWatermark`` bounds state for
late data.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def sliding_window_agg(
    events: DataFrame,
    width: str = "1 hour",
    slide: str = "30 minutes",
    watermark: str = "2 hours",
) -> DataFrame:
    """count + sum(value) per sliding window; each event lands in
    width/slide windows."""
    src = events.withWatermark("ts", watermark) if events.isStreaming else events
    return (
        src.groupBy(F.window("ts", width, slide).alias("w"))
        .agg(F.count("*").alias("cnt"), F.round(F.sum("value"), 2).alias("total_value"))
        .select(
            F.date_format("w.start", "yyyy-MM-dd HH:mm:ss").alias("window_start"),
            "cnt",
            "total_value",
        )
    )


def session_window_agg(
    events: DataFrame, gap: str = "30 minutes", watermark: str = "2 hours"
) -> DataFrame:
    """Per-user sessions with an inactivity gap — the stateful streaming
    operator; in batch mode the same expression runs as a sort-based
    session merge."""
    src = events.withWatermark("ts", watermark) if events.isStreaming else events
    return (
        src.groupBy(F.session_window("ts", gap).alias("sw"), "user_id")
        .agg(F.count("*").alias("n_events"))
        .select(
            "user_id",
            F.date_format("sw.start", "yyyy-MM-dd HH:mm:ss").alias("session_start"),
            "n_events",
        )
    )


def windowed_distinct_hll(
    events: DataFrame,
    item_col: str = "user_id",
    width: str = "1 hour",
    watermark: str = "2 hours",
) -> DataFrame:
    """Approximate distinct ``item_col`` per tumbling event-time window
    via the mergeable HLL sketch (operators/sketches.py) — the streaming
    form of the distinct census. Exact streaming COUNT(DISTINCT) needs
    per-key state proportional to the number of distinct items per
    window; the sketch caps state at ≤ 2^p register rows per window no
    matter how many distinct items arrive — the property that makes
    windowed distinct counting survivable on a 100 TB/day stream.

    TWO chained event-time aggregations (register max, then the
    per-window estimate) — the multiple-stateful-operator shape Spark
    supports in append mode since 3.4: both groupings carry the SAME
    event-time window column, so the watermark propagates and each
    window's registers finalize exactly once. The batch form is
    certified by the ``hll_*`` columns of events_hourly_tumbling.

    Output: (w, n_regs, z_int, hll_est) — one row per finalized window;
    the caller formats ``w``. Items are cast to string so the md5
    routing matches the batch census convention; NULL items are dropped
    (hll_build's contract)."""
    from big_data_chicago_crimes_spark.operators.sketches import (
        hll_cells,
        hll_estimate,
    )

    src = events.withWatermark("ts", watermark) if events.isStreaming else events
    cells = (
        src.filter(F.col(item_col).isNotNull())
        .select(
            F.window("ts", width).alias("w"),
            hll_cells(F.col(item_col).cast("string")).alias("__c"),
        )
        .select("w", "__c.idx", "__c.rho")
    )
    sk = cells.groupBy("w", "idx").agg(F.max("rho").alias("m_rho"))
    return hll_estimate(sk, ["w"])
