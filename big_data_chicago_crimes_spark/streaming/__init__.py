"""Structured Streaming surface (engine extension; reference is batch-only
— SURVEY.md §2.9). Every builder here is the transformation of a
registered query, batch/stream symmetric."""

from big_data_chicago_crimes_spark.streaming.joins import (
    dedup_stream_against_corpus,
    purchases_after_views_interval_join,
)
from big_data_chicago_crimes_spark.streaming.windows import (
    session_window_agg,
    sliding_window_agg,
    windowed_distinct_hll,
)

__all__ = [
    "dedup_stream_against_corpus",
    "purchases_after_views_interval_join",
    "session_window_agg",
    "sliding_window_agg",
    "windowed_distinct_hll",
]
