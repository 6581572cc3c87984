"""Stream joins, batch/stream symmetric.

- ``purchases_after_views_interval_join``: the watermarked
  stream-stream INTERVAL join ("purchases joined to the views that
  preceded them within N minutes"), run by events_interval_join_batch.
  Both inputs carry event-time watermarks and the join condition
  carries a time-range bound, so Spark buffers only the range-bounded
  slice of each side in the state store and evicts state once the
  watermark passes — without the range bound a stream-stream join's
  state grows forever.
- ``dedup_stream_against_corpus``: the stream-static anti-join dedup at
  the ingest edge, run by docs_stream_static_dedup_batch.

Over batch frames each builder degrades to the plain batch plan, so the
registered query's oracle certifies the logic the stream runs.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def _interval_seconds(window: str) -> int | None:
    """'6 hours' / '30 minutes' → seconds; None when the phrase is not a
    single (quantity, unit) pair this parser knows (caller falls back to
    the un-binned plan — a performance choice, never a semantic one)."""
    parts = window.strip().split()
    if len(parts) != 2:
        return None
    mult = {
        "second": 1, "seconds": 1,
        "minute": 60, "minutes": 60,
        "hour": 3600, "hours": 3600,
        "day": 86400, "days": 86400,
    }.get(parts[1].lower())
    try:
        qty = int(parts[0])
    except ValueError:
        return None
    return qty * mult if mult and qty > 0 else None


def purchases_after_views_interval_join(
    purchases: DataFrame,
    views: DataFrame,
    window: str = "30 minutes",
    watermark: str = "2 hours",
) -> DataFrame:
    """Each purchase joined to EVERY view by the same user within
    ``window`` before it (inner, possibly many views per purchase — the
    attribution fan-out; the one-row as-of variant is the batch
    operator's job). Columns are prefixed per side so the same builder
    works whether inputs are streaming or batch.

    Batch inputs take a BINNED plan (guide §3 — avoid the exploding
    range join): the time axis is bucketed at the window width, each
    purchase probes its own bucket and the previous one, and the join
    becomes an equi-join on (user, bucket) with the original range
    predicate as residual. Every qualifying view lies in exactly one of
    the two probed buckets (v_ts ∈ [p_ts − W, p_ts] ⇒ ⌊v/W⌋ ∈ {⌊p/W⌋−1,
    ⌊p/W⌋}), and each (purchase, view) pair matches exactly one probe
    row — identical rows, no dedup. Without binning the equi key is
    user_id alone, so per-user candidates grow quadratically as events
    per user grow (measured sf1: 26.8M pairs tested, 222K qualifying —
    99% of the join's work failing the residual); the bucket key bounds
    candidates to a ≤2-window slice per purchase AND splits hot users
    across time. Streaming keeps the raw interval condition — that
    range bound is what lets Spark size and evict the state store."""
    p = purchases.select(
        F.col("user_id").alias("p_user"),
        F.col("event_id").alias("purchase_id"),
        F.col("ts").alias("p_ts"),
    )
    v = views.select(F.col("user_id").alias("v_user"), F.col("ts").alias("v_ts"))
    if purchases.isStreaming:
        p = p.withWatermark("p_ts", watermark)
    if views.isStreaming:
        v = v.withWatermark("v_ts", watermark)
    residual = (F.col("v_ts") <= F.col("p_ts")) & (
        F.col("v_ts") >= F.col("p_ts") - F.expr(f"INTERVAL {window}")
    )
    win_s = _interval_seconds(window)
    if not (purchases.isStreaming or views.isStreaming) and win_s is not None:
        w_us = F.lit(win_s * 1_000_000)
        probe = p.withColumn(
            "__b",
            F.explode(
                F.array(
                    F.floor(F.unix_micros("p_ts") / w_us),
                    F.floor(F.unix_micros("p_ts") / w_us) - 1,
                )
            ),
        )
        binned = v.withColumn("__vb", F.floor(F.unix_micros("v_ts") / w_us))
        cond = (
            (F.col("p_user") == F.col("v_user"))
            & (F.col("__b") == F.col("__vb"))
            & residual
        )
        return probe.join(binned, cond, "inner").select(
            "p_user", "purchase_id", "p_ts", "v_ts"
        )
    cond = (F.col("p_user") == F.col("v_user")) & residual
    return p.join(v, cond, "inner").select("p_user", "purchase_id", "p_ts", "v_ts")


def dedup_stream_against_corpus(
    docs: DataFrame,
    corpus_fingerprints: DataFrame,
    text_col: str = "text",
    ts_col: str | None = None,
    watermark: str = "2 hours",
) -> DataFrame:
    """Stream-STATIC anti-join dedup — the ingest edge of the
    incremental pipeline (batch counterpart:
    operators/dedup.py:incremental_exact_dedup, driver-certified as
    docs_incremental_dedup): each incoming document is dropped if its
    normalized-text fingerprint already exists in the STATIC corpus
    index, then first-arrival-wins within the stream itself.

    Structured Streaming executes the stream-static left-anti join
    per micro-batch with NO state store (the static side is just a
    batch relation, broadcast when small — exactly the fingerprint
    index's shape); only the in-stream dedup keeps state, bounded by
    the watermark when ``ts_col`` is given
    (dropDuplicatesWithinWatermark) and unbounded otherwise — pass a
    ``ts_col`` for any long-running ingest.

    Batch degradation: the same calls run as a plain anti-join plus
    keyed dedup; batch keeps an arbitrary row per fingerprint (where
    min-id semantics matter, use ``incremental_exact_dedup``). WITHOUT
    ``ts_col`` the survivors' FINGERPRINT SET is identical between
    stream and batch — what the stream-vs-batch equality test pins.
    WITH ``ts_col`` the in-stream dedup is scoped to the watermark
    horizon (that bounded state is the point): a re-arrival later than
    the watermark is re-emitted, so long-horizon exactness must come
    from the downstream fingerprint index, not from this operator's
    state.
    """
    from big_data_chicago_crimes_spark.operators.dedup import doc_fingerprint

    keyed = docs.withColumn("fingerprint", doc_fingerprint(text_col))
    fresh = keyed.join(
        corpus_fingerprints.select("fingerprint"), "fingerprint", "left_anti"
    )
    if docs.isStreaming and ts_col is not None:
        return fresh.withWatermark(ts_col, watermark).dropDuplicatesWithinWatermark(
            ["fingerprint"]
        )
    return fresh.dropDuplicates(["fingerprint"])
