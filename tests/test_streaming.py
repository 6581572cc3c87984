"""Structured Streaming must produce the SAME result as the batch plan
over the same parquet input — stream/batch symmetry is the engine's
streaming correctness contract. Every builder a registered query calls
runs here both ways; the query's DuckDB oracle certifies the batch side."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from big_data_chicago_crimes_spark.sources.readers import load_table
from big_data_chicago_crimes_spark.streaming import (
    purchases_after_views_interval_join,
    session_window_agg,
    sliding_window_agg,
    windowed_distinct_hll,
)
from tests.conftest import read_events_stream, run_stream_to_memory


def _interval_join(events):
    return purchases_after_views_interval_join(
        events.filter(F.col("event_type") == "purchase"),
        events.filter(F.col("event_type") == "view"),
        window="6 hours",
    )


def _hll(events):
    return windowed_distinct_hll(events).select(
        F.date_format("w.start", "yyyy-MM-dd HH:mm:ss").alias("window_start"),
        "n_regs",
        "z_int",
        "hll_est",
    )


# builder -> (transformation as its query calls it, the output column
# holding each row's event time, the fewest distinct times a correct
# read yields at sf0.001, how many batch rows the stream may hold back).
# ~30 days of events: hourly windows number in the hundreds, while the
# 6-hour purchase->view join matches a few dozen pairs. Append mode
# emits an aggregate row only once the 2-hour watermark passes its
# window/session, so the trailing horizon may be missing: at most 6
# half-hour-aligned 1-hour windows, 4 hourly ones, and the sessions of
# the users active in the last 2.5 hours. The interval join emits every
# match as soon as both sides arrive.
STREAM_BUILDERS = {
    "sliding_window_agg": (sliding_window_agg, "window_start", 100, 6),
    "session_window_agg": (session_window_agg, "session_start", 100, 8),
    "windowed_distinct_hll": (_hll, "window_start", 100, 4),
    "purchases_after_views_interval_join": (_interval_join, "p_ts", 20, 0),
}


@pytest.mark.parametrize("builder", sorted(STREAM_BUILDERS))
def test_stream_matches_batch(spark, sf_dir, builder):
    """Each builder runs as a STREAM (append mode) over the real
    testdata events file and every row it emits equals a batch row
    exactly; only the trailing watermark horizon may be held back.
    Equality alone is vacuous if ingestion is broken on both sides (a
    broken ts conversion once turned 30 days of events into 2 windows
    of 1970), so pin the row volume and the epoch too."""
    build, time_col, min_times, horizon = STREAM_BUILDERS[builder]
    stream = read_events_stream(spark, sf_dir)
    assert stream.isStreaming
    streamed = run_stream_to_memory(build(stream), f"stream_{builder}", "append")
    batch = build(load_table(spark, sf_dir, "events"))

    s_rows = sorted(map(str, streamed.collect()))
    b_rows = sorted(map(str, batch.collect()))
    assert s_rows, "append-mode stream emitted nothing"
    assert set(s_rows) <= set(b_rows), sorted(set(s_rows) - set(b_rows))[:3]
    assert len(s_rows) == len(set(s_rows)), "stream emitted a row twice"
    assert len(b_rows) - len(s_rows) <= horizon, (len(s_rows), len(b_rows))

    times = {str(r[time_col]) for r in streamed.select(time_col).collect()}
    assert len(times) >= min_times, f"suspiciously few distinct times: {len(times)}"
    assert min(times) >= "2000-01-01", sorted(times)[:3]


def test_stream_parquet_sink_with_checkpoint(spark, sf_dir, tmp_path):
    """readStream → windowed agg → parquet writeStream with checkpoint:
    the durable-sink path (exactly-once via checkpoint + file manifest).
    Append mode requires a watermark-closed aggregation, so use the
    stateless projection path; the aggregate path is covered by the
    memory-sink tests."""
    out, ckpt = str(tmp_path / "out"), str(tmp_path / "ckpt")
    stream = read_events_stream(spark, sf_dir)
    enriched = stream.selectExpr(
        "event_id", "user_id", "event_type", "date_trunc('hour', ts) AS hour_bucket"
    )
    q = (
        enriched.writeStream.outputMode("append")
        .format("parquet")
        .option("path", out)
        .option("checkpointLocation", ckpt)
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    written = spark.read.parquet(out)
    batch_n = load_table(spark, sf_dir, "events").count()
    assert written.count() == batch_n
    # restart with same checkpoint: no reprocessing, no duplicates
    q2 = (
        enriched.writeStream.outputMode("append")
        .format("parquet")
        .option("path", out)
        .option("checkpointLocation", ckpt)
        .start()
    )
    try:
        q2.processAllAvailable()
    finally:
        q2.stop()
    assert spark.read.parquet(out).count() == batch_n


def test_watermark_drops_late_events(spark, tmp_path):
    """Late-data semantics: an event older than the watermark when its
    microbatch arrives must NOT resurrect its (already finalized)
    window. Batch 1 closes window [10:00,11:00) by advancing the
    watermark past it; batch 2 re-delivers a 10:15 event, which append
    mode must discard rather than re-emit the window."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from big_data_chicago_crimes_spark.schemas import EVENTS_RAW_SCHEMA

    src = tmp_path / "late_src"
    src.mkdir()
    base = 1_600_000_000  # epoch seconds, aligned enough for hour windows
    hour = 3600

    def write(name, secs):
        tbl = pa.table(
            {
                "event_id": pa.array(list(range(len(secs))), pa.int64()),
                "ts": pa.array([(base + s) * 10**9 for s in secs], pa.int64()),
                "user_id": pa.array([1] * len(secs), pa.int64()),
                "event_type": pa.array(["view"] * len(secs)),
                "value": pa.array([1.0] * len(secs)),
                "props": pa.array(["{}"] * len(secs)),
            }
        )
        pq.write_table(tbl, str(src / name))

    import time as _time

    # find the hour boundary at/after base
    h0 = (base // hour + 1) * hour - base  # offset to next boundary
    # batch 1: two events in window W0=[h0, h0+1h), one 4 hours ahead
    # (its event time puts the 2h watermark past W0's end)
    write("b1.parquet", [h0 + 60, h0 + 120, h0 + 4 * hour])
    _time.sleep(1.1)  # distinct modTimes keep the file order deterministic
    # batch 2: one more event — the watermark computed from batch 1
    # becomes OPERATIVE in this batch (it lags one microbatch)
    write("b2.parquet", [h0 + 4 * hour + 60])
    _time.sleep(1.1)
    # batch 3: the late re-delivery inside W0, now behind the watermark
    write("b3.parquet", [h0 + 300])

    raw = (
        spark.readStream.schema(EVENTS_RAW_SCHEMA)
        .option("maxFilesPerTrigger", "1")
        .parquet(str(src))
    )
    stream = raw.withColumn("ts", F.timestamp_micros(F.expr("ts DIV 1000")))
    # slide == width: the sliding builder's tumbling case
    agg = sliding_window_agg(
        stream, width="1 hour", slide="1 hour", watermark="2 hours"
    )
    q = (
        agg.writeStream.outputMode("append")
        .format("memory")
        .queryName("late_drop_test")
        .start()
    )
    try:
        q.processAllAvailable()
        dropped = sum(
            op.get("numRowsDroppedByWatermark", 0)
            for p in q.recentProgress
            for op in p["stateOperators"]
        )
    finally:
        q.stop()
    rows = spark.table("late_drop_test").collect()
    by_window = {r.window_start: r.cnt for r in rows}
    # W0 was emitted with its ON-TIME count only; the late event was
    # dropped by the watermark, not aggregated or re-emitted
    assert 2 in by_window.values(), by_window
    assert 3 not in by_window.values(), by_window
    assert dropped == 1


def test_hash_sampling_filters_apply_to_streams(spark, sf_dir):
    """The curation membership functions (hash_sample & friends) are
    stateless content-hash filters, so the SAME recipe runs in the
    ingest stream — streamed sample must equal the batch sample."""
    from big_data_chicago_crimes_spark.operators.sampling import hash_sample

    batch = load_table(spark, sf_dir, "events")
    expected = sorted(
        r.event_id for r in hash_sample(batch, "event_id", 0.2).collect()
    )
    assert expected

    stream = read_events_stream(spark, sf_dir)
    sampled = hash_sample(stream, "event_id", 0.2).select("event_id")
    out = run_stream_to_memory(sampled, "stream_hash_sample_test", "append")
    assert sorted(r.event_id for r in out.collect()) == expected


def test_stream_static_dedup_matches_batch(spark, tmp_path):
    """Stream-STATIC anti-join dedup (dedup_stream_against_corpus): docs
    arriving over two micro-batches drop (a) anything whose fingerprint
    the static corpus index holds and (b) later re-arrivals of a
    fingerprint already seen in the stream. The surviving FINGERPRINT
    set must equal the batch degradation's over the same input (which
    copy of a dup survives is arrival-order-dependent by design)."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from big_data_chicago_crimes_spark.operators.dedup import doc_fingerprint
    from big_data_chicago_crimes_spark.streaming import dedup_stream_against_corpus

    src = tmp_path / "docs_src"
    src.mkdir()

    def write(name, rows):
        tbl = pa.table(
            {
                "doc_id": pa.array([r[0] for r in rows], pa.int64()),
                "text": pa.array([r[1] for r in rows]),
            }
        )
        pq.write_table(tbl, str(src / name))

    write("crawl1.parquet", [(10, "fresh content"), (11, "known document")])
    write(
        "crawl2.parquet",
        [(12, "Fresh   Content"), (13, "also brand new"), (14, "fresh content")],
    )

    corpus = spark.createDataFrame(
        [(1, "known document"), (2, "another known one")],
        "doc_id long, text string",
    )
    corpus_fps = corpus.select(doc_fingerprint("text").alias("fingerprint"))

    stream = (
        spark.readStream.schema("doc_id long, text string")
        .option("maxFilesPerTrigger", "1")
        .parquet(str(src))
    )
    assert stream.isStreaming
    out = run_stream_to_memory(
        dedup_stream_against_corpus(stream, corpus_fps),
        "stream_static_dedup_test",
        output_mode="append",
    )
    got = {r.fingerprint for r in out.select("fingerprint").collect()}

    batch = spark.read.schema("doc_id long, text string").parquet(str(src))
    expect = {
        r.fingerprint
        for r in dedup_stream_against_corpus(batch, corpus_fps)
        .select("fingerprint")
        .collect()
    }
    assert got == expect and len(got) == 2  # {fresh content, also brand new}
    # corpus-known fingerprint must be absent from the stream output
    known = corpus_fps.collect()[0].fingerprint
    assert known not in got
