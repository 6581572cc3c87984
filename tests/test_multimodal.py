"""Multimodal plumbing: decode/resize/frame-sample run Arrow-batched
with stable schemas."""

from __future__ import annotations

from pyspark.sql import functions as F

from big_data_chicago_crimes_spark.operators.multimodal import (
    attach_binary_payload,
    decode_media,
    resize_media,
    sample_frames,
)
from big_data_chicago_crimes_spark.sources.readers import load_table


def _media(spark, sf_dir):
    return attach_binary_payload(load_table(spark, sf_dir, "documents").limit(50))


def test_decode_schema_and_determinism(spark, sf_dir):
    media = _media(spark, sf_dir)
    a = sorted(map(tuple, decode_media(media).collect()))
    b = sorted(map(tuple, decode_media(media).collect()))
    assert a == b and len(a) == 50


def test_resize_bounds(spark, sf_dir):
    rows = resize_media(_media(spark, sf_dir), 8, 8).collect()
    assert all(r.n_bytes_out <= 8 * 8 * 3 for r in rows)
    assert all((r.target_w, r.target_h) == (8, 8) for r in rows)


def test_frame_sampling_counts(spark, sf_dir):
    media = _media(spark, sf_dir)
    frames = sample_frames(media, every_n_bytes=100)
    per_doc = frames.groupBy("doc_id").agg(F.count("*").alias("n")).collect()
    byte_len = {r.doc_id: r.n for r in per_doc}
    lens = {r.doc_id: len(r.payload) for r in media.select("doc_id", "payload").collect()}
    for doc_id, n in byte_len.items():
        expect = max(lens[doc_id] - 1, 0) // 100 + 1
        assert n == expect


def test_sample_frames_guards_stride_and_null_payload(spark):
    """every_n_bytes=0 used to return ONE frame at offset 0 for every
    payload (divide-by-zero -> NULL -> greatest -> 0) with no error;
    and a NULL payload silently vanished from the frame output while
    decode_media errors on the same row. Both now raise (r16 sweep)."""
    import pytest as _pytest

    from big_data_chicago_crimes_spark.operators.multimodal import sample_frames

    df = spark.createDataFrame(
        [(1, bytearray(b"x" * 250))], "doc_id long, payload binary"
    )
    with _pytest.raises(ValueError, match="every_n_bytes"):
        sample_frames(df, every_n_bytes=0)
    # valid stride still works: 250 bytes / 100 -> frames at 0,100,200
    got = sorted(
        r.frame_offset for r in sample_frames(df, every_n_bytes=100).collect()
    )
    assert got == [0, 100, 200]
    nullrow = spark.createDataFrame(
        [(2, None)], "doc_id long, payload binary"
    )
    with _pytest.raises(Exception, match="NULL payload"):
        sample_frames(nullrow, every_n_bytes=100).collect()


def test_resize_media_rejects_nonpositive_target(spark):
    """A non-positive target pinned every output size to a nonsense
    cap via clip(upper=cap<=0) — silent corruption, now a build-time
    error (r16 sweep)."""
    import pytest as _pytest

    from big_data_chicago_crimes_spark.operators.multimodal import resize_media

    df = spark.createDataFrame(
        [(1, bytearray(b"abc"))], "doc_id long, payload binary"
    )
    with _pytest.raises(ValueError, match="target dims"):
        resize_media(df, target_w=0, target_h=8)
