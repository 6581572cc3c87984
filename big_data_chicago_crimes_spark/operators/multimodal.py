"""Multimodal column plumbing: opaque binary payloads + typed metadata.

A 100 TB training-data pipeline carries images/audio/video as opaque
``binary`` columns next to typed metadata, and runs decode / feature
extraction as Arrow-batched Pandas UDFs (``mapInPandas``) so the Python
work is vectorized per batch, never per row.

The container has no image/audio codecs, so the DECODE STEP IS A
DETERMINISTIC FAKE (clearly marked below): it derives "width/height/
duration" from the payload bytes. Everything around it — the binary
schema, the mapInPandas batch iterator signature, the output schema,
partition behavior — is the real plumbing a libvips/ffmpeg decode would
drop into.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

DECODED_SCHEMA = (
    "doc_id long, n_bytes long, fake_width int, fake_height int, checksum long"
)


def attach_binary_payload(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Stand-in media ingestion: pack a string column into a binary
    payload column (real pipelines read the bytes from object storage).
    The payload is opaque downstream — exactly like a JPEG would be."""
    return df.withColumn("payload", F.encode(F.col(text_col), "UTF-8"))


def _fake_decode_batch(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    """mapInPandas kernel. REAL decode would call PIL/libvips/ffmpeg on
    each payload here; the container has no codecs, so this computes a
    DETERMINISTIC FAKE: dimensions derived from byte length and a weak
    checksum. Batch shape, dtypes, and iterator protocol are production-
    shaped (one pandas DataFrame per Arrow batch)."""
    for pdf in batches:
        n_bytes = pdf["payload"].map(len).astype("int64")
        # stand-in for image dimensions a real decoder would return
        fake_width = (n_bytes % 640 + 1).astype("int32")
        fake_height = (n_bytes % 480 + 1).astype("int32")
        checksum = pdf["payload"].map(lambda b: sum(b[:64]) if b else 0).astype("int64")
        yield pd.DataFrame(
            {
                "doc_id": pdf["doc_id"].astype("int64"),
                "n_bytes": n_bytes,
                "fake_width": fake_width,
                "fake_height": fake_height,
                "checksum": checksum,
            }
        )


def decode_media(df: DataFrame) -> DataFrame:
    """Decode/feature-extract stage over the binary payload column.
    Arrow-batched, executor-parallel, schema-stable. Swap
    ``_fake_decode_batch`` for a real codec kernel when the libs exist."""
    return df.select("doc_id", "payload").mapInPandas(
        _fake_decode_batch, schema=DECODED_SCHEMA
    )


def sample_frames(df: DataFrame, every_n_bytes: int = 100) -> DataFrame:
    """Frame-sampling stand-in: emit one row per sampled "frame" offset —
    the explode-shaped transform a video pipeline runs after decode.
    Pure column ops (sequence + explode), no Python.

    Guards (r16 sweep): ``every_n_bytes`` < 1 raises at build — with 0
    the stride arithmetic silently returned ONE frame at offset 0 for
    every payload (divide-by-zero → NULL → greatest(NULL, 0) = 0), a
    wrong answer with no error anywhere. A NULL payload raises at
    execution: ``sequence`` of a NULL bound would otherwise DROP the
    row silently, while the sibling decode stage errors on NULL — the
    two stages must not disagree about bad rows (the dedup-family
    loud-NULL convention)."""
    if every_n_bytes < 1:
        raise ValueError(
            f"every_n_bytes must be >= 1, got {every_n_bytes}"
        )
    payload = F.when(
        F.col("payload").isNull(),
        F.raise_error(
            F.lit(
                "sample_frames: NULL payload — decode/filter bad media rows "
                "first (a NULL would silently drop from the frame output)"
            )
        ).cast("binary"),
    ).otherwise(F.col("payload"))
    n = F.length(payload).cast("long")
    last_frame = F.greatest(F.floor((n - 1) / every_n_bytes), F.lit(0).cast("long"))
    offsets = F.sequence(F.lit(0).cast("long"), last_frame)
    return (
        df.select("doc_id", F.explode(offsets).alias("frame_idx"), n.alias("n_bytes"))
        .withColumn("frame_offset", F.col("frame_idx") * every_n_bytes)
    )


RESIZED_SCHEMA = "doc_id long, target_w int, target_h int, n_bytes_out long"


def resize_media(df: DataFrame, target_w: int = 224, target_h: int = 224) -> DataFrame:
    """Resize stage (STUB KERNEL — no codecs in this container): a real
    implementation calls PIL/libvips per payload; the stand-in derives
    the output byte count deterministically from input size and target
    dims. Arrow-batched mapInPandas, production-shaped."""

    if target_w < 1 or target_h < 1:
        # a non-positive target made cap <= 0 and clip(upper=cap) pinned
        # EVERY output size to that nonsense cap — silent corruption,
        # not an error (r16 sweep)
        raise ValueError(
            f"target dims must be >= 1, got {target_w}x{target_h}"
        )
    cap = target_w * target_h * 3

    def kernel(batches):
        for pdf in batches:
            n_in = pdf["payload"].map(len).astype("int64")
            out = pd.DataFrame({"doc_id": pdf["doc_id"].astype("int64")})
            # scalar assignment broadcasts — no per-batch list-of-constants
            out["target_w"] = pd.Series(target_w, index=out.index, dtype="int32")
            out["target_h"] = pd.Series(target_h, index=out.index, dtype="int32")
            # fake: resized size scales with target area, capped by input
            out["n_bytes_out"] = n_in.clip(upper=cap).values
            yield out

    return df.select("doc_id", "payload").mapInPandas(kernel, schema=RESIZED_SCHEMA)
