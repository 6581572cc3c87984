"""Source/sink tests: the cached() Parquet memoizer (the generalization
of the reference's 12 probe blocks) and partitioned writes."""

from __future__ import annotations

import os

from big_data_chicago_crimes_spark.sources.sinks import cached, path_exists, write_parquet


def test_cached_computes_once(spark, tmp_path):
    target = str(tmp_path / "memo.parquet")
    calls = {"n": 0}

    def build():
        calls["n"] += 1
        return spark.range(10).withColumnRenamed("id", "v")

    first = cached(spark, target, build)
    assert first.count() == 10 and calls["n"] == 1
    second = cached(spark, target, build)
    assert second.count() == 10 and calls["n"] == 1  # served from parquet
    assert path_exists(spark, target)


def test_partitioned_write_prunes(spark, tmp_path):
    target = str(tmp_path / "part.parquet")
    df = spark.range(100).selectExpr("id", "CAST(id % 4 AS INT) AS bucket")
    write_parquet(df, target, partition_by=["bucket"])
    back = spark.read.parquet(target)
    pruned = back.filter("bucket = 2")
    assert pruned.count() == 25
    # partition pruning visible in the physical plan
    plan = pruned._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan or "bucket" in plan


def test_lake_root_invalidates_on_source_regeneration(spark, tmp_path):
    """lake_root folds a source-generation stamp into the cache
    namespace: regenerating a source file under the sf dir must move the
    root (orphaning stale derived artifacts), while untouched sources
    keep it stable — cached() alone is a pure existence probe and would
    serve stale materializations forever."""
    import os
    import time

    from big_data_chicago_crimes_spark.sources.sinks import lake_root

    sf = tmp_path / "sfX"
    sf.mkdir()
    (sf / "events.parquet").write_bytes(b"v1")
    r1 = lake_root(spark, str(sf))
    assert r1 == lake_root(spark, str(sf))  # stable while sources are
    assert "sfX" in r1
    # regenerate a source file with a strictly newer mtime
    later = time.time() + 5
    os.utime(sf / "events.parquet", (later, later))
    r2 = lake_root(spark, str(sf))
    assert r2 != r1, "regenerated source must move the lake namespace"


def test_jsonl_roundtrip_preserves_values_and_timestamps(spark, tmp_path):
    """write_jsonl → read_json with the explicit schema is lossless,
    including MICROSECOND-precision timestamps (Spark's JSON writer
    default format is ms-only and silently truncated sub-ms digits —
    caught by the r11 driver-gated roundtrip leg; the sink now pins a
    µs ISO-8601 format on both sides) and nulls."""
    import datetime

    from pyspark.sql import types as T

    from big_data_chicago_crimes_spark.sources.readers import read_json
    from big_data_chicago_crimes_spark.sources.sinks import write_jsonl

    schema = T.StructType(
        [
            T.StructField("id", T.LongType()),
            T.StructField("text", T.StringType()),
            T.StructField("score", T.DoubleType()),
            T.StructField("ts", T.TimestampType()),
        ]
    )
    rows = [
        (1, "alpha", 0.5, datetime.datetime(2024, 1, 2, 3, 4, 5, 175093)),
        (2, None, -1.25, datetime.datetime(2024, 6, 7, 8, 9, 10, 999999)),
        (3, "unicode ✓ and \"quotes\"", None, None),
    ]
    df = spark.createDataFrame(rows, schema)
    path = str(tmp_path / "out.jsonl")
    write_jsonl(df, path)
    back = read_json(spark, path, schema)
    assert sorted(back.collect()) == sorted(df.collect())


def test_jsonl_partitioned_write_layout(spark, tmp_path):
    """partition_by produces the same pruning-friendly directory layout
    as the parquet sink."""
    import os

    from big_data_chicago_crimes_spark.sources.sinks import write_jsonl

    df = spark.createDataFrame(
        [(i, "ab"[i % 2]) for i in range(10)], "id long, part string"
    )
    path = str(tmp_path / "parted")
    write_jsonl(df, path, partition_by=["part"])
    assert sorted(
        d for d in os.listdir(path) if d.startswith("part=")
    ) == ["part=a", "part=b"]


def test_cached_rebuilds_over_partial_write(spark, tmp_path):
    """A directory left by a killed build (exists, no _SUCCESS marker)
    must be rebuilt, not served as if complete."""
    from big_data_chicago_crimes_spark.sources.sinks import cached

    path = str(tmp_path / "partial")
    os.makedirs(path)  # exists, but never finished writing
    calls = []

    def build():
        calls.append(1)
        return spark.range(3)

    out = cached(spark, path, build)
    assert calls == [1]
    assert out.count() == 3
    # a COMPLETE cache (marker present) is served without rebuilding
    out2 = cached(spark, path, build)
    assert calls == [1]
    assert out2.count() == 3


def test_tables_hasattr_protocol(spark, sf_dir):
    from big_data_chicago_crimes_spark.sources.readers import load_tables

    t = load_tables(spark, sf_dir)
    assert not hasattr(t, "no_such_table")
    assert getattr(t, "no_such_table", None) is None


def test_normalize_temporals_unit_by_magnitude(spark):
    """An untyped INT64 timestamp column is converted by magnitude:
    epoch-micros values must not be shrunk 1000x into 1970."""
    from pyspark.sql import types as T

    from big_data_chicago_crimes_spark.sources.readers import normalize_temporals

    us_2024 = 1_704_067_200_000_000       # 2024-01-01 in micros
    ns_2024 = us_2024 * 1000              # same instant in nanos
    df = spark.createDataFrame([(us_2024,), (ns_2024,)], "ts long")
    declared = T.StructType([T.StructField("ts", T.TimestampType())])
    out = [r["ts"].year for r in normalize_temporals(df, declared).collect()]
    assert out == [2024, 2024]


def test_typed_ns_pre_1973_epoch_uses_footer_unit(spark, tmp_path):
    """A typed TIMESTAMP(NANOS) column whose values predate ~March 1973
    falls below the 10^17 magnitude cutoff — the per-row heuristic would
    decode it as MICROSECONDS (landing decades in the future). The
    loader must take the footer's per-column unit instead (ADVICE r13).
    Also pins the Long.MIN_VALUE ANSI-safety of the fallback: the
    magnitude test is two-sided, never abs()."""
    import pyarrow as pa
    import pyarrow.parquet as pq
    from pyspark.sql import types as T

    from big_data_chicago_crimes_spark.sources.readers import (
        adaptive_read_schema,
        normalize_temporals,
        read_parquet,
    )

    ns_1970 = 86_400 * 10**9  # 1970-01-02 in ns — far below 10^17
    path = str(tmp_path / "t.parquet")
    pq.write_table(pa.table({"ts": pa.array([ns_1970], pa.timestamp("ns"))}), path)
    declared = T.StructType([T.StructField("ts", T.TimestampType())])
    schema, units = adaptive_read_schema(path, declared)
    assert units == {"ts": "ns"}
    out = normalize_temporals(read_parquet(spark, path, schema), declared, units)
    assert [str(r["ts"].date()) for r in out.collect()] == ["1970-01-02"]

    # fallback (no units) survives Long.MIN_VALUE under ANSI
    df = spark.createDataFrame([(-(2**63),)], "ts long")
    normalize_temporals(df, declared).collect()
