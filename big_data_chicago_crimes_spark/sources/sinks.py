"""Sinks + the Parquet result-cache memoizer.

The reference hand-rolls the same cache-or-compute block twelve times
(probe via Hadoop ``FileSystem.exists`` through py4j at Dataset.py:50-56,
call sites listed in SURVEY.md §2.1 S4) and memoizes every query result
to Parquet (S3, e.g. Dataset.py:182). ``cached`` generalizes that into
one utility; ``write_parquet`` is the partition-aware sink (the
reference's writes are unpartitioned — fine for 7M rows, not at 100 TB).
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession


def write_parquet(
    df: DataFrame,
    path: str,
    mode: str = "overwrite",
    partition_by: list[str] | None = None,
) -> None:
    """Parquet sink. ``partition_by`` gives partition pruning on read."""
    writer = df.write.mode(mode)
    if partition_by:
        writer = writer.partitionBy(*partition_by)
    writer.parquet(path)


# Spark's JSON writer DEFAULT timestampFormat carries milliseconds only
# — a silently lossy sink for Spark's native µs timestamps (caught by
# the driver-gated roundtrip leg in r11: 23:23:43.175093 came back as
# .175000). Both sides of the cycle pin this µs ISO-8601 form instead.
_JSONL_TS_FMT = "yyyy-MM-dd'T'HH:mm:ss.SSSSSSXXX"


def write_jsonl(
    df: DataFrame,
    path: str,
    mode: str = "overwrite",
    partition_by: list[str] | None = None,
    compression: str | None = "gzip",
    timestamp_format: str = _JSONL_TS_FMT,
) -> None:
    """JSON-lines sink — the interchange format most external
    training-data tooling consumes/produces. One JSON object per line,
    written distributed (one file per partition, same layout rules as
    parquet); gzip by default since JSONL is ~5-10× parquet's size
    uncompressed. Read back with ``readers.read_json`` + the explicit
    schema — never inferSchema at scale (a full extra pass over the
    data; the reference's CSV inferSchema is the same trap, see
    Dataset.py:59-100). Timestamps serialize as µs-precision ISO-8601
    (NOT Spark's ms-only default — see _JSONL_TS_FMT above);
    read_json's explicit schema + matching format restores them —
    roundtrip certified by the events_csv_roundtrip jsonl leg under
    the driver gate and pinned by tests/test_io.py."""
    writer = df.write.mode(mode).option("timestampFormat", timestamp_format)
    if partition_by:
        writer = writer.partitionBy(*partition_by)
    if compression:
        writer = writer.option("compression", compression)
    writer.json(path)


def path_exists(spark: SparkSession, path: str) -> bool:
    """Filesystem-agnostic existence probe through the Hadoop FS API —
    the same JVM call the reference makes (Dataset.py:50-56), but works
    for local, HDFS, and object-store URIs alike."""
    jvm = spark._jvm
    jsc = spark._jsc
    conf = jsc.hadoopConfiguration()
    p = jvm.org.apache.hadoop.fs.Path(path)
    return p.getFileSystem(conf).exists(p)


def lake_root(spark: SparkSession, sf_dir: str) -> str:
    """Per-SF lake-cache root for ``cached()`` materializations (ANN
    indexes, CSV cycles, Z-ordered tables). Keyed by the sf dir's
    basename PLUS a source-generation stamp (max mtime across the sf
    dir's entries), so a regenerated source corpus orphans every derived
    artifact instead of silently serving stale data — ``cached()`` is a
    pure existence probe and would otherwise never notice the sources
    changed underneath it (the testdata HAS been regenerated between
    rounds before; encodings changed). One definition so every query
    family resolves the SAME namespace (a drifted copy would silently
    split the lake). Orphaned generations accumulate until deleted —
    the price of content-addressed caching, and regeneration is rare."""
    import os

    base = spark.conf.get("spark.bdcc.lakeDir", "spark-warehouse/lake")
    sf_name = sf_dir.rstrip("/").rsplit("/", 1)[-1]
    # recursive max mtime: a table stored as a DIRECTORY dataset
    # (name.parquet/part-*) regenerated by overwriting part files in
    # place does not touch the parent entry's mtime — the same
    # invalidation hole readers._schema_cache_key documents; walk the
    # tree so nested rewrites re-stamp the generation too
    def _mtimes(d):
        for e in os.scandir(d):
            yield e.stat().st_mtime
            if e.is_dir():
                yield from _mtimes(e.path)

    try:
        stamp = int(max(_mtimes(sf_dir)))
    except (OSError, ValueError):  # non-local path or empty dir: no stamp
        return f"{base}/{sf_name}"
    return f"{base}/{sf_name}-g{stamp}"


def cached(
    spark: SparkSession,
    path: str,
    build: Callable[[], DataFrame],
    partition_by: list[str] | None = None,
) -> DataFrame:
    """Cache-or-compute: return ``read.parquet(path)`` if it exists, else
    run ``build()``, persist to ``path``, and read it back.

    Replaces the reference's 12 copy-pasted probe blocks. Reading back
    (rather than returning the built plan) mirrors the reference's
    behavior and gives downstream queries a clean scan with pushdown.
    """
    # the probe requires the _SUCCESS marker, not the bare directory: a
    # build killed mid-write leaves the directory existing with partial
    # part files, and a bare-existence probe would skip build() forever
    # and silently serve incomplete data
    if not path_exists(spark, path.rstrip("/") + "/_SUCCESS"):
        write_parquet(build(), path, partition_by=partition_by)
    return spark.read.parquet(path)
