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


def _dir_stats(spark: SparkSession, path: str) -> tuple[int, int]:
    """(n_data_files, total_bytes) for a parquet directory, via the
    Hadoop FS API (works for local, HDFS, and object stores)."""
    jvm = spark._jvm
    conf = spark._jsc.hadoopConfiguration()
    p = jvm.org.apache.hadoop.fs.Path(path)
    fs = p.getFileSystem(conf)
    n, total = 0, 0
    it = fs.listFiles(p, True)
    while it.hasNext():
        f = it.next()
        name = f.getPath().getName()
        if name.endswith(".parquet"):
            n += 1
            total += f.getLen()
    return n, total


def compact_parquet(
    spark: SparkSession,
    path: str,
    target_file_bytes: int = 128 * 1024 * 1024,
) -> tuple[int, int]:
    """Small-file compaction: rewrite a fragmented parquet directory into
    ceil(total_bytes / target) files. Streaming sinks and fine-grained
    partition writes accumulate KB-scale files; at 100 TB that means
    millions of scan tasks and metadata-bound planning, so compaction is
    a standing maintenance job. Rewrites via a sibling ``_compacting``
    directory + rename swap (never reads and overwrites the same path —
    Spark's lazy scan would see its own truncation). The swap goes
    old→``_backup``, tmp→path, delete backup: a crash between any two
    steps leaves the full data reachable under a durable name (the
    earlier delete-then-rename ordering stranded the data at
    ``_compacting`` with the canonical path gone).
    Returns (files_before, files_after)."""
    import math

    n_before, total = _dir_stats(spark, path)
    n_target = max(1, math.ceil(total / target_file_bytes))
    if n_before <= n_target:
        return n_before, n_before
    jvm = spark._jvm
    conf = spark._jsc.hadoopConfiguration()
    fs = jvm.org.apache.hadoop.fs.Path(path).getFileSystem(conf)
    p_old = jvm.org.apache.hadoop.fs.Path(path)
    # REFUSE hive-partitioned inputs: read+flat-rewrite would hydrate
    # the partition columns into data columns and destroy the layout
    # (every partition-pruned probe then scans the whole table, with no
    # error anywhere). Per-partition compaction is the correct job shape
    # for partitioned tables — run this on each leaf directory.
    for st in fs.listStatus(p_old):
        if st.isDirectory() and "=" in st.getPath().getName():
            raise ValueError(
                f"compact_parquet: {path} is hive-partitioned "
                f"({st.getPath().getName()}) — compact each leaf "
                "partition directory instead; a flat rewrite would "
                "silently destroy the partition layout"
            )
    tmp = path.rstrip("/") + "_compacting"
    spark.read.parquet(path).repartition(n_target).write.mode("overwrite").parquet(tmp)
    p_tmp = jvm.org.apache.hadoop.fs.Path(tmp)
    p_backup = jvm.org.apache.hadoop.fs.Path(path.rstrip("/") + "_backup")
    if fs.exists(p_backup):  # leftover from an interrupted earlier swap
        fs.delete(p_backup, True)

    def _rename(src, dst, step: str) -> None:
        # Hadoop rename signals failure with a FALSE return, not an
        # exception — an unchecked swap step followed by the backup
        # delete would destroy the only durable copy
        if not fs.rename(src, dst):
            raise RuntimeError(
                f"compact_parquet: rename {step} failed ({src} -> {dst}); "
                "data is intact — canonical/backup/_compacting hold the "
                "full copy, resolve manually before re-running"
            )

    _rename(p_old, p_backup, "old->backup")
    _rename(p_tmp, p_old, "tmp->canonical")
    fs.delete(p_backup, True)
    n_after, _ = _dir_stats(spark, path)
    return n_before, n_after


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
