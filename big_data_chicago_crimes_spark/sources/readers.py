"""Readers for the engine's table surface.

Reference source operators covered (SURVEY.md §2.1):

- S1 CSV scan (Dataset.py:77) → ``read_csv`` with an explicit schema
  (never ``inferSchema`` — that is a second full pass over the data).
- S2 Parquet scan (Dataset.py:71-74 et al.) → ``read_parquet``.

Plus the testdata loader used by every registered query: ``load_tables``
returns a dict of lazily-planned DataFrames for the star schema +
events/documents/embeddings, with the declared schema applied so column
types are stable regardless of writer quirks.
"""

from __future__ import annotations

from collections.abc import Mapping

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from big_data_chicago_crimes_spark.schemas import TABLE_NAMES, TESTDATA_SCHEMAS


def read_parquet(
    spark: SparkSession, path: str, schema: T.StructType | None = None
) -> DataFrame:
    """Parquet scan. Parquet is self-describing; a supplied schema acts as
    projection + type check (and keeps plans stable across writer versions)."""
    reader = spark.read
    if schema is not None:
        reader = reader.schema(schema)
    return reader.parquet(path)


def read_csv(
    spark: SparkSession,
    path: str,
    schema: T.StructType,
    header: bool = True,
    **options: str,
) -> DataFrame:
    """CSV scan with a mandatory explicit schema (no inference pass)."""
    return spark.read.schema(schema).options(header=header, **options).csv(path)


def read_json(
    spark: SparkSession,
    path: str,
    schema: T.StructType,
    timestamp_format: str | None = None,
) -> DataFrame:
    """Explicit-schema JSONL read (inferSchema would be a second full
    pass at scale). ``timestamp_format`` defaults to the µs-precision
    ISO form ``sinks.write_jsonl`` emits — Spark's own default parses
    only milliseconds, silently truncating the sink's sub-ms digits
    (the lossiness the r11 driver-gated roundtrip leg caught)."""
    if timestamp_format is None:
        from big_data_chicago_crimes_spark.sources.sinks import _JSONL_TS_FMT

        timestamp_format = _JSONL_TS_FMT
    return (
        spark.read.schema(schema)
        .option("timestampFormat", timestamp_format)
        .json(path)
    )


# cache-key → (resolved read schema, per-column temporal units). The
# footer of a given file never changes without the file itself changing,
# so one metadata read per key per process is enough. For a single file
# the key is (path, mtime); for a DIRECTORY dataset the directory
# entry's mtime does not change when a part file is overwritten in
# place, so the key folds in the max mtime across part files (one
# listdir — still metadata-only, no data scan).
_READ_SCHEMA_CACHE: dict[tuple, tuple[T.StructType, dict[str, str | None]]] = {}


def _schema_cache_key(path: str) -> tuple[str, float]:
    import os

    st = os.stat(path)
    if not os.path.isdir(path):
        return (path, st.st_mtime)
    # recurse: _parquet_leaf_types supports partitioned datasets
    # (key=value subdirectories), and overwriting a part file inside one
    # changes no top-level mtime — the walk keeps both functions agreeing
    # on which directory shapes invalidate correctly
    mtimes = [st.st_mtime]
    for root, _dirs, files in os.walk(path):
        for f in files:
            mtimes.append(os.stat(os.path.join(root, f)).st_mtime)
    return (path, max(mtimes))


def _parquet_leaf_types(path: str) -> dict[str, tuple]:
    """column name → (arrow_type, physical_type) for a single parquet
    file OR a directory of part files (Spark writes datasets as
    directories). Driver-side, metadata-only. The parquet PHYSICAL type
    matters because legacy INT96 timestamps surface in Arrow as
    timestamp[ns] — indistinguishable from TIMESTAMP(NANOS), yet Spark
    reads INT96 natively while true ns must be read as raw INT64.
    Local-filesystem paths only: the peek uses pyarrow directly, not
    Spark's Hadoop filesystem — fine for the testdata layout this engine
    targets; an object-store deployment would swap in ``pyarrow.fs``
    here."""
    import pyarrow.dataset as ds
    import pyarrow.parquet as pq

    dataset = ds.dataset(path, format="parquet")
    first = dataset.files[0] if dataset.files else path
    schema = pq.ParquetFile(first).schema
    arrow = schema.to_arrow_schema()
    # flat testdata schemas: arrow field order == parquet leaf order
    return {
        arrow.field(i).name: (arrow.field(i).type, schema.column(i).physical_type)
        for i in range(len(arrow.names))
    }


def adaptive_read_schema(
    path: str, declared: T.StructType
) -> tuple[T.StructType, dict[str, str | None]]:
    """(read schema, temporal units) for ``path``.

    The read schema is ``declared`` with every TimestampType column
    re-typed to match the file's ACTUAL physical encoding (one memoized
    metadata read per (path, mtime) per process; no data scan). The
    testdata generator has shipped temporal columns as TIMESTAMP(NANOS)
    (a parquet type Spark's reader rejects, [PARQUET_TYPE_ILLEGAL] —
    must be read as raw INT64), as TIMESTAMP(MICROS)/ntz, and Spark
    itself historically wrote INT96. Assuming any one encoding corrupts
    the others: ns read as µs puts 2024 events in 1970. So: look, don't
    assume — for every declared-timestamp column, not just events.ts.

    The units map each declared-timestamp column that LOADS as LongType
    to its unit, decided ONCE PER COLUMN from the parquet logical-type
    annotation (the footer is authoritative: a typed timestamp[ns]
    column is nanoseconds for every row): ``'ns'`` for typed
    TIMESTAMP(NANOS), ``None`` for untyped INT64 (the footer genuinely
    does not say — ``normalize_temporals`` falls back to the per-row
    magnitude heuristic for those). ``normalize_temporals`` converts the
    loaded columns back to the declared logical types."""
    import pyarrow as pa

    # the declared schema is part of the key: two callers reading the
    # same file with different declared schemas (a projection, other
    # types) must not share one adapted result
    key = (_schema_cache_key(path), declared.simpleString())
    if key in _READ_SCHEMA_CACHE:
        return _READ_SCHEMA_CACHE[key]

    leaf = _parquet_leaf_types(path)
    fields = []
    units: dict[str, str | None] = {}
    for f in declared.fields:
        dtype = f.dataType
        if isinstance(f.dataType, T.TimestampType) and f.name in leaf:
            at, physical = leaf[f.name]
            if physical == "INT96":
                # legacy Spark/Hive encoding; Spark reads it natively
                dtype = T.TimestampType()
            elif pa.types.is_timestamp(at):
                if at.unit == "ns":
                    dtype = T.LongType()  # raw int64 ns
                    units[f.name] = "ns"
                elif at.tz is not None:
                    dtype = T.TimestampType()
                else:
                    dtype = T.TimestampNTZType()
            elif pa.types.is_date(at):
                dtype = T.DateType()
            elif pa.types.is_integer(at):
                dtype = T.LongType()
                units[f.name] = None  # untyped: unit unknowable from footer
            else:
                raise TypeError(
                    f"{f.name} has unsupported parquet type {at}"
                )
        fields.append(T.StructField(f.name, dtype, f.nullable))
    result = (T.StructType(fields), units)
    _READ_SCHEMA_CACHE[key] = result
    return result


def normalize_temporals(
    df: DataFrame,
    declared: T.StructType,
    units: dict[str, str | None] | None = None,
) -> DataFrame:
    """Convert every column that ``declared`` types as TimestampType from
    its LOADED dtype back to TimestampType:

    - LongType → epoch integer. The UNIT comes from ``units`` (the
      footer's logical-type annotation via ``adaptive_read_schema`` —
      decided ONCE PER COLUMN, the authoritative answer for typed
      TIMESTAMP(NANOS) files; every production loader passes it). When
      the footer is silent (untyped INT64) or no ``units`` is supplied,
      fall back to the per-row magnitude heuristic: v ≥ 10^17 or
      ≤ −10^17 is nanoseconds (any date after 1973 in ns exceeds it; in
      µs that magnitude is the year 5138), else microseconds — so an
      untyped-INT64-micros generation cannot be shrunk 1000× into
      January 1970 (the regression class this reader exists to
      prevent). The heuristic's blind spot — ns epochs before ~March
      1973 decode as µs — is exactly why typed files take the footer
      path. The two-sided comparison (not ``abs``) stays
      total on the full long range: abs(Long.MIN_VALUE) raises
      ARITHMETIC_OVERFLOW under ANSI. Conversion uses exact integer
      division (``DIV`` stays in bigint — double division loses
      precision above 2^53 ns).
    - TimestampNTZType → reinterpret as session-tz timestamp (session tz
      is pinned to UTC in session.py, so this is a wall-clock no-op and
      matches DuckDB's naive reading of the same file).
    - DateType → midnight-UTC timestamp (matches any engine's date→
      timestamp promotion).
    - TimestampType → already right; pass through.
    """
    out = df
    for f in declared.fields:
        if not isinstance(f.dataType, T.TimestampType) or f.name not in df.columns:
            continue
        loaded = out.schema[f.name].dataType
        if isinstance(loaded, T.LongType):
            ns_expr = F.timestamp_micros(F.expr(f"{f.name} DIV 1000"))
            us_expr = F.timestamp_micros(F.col(f.name))
            unit = (units or {}).get(f.name)
            if unit == "ns":
                converted = ns_expr
            elif unit == "us":
                converted = us_expr
            else:
                converted = F.when(
                    (F.col(f.name) >= F.lit(10**17))
                    | (F.col(f.name) <= F.lit(-(10**17))),
                    ns_expr,
                ).otherwise(us_expr)
            out = out.withColumn(f.name, converted)
        elif isinstance(loaded, (T.TimestampNTZType, T.DateType)):
            out = out.withColumn(f.name, F.col(f.name).cast(T.TimestampType()))
        elif isinstance(loaded, T.TimestampType):
            pass
        else:
            raise TypeError(
                f"{f.name} loaded as unsupported Spark type {loaded}"
            )
    return out


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    if name not in TESTDATA_SCHEMAS:
        raise KeyError(f"unknown table {name!r}; expected one of {TABLE_NAMES}")
    path = f"{sf_dir}/{name}.parquet"
    declared = TESTDATA_SCHEMAS[name]
    # temporal encodings vary by testdata generation — adapt, don't assume
    schema, units = adaptive_read_schema(path, declared)
    raw = read_parquet(spark, path, schema)
    return normalize_temporals(raw, declared, units)


class Tables(Mapping):
    """Lazy mapping table-name → DataFrame for one scale-factor directory.

    Plans are built on first access and memoized; nothing is executed
    until an action runs. Attribute access (``t.lineitem``) is sugar.
    """

    def __init__(self, spark: SparkSession, sf_dir: str):
        self._spark = spark
        self._sf_dir = sf_dir
        self._cache: dict[str, DataFrame] = {}

    def __getitem__(self, name: str) -> DataFrame:
        if name not in self._cache:
            self._cache[name] = load_table(self._spark, self._sf_dir, name)
        return self._cache[name]

    def __getattr__(self, name: str) -> DataFrame:
        if name.startswith("_"):
            raise AttributeError(name)
        try:
            return self[name]
        except KeyError as exc:
            # __getattr__ must signal absence with AttributeError or
            # hasattr()/getattr(obj, n, default) crash instead of
            # falling through
            raise AttributeError(str(exc)) from exc

    def __iter__(self):
        return iter(TABLE_NAMES)

    def __len__(self):
        return len(TABLE_NAMES)


def load_tables(spark: SparkSession, sf_dir: str) -> Tables:
    return Tables(spark, sf_dir)
