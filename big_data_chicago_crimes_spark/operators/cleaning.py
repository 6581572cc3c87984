"""Cleaning / ETL operators (reference pipeline: Dataset.py:77-170).

Each step of the reference's monolithic ``__init__`` ETL becomes a named,
reusable transform. Reference bugs fixed, not replicated (SURVEY.md §2.11):
``Domestic`` is cast from its own column (bug 2, Dataset.py:114), and the
cleaning is expressed as one composable pipeline instead of 90 lines of
inline mutation.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from big_data_chicago_crimes_spark.functions.temporal import (
    date_parts,
    parse_timestamp,
    season,
)

# Crime categories excluded by the reference (Dataset.py:130-145),
# matched verbatim (including "HUMAN TRAFFICKING"; "OTHER OFFENSE" is NOT
# excluded by the reference despite its size).
EXCLUDED_PRIMARY_TYPES = [
    "HUMAN TRAFFICKING",
    "NON-CRIMINAL",
    "NON - CRIMINAL",
    "NON-CRIMINAL (SUBJECT SPECIFIED)",
    "OTHER NARCOTIC VIOLATION",
    "PUBLIC INDECENCY",
    "OBSCENITY",
    "CONCEALED CARRY LICENSE VIOLATION",
    "RITUALISM",
]


def null_count_exprs(columns: list[str], prefix: str = "") -> list:
    """The A1 per-column null-count aggregate expressions (Dataset.py:79),
    exposed so a grouped/ROLLUP aggregate can ride them in the same pass
    as other stats (events_type_stats_census) — the grand-total row of
    such a rollup carries the global census; ``df.select(...)`` of them
    alone is the one-row census."""
    return [
        F.sum(F.col(c).isNull().cast("int")).alias(f"{prefix}{c}") for c in columns
    ]


def drop_null_rows(df: DataFrame, subset: list[str] | None = None) -> DataFrame:
    """P10 (Dataset.py:83). At scale prefer a subset of required columns
    over all-column dropna so optional fields don't eat the table."""
    return df.na.drop(subset=subset)


def dedup_rows(df: DataFrame, keys: list[str] | None = None) -> DataFrame:
    """P13 (Dataset.py:85). Full-row dedup is a shuffle on every column;
    key-based dedup (pass ``keys``) shuffles only the key columns and is
    the scale-sane form. For a deterministic keep-one see
    operators.dedup.exact_dedup."""
    return df.dropDuplicates(keys) if keys else df.dropDuplicates()


def clean_description(df: DataFrame, col: str = "Description") -> DataFrame:
    """F1 regex clean (Dataset.py:87): replace ``-``, ``/``, ``:`` with a
    single space, exactly as the reference does — e.g. 'OVER-$500/RETAIL'
    becomes 'OVER $500 RETAIL', preserving word boundaries."""
    return df.withColumn(col, F.regexp_replace(F.col(col), r"[-/:]", " "))


def decompose_timestamp(
    df: DataFrame, ts_col: str = "Date", fmt: str | None = None
) -> DataFrame:
    """F2+F3 (Dataset.py:90-100): parse the 12-hour timestamp, derive
    month/year/day/hour/dayofweek, drop the raw string column."""
    ts = parse_timestamp(ts_col, fmt) if fmt else parse_timestamp(ts_col)
    out = df.withColumn("__ts", ts)
    for name, expr in date_parts("__ts").items():
        out = out.withColumn(name, expr)
    return out.drop("__ts", ts_col)


def booleans_to_int(df: DataFrame, cols: list[str]) -> DataFrame:
    """P14 bool→0/1 (Dataset.py:113-114) — fixed: each column is cast
    from ITSELF (the reference overwrites Domestic from Arrest)."""
    out = df
    for c in cols:
        out = out.withColumn(c, F.when(F.col(c) == True, 1).otherwise(0))  # noqa: E712
    return out


def add_season(df: DataFrame, month_col: str = "month") -> DataFrame:
    """P14 season bucketing (Dataset.py:123-129)."""
    return df.withColumn("season", season(month_col))


def drop_by_dtype(
    df: DataFrame,
    drop_types: tuple[str, ...] = ("string",),
    also_drop: tuple[str, ...] = (),
) -> DataFrame:
    """P2 as the reference actually uses it — SCHEMA-driven column
    drops (Dataset.py:118-122 drops fixed columns; the dtype-reflective
    form is its feature-selection idiom, Dataset.py:563-580, where
    encode/keep sets are derived from ``df.dtypes``): drop every column
    whose Spark dtype is in ``drop_types``, plus the explicitly named
    ``also_drop`` columns (id-like numerics that type reflection alone
    cannot exclude). Purely a projection — Catalyst prunes the dropped
    columns out of the scan, so at 100 TB this is the cheapest possible
    operator: the bytes are never read."""
    to_drop = [c for c, t in df.dtypes if t in drop_types]
    return df.drop(*to_drop, *also_drop)


def clean_crimes(raw: DataFrame) -> DataFrame:
    """The full reference ETL (Dataset.py:83-145) as one pipeline:
    dropna → dedup → regex clean → timestamp decomposition → leap-year +
    range filters → column drops → bool casts → NOT-IN category filter.
    """
    df = drop_null_rows(raw)
    df = dedup_rows(df)
    df = clean_description(df)
    df = decompose_timestamp(df, "Date")
    df = df.filter((F.col("year") % 4 == 0) & (F.col("year") > 2002) & (F.col("year") < 2021))
    df = df.drop("Location", "Block", "IUCR", "Beat", "Ward", "X Coordinate", "Y Coordinate")
    df = booleans_to_int(df, ["Arrest", "Domestic"])
    df = df.filter(~F.col("Primary Type").isin(EXCLUDED_PRIMARY_TYPES))
    return df
