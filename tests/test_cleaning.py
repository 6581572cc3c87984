"""Cleaning-pipeline tests on a crimes-shaped fixture (FIXTURES.md
fixture 1): every reference ETL step observable — dropna, dedup, regex
clean, 12-hour timestamp decomposition, leap-year + range filters,
NOT-IN category filter, bool→int with the Domestic bug FIXED."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from big_data_chicago_crimes_spark.operators.cleaning import (
    booleans_to_int,
    clean_crimes,
    dedup_rows,
    null_count_exprs,
)


def _raw_rows():
    # (ID, Case Number, Date, Primary Type, Description, Arrest, Domestic, District, Location)
    return [
        # survives everything: leap year 2016 in range, included category
        (1, "HY1", "07/04/2016 01:30:00 PM", "THEFT", "OVER-$500/RETAIL", True, False, 1, "loc"),
        # duplicate of row 1 → dropped by dedup
        (1, "HY1", "07/04/2016 01:30:00 PM", "THEFT", "OVER-$500/RETAIL", True, False, 1, "loc"),
        # null Description → dropped by dropna
        (2, "HY2", "07/04/2016 01:30:00 PM", "THEFT", None, True, False, 1, "loc"),
        # 2015 not divisible by 4 → dropped by leap filter
        (3, "HY3", "07/04/2015 01:30:00 PM", "THEFT", "desc", False, True, 2, "loc"),
        # 2000 ≤ 2002 → dropped by range filter
        (4, "HY4", "07/04/2000 01:30:00 PM", "THEFT", "desc", False, True, 2, "loc"),
        # excluded category → dropped by NOT-IN filter
        (5, "HY5", "07/04/2016 01:30:00 PM", "OBSCENITY", "desc", False, False, 3, "loc"),
        # survives: arrest false, domestic true (verifies independent casts)
        (6, "HY6", "12/31/2020 11:59:59 PM", "ASSAULT", "AGG:PO-HANDS", False, True, 4, "loc"),
        # excluded by the reference (Dataset.py:136) → dropped
        (7, "HY7", "07/04/2016 01:30:00 PM", "HUMAN TRAFFICKING", "desc", False, False, 3, "loc"),
        # NOT excluded by the reference → survives
        (8, "HY8", "07/04/2016 01:30:00 PM", "OTHER OFFENSE", "desc", False, False, 3, "loc"),
    ]


SCHEMA = (
    "ID long, `Case Number` string, Date string, `Primary Type` string, "
    "Description string, Arrest boolean, Domestic boolean, District int, Location string"
)


@pytest.fixture(scope="module")
def raw(spark):
    return spark.createDataFrame(_raw_rows(), SCHEMA)


def test_clean_crimes_pipeline(raw):
    out = clean_crimes(raw)
    rows = {r.ID: r for r in out.collect()}
    # 7 (HUMAN TRAFFICKING) is excluded per the reference list; 8 (OTHER
    # OFFENSE) is kept — the reference does NOT exclude it.
    assert set(rows) == {1, 6, 8}
    r1, r6 = rows[1], rows[6]
    # regex clean replaces [-/:] with a single space (Dataset.py:87)
    assert r1.Description == "OVER $500 RETAIL"
    assert r6.Description == "AGG PO HANDS"
    # 12-hour AM/PM decomposition (Dataset.py:90-99)
    assert (r1.year, r1.month, r1.day, r1.hour) == (2016, 7, 4, 13)
    assert (r6.year, r6.month, r6.day, r6.hour) == (2020, 12, 31, 23)
    # raw Date and Location dropped
    assert "Date" not in out.columns and "Location" not in out.columns
    # bool→int cast from each column's OWN value (reference bug 2 fixed:
    # Dataset.py:114 overwrote Domestic from Arrest)
    assert (r1.Arrest, r1.Domestic) == (1, 0)
    assert (r6.Arrest, r6.Domestic) == (0, 1)


def test_clean_crimes_columns_match_documented_schema(spark):
    """schemas.CRIMES_CLEAN_COLUMNS is the cleaned frame's shape, in
    order: the derived ``year`` replaces the raw ``Year`` in place."""
    from big_data_chicago_crimes_spark.schemas import (
        CRIMES_CLEAN_COLUMNS,
        CRIMES_RAW_SCHEMA,
    )

    raw = spark.createDataFrame([], CRIMES_RAW_SCHEMA)
    assert clean_crimes(raw).columns == CRIMES_CLEAN_COLUMNS


def test_null_census_counts(spark):
    df = spark.createDataFrame(
        [(1, None), (2, "x"), (None, None)], "a int, b string"
    )
    row = df.select(null_count_exprs(df.columns)).collect()[0]
    assert row.a == 1 and row.b == 2


def test_keyed_dedup_cheaper_than_full(spark):
    df = spark.createDataFrame(
        [(1, "x"), (1, "y"), (2, "z")], "k int, v string"
    )
    assert dedup_rows(df, ["k"]).count() == 2
    assert dedup_rows(df).count() == 3


def test_booleans_cast_independently(spark):
    df = spark.createDataFrame([(True, False)], "a boolean, b boolean")
    row = booleans_to_int(df, ["a", "b"]).collect()[0]
    assert (row.a, row.b) == (1, 0)


def test_drop_by_dtype_reflective_and_pruned(spark):
    """P2 schema-reflective drop: string columns go by dtype, named id
    columns by also_drop; surviving schema is exactly the numeric
    feature set, and the projection prunes the scan (ReadSchema in the
    physical plan carries only surviving columns for a parquet source —
    here we assert the logical projection)."""
    from big_data_chicago_crimes_spark.operators.cleaning import drop_by_dtype

    df = spark.createDataFrame(
        [(1, "n", 2, 3.5, "m")],
        "id bigint, name string, nat int, bal double, seg string",
    )
    out = drop_by_dtype(df, ("string",), also_drop=("id",))
    assert out.columns == ["nat", "bal"]
    # dtype set can name multiple types
    out2 = drop_by_dtype(df, ("string", "bigint"))
    assert out2.columns == ["nat", "bal"]
    # dropping nothing is the identity projection
    assert drop_by_dtype(df, ("decimal(10,2)",)).columns == df.columns
