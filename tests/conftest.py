"""Shared fixtures: one SparkSession per test run, DuckDB oracle runner,
and the spark-vs-oracle comparator that mirrors the driver's gate
(row count + column names + order-insensitive values)."""

from __future__ import annotations

import math
import os

import duckdb
import numpy as np
import pandas as pd
import pytest

from big_data_chicago_crimes_spark.schemas import TABLE_NAMES
from big_data_chicago_crimes_spark.session import get_spark

SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")


@pytest.fixture(scope="session")
def spark():
    s = get_spark(app_name="engine-tests", shuffle_partitions=8)
    yield s


@pytest.fixture(scope="session")
def sf_dir():
    return SF_DIR


@pytest.fixture(scope="session")
def duck():
    con = duckdb.connect()
    for name in TABLE_NAMES:
        con.execute(
            f"CREATE VIEW {name} AS SELECT * FROM '{SF_DIR}/{name}.parquet'"
        )
    yield con
    con.close()


def _normalize(df: pd.DataFrame) -> pd.DataFrame:
    """Column-name-sorted, row-sorted, float-rounded frame for
    order-insensitive comparison."""
    out = df[sorted(df.columns)].copy()
    for c in out.columns:
        if pd.api.types.is_float_dtype(out[c]):
            out[c] = out[c].round(6)
        elif pd.api.types.is_datetime64_any_dtype(out[c]):
            out[c] = out[c].astype("datetime64[us]").astype(str)
    out = out.sort_values(by=list(out.columns), ignore_index=True)
    return out


def assert_frames_match(spark_pdf: pd.DataFrame, oracle_pdf: pd.DataFrame, name: str):
    assert sorted(spark_pdf.columns) == sorted(oracle_pdf.columns), (
        f"{name}: column mismatch spark={sorted(spark_pdf.columns)} "
        f"oracle={sorted(oracle_pdf.columns)}"
    )
    assert len(spark_pdf) == len(oracle_pdf), (
        f"{name}: row count spark={len(spark_pdf)} oracle={len(oracle_pdf)}"
    )
    a, b = _normalize(spark_pdf), _normalize(oracle_pdf)
    for c in a.columns:
        av, bv = a[c].tolist(), b[c].tolist()
        for i, (x, y) in enumerate(zip(av, bv)):
            if isinstance(x, float) and isinstance(y, float):
                if math.isnan(x) and math.isnan(y):
                    continue
                assert math.isclose(x, y, rel_tol=1e-9, abs_tol=1e-6), (
                    f"{name}: value mismatch col={c} row={i}: {x!r} != {y!r}"
                )
            else:
                xn = None if (x is None or (isinstance(x, float) and math.isnan(x))) else x
                yn = None if (y is None or (isinstance(y, float) and math.isnan(y))) else y
                assert str(xn) == str(yn), (
                    f"{name}: value mismatch col={c} row={i}: {x!r} != {y!r}"
                )


def semantic_dedup_model(rows, cents, threshold=0.95):
    """NumPy model of SemDeDup membership: each vector joins the
    centroid at the smallest 6dp-rounded squared L2 distance (smallest
    cid on ties) and is pruned when any smaller-id member of its cell
    has 6dp-rounded cosine >= ``threshold`` (zero-norm vectors cos as
    0.0). Vectors are float32-cast first, as the array<float> column
    stores them. Returns the sorted kept (vec_id, centroid_id) pairs."""
    ids = np.asarray([i for i, _ in rows])
    vecs = np.asarray([v for _, v in rows], dtype=np.float32).astype(float)
    c = np.asarray(cents, dtype=float)
    cell = np.round(((vecs[:, None, :] - c[None]) ** 2).sum(axis=-1), 6).argmin(axis=1)
    norms = np.linalg.norm(vecs, axis=1)
    denom = np.outer(norms, norms)
    with np.errstate(divide="ignore", invalid="ignore"):
        cos = np.round(np.where(denom > 0, (vecs @ vecs.T) / denom, 0.0), 6)
    return sorted(
        (int(ids[a]), int(cell[a]))
        for a in range(len(ids))
        if not (cos[a][(cell == cell[a]) & (ids < ids[a])] >= threshold).any()
    )
