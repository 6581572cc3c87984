"""Output checks made apart from the engine.

Registry queries are compared with DuckDB running the registry's own oracle
SQL over the same Parquet files. Dashboard answers are compared with what the
input generator computed from the rows it wrote. Model options, which have no
exact answer, are checked against properties their methods must have. Every
check returns a list of failure messages; an empty list is a pass.
"""

from __future__ import annotations

import math

import numpy as np
import pandas as pd

REL_TOL = 1e-6
ABS_TOL = 1e-6


def _cell(v):
    if v is None or (isinstance(v, float) and math.isnan(v)) or v is pd.NaT:
        return None
    if isinstance(v, (np.ndarray, list, tuple)):
        return tuple(_cell(x) for x in v)
    if isinstance(v, (np.integer,)):
        return int(v)
    if isinstance(v, (np.floating,)):
        return float(v)
    if isinstance(v, pd.Timestamp):
        return v.strftime("%Y-%m-%d %H:%M:%S.%f")
    return v


def _rows(df: pd.DataFrame) -> list[tuple]:
    cols = sorted(df.columns)
    rows = [tuple(_cell(v) for v in r) for r in df[cols].itertuples(index=False, name=None)]
    # sort on a rounded rendering so float noise cannot reorder rows
    return sorted(rows, key=lambda r: tuple(
        (0, "") if x is None else (1, f"{x:.5g}" if isinstance(x, float) else repr(x)) for x in r))


def _same(x, y) -> bool:
    if isinstance(x, float) or isinstance(y, float):
        if x is None or y is None:
            return x is None and y is None
        return math.isclose(float(x), float(y), rel_tol=REL_TOL, abs_tol=ABS_TOL)
    if isinstance(x, tuple) and isinstance(y, tuple):
        return len(x) == len(y) and all(_same(a, b) for a, b in zip(x, y))
    return x == y or str(x) == str(y)


def compare_frames(got: pd.DataFrame, want: pd.DataFrame, label: str) -> list[str]:
    """Row count, column names and values, ignoring row order, floats within
    a relative and absolute tolerance of 1e-6."""
    if sorted(got.columns) != sorted(want.columns):
        return [f"{label}: columns {sorted(got.columns)} != expected {sorted(want.columns)}"]
    if len(got) != len(want):
        return [f"{label}: {len(got)} rows != expected {len(want)}"]
    cols = sorted(got.columns)
    for i, (a, b) in enumerate(zip(_rows(got), _rows(want))):
        for c, x, y in zip(cols, a, b):
            if not _same(x, y):
                return [f"{label}: row {i} column {c!r}: {x!r} != expected {y!r}"]
    return []


class Oracle:
    """DuckDB over the run's Parquet tables, one view per table."""

    def __init__(self, data_dir: str, tables):
        import duckdb

        self.con = duckdb.connect()
        for t in tables:
            self.con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{data_dir}/{t}.parquet'")

    def query(self, sql: str) -> pd.DataFrame:
        return self.con.execute(sql).fetchdf()

    def close(self) -> None:
        self.con.close()


def check_kmeans(got: pd.DataFrame, n_districts: int) -> list[str]:
    """KMeans over per-district counts assigns every district to one cluster."""
    n = int(got["n"].sum())
    return [] if n == n_districts else [f"KMeans clusters: cluster sizes sum to {n}, not {n_districts}"]
