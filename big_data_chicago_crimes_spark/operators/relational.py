"""Dimension joins (SURVEY.md §2.3).

The reference implements no joins — its one join-shaped operation is a
driver-side dict lookup between KMeans cluster labels and 25 district
polygons (Dataset.py:291-312). ``dim_join`` is the scale form of that
lookup: a broadcast hash join for dimension tables (no shuffle of the
fact side — the only sane plan when the fact table is 100 TB and the
dim is 25 rows or 25 million). Semi/anti joins and set operations are
plain ``DataFrame`` calls at their call sites.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def dim_join(
    fact: DataFrame, dim: DataFrame, on, how: str = "inner", hint: str = "broadcast"
) -> DataFrame:
    """Fact ⋈ dimension with an explicit broadcast hint. AQE would often
    pick broadcast anyway once stats arrive, but the hint removes the
    sort-merge fallback risk on the first (stats-free) plan."""
    right = F.broadcast(dim) if hint == "broadcast" else dim
    return fact.join(right, on, how)
