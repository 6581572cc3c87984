"""Lake layout: Z-order (Morton) clustering for multi-dimensional
row-group skipping (SURVEY.md §1.5 — the reference keeps one big
unpartitioned parquet per cached result; at 100 TB layout IS the
optimizer's biggest lever). Hive partitioning needs no helper here: the
lake queries write through ``sinks.write_parquet(partition_by=...)``.
The Z-order key is a derived column dropped before the write, so query
semantics are unchanged.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def zorder_key(
    df: DataFrame, cols: list[str], bits: int = 12
) -> tuple[DataFrame, str]:
    """Attach a Z-order (Morton) clustering key over numeric/temporal
    ``cols``: each column is min/max-scaled to ``bits`` bits (one cheap
    aggregate pass; the two scalars per column are the same driver-sized
    metadata as IVF centroids), then the bit strings are interleaved so
    locality in ANY dimension maps to locality on the key. Sorting a
    file by the key tightens per-row-group min/max statistics on EVERY
    participating column at once — multi-dimensional predicates then
    skip row groups, the public OPTIMIZE ZORDER technique (Morton 1966).
    Pure codegen arithmetic; returns (df + __z, "__z")."""
    if bits * len(cols) > 63:
        # Spark's shiftleft masks the shift amount mod 64 (Java long
        # semantics): bit positions past 63 would silently WRAP onto low
        # bits and collide, producing a key that no longer preserves
        # locality with no error anywhere
        raise ValueError(
            f"zorder_key: bits({bits}) x cols({len(cols)}) > 63 — reduce "
            "bits or columns (the interleaved key must fit one bigint)"
        )
    stats = df.agg(
        *[F.min(F.col(c).cast("double")).alias(f"lo_{i}") for i, c in enumerate(cols)],
        *[F.max(F.col(c).cast("double")).alias(f"hi_{i}") for i, c in enumerate(cols)],
    ).collect()[0]
    n = len(cols)
    scaled = []
    for i, c in enumerate(cols):
        lo, hi = stats[f"lo_{i}"], stats[f"hi_{i}"]
        if lo is None or hi is None:
            # empty frame or an all-null column: no span to scale into —
            # an opaque NoneType subtraction would crash the driver
            raise ValueError(
                f"zorder_key: column {c!r} has no non-null values "
                "(empty frame or all-null) — nothing to Z-order on"
            )
        import math

        if math.isnan(lo) or math.isnan(hi):
            # Spark's MAX ranks NaN above every double, so one NaN row
            # makes hi = NaN → span = NaN → every scaled value NaN →
            # cast-to-bigint collapses the whole column to one bucket:
            # the layout silently stops clustering on this dimension
            # while writes keep succeeding (r16 sweep — the qsketch
            # NaN-in-top-bin class, surfaced as a performance cliff
            # instead of a wrong answer). Raise; filter or impute first.
            raise ValueError(
                f"zorder_key: column {c!r} contains NaN — the min/max "
                "scaling has no portable NaN semantics; filter or "
                "impute NaN rows before layout"
            )
        span = (hi - lo) or 1.0
        scaled.append(
            f"least({(1 << bits) - 1}, cast((cast({c} as double) - {lo!r}D) "
            f"/ {span!r}D * {(1 << bits) - 1} as bigint))"
        )
    # interleave: bit b of column j lands at position b*n + j
    terms = [
        f"(shiftleft(shiftright({s}, {b}) & 1, {b * n + j}))"
        for j, s in enumerate(scaled)
        for b in range(bits)
    ]
    while len(terms) > 1:
        terms = [
            f"({terms[k]} + {terms[k + 1]})" if k + 1 < len(terms) else terms[k]
            for k in range(0, len(terms), 2)
        ]
    return df.withColumn("__z", F.expr(terms[0])), "__z"


def write_zordered(
    df: DataFrame,
    path: str,
    cols: list[str],
    bits: int = 12,
    num_files: int | None = None,
) -> None:
    """Write ``df`` clustered by the Z-order key over ``cols``:
    range-repartition on the key (balanced files that own contiguous key
    ranges) + sort within partitions (tight row-group stats inside each
    file). The layout-time cost is one extra sort — the read-time payoff
    is row-group skipping on every clustered column's predicates."""
    keyed, z = zorder_key(df, cols, bits)
    parts = num_files or df.sparkSession.sparkContext.defaultParallelism
    (
        keyed.repartitionByRange(parts, F.col(z))
        .sortWithinPartitions(z)
        .drop(z)
        .write.mode("overwrite")
        .parquet(path)
    )
