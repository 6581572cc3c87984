"""Interleaved A/B: docs_repetition_stats' per-row longest-equal-run.

Arm A (current): one ``F.aggregate`` fold over the sorted gram-hash
array carrying a (prev, run, best) struct — interpreted HOF, a struct
allocated per element.

Arm B (candidate): run boundaries via ``filter`` (positions i where
sorted[i] != sorted[i-1]), run lengths as ``zip_with`` diffs of
consecutive boundaries, ``array_max`` — also interpreted HOFs, but
int-only lambdas with no per-element struct.

Both arms share the gram construction (xxhash64 of try_element_at
tuples) byte-for-byte, so equality of the final per-doc (m2, m3, m4)
triple is the correctness check run first.

Usage:
    python scripts/bench_repetition_fold.py [sf_dir] [passes]
"""

from __future__ import annotations

import os
import statistics
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

from pyspark.sql import Column, functions as F  # noqa: E402


def main() -> int:
    sf = sys.argv[1] if len(sys.argv) > 1 else os.path.join(REPO, ".scale", "sf1")
    passes = int(sys.argv[2]) if len(sys.argv) > 2 else 3

    from big_data_chicago_crimes_spark.functions.text import tokens
    from big_data_chicago_crimes_spark.operators.dedup import spread_for_compute
    from big_data_chicago_crimes_spark.sources.readers import load_tables
    from big_data_chicago_crimes_spark.session import get_spark

    spark = get_spark(app_name="repetition-fold-ab")
    t = load_tables(spark, sf)
    base = spread_for_compute(t.documents).select(
        "doc_id", "lang", tokens("text").alias("t")
    )
    n = F.size(F.col("t"))

    def grams(k: int) -> Column:
        idx = F.sequence(F.lit(1), F.greatest(n - F.lit(k - 1), F.lit(1)))
        return F.transform(
            idx,
            lambda i: F.xxhash64(
                *[F.try_element_at(F.col("t"), i + F.lit(j)) for j in range(k)]
            ),
        )

    def fold_struct(k: int) -> Column:  # arm A == current query code
        return F.aggregate(
            F.array_sort(grams(k)),
            F.struct(
                F.lit(None).cast("bigint").alias("prev"),
                F.lit(0).cast("int").alias("run"),
                F.lit(0).cast("int").alias("best"),
            ),
            lambda acc, x: F.struct(
                x.alias("prev"),
                F.when(x == acc["prev"], acc["run"] + 1)
                .otherwise(F.lit(1))
                .alias("run"),
                F.greatest(
                    acc["best"],
                    F.when(x == acc["prev"], acc["run"] + 1).otherwise(F.lit(1)),
                ).alias("best"),
            ),
            lambda acc: acc["best"],
        ).alias(f"m{k}")

    def fold_boundaries(k: int) -> Column:  # arm B
        # Bind the sorted array to a LAMBDA VARIABLE (srt) so per-element
        # references are O(1) reads of the materialized array — naming
        # the array_sort(...) expression directly inside the inner
        # lambda would embed (and re-evaluate) the whole sort per
        # element, the same Catalyst-inlining trap as the r18 lang_id
        # fix (measured: 85x slower).
        def body(srt: Column) -> Column:
            m = F.size(srt)
            starts = F.filter(
                F.sequence(F.lit(1), m),
                lambda i: (i == F.lit(1))
                | (F.element_at(srt, i) != F.element_at(srt, i - F.lit(1))),
            )
            ends = F.concat(
                F.slice(starts, 2, F.greatest(F.size(starts) - 1, F.lit(0))),
                F.array(m + F.lit(1)),
            )
            return F.array_max(F.zip_with(ends, starts, lambda a, b: a - b))

        return F.element_at(
            F.transform(F.array(F.array_sort(grams(k))), body), 1
        ).alias(f"m{k}")

    def build(fold):
        return base.filter(F.col("t").isNotNull()).select(
            "doc_id", *[fold(k) for k in (2, 3, 4)]
        )

    # correctness first: identical (doc_id, m2, m3, m4) sets
    a, b = build(fold_struct), build(fold_boundaries)
    diff = a.exceptAll(b).unionAll(b.exceptAll(a)).count()
    print(f"row diff A vs B: {diff}")
    if diff:
        return 1

    def timed(df) -> float:
        t0 = time.perf_counter()
        df.write.format("noop").mode("overwrite").save()
        return time.perf_counter() - t0

    for df in (a, b):  # warm
        timed(df)
    ta, tb = [], []
    for _ in range(passes):  # interleaved
        ta.append(timed(a))
        tb.append(timed(b))
    print(f"A struct-fold : med {statistics.median(ta):.3f} {sorted(ta)}")
    print(f"B boundaries  : med {statistics.median(tb):.3f} {sorted(tb)}")
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
