"""Dump ``explain("formatted")`` for named queries into a directory.

Usage:
    python scripts/explain_dump.py OUT_DIR [query ...]

With no query names, dumps every bench HEADLINE query. Writes
``OUT_DIR/<query>.txt``; the test data comes from $SPARK_GRAFT_SF_DIR
(default /root/testdata/sf0.1). Building a query may run the eager jobs
its ``build()`` holds (lake materialization, convergence loops), but the
final plan itself is not executed.

Every dump is normalized so two fresh processes on unchanged code write
identical files: expression ids (``#n``), ``plan_id``, RDD ids, lambda
variable suffixes and MLlib uids are renumbered in order of first
appearance, and the checkout path becomes ``<repo>``. Counters like
these advance with every eager job and every earlier query in the
process, so raw dumps differ between runs even when the plans do not.
"""

from __future__ import annotations

import os
import re
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

# (pattern, group holding the counter). Each distinct counter value gets
# the next small number, per pattern, so the plan's shape is kept: two
# references to one attribute stay equal, two attributes stay distinct.
_COUNTERS = [
    re.compile(r"(#)(\d+)"),
    re.compile(r"(plan_id=)(\d+)"),
    re.compile(r"(RDD\[)(\d+)"),
    re.compile(r"(lambda \w+?_)(\d+)"),
    re.compile(r"([A-Z][A-Za-z]+_)([0-9a-f]{12})\b"),
]


def normalize(plan: str) -> str:
    """The plan text with run-dependent counters and paths canonicalized."""
    plan = plan.replace(os.path.realpath(REPO), "<repo>").replace(REPO, "<repo>")
    for pat in _COUNTERS:
        seen: dict[str, str] = {}

        def renumber(m: re.Match, seen=seen) -> str:
            return m.group(1) + seen.setdefault(m.group(2), str(len(seen) + 1))

        plan = pat.sub(renumber, plan)
    return plan


def main() -> int:
    if len(sys.argv) < 2:
        print(__doc__, file=sys.stderr)
        return 2
    out_dir = sys.argv[1]
    names = sys.argv[2:]
    sf = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

    from big_data_chicago_crimes_spark.plans.registry import all_queries
    from big_data_chicago_crimes_spark.session import get_spark

    if not names:
        import bench

        names = list(bench.HEADLINE)

    os.makedirs(out_dir, exist_ok=True)

    spark = get_spark(app_name="explain-dump")
    qs = all_queries()
    for name in names:
        try:
            df = qs[name].build(spark, sf)
            plan = normalize(
                df._sc._jvm.PythonSQLUtils.explainString(
                    df._jdf.queryExecution(), "formatted"
                )
            )
        except Exception as exc:  # noqa: BLE001
            plan = f"EXPLAIN FAILED: {exc}"
        path = os.path.join(out_dir, f"{name}.txt")
        with open(path, "w") as f:
            f.write(plan)
        print(f"{name}: {len(plan)} chars -> {path}")
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
