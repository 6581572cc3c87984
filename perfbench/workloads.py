"""The workloads: which operations a pass runs and how each is checked.

A workload turns the run's seed into inputs (``prepare``), yields the
operations of one pass (``pass_ops``) and checks the outputs of an
operation's first and last execution (``check``). Each operation returns the
collected result as a pandas frame when asked to, and ``None`` otherwise.
"""

from __future__ import annotations

import os
import pickle
import random

import gen
from checks import Oracle, check_kmeans, compare_frames

# Short HEADLINE queries that sit near the scheduling floor: driver build,
# planning and reader overhead are a large share of their latency.
OLAP = [
    "events_count_by_type",  # reference spine: 1-key count
    "hourly_max_event_count",  # reference spine: two-level aggregate
    "orders_quarter_pivot",  # reference spine: seeded pivot
    "orders_lake_partitioned_scan",  # sink path: partitioned lake write once, pruned scan
    "revenue_by_nation",  # TPC-H-shaped five-table join
    "pricing_summary",  # TPC-H q1
    "orders_running_total",  # window function
    "events_sliding_1h_30m",  # batch time-window twin
    "lineitem_rollup",  # OLAP widening: rollup + corr columns
]

# Memoized non-model menu options, clicked cold then warm, one per query
# shape: two-level aggregate, count + sort, pivot, top-k, window.
CLICKS = {
    "Critical hours": "critical_hours",
    "Crimes per category": "counts_by_primary_type",
    "Season matrix": "season_pivot",
    "Common crime locations": "common_crime_locations",
    "Moving average": "moving_average",
}
MODELS = ["KMeans clusters"]
EXTRACT_ROWS = 100_000


class RegistryWorkload:
    """Registry queries: ``Query.build`` followed by a ``noop`` write."""

    PRIMARY = "query"  # the operation kind op_cpu_p50_s is taken over
    WARMUP_PASSES = 1

    def __init__(self, names: list[str]):
        self.names = names

    def prepare(self, ctx) -> None:
        from big_data_chicago_crimes_spark.plans.registry import all_queries

        gen.generate("tables", ctx.data_dir, ctx.seed)
        self.queries = all_queries()
        self.order = random.Random(ctx.seed).sample(self.names, len(self.names))

    def pass_ops(self, ctx, _pass_no: int):
        for name in self.order:
            yield name, "query", lambda collect, name=name: self._run(ctx, name, collect)

    def _run(self, ctx, name: str, collect: bool):
        from big_data_chicago_crimes_spark.session import release_scratch_caches

        tr, jc = ctx.tracer, ctx.counters
        with tr.span("queries.build"):
            if jc:
                jc.set_group(f"{ctx.group}.build")
            df = self.queries[name].build(ctx.spark, ctx.data_dir)
        if jc:
            with tr.span("plan.plan"):
                df._jdf.queryExecution().executedPlan()
            jc.set_group(f"{ctx.group}.exec")
        if collect:
            out = df.toPandas()
        else:
            df.write.format("noop").mode("overwrite").save()
            out = None
        release_scratch_caches()
        return out

    def check(self, ctx, name: str, got, _outputs) -> list[str]:
        q = self.queries[name]
        if q.oracle is not None:
            if not hasattr(self, "oracle"):
                self.oracle = Oracle(ctx.data_dir, gen.TABLES)
            return compare_frames(got, self.oracle.query(q.oracle), name)
        return [f"{name}: no oracle and no property check"]

    def close(self) -> None:
        if hasattr(self, "oracle"):
            self.oracle.close()


def sorted_rows(df) -> list[tuple]:
    return sorted(map(repr, df.itertuples(index=False, name=None)))


class DashboardWorkload:
    """The app's menu over a seeded raw extract: ingest, every listed
    option cold then warm, then the model round."""

    # op_cpu_p50_s is taken over cold clicks: a median over all of a pass's
    # operations would fall on the edge between the warm and cold groups
    PRIMARY = "cold"
    # after one warm-up pass the first timed pass still cost 10-40% more
    # engine CPU than the second (JIT-compiled task code still arriving),
    # by a share that varied run to run; a second warm-up pass absorbs it
    WARMUP_PASSES = 2

    def prepare(self, ctx) -> None:
        self.csv = os.path.join(ctx.root, "crimes.csv")
        self.clean = os.path.join(ctx.root, "crimes_clean.parquet")
        answers = os.path.join(ctx.root, "answers.pkl")
        gen.generate("crimes", self.csv, ctx.seed, EXTRACT_ROWS, answers)
        with open(answers, "rb") as f:
            self.expected, self.districts = pickle.load(f)
        self.order = random.Random(ctx.seed).sample(list(CLICKS), len(CLICKS))

    def pass_ops(self, ctx, pass_no: int):
        from big_data_chicago_crimes_spark.app import CrimesAnalytics, run_option
        from big_data_chicago_crimes_spark.schemas import CRIMES_RAW_SCHEMA
        from big_data_chicago_crimes_spark.sources import readers, sinks

        cache_dir = os.path.join(ctx.root, f"results-{pass_no}")  # empty: every pass starts cold
        state = {}

        def ingest(_collect):
            raw = readers.read_csv(ctx.spark, self.csv, CRIMES_RAW_SCHEMA)
            sinks.write_parquet(CrimesAnalytics.from_raw(raw).df, self.clean)
            state["app"] = CrimesAnalytics(readers.read_parquet(ctx.spark, self.clean), cache_dir=cache_dir)

        def click(option):
            def run(_collect):
                with ctx.tracer.span("app.call", option=option):
                    df = run_option(state["app"], option)
                with ctx.tracer.span("app.collect"):
                    return df.toPandas()
            return run

        yield "ingest", "ingest", ingest
        for kind in ("cold", "warm"):
            for option in self.order:
                yield f"{kind}:{option}", kind, click(option)
        for option in MODELS:
            yield f"model:{option}", "model", click(option)

    def check(self, ctx, name: str, got, outputs) -> list[str]:
        kind, option = name.split(":", 1)
        if kind == "model":
            return check_kmeans(got, self.districts)
        want = self.expected[CLICKS[option]]
        fails = compare_frames(got, want, name)
        cold = outputs.get(f"cold:{option}")  # absent when the cold click failed
        if kind == "warm" and not fails and cold is not None and sorted_rows(cold) != sorted_rows(got):
            fails.append(f"{name}: warm click rows differ from the cold click")
        return fails

    def close(self) -> None:
        pass


WORKLOADS = {
    "olap": lambda: RegistryWorkload(OLAP),
    "dashboard": DashboardWorkload,
}
