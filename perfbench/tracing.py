"""Spans and counters recorded from the benchmark's side of each layer.

Nothing is traced inside the engine. The tracer wraps the public functions of
``sources.readers`` and ``sources.sinks`` where the package's modules hold
them, and the workloads open spans around the calls they make into
``plans.registry`` and ``app``; ``session.get_spark`` and the first job are
timed where the benchmark calls them. Job, stage and task
counts come from the status tracker, per job group; byte, time and GC totals
come from the application status store, which is kept with the UI disabled.
Spans stay in memory until the run ends.
"""

from __future__ import annotations

import functools
import os
import sys
import time
from contextlib import contextmanager

from py4j.protocol import Py4JJavaError

PACKAGE = "big_data_chicago_crimes_spark"


class Tracer:
    """Span recorder. Disabled, every method is a no-op."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack: list[int] = []

    @contextmanager
    def span(self, name: str, **attrs):
        if not self.enabled:
            yield None
            return
        rec = {"id": len(self.spans), "name": name,
               "parent": self._stack[-1] if self._stack else None,
               "start": time.perf_counter(), "end": None, **attrs}
        self.spans.append(rec)
        self._stack.append(rec["id"])
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()

    def wrap(self, module: str, func: str, span_name: str, after=None) -> None:
        """Replace ``module.func`` by a spanned wrapper in every loaded module
        of the package that holds it; ``after(rec, args, kwargs, result)`` may add
        attributes to the span once the call returns."""
        original = getattr(sys.modules[module], func)

        @functools.wraps(original)
        def wrapper(*args, **kwargs):
            with self.span(span_name) as rec:
                result = original(*args, **kwargs)
                if after is not None and rec is not None:
                    after(rec, args, kwargs, result)
                return result

        for name, mod in list(sys.modules.items()):
            if name.startswith(PACKAGE) and getattr(mod, func, None) is original:
                setattr(mod, func, wrapper)

    def descendants(self, rec: dict, name: str) -> list[dict]:
        out, frontier = [], [rec["id"]]
        while frontier:
            kids = [s for s in self.spans if s["parent"] in frontier]
            out += [s for s in kids if s["name"] == name]
            frontier = [s["id"] for s in kids]
        return out


def duration(rec: dict) -> float:
    return rec["end"] - rec["start"]


def dir_bytes(path: str) -> int:
    total = 0
    for root, _dirs, files in os.walk(path):
        total += sum(os.path.getsize(os.path.join(root, f)) for f in files)
    return total


def install_wrappers(tracer: Tracer) -> None:
    """Wrap the reader and sink entry points the workloads reach."""

    def write_bytes(rec, args, kwargs, _result):
        path = kwargs.get("path", args[1] if len(args) > 1 else None)
        rec["bytes"] = dir_bytes(path) if path and os.path.isdir(path) else 0

    readers = f"{PACKAGE}.sources.readers"
    sinks = f"{PACKAGE}.sources.sinks"
    tracer.wrap(readers, "load_table", "sources.readers.load_table")
    tracer.wrap(readers, "read_csv", "sources.readers.read_csv")
    tracer.wrap(sinks, "write_parquet", "sources.sinks.write_parquet", after=write_bytes)
    tracer.wrap(sinks, "path_exists", "sources.sinks.path_exists")
    tracer.wrap(sinks, "cached", "sources.sinks.cached")


class JobCounters:
    """Per-job-group Spark counters for the traced run."""

    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.tracker = self.sc.statusTracker()
        self.store = self.sc._jsc.sc().statusStore()

    def set_group(self, group: str) -> None:
        self.sc.setJobGroup(group, group)

    def drain(self) -> None:
        """Wait until the listener bus has delivered every finished job to
        the status store."""
        self.sc._jsc.sc().listenerBus().waitUntilEmpty()

    def job_ids(self, group: str) -> list[int]:
        return list(self.tracker.getJobIdsForGroup(group))

    def totals(self, groups: list[str]) -> dict[str, float]:
        """Counters summed over every job of ``groups``."""
        t = dict.fromkeys(("jobs", "stages", "tasks", "job_wall_s", "executor_run_s",
                           "executor_cpu_s", "gc_s", "shuffle_write_mb", "shuffle_read_mb",
                           "spill_mb", "input_mb"), 0.0)
        stage_ids: set[int] = set()
        for group in groups:
            for jid in self.job_ids(group):
                t["jobs"] += 1
                job = self.store.job(jid)
                if job.submissionTime().isDefined() and job.completionTime().isDefined():
                    t["job_wall_s"] += (job.completionTime().get().getTime()
                                        - job.submissionTime().get().getTime()) / 1000.0
                info = self.tracker.getJobInfo(jid)
                if info is not None:
                    stage_ids.update(info.stageIds)
        mb = 1024.0 * 1024.0
        for sid in stage_ids:
            try:
                st = self.store.lastStageAttempt(sid)
            except Py4JJavaError:  # a stage that never ran is not stored
                continue
            if str(st.status()) == "SKIPPED":
                continue
            t["stages"] += 1
            t["tasks"] += st.numCompleteTasks() + st.numFailedTasks()
            t["executor_run_s"] += st.executorRunTime() / 1000.0
            t["executor_cpu_s"] += st.executorCpuTime() / 1e9
            t["gc_s"] += st.jvmGcTime() / 1000.0
            t["shuffle_write_mb"] += st.shuffleWriteBytes() / mb
            t["shuffle_read_mb"] += st.shuffleReadBytes() / mb
            t["spill_mb"] += (st.memoryBytesSpilled() + st.diskBytesSpilled()) / mb
            t["input_mb"] += st.inputBytes() / mb
        return t
