#!/usr/bin/env python3
"""Run one workload of the engine benchmark and print its metrics.

    python3 perfbench/run.py --workload olap|dashboard \
        --seed N --seconds S --trace 0|1

Run it from the root of a checkout. One run is one process: it builds a
``local[nproc]`` Spark session through ``session.get_spark``, writes its
inputs from the seed into a temporary root of its own under the checkout,
makes its fixed warm-up (a pass with the first execution of every operation,
whose output is kept for the checks, and on ``dashboard`` one more pass),
then makes whole timed passes, one client in a
closed loop, until ``--seconds`` have gone by and at least two passes are
done. The outputs of each operation's first and last execution are checked
after the timed passes; ``attempted`` and ``failed`` count every execution,
the untimed ones included.
The root is removed before the process exits.

The last line of standard output is one JSON object with ``correct``,
``attempted``, ``failed`` and ``metrics``: the end-to-end metrics with
``--trace 0``, the per-layer metrics with ``--trace 1``. A traced run
traces every timed pass; ``perfbench/steady.py --overhead`` compares its
``trace.pass_cpu_s`` with the untraced ``pass_cpu_s``.

Pass and operation costs are engine CPU seconds (see ``CpuClock``): on a
host shared with other guests, wall time of the same code varied up to
twice between runs; wall times are printed on the lines before the result.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import tempfile
import time
from concurrent.futures import ThreadPoolExecutor


def _process_age() -> float:
    """Seconds since this process started, from /proc (Linux)."""
    with open("/proc/self/stat") as f:
        start_ticks = int(f.read().rsplit(")", 1)[1].split()[19])
    with open("/proc/uptime") as f:
        uptime = float(f.read().split()[0])
    return max(0.0, uptime - start_ticks / os.sysconf("SC_CLK_TCK"))


HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

PACKAGE = "big_data_chicago_crimes_spark"
RUNS_DIR = ".perfbench-runs"
# pass_cpu_s is a median: two passes halve the weight of one disturbed pass
MIN_PASSES = 2


class Context:
    """What an operation needs: the session, the run's paths and seed, and
    the tracer and job counters (both inert in untraced passes)."""

    def __init__(self, root: str, seed: int, tracer, cores: int):
        self.spark = None
        self.root = root
        self.data_dir = os.path.join(root, "data")
        self.seed = seed
        self.tracer = tracer
        self.cores = cores
        self.counters = None
        self.group = ""


def cpu_ticks() -> tuple[int, int]:
    """(all, steal) CPU ticks of the machine so far, from /proc/stat."""
    with open("/proc/stat") as f:
        fields = [int(x) for x in f.readline().split()[1:]]
    return sum(fields), fields[7]


def _process_cpu_s(pid: int) -> float:
    """CPU seconds of all threads of process ``pid``, ended ones included,
    read from its process CPU-time clock (the ``clock_getcpuclockid`` id)."""
    return time.clock_gettime(((~pid) << 3) | 2)


def _stat_fields(path: str) -> list[str]:
    """Fields of a /proc stat file after the command name."""
    with open(path) as f:
        return f.read().rsplit(")", 1)[1].split()


class CpuClock:
    """CPU seconds used by this process and every process it started (the
    JVM and the Python workers the JVM may start), less the JVM's JIT
    compiler threads (Linux).

    The hypervisor does not charge a process for time it gave other guests,
    so a busy host, which stretched the wall time of the same pass by up to
    twice, leaves this figure nearly as it is. The compiler threads are left
    out because their work is JVM warm-up still fading after the warm-up pass
    (3 to 17 s a pass, varying run to run), not the engine's; the JVM keeps
    them alive (``-XX:-UseDynamicNumberOfCompilerThreads``) so that their
    time stays readable.
    """

    def __init__(self, jvm_pid: int):
        self.jvm_pid = jvm_pid
        tasks = f"/proc/{jvm_pid}/task"
        self.jit = []
        for tid in os.listdir(tasks):
            try:
                with open(f"{tasks}/{tid}/comm") as f:
                    comm = f.read()
            except OSError:  # the thread ended meanwhile
                continue
            if comm.startswith(("C1 CompilerThre", "C2 CompilerThre")):
                self.jit.append(f"{tasks}/{tid}/schedstat")
        with open(f"/proc/{jvm_pid}/comm") as f:
            assert f.read().strip() == "java" and self.jit, "the JVM or its compiler threads not found"

    def __call__(self) -> float:
        return _process_cpu_s(os.getpid()) + _process_cpu_s(self.jvm_pid) + self._workers_s() - self.jit_s()

    def jit_s(self) -> float:
        """CPU seconds of the JIT compiler threads."""
        ns = 0
        for path in self.jit:
            with open(path) as f:
                ns += int(f.read().split()[0])
        return ns / 1e9

    def _workers_s(self) -> float:
        """CPU seconds of the JVM's descendants, ended ones that were waited
        for included, from /proc (clock ticks)."""
        children, ticks = {}, {}
        for entry in os.listdir("/proc"):
            if entry.isdigit():
                try:
                    fields = _stat_fields(f"/proc/{entry}/stat")
                except OSError:  # the process ended meanwhile
                    continue
                children.setdefault(int(fields[1]), []).append(int(entry))
                ticks[int(entry)] = sum(int(x) for x in fields[11:15])  # utime stime cutime cstime
        total, todo = 0, list(children.get(self.jvm_pid, []))
        while todo:
            pid = todo.pop()
            total += ticks.get(pid, 0)
            todo += children.get(pid, [])
        return total / os.sysconf("SC_CLK_TCK")


def peak_rss_kb(pid: int) -> int:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1])
    return 0


def run_pass(ctx, workload, pass_no: int, collect: bool, counters=None):
    """One pass over the workload's operations. Returns the pass wall time,
    one record per operation and the collected outputs."""
    records, outputs, groups = [], {}, []
    ctx.counters = counters
    t_pass, cpu_pass, jit_pass = time.perf_counter(), ctx.cpu(), ctx.cpu.jit_s()
    with ctx.tracer.span("pass", pass_no=pass_no) as pass_span:
        for i, (name, kind, op) in enumerate(workload.pass_ops(ctx, pass_no)):
            ctx.group = f"p{pass_no}.o{i}"
            groups.append(ctx.group)
            if counters:
                counters.set_group(f"{ctx.group}.exec")
            error = None
            t, cpu = time.perf_counter(), ctx.cpu()
            with ctx.tracer.span("op", op=name, kind=kind, group=ctx.group):
                try:
                    outputs[name] = op(collect)
                except Exception as exc:  # a failed operation is counted, not fatal
                    error = f"{name}: {type(exc).__name__}: {str(exc).splitlines()[0][:300]}"
            records.append({"name": name, "kind": kind, "s": time.perf_counter() - t,
                            "cpu_s": ctx.cpu() - cpu, "error": error})
    wall = time.perf_counter() - t_pass
    return (wall, ctx.cpu() - cpu_pass, ctx.cpu.jit_s() - jit_pass), records, outputs, pass_span, groups


def layer_metrics(ctx, workload_mod, pass_span, groups, counters) -> dict[str, float]:
    """Per-layer figures of one traced pass."""
    from tracing import duration

    tr = ctx.tracer
    counters.drain()
    spans = lambda name: tr.descendants(pass_span, name)  # noqa: E731
    total = lambda name: sum(duration(s) for s in spans(name))  # noqa: E731
    every = counters.totals([f"{g}.{p}" for g in groups for p in ("build", "exec")])
    build = counters.totals([f"{g}.build" for g in groups])
    m = {
        "queries.build_s": total("queries.build"),
        "queries.build_jobs": build["jobs"],
        "plan.plan_s": total("plan.plan"),
        "exec.exec_s": every["job_wall_s"],
        "exec.busy_ratio": (every["executor_run_s"] / (every["job_wall_s"] * ctx.cores)
                            if every["job_wall_s"] else 0.0),
        "sources.readers.load_table_s": total("sources.readers.load_table"),
        "sources.readers.load_table_calls": len(spans("sources.readers.load_table")),
        "sources.readers.read_csv_s": total("sources.readers.read_csv"),
        "sources.sinks.write_s": total("sources.sinks.write_parquet"),
        "sources.sinks.write_mb": sum(s.get("bytes", 0) for s in spans("sources.sinks.write_parquet"))
        / (1024.0 * 1024.0),
        "sources.sinks.probe_s": total("sources.sinks.path_exists"),
        "app.call_s": total("app.call"),
        "app.collect_s": total("app.collect"),
        "trace.pass_s": duration(pass_span),
    }
    for k in ("jobs", "stages", "tasks", "executor_run_s", "executor_cpu_s", "gc_s",
              "shuffle_write_mb", "shuffle_read_mb", "spill_mb", "input_mb"):
        m[f"exec.{k}"] = every[k]
    cached = spans("sources.sinks.cached")
    hits = [c for c in cached if not tr.descendants(c, "sources.sinks.write_parquet")]
    m["sources.sinks.cache_hit_ratio"] = len(hits) / len(cached) if cached else 0.0

    ops = spans("op")
    by_kind = lambda kind: [duration(s) for s in ops if s["kind"] == kind]  # noqa: E731
    med = lambda xs: statistics.median(xs) if xs else 0.0  # noqa: E731
    m["app.ingest_s"] = sum(by_kind("ingest"))
    m["app.cold_click_p50_s"] = med(by_kind("cold"))
    m["app.warm_click_p50_s"] = med(by_kind("warm"))
    m["app.model_round_s"] = sum(by_kind("model"))
    from big_data_chicago_crimes_spark.app import MENU

    for option in workload_mod.MODELS:
        method = MENU[option]
        mine = [s for s in ops if s["op"] == f"model:{option}"]
        m[f"operators.ml.call_s.{method}"] = sum(
            duration(c) for s in mine for c in tr.descendants(s, "app.call"))
        m[f"operators.ml.jobs.{method}"] = counters.totals(
            [f"{s['group']}.{p}" for s in mine for p in ("build", "exec")])["jobs"]
    return m


def start_spark(root: str):
    from big_data_chicago_crimes_spark import session

    conf = {
        "spark.bdcc.lakeDir": os.path.join(root, "lake"),
        "spark.sql.warehouse.dir": os.path.join(root, "warehouse"),
        # keep the JVM's temporary files and perf counters out of /tmp
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={os.path.join(root, 'tmp')} -XX:-UsePerfData "
                                          "-XX:-UseDynamicNumberOfCompilerThreads",
    }
    t = time.perf_counter()
    spark = session.get_spark(app_name="perfbench", extra_conf=conf)
    start_s = time.perf_counter() - t
    t = time.perf_counter()
    spark.range(1000).selectExpr("sum(id)").collect()
    return spark, start_s, time.perf_counter() - t


def stop_spark(spark) -> None:
    """Stop the session and wait for the JVM it launched to exit."""
    from pyspark import SparkContext

    proc = getattr(SparkContext._gateway, "proc", None)
    spark.stop()
    if proc is not None:
        proc.stdin.close()  # the gateway JVM exits when its stdin closes
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def run(args, root: str, cores: int, t0: float) -> dict:
    import workloads
    from pyspark import SparkContext
    from tracing import JobCounters, Tracer, install_wrappers

    from big_data_chicago_crimes_spark.plans.registry import all_queries

    all_queries()  # import every query module before any wrapping
    import big_data_chicago_crimes_spark.app  # noqa: F401

    tracer = Tracer(enabled=False)
    if args.trace:
        install_wrappers(tracer)
    ctx = Context(root, args.seed, tracer, cores)
    workload = workloads.WORKLOADS[args.workload]()
    # inputs are written by a child process while the JVM starts: generation
    # is the benchmark's work, not the engine's, and the overlap keeps it out
    # of setup_s, the child process out of the peak resident memory
    with ThreadPoolExecutor(1) as pool:
        prepared = pool.submit(workload.prepare, ctx)
        spark, start_s, first_job_s = start_spark(root)
        prepared.result()
    try:
        ctx.spark = spark
        ctx.cpu = CpuClock(SparkContext._gateway.proc.pid)

        # fixed warm-up: the first execution of every operation, then as many
        # more whole passes as the workload needs for its CPU time to settle
        (warm_s, *_), warm_records, first_outputs, _, _ = run_pass(ctx, workload, 0, collect=True)
        for pass_no in range(1, workload.WARMUP_PASSES):
            warm_records += run_pass(ctx, workload, pass_no, collect=False)[1]

        counters = JobCounters(spark) if args.trace else None
        passes, records, layers = [], [], []
        t_first = time.perf_counter()
        setup_s = t_first - t0
        ticks0 = cpu_ticks()
        pass_no = workload.WARMUP_PASSES
        while len(passes) < MIN_PASSES or time.perf_counter() - t_first < args.seconds:
            tracer.enabled = bool(args.trace)
            pass_s, recs, last_outputs, pass_span, groups = run_pass(
                ctx, workload, pass_no, collect=False, counters=counters)
            tracer.enabled = False
            passes.append(pass_s)
            records += recs
            if args.trace:
                layers.append(layer_metrics(ctx, workloads, pass_span, groups, counters))
            pass_no += 1
        ticks = [b - a for a, b in zip(ticks0, cpu_ticks())]
        rss_py = peak_rss_kb(os.getpid()) / 1024.0
        rss_jvm = peak_rss_kb(SparkContext._gateway.proc.pid) / 1024.0

        # every execution counts in attempted and failed, the untimed warm-up
        # and check passes too: a first execution can fail where later ones do not
        executed = warm_records + records
        if all(v is None for v in last_outputs.values()):
            # the timed passes do not collect (olap): one more execution to check
            _, check_records, last_outputs, _, _ = run_pass(ctx, workload, pass_no, collect=True)
            executed += check_records
        check_failures = []
        for outputs in (first_outputs, last_outputs):
            for name, got in outputs.items():
                if got is not None:
                    check_failures += workload.check(ctx, name, got, outputs)
        workload.close()
    finally:
        stop_spark(spark)

    if args.trace:
        for m, (_, cpu, jit) in zip(layers, passes):
            m["trace.pass_cpu_s"] = cpu
            m["jvm.jit_cpu_s"] = jit
        metrics = {k: statistics.median(m[k] for m in layers) for k in layers[0]}
        metrics["session.start_s"] = start_s
        metrics["session.first_job_s"] = first_job_s
        metrics["mem.peak_rss_mb"] = rss_py + rss_jvm
    else:
        metrics = {
            "setup_s": setup_s,
            "pass_cpu_s": statistics.median(p[1] for p in passes),
            "op_cpu_p50_s": statistics.median(r["cpu_s"] for r in records if r["kind"] == workload.PRIMARY),
        }
    info = [f"warm-up pass {warm_s:.3f} s; timed passes " + " ".join(f"{p[0]:.3f}" for p in passes)
            + " s wall, " + " ".join(f"{p[1]:.2f}" for p in passes) + " s engine cpu, "
            + " ".join(f"{p[2]:.2f}" for p in passes) + " s jit cpu",
            f"median pass {statistics.median(p[0] for p in passes):.4f} s wall",
            f"peak rss {rss_py:.0f} MB python + {rss_jvm:.0f} MB jvm",
            # time the hypervisor gave other guests while ours wanted the
            # CPU; timed passes slow down with it
            f"cpu steal during the timed passes {ticks[1] / max(ticks[0], 1):.1%}"]
    info += [f"median {kind} operation {statistics.median(r['s'] for r in records if r['kind'] == kind):.4f} s"
             for kind in sorted({r["kind"] for r in records})]
    return {
        "correct": not check_failures,
        "attempted": len(executed),
        "failed": sum(1 for r in executed if r["error"]),
        "metrics": metrics,
        "info": info,
        "failures": [r["error"] for r in executed if r["error"]] + check_failures,
    }


def load_units() -> dict[str, str]:
    """Unit of every metric named in BENCHMARK.json."""
    with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as f:
        spec = json.load(f)
    return {m["name"]: m["unit"] for m in spec["end_to_end"] + spec["per_layer"]}


def main(argv=None) -> int:
    t0 = time.perf_counter() - _process_age()  # setup_s counts from process start
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=["olap", "dashboard"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args(argv)

    checkout = os.getcwd()
    if not os.path.isdir(os.path.join(checkout, PACKAGE)):
        print(f"perfbench: {PACKAGE}/ not found in {checkout}; run from the root of a checkout "
              "of the engine", file=sys.stderr)
        return 2

    cores = len(os.sched_getaffinity(0))
    runs = os.path.join(checkout, RUNS_DIR)
    os.makedirs(runs, exist_ok=True)
    root = tempfile.mkdtemp(prefix=f"{args.workload}-", dir=runs)
    for sub in ("data", "tmp", "local", "checkpoints", "lake", "warehouse"):
        os.makedirs(os.path.join(root, sub))
    os.environ.update({
        "SPARK_GRAFT_CPUS": str(cores),
        "SPARK_LOCAL_DIRS": os.path.join(root, "local"),
        "SPARK_GRAFT_CHECKPOINT_DIR": os.path.join(root, "checkpoints"),
        "TMPDIR": os.path.join(root, "tmp"),
    })
    tempfile.tempdir = None
    sys.path.insert(0, checkout)
    os.chdir(root)
    # a terminated run still stops Spark and removes its root
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    try:
        result = run(args, root, cores, t0)
    finally:
        os.chdir(checkout)
        shutil.rmtree(root, ignore_errors=True)
        try:
            os.rmdir(runs)
        except OSError:  # another run still owns a root there
            pass

    units = load_units()
    print(f"workload {args.workload} seed {args.seed} cores {cores} trace {args.trace}")
    for line in result.pop("info"):
        print(f"  {line}")
    for name, value in result["metrics"].items():
        print(f"  {name}: {value:.6g} {units[name]}")
    print(f"attempted {result['attempted']} failed {result['failed']}")
    for line in result.pop("failures"):
        print(f"  FAILED {line}")
    result["metrics"] = {k: {"value": v, "unit": units[k]} for k, v in result["metrics"].items()}
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
