#!/usr/bin/env python3
"""Steadiness check: two separate sets of runs of one workload.

    python3 perfbench/steady.py --workload olap [--overhead N]

Run it from the root of a checkout. Set A uses seeds 1..10 and set B seeds
1001..1010, each run a fresh ``run.py`` process of ``run_seconds`` from
BENCHMARK.json. For every end-to-end metric it prints each set's median and
quartiles, the quartile spread as a share of the median, and whether each
spread and the distance between the two medians stay within the metric's
bound. It also checks that the share of failed operations is the same in
both sets. With ``--overhead N`` it then makes N traced runs (seeds 1..N)
and prints the tracing overhead: their median ``trace.pass_cpu_s`` minus set
A's median ``pass_cpu_s``.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
RUNS = 10  # runs per set


def one_run(workload: str, seed: int, seconds: int, trace: int) -> dict:
    cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
           "--seed", str(seed), "--seconds", str(seconds), "--trace", str(trace)]
    out = subprocess.run(cmd, capture_output=True, text=True, timeout=600)
    if out.returncode != 0:
        raise SystemExit(f"run failed ({out.returncode}): {' '.join(cmd)}\n{out.stderr[-2000:]}")
    lines = out.stdout.strip().splitlines()
    result = json.loads(lines[-1])
    steal = [line.split()[-1] for line in lines if "cpu steal" in line]
    wall = [line.split()[2] for line in lines if line.strip().startswith("median pass")]
    print(f"  seed {seed}: " + ", ".join(
        f"{k}={v['value']:.4g}" for k, v in result["metrics"].items()
        if not trace or k == "trace.pass_cpu_s") + f", wall pass {wall[0] if wall else '?'} s"
        f", cpu steal {steal[0] if steal else '?'}", flush=True)
    return result


def quartiles(values: list[float]) -> tuple[float, float, float]:
    q1, med, q3 = statistics.quantiles(values, n=4)
    return q1, med, q3


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--overhead", type=int, default=0, metavar="N")
    args = ap.parse_args()
    with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as f:
        spec = json.load(f)

    sets = []
    for label, base in (("A", 0), ("B", 1000)):
        print(f"set {label}:", flush=True)
        sets.append([one_run(args.workload, base + i, spec["run_seconds"], 0)
                     for i in range(1, RUNS + 1)])

    ok = True
    print(f"\n{args.workload}: {RUNS} runs per set, run_seconds {spec['run_seconds']}")
    print("| metric | set | median | q1 | q3 | spread | bound | within |")
    print("|---|---|---|---|---|---|---|---|")
    for m in spec["end_to_end"]:
        name, bound = m["name"], m["bound"]
        meds = []
        for label, runs in zip("AB", sets):
            q1, med, q3 = quartiles([r["metrics"][name]["value"] for r in runs])
            spread = (q3 - q1) / med
            within = spread <= bound
            ok &= within
            meds.append(med)
            print(f"| {name} | {label} | {med:.4g} | {q1:.4g} | {q3:.4g} | {spread:.3f} | {bound} | "
                  f"{'yes' if within else 'NO'} |")
        worse = (meds[1] - meds[0]) / meds[0] * (1 if m["better"] == "lower" else -1)
        agree = abs(worse) <= bound
        ok &= agree
        print(f"| {name} | B vs A | {worse:+.3f} | | | | {bound} | {'yes' if agree else 'NO'} |")
    shares = [sum(r["failed"] for r in runs) / sum(r["attempted"] for r in runs) for runs in sets]
    correct = all(r["correct"] for runs in sets for r in runs)
    ok &= shares[0] == shares[1] and correct
    print(f"failed share A {shares[0]:.4f} B {shares[1]:.4f}; all runs correct: {correct}")

    if args.overhead:
        print("traced:", flush=True)
        runs = [one_run(args.workload, i, spec["run_seconds"], 1) for i in range(1, args.overhead + 1)]
        print("| per-layer metric | median | min | max | repeats exactly |")
        print("|---|---|---|---|---|")
        for m in spec["per_layer"]:
            values = [r["metrics"][m["name"]]["value"] for r in runs]
            print(f"| {m['name']} | {statistics.median(values):.4g} | {min(values):.4g} | "
                  f"{max(values):.4g} | {'yes' if len(set(values)) == 1 else 'no'} |")
        traced = [r["metrics"]["trace.pass_cpu_s"]["value"] for r in runs]
        untraced = statistics.median(r["metrics"]["pass_cpu_s"]["value"] for r in sets[0])
        over = statistics.median(traced) - untraced
        print(f"tracing overhead: traced pass {statistics.median(traced):.4g} s - untraced pass "
              f"{untraced:.4g} s = {over:+.4g} s ({over / untraced:+.1%})")
    print("steady" if ok else "NOT steady")
    return 0 if ok else 1


if __name__ == "__main__":
    sys.exit(main())
