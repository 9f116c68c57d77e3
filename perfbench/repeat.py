#!/usr/bin/env python3
"""Repeat-runner: runs one workload k times and prints, per metric, the
median, the quartiles, (max - min) / median and (q3 - q1) / median.

    python3 perfbench/repeat.py --workload W --runs K [--seconds S] [--trace 0|1]
                                [--seed0 N] [CHECKOUT_A [CHECKOUT_B]]

Each CHECKOUT is the root of a graft checkout (default: the current
directory). Run i uses seed seed0 + i. Given two checkouts, each seed runs
on both, and the order alternates from one seed to the next (A then B,
then B then A), so an A/B comparison sees the same inputs on both sides
and no side always runs first. Seconds default to BENCHMARK.json's
run_seconds. The last stdout line is a JSON summary.
"""
import argparse
import json
import os
import statistics
import subprocess
import sys


def run_once(checkout, workload, seed, seconds, trace):
    cmd = [sys.executable, "perfbench/run.py", "--workload", workload, "--seed", str(seed),
           "--seconds", str(seconds), "--trace", str(trace)]
    p = subprocess.run(cmd, cwd=checkout, stdout=subprocess.PIPE, stderr=subprocess.DEVNULL, text=True)
    lines = [l for l in p.stdout.splitlines() if l.strip()]
    result = json.loads(lines[-1]) if lines else None
    return p.returncode, result


def describe(xs):
    xs = sorted(xs)
    med = statistics.median(xs)
    q1, _, q3 = statistics.quantiles(xs, n=4) if len(xs) > 1 else (xs[0], 0, xs[0])
    rel = (lambda v: v / med if med else float("nan"))
    return dict(n=len(xs), median=med, q1=q1, q3=q3, range_frac=rel(xs[-1] - xs[0]), iqr_frac=rel(q3 - q1))


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--runs", type=int, required=True)
    ap.add_argument("--seconds", type=float)
    ap.add_argument("--trace", type=int, default=0, choices=(0, 1))
    ap.add_argument("--seed0", type=int, default=1)
    ap.add_argument("checkouts", nargs="*", default=["."])
    a = ap.parse_args()
    if len(a.checkouts) > 2:
        ap.error("at most two checkouts")
    seconds = a.seconds
    if seconds is None:
        with open(os.path.join(a.checkouts[0], "BENCHMARK.json")) as f:
            seconds = json.load(f)["run_seconds"]
    values = {c: {} for c in a.checkouts}
    failed = {c: 0 for c in a.checkouts}
    for i in range(a.runs):
        order = a.checkouts if i % 2 == 0 else list(reversed(a.checkouts))
        for c in order:
            code, r = run_once(c, a.workload, a.seed0 + i, seconds, a.trace)
            ok = code == 0 and r is not None and r["correct"]
            failed[c] += not ok
            print(f"run {i} seed {a.seed0 + i} {c}: {'ok' if ok else f'FAILED (exit {code})'}", flush=True)
            for k, m in (r or {}).get("metrics", {}).items():
                values[c].setdefault(k, []).append(m["value"])
    summary = {}
    for c in a.checkouts:
        summary[c] = {"failed_runs": failed[c], "metrics": {k: describe(v) for k, v in values[c].items()}}
        print(f"\n{c} ({a.workload}, {a.runs} runs, {failed[c]} failed)")
        print(f"{'metric':34s} {'median':>12s} {'q1':>12s} {'q3':>12s} {'range/med':>10s} {'iqr/med':>8s}")
        for k, d in summary[c]["metrics"].items():
            print(f"{k:34s} {d['median']:12.5g} {d['q1']:12.5g} {d['q3']:12.5g} "
                  f"{d['range_frac']:10.3f} {d['iqr_frac']:8.3f}")
    print(json.dumps(summary))
    return 1 if any(failed.values()) else 0


if __name__ == "__main__":
    sys.exit(main())
