#!/usr/bin/env python3
"""graft benchmark: one workload, one seed, one run.

    python3 perfbench/run.py --workload W --seed N --seconds S --trace 0|1

Run from the root of a graft checkout. Builds the program from source
(perfbench/build.py), generates the workload's inputs from the seed
(perfbench/gen.py), runs the JVM harness (perfbench/harness) for about
S seconds of closed-loop work, checks the outputs (perfbench/oracle.py),
and prints one JSON object as the last line of stdout: the end-to-end
metrics with --trace 0, the per-layer metrics with --trace 1. Exits
non-zero when a check fails. Scratch files live under .bench_work/ and
are removed at exit; traced runs keep their spans under .bench_out/.
"""
import argparse
import json
import math
import os
import shutil
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
import build   # noqa: E402  (the benchmark's own modules, next to this file)
import gen     # noqa: E402
import oracle  # noqa: E402

WORKLOADS = ("cdc_boot", "cdc_catalog", "search_mixed", "curate_corpus")
JVM_TIMEOUT_S = 170


def pct(xs, p):
    """Nearest-rank percentile."""
    s = sorted(xs)
    return s[max(0, math.ceil(p * len(s)) - 1)] if s else float("nan")


def bench_config():
    with open(os.path.join(HERE, "..", "BENCHMARK.json")) as f:
        return json.load(f)


def run_jvm(classpath, archive, args, work):
    """Run the harness JVM; returns (exit code, peak RSS in MB)."""
    extra = [f"-Djava.io.tmpdir={work}/tmp"] + ([f"-XX:SharedArchiveFile={archive}"] if archive else [])
    cmd = build.java_cmd(classpath, extra) + args
    os.makedirs(f"{work}/tmp", exist_ok=True)
    env = dict(os.environ, SPARK_LOCAL_DIRS=f"{work}/spark-local")
    proc = subprocess.Popen(cmd, stdout=sys.stderr, stderr=sys.stderr, env=env)
    deadline = time.time() + JVM_TIMEOUT_S
    while True:
        pid, status, usage = os.wait4(proc.pid, os.WNOHANG)
        if pid:
            proc.returncode = os.waitstatus_to_exitcode(status)
            return proc.returncode, usage.ru_maxrss / 1024.0
        if time.time() > deadline:
            proc.kill()
            proc.wait()
            return -9, 0.0
        time.sleep(0.05)


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()

    classpath, archive = build.build()
    cfg = bench_config()
    root = os.path.abspath(".bench_work")
    work = os.path.join(root, f"{a.workload}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    try:
        inputs = os.path.join(work, "inputs")
        meta = gen.generate(a.workload, inputs, a.seed)
        out = os.path.join(work, "result.json")
        spans = os.path.abspath(os.path.join(".bench_out", f"{a.workload}-seed{a.seed}.spans.jsonl"))
        os.makedirs(os.path.dirname(spans), exist_ok=True)
        cores = len(os.sched_getaffinity(0))
        code, rss_mb = run_jvm(classpath, archive, [
            "--workload", a.workload, "--inputs", inputs, "--work", work, "--seconds", str(a.seconds),
            "--trace", str(a.trace), "--cores", str(cores), "--out", out, "--spans", spans], work)
        if code != 0 or not os.path.exists(out):
            print(f"perfbench: harness exited with {code}", file=sys.stderr)
            return 1
        with open(out) as f:
            r = json.load(f)
        failures = list(r["failures"])
        checks = {}
        if a.workload.startswith("cdc_") and not failures:
            failures += oracle.cdc(inputs, meta, r["exports"])
        if a.workload == "curate_corpus" and not failures:
            f2, checks = oracle.curate(meta, r["exports"])
            failures += f2
        commit = r["commit_s"]
        serve = r["serve_ms"]
        e2e = {
            "setup_s": r["setup_s"],
            "ingest_rows_per_s": r["rows_committed"] / sum(commit),
            "commit_p50_s": statistics.median(commit),
            "commit_p75_s": pct(commit, 0.75),
            "read_p50_s": statistics.median(r["read_s"]),
            "write_amp": r["bytes_written"] / r["input_bytes"],
            "space_amp": r["stored_bytes"] / r["live_bytes"],
            "peak_rss_mb": rss_mb,
        }
        if serve:  # search_mixed's reader clients
            e2e.update(serve_qps=len(serve) / r["serve_wall_s"], serve_p50_ms=statistics.median(serve),
                       serve_p90_ms=pct(serve, 0.90))
        attempted = int(r["attempted"])
        failed = min(attempted, len(failures))
        units = {m["name"]: m["unit"] for m in cfg["end_to_end"] + cfg["per_layer"]}
        wanted = cfg["per_layer"] if a.trace else cfg["end_to_end"]
        values = r["layers"] if a.trace else e2e
        metrics = {m["name"]: {"value": values[m["name"]], "unit": units[m["name"]]} for m in wanted}
        summary = dict(workload=a.workload, seed=a.seed, end_to_end=e2e, commit_s=commit, samples=dict(
            commits=len(commit), reads=len(r["read_s"]), serves=len(serve)),
            error_rate=failed / attempted, traffic=dict(meta.get("traffic", {}), **r["traffic"]),
            checks=checks, failures=failures[:20], session_s=r["session_s"],
            self_s=r["self_s"] if a.trace else {})
        print(json.dumps(summary), file=sys.stderr)
        correct = not failures
        print(json.dumps({"correct": correct, "attempted": attempted, "failed": failed,
                          "metrics": metrics}))
        return 0 if correct else 1
    finally:
        shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    sys.exit(main())
