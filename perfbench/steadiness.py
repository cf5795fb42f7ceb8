#!/usr/bin/env python3
"""Steadiness report: two sets of benchmark runs of the same commit.

    python3 perfbench/steadiness.py

Runs perfbench/run.py with --trace 0 once per (set, seed, workload) for
every workload of BENCHMARK.json and its run_seconds: seeds 1-10 in the
first set, 101-110 in the second. For each workload and end-to-end metric it
prints each set's median and quartiles, the spread (interquartile distance
over the median), the worse-direction shift of the second median against
the first, and the metric's bound from BENCHMARK.json. Raw results go to
.bench_build/steadiness-<time>.json.
"""
import json
import os
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
SEEDS = 10
SETS = (1, 101)  # first seed of each set


def run_once(workload, seed, seconds):
    out = subprocess.run([sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
                          "--seed", str(seed), "--seconds", str(seconds), "--trace", "0"],
                         cwd=ROOT, capture_output=True, text=True)
    lines = out.stdout.strip().splitlines()
    if out.returncode != 0 or not lines:
        sys.stderr.write(out.stderr[-2000:])
        return None
    return json.loads(lines[-1])


def main():
    bench = json.load(open(os.path.join(ROOT, "BENCHMARK.json")))
    workloads = [w["name"] for w in bench["workloads"]]

    results = {}  # (set, workload) -> list of result objects
    for s, first in enumerate(SETS):
        for seed in range(first, first + SEEDS):
            for w in workloads:
                t = time.time()
                r = run_once(w, seed, bench["run_seconds"])
                results.setdefault((s, w), []).append(r)
                state = "no result" if r is None else (
                    f"correct={r['correct']} {r['failed']}/{r['attempted']} failed")
                print(f"set {s + 1} seed {seed:>3} {w:<16} {time.time() - t:6.1f} s  {state}",
                      flush=True)

    os.makedirs(os.path.join(ROOT, ".bench_build"), exist_ok=True)
    raw = os.path.join(ROOT, ".bench_build", f"steadiness-{int(time.time())}.json")
    with open(raw, "w") as fh:
        json.dump({f"{s}:{w}": v for (s, w), v in results.items()}, fh)

    print(f"\n{'workload':<15} {'metric':<17} {'set':>3} {'median':>11} {'q1':>11} {'q3':>11}"
          f" {'spread':>7} {'shift':>7} {'bound':>6}")
    for w in workloads:
        for m in bench["end_to_end"]:
            meds = []
            for s in range(len(SETS)):
                vals = [r["metrics"][m["name"]]["value"] for r in results[(s, w)] if r]
                if len(vals) < 2:
                    continue
                q1, med, q3 = statistics.quantiles(vals, n=4)
                meds.append(med)
                shift = ""
                if s > 0 and len(meds) == 2:
                    worse = (med - meds[0]) if m["better"] == "lower" else (meds[0] - med)
                    shift = f"{worse / meds[0]:+7.1%}"
                print(f"{w:<15} {m['name']:<17} {s + 1:>3} {med:>11.4f} {q1:>11.4f} {q3:>11.4f}"
                      f" {(q3 - q1) / med:>7.1%} {shift:>7} {m['bound']:>6.0%}")
        for s in range(len(SETS)):
            rs = [r for r in results[(s, w)] if r]
            share = sum(r["failed"] for r in rs) / max(1, sum(r["attempted"] for r in rs))
            print(f"{w:<15} failed share, set {s + 1}: {share:.4f}")
    print(f"\nraw results: {raw}")


if __name__ == "__main__":
    main()
