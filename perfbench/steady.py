#!/usr/bin/env python3
"""Checks that the benchmark is steady on one workload.

    python3 perfbench/steady.py --workload <name> [--runs 10] [--first-seed 1]

Runs perfbench/run.py --runs times with consecutive seeds and prints, for
each end-to-end metric of BENCHMARK.json, the median, the first and third
quartiles (Python's statistics.quantiles(values, n=4)), the spread
(Q3 - Q1) / median, the metric's bound, and whether the spread is within
the bound (`ok`) and within a third of it (`steady`). setup_s is reported
but, like the acceptance rule, judged on its median only. Exits 1 when a
run fails or is incorrect, or when a spread other than setup_s exceeds its
bound.
"""
import argparse
import json
import os
import statistics
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--runs", type=int, default=10)
    ap.add_argument("--first-seed", type=int, default=1)
    args = ap.parse_args()
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)

    values = {m["name"]: [] for m in spec["end_to_end"]}
    bad = False
    for seed in range(args.first_seed, args.first_seed + args.runs):
        p = subprocess.run(
            [sys.executable, os.path.join(HERE, "run.py"), "--workload", args.workload,
             "--seed", str(seed), "--seconds", str(spec["run_seconds"]), "--trace", "0"],
            cwd=ROOT, capture_output=True, text=True)
        lines = p.stdout.strip().splitlines()
        if p.returncode != 0 or not lines:
            print(f"seed {seed}: run failed (exit {p.returncode})\n{p.stderr[-2000:]}")
            return 1
        res = json.loads(lines[-1])
        bad |= not res["correct"] or res["failed"] > 0
        for k, v in res["metrics"].items():
            values[k].append(v["value"])
        print(f"seed {seed}: correct={res['correct']} attempted={res['attempted']} failed={res['failed']} "
              + " ".join(f"{k}={v['value']:.4g}" for k, v in res["metrics"].items()), flush=True)

    print(f"\n{'metric':<16} {'median':>10} {'q1':>10} {'q3':>10} {'spread':>8} {'bound':>6}  verdict")
    for m in spec["end_to_end"]:
        xs = values[m["name"]]
        q1, med, q3 = statistics.quantiles(xs, n=4)
        spread = (q3 - q1) / med if med else float("inf")
        verdict = "steady" if spread < m["bound"] / 3 else "ok" if spread <= m["bound"] else "WIDE"
        if m["name"] != "setup_s" and verdict == "WIDE":
            bad = True
        print(f"{m['name']:<16} {med:>10.4g} {q1:>10.4g} {q3:>10.4g} {spread:>8.3f} {m['bound']:>6}  {verdict}")
    return 1 if bad else 0


if __name__ == "__main__":
    sys.exit(main())
