#!/usr/bin/env python3
"""Runs one workload K times, one seed each, and prints every end-to-end
metric's median, quartiles and spread against its bound in BENCHMARK.json.

    python3 perfbench/steady.py --workload nab_fleet --runs 10 --first-seed 1

The spread is (third quartile - first quartile) / median, with the quartiles
of statistics.quantiles(values, n=4). Run from the root of a checkout.
"""
import argparse
import json
import os
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--runs", type=int, default=10)
    ap.add_argument("--first-seed", type=int, default=1)
    ap.add_argument("--out", help="also write every run's result here (JSON)")
    a = ap.parse_args()
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    results = []
    for seed in range(a.first_seed, a.first_seed + a.runs):
        t0 = time.time()
        p = subprocess.run(bench["command"] + [
            "--workload", a.workload, "--seed", str(seed),
            "--seconds", str(bench["run_seconds"]), "--trace", "0"],
            cwd=ROOT, capture_output=True, text=True)
        if p.returncode != 0:
            sys.exit(f"seed {seed} failed:\n{p.stderr[-3000:]}")
        r = json.loads(p.stdout.strip().splitlines()[-1])
        results.append(r)
        print(f"seed {seed}: run {time.time() - t0:.0f} s correct={r['correct']} "
              f"attempted={r['attempted']} "
              f"failed={r['failed']} " + " ".join(
                  f"{k}={v['value']:.4f}" for k, v in r["metrics"].items()), flush=True)
        # the raw pass times and the host's busy and stolen CPU time
        print("  " + next((x for x in reversed(p.stderr.splitlines())
                           if x.startswith("passes")), ""), flush=True)
    print(f"\n{a.workload}, {a.runs} runs")
    print(f"{'metric':14} {'median':>10} {'q1':>10} {'q3':>10} {'spread':>8} {'bound':>6}")
    for m in bench["end_to_end"]:
        vals = [r["metrics"][m["name"]]["value"] for r in results]
        q1, med, q3 = statistics.quantiles(vals, n=4)
        print(f"{m['name']:14} {med:10.4f} {q1:10.4f} {q3:10.4f} "
              f"{(q3 - q1) / med:8.3f} {m['bound']:6.2f}")
    shares = {r["failed"] / r["attempted"] for r in results}
    print(f"failed share: {sorted(shares)}; all correct: "
          f"{all(r['correct'] for r in results)}")
    if a.out:
        with open(a.out, "w") as f:
            json.dump(results, f)


if __name__ == "__main__":
    main()
