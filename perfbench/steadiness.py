#!/usr/bin/env python3
"""Steadiness check: runs two independent sets of ten benchmark runs of
the same code, each run with its own seed, and prints for every
end-to-end metric each set's median and quartiles, the spread
(interquartile range over the median), and whether each set's spread and
the distance between the two medians stay within the metric's bound from
BENCHMARK.json.

Usage (from the repository root):
  python3 perfbench/steadiness.py [--workloads olap,llm,repl]

Exit code 0 when every check holds, 1 otherwise.
"""
import argparse
import json
import os
import statistics
import subprocess
import sys

RUNS = 10
# first seed of each set; run i of a set uses its base seed + i
SET_SEEDS = (100, 1100)


def run_once(workload, seed, seconds):
    cmd = [sys.executable, os.path.join("perfbench", "run.py"), "--workload", workload,
           "--seed", str(seed), "--seconds", str(seconds), "--trace", "0"]
    r = subprocess.run(cmd, capture_output=True, text=True)
    if r.returncode != 0:
        sys.stderr.write(r.stdout[-2000:] + r.stderr[-4000:])
        raise SystemExit(f"run failed: {' '.join(cmd)}")
    return json.loads(r.stdout.strip().splitlines()[-1])


def summarize(values):
    q1, _, q3 = statistics.quantiles(values, n=4)
    return statistics.median(values), q1, q3


def main():
    with open("BENCHMARK.json") as f:
        spec = json.load(f)
    ap = argparse.ArgumentParser()
    ap.add_argument("--workloads", default=",".join(w["name"] for w in spec["workloads"]))
    args = ap.parse_args()
    metrics = spec["end_to_end"]
    ok = True
    for w in args.workloads.split(","):
        sets = []
        for s, base_seed in enumerate(SET_SEEDS):
            vals = {m["name"]: [] for m in metrics}
            for i in range(RUNS):
                seed = base_seed + i
                res = run_once(w, seed, spec["run_seconds"])
                if not res["correct"]:
                    print(f"{w} seed {seed}: {res['failed']} of {res['attempted']} ops failed")
                    ok = False
                for m in metrics:
                    vals[m["name"]].append(res["metrics"][m["name"]]["value"])
                print(f"{w} set {s} seed {seed}: " + " ".join(
                    f"{k}={v[-1]:.4g}" for k, v in vals.items()), flush=True)
            sets.append(vals)
        print(f"\n{w}: metric | set medians [q1, q3] | spreads | median distance | bound | verdict")
        for m in metrics:
            name, bound = m["name"], m["bound"]
            (med1, q1a, q3a), (med2, q1b, q3b) = (summarize(v[name]) for v in sets)
            spreads = [(q3a - q1a) / med1, (q3b - q1b) / med2]
            distance = abs(med2 - med1) / med1
            within = max(spreads) <= bound and distance <= bound
            ok &= within
            print(f"  {name}: {med1:.4g} [{q1a:.4g}, {q3a:.4g}] {med2:.4g} [{q1b:.4g}, {q3b:.4g}]"
                  f" | {spreads[0]:.3f} {spreads[1]:.3f} | {distance:.3f} | {bound}"
                  f" | {'ok' if within else 'NOT WITHIN BOUND'}")
        print()
    return 0 if ok else 1


if __name__ == "__main__":
    sys.exit(main())
