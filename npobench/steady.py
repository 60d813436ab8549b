#!/usr/bin/env python3
"""Steadiness tool: run each workload repeatedly with different seeds and
print, per metric, the median, the quartiles and the spread
(q3 - q1) / median, as statistics.quantiles(values, n=4) gives them.
The bounds in BENCHMARK.json come from these figures.

    python3 npobench/steady.py [--runs 10] [--first-seed 1] [--trace 0]
                               [--workloads a,b] [--json out.json]

Run from the root of a checkout. Every run is a separate
`npobench/run.py` process, exactly as a comparison would start it.
"""
import argparse
import json
import os
import statistics
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))


def main():
    spec = json.load(open(os.path.join(HERE, "..", "BENCHMARK.json")))
    ap = argparse.ArgumentParser()
    ap.add_argument("--runs", type=int, default=10)
    ap.add_argument("--first-seed", type=int, default=1)
    ap.add_argument("--trace", type=int, default=0)
    ap.add_argument("--seconds", type=float, default=spec["run_seconds"])
    ap.add_argument("--workloads", default=",".join(w["name"] for w in spec["workloads"]))
    ap.add_argument("--json")
    a = ap.parse_args()
    bounds = {m["name"]: m["bound"] for m in spec["end_to_end"]}
    raw = {}
    for w in a.workloads.split(","):
        runs = []
        for i in range(a.runs):
            seed = a.first_seed + i
            p = subprocess.run([sys.executable, os.path.join(HERE, "run.py"), "--workload", w,
                                "--seed", str(seed), "--seconds", str(a.seconds),
                                "--trace", str(a.trace)], stdout=subprocess.PIPE, text=True)
            if p.returncode:
                print(f"{w} seed {seed}: exit {p.returncode}", file=sys.stderr)
                continue
            r = json.loads(p.stdout.strip().splitlines()[-1])
            r["seed"] = seed
            runs.append(r)
            print(f"{w} seed {seed}: correct={r['correct']} attempted={r['attempted']} "
                  f"failed={r['failed']} " +
                  " ".join(f"{k}={v['value']:.4g}" for k, v in r["metrics"].items()
                           if k in bounds), file=sys.stderr)
        raw[w] = runs
        report(w, runs, bounds)
    if a.json:
        json.dump(raw, open(a.json, "w"), indent=1)


def report(w, runs, bounds):
    if len(runs) < 2:
        print(f"{w}: fewer than two runs")
        return
    shares = sorted({r["failed"] / r["attempted"] for r in runs})
    print(f"\n{w}: {len(runs)} runs, all correct={all(r['correct'] for r in runs)}, "
          f"failed share(s)={shares}, attempted={[r['attempted'] for r in runs]}")
    print(f"  {'metric':28} {'median':>12} {'q1':>12} {'q3':>12} {'spread':>8} {'bound':>6}")
    for k in runs[0]["metrics"]:
        vals = [r["metrics"][k]["value"] for r in runs]
        q1, med, q3 = statistics.quantiles(vals, n=4)
        spread = (q3 - q1) / med if med else float("nan")
        b = bounds.get(k)
        print(f"  {k:28} {med:12.5g} {q1:12.5g} {q3:12.5g} {spread:8.2%} "
              f"{'' if b is None else format(b, '.2f'):>6}")


if __name__ == "__main__":
    main()
