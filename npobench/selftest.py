#!/usr/bin/env python3
"""Self-tests of the benchmark, at smoke size (tiny generated inputs and
the sf0.01 tables). Run from the root of a checkout:

    python3 npobench/selftest.py [--workloads a,b]

For every workload it makes one untraced and one traced run and checks:
  1. every metric of BENCHMARK.json is printed, by name and unit, with a
     number (end-to-end metrics untraced, per-layer metrics traced), and
     the run's own correctness checks pass;
  2. in the traced run's span trees, every self time is non-negative
     and no child span reaches outside its parent;
  3. per operation, the self times of all spans (bench spans and the
     Spark job segments under them) add up to the operation's wall time
     within SELF_TIME_TOLERANCE_MS;
  4. the traced and the untraced run leave identical outputs (row count
     and an order-independent hash of every output table).
Exits 1 if any check fails.
"""
import argparse
import glob
import json
import os
import subprocess
import sys

import duckdb

HERE = os.path.dirname(os.path.abspath(__file__))
SELF_TIME_TOLERANCE_MS = 1.0
EDGE_TOLERANCE_MS = 0.01


def run(workload, trace, spans=None):
    before = set(glob.glob(".bench_build/npobench/runs/*"))
    cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload, "--seed", "7",
           "--seconds", "1", "--trace", str(trace), "--smoke", "--keep"]
    if spans:
        cmd += ["--spans", spans]
    p = subprocess.run(cmd, stdout=subprocess.PIPE, text=True)
    if p.returncode:
        raise SystemExit(f"{workload} trace={trace}: exit {p.returncode}")
    run_dir = (set(glob.glob(".bench_build/npobench/runs/*")) - before).pop()
    return json.loads(p.stdout.strip().splitlines()[-1]), run_dir


def digests(run_dir):
    """Row count and order-independent hash of each output table."""
    r = json.load(open(os.path.join(run_dir, "result.json")))["check"]
    tables = {k: v for k, v in r.items() if k in ("streams",)}
    for d in glob.glob(os.path.join(run_dir, "check", "*")):
        tables[os.path.basename(d)] = d
    con = duckdb.connect()
    out = {}
    for name, path in sorted(tables.items()):
        files = glob.glob(f"{path}/**/*.parquet", recursive=True)
        if files:
            out[name] = con.execute(
                f"SELECT COUNT(*), SUM(hash(t)) FROM read_parquet({files!r}) t").fetchone()
    return out


def check_spans(trees):
    fails = []
    for op in trees:
        spans = {s["id"]: s for s in op["spans"]}
        for s in op["spans"]:
            if s["self_ms"] < -EDGE_TOLERANCE_MS:
                fails.append(f"{op['op']}: {s['name']} self time {s['self_ms']:.3f} ms < 0")
            p = spans.get(s["parent"])
            if p and (s["start"] < p["start"] - EDGE_TOLERANCE_MS or
                      s["end"] > p["end"] + EDGE_TOLERANCE_MS):
                fails.append(f"{op['op']}: {s['name']} reaches outside {p['name']}")
        total = sum(s["self_ms"] for s in op["spans"])
        if abs(total - op["wall_ms"]) > SELF_TIME_TOLERANCE_MS:
            fails.append(f"{op['op']}: self times add up to {total:.3f} ms, wall {op['wall_ms']:.3f} ms")
    return fails


def main():
    spec = json.load(open(os.path.join(HERE, "..", "BENCHMARK.json")))
    ap = argparse.ArgumentParser()
    ap.add_argument("--workloads", default=",".join(w["name"] for w in spec["workloads"]))
    a = ap.parse_args()
    fails = []
    for w in a.workloads.split(","):
        spans_file = os.path.join(".bench_build", "npobench", f"selftest-spans-{w}.json")
        plain, plain_dir = run(w, 0)
        traced, traced_dir = run(w, 1, spans_file)
        for res, key in ((plain, "end_to_end"), (traced, "per_layer")):
            if not res["correct"]:
                fails.append(f"{w}: run not correct")
            for m in spec[key]:
                got = res["metrics"].get(m["name"])
                if not got or got["unit"] != m["unit"] or not isinstance(got["value"], (int, float)):
                    fails.append(f"{w}: metric {m['name']} missing or wrong: {got}")
        trees = json.load(open(spans_file))
        if not trees:
            fails.append(f"{w}: traced run recorded no operations")
        fails += [f"{w}: {f}" for f in check_spans(trees)]
        d0, d1 = digests(plain_dir), digests(traced_dir)
        if not d0 or d0 != d1:
            fails.append(f"{w}: traced and untraced outputs differ: {d0} vs {d1}")
        for d in (plain_dir, traced_dir):
            subprocess.run(["rm", "-rf", d])
        print(f"{w}: {len(trees)} traced ops, outputs {sorted(d0)}", file=sys.stderr)
    for f in fails:
        print("FAIL", f)
    print("selftest:", "FAIL" if fails else "ok")
    sys.exit(1 if fails else 0)


if __name__ == "__main__":
    main()
