#!/usr/bin/env python3
"""Benchmark entry point. Run from the root of a checkout:

    python3 npobench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Steps, each skipped when its result is already there:
  1. compile the checkout's src/main and the benchmark's own sources with
     scalac into .bench_build/npobench/classes-<hash of the sources>;
  2. generate the NPO inputs for (profile, seed) with gen.py;
  3. start one measuring JVM (npobench.Main) with a fresh scratch
     directory under .bench_build/npobench/runs;
  4. run the independent checks in checks.py over what it left behind;
  5. print one JSON line: correct, attempted, failed and the metrics
     (end-to-end with --trace 0, per-layer with --trace 1).

Extra options for the benchmark's own tools: --smoke (tiny inputs and the
sf0.01 tables), --spans FILE (span trees of a traced run), --keep (keep
the scratch directory).
"""
import argparse
import glob
import hashlib
import json
import os
import re
import shutil
import signal
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
import checks  # noqa: E402
import gen  # noqa: E402

WORKLOADS = {"npo_daily_refresh": "refresh", "operator_mix": None}
END_TO_END = [("setup_s", "s"), ("wall_s", "s"), ("op_p50_s", "s"), ("peak_rss_mb", "MiB")]
ADD_OPENS = ["java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
             "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
             "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar"]
JVM_TIMEOUT_S = 150


def fail(msg):
    print(f"npobench: {msg}", file=sys.stderr)
    sys.exit(2)


def spark_jars():
    home = os.environ.get("SPARK_HOME")
    if not home:
        # The project's build.sbt names the directory its Spark jars come from.
        m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', open("build.sbt").read()) \
            if os.path.exists("build.sbt") else None
        home = os.path.dirname(m.group(1)) if m else None
    jars = sorted(glob.glob(os.path.join(home or "", "jars", "*.jar")))
    if not jars:
        fail("no Spark jars found (set SPARK_HOME)")
    return jars


def sf_dir(smoke):
    """The read-only TPC-H-style tables, as listed in the checkout's TESTDATA.md."""
    want = "0.01" if smoke else "0.1"
    env = os.environ.get("NPOBENCH_SF_DIR")
    if env and not smoke:
        return env
    if os.path.exists("TESTDATA.md"):
        for line in open("TESTDATA.md"):
            m = re.match(r"\|\s*([0-9.]+)\s*\|\s*`([^`]+)`", line)
            if m and m.group(1) == want:
                return m.group(2).rstrip("/")
    fail(f"sf{want} tables not found (TESTDATA.md)")


def sources(*roots):
    out = []
    for root in roots:
        for d, _, fs in os.walk(root):
            out += [os.path.join(d, f) for f in fs]
    return sorted(out)


def build(bench_dir, jars):
    """Compile once per source tree; returns the classes directory."""
    if not os.path.isdir("src/main/scala"):
        fail("src/main/scala not found: run from the root of a checkout")
    files = sources("src/main", os.path.join(HERE, "src"))
    h = hashlib.sha256()
    for f in files:
        h.update(os.path.relpath(f).encode() + b"\0" + open(f, "rb").read())
    out = os.path.join(bench_dir, "classes-" + h.hexdigest()[:16])
    if os.path.exists(os.path.join(out, "BUILT")):
        return out
    for old in glob.glob(os.path.join(bench_dir, "classes-*")):
        shutil.rmtree(old, ignore_errors=True)
    tmp = out + ".tmp"
    os.makedirs(tmp)
    args = os.path.join(bench_dir, "scalac-args")
    with open(args, "w") as out_args:
        out_args.write("\n".join(src for src in files if src.endswith(".scala")))
    cmd = ["java", "-Xss8m", "-Xmx2g", "-cp", os.path.join(os.path.dirname(jars[0]), "*"),
           "scala.tools.nsc.Main", "-nowarn", "-d", tmp, "-classpath", ":".join(jars), "@" + args]
    r = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True, timeout=800)
    if r.returncode:
        sys.stderr.write(r.stdout[-4000:])
        fail("compilation failed")
    os.rename(tmp, out)
    open(os.path.join(out, "BUILT"), "w").close()
    return out


def inputs_for(bench_dir, profile, seed):
    key = hashlib.sha256(open(gen.__file__, "rb").read()).hexdigest()[:12]
    out = os.path.join(bench_dir, "inputs", f"{profile}-s{seed}-{key}")
    if not os.path.exists(os.path.join(out, "profile.json")):
        shutil.rmtree(out, ignore_errors=True)
        gen.generate(profile, seed, out + ".tmp")
        os.rename(out + ".tmp", out)
    # Keep the few most recent input sets; each is a few MiB.
    sets = sorted(glob.glob(os.path.join(bench_dir, "inputs", "*")), key=os.path.getmtime)
    for old in sets[:-6]:
        if old != out:
            shutil.rmtree(old, ignore_errors=True)
    os.utime(out)
    return out, json.load(open(os.path.join(out, "profile.json")))


def main():
    # SIGTERM unwinds like an exception, so the JVM is stopped and the
    # scratch directory removed.
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--smoke", action="store_true")
    ap.add_argument("--spans")
    ap.add_argument("--keep", action="store_true")
    a = ap.parse_args()

    root = os.getcwd()
    project = os.path.join(root, "fixtures", "npo_project")
    if not os.path.exists(os.path.join(project, "dbt_project.yml")):
        fail("fixtures/npo_project not found: run from the root of a checkout")
    bench_dir = os.path.join(root, ".bench_build", "npobench")
    os.makedirs(bench_dir, exist_ok=True)
    jars = spark_jars()
    classes = build(bench_dir, jars)
    sf = sf_dir(a.smoke)
    if not os.path.exists(os.path.join(sf, "lineitem.parquet")):
        fail(f"no tables in {sf}")
    t0 = time.time()
    if WORKLOADS[a.workload]:
        inputs, meta = inputs_for(bench_dir, "smoke" if a.smoke else WORKLOADS[a.workload], a.seed)
    else:
        inputs, meta = "", {"d0": gen.PROFILES["refresh"]["d0"], "extra_days": 0}

    run = os.path.join(bench_dir, "runs", f"{a.workload}-s{a.seed}-t{a.trace}-{os.getpid()}")
    shutil.rmtree(run, ignore_errors=True)
    os.makedirs(os.path.join(run, "tmp"))
    cores = min(4, os.cpu_count() or 1)
    cmd = (["java"] + [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in ADD_OPENS] +
           # A fixed heap and young generation: with adaptive young sizing
           # the peak RSS of the same run varied by a third between runs.
           ["-Xms3g", "-Xmx3g", "-Xmn512m", "-Xss4m", f"-Djava.io.tmpdir={run}/tmp",
            "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
            "-cp", classes + ":" + os.path.join(os.path.dirname(jars[0]), "*"),
            "npobench.Main", "--workload", a.workload,
            "--seconds", str(a.seconds), "--trace", str(a.trace), "--cores", str(cores),
            "--inputs", inputs, "--run", run, "--project", project, "--sf", sf,
            "--d0", meta["d0"], "--extra-days", str(meta["extra_days"]),
            "--out", os.path.join(run, "result.json")])
    if a.spans:
        cmd += ["--spans", os.path.abspath(a.spans)]
    log = os.path.join(run, "jvm.log")
    t1 = time.time()
    try:
        with open(log, "w") as lf:
            p = subprocess.Popen(cmd, stdout=lf, stderr=subprocess.STDOUT)
            try:
                p.wait(timeout=JVM_TIMEOUT_S)
            finally:  # also on a timeout or a signal: never leave the JVM behind
                if p.poll() is None:
                    p.kill()
                    p.wait()
        ok = p.returncode == 0 and os.path.exists(os.path.join(run, "result.json"))
        if not ok:
            sys.stderr.write("".join(open(log).readlines()[-60:]))
            fail(f"measuring process failed (exit {p.returncode})")
        r = json.load(open(os.path.join(run, "result.json")))
        t2 = time.time()
        c = r["check"]
        if a.workload == "npo_daily_refresh":
            problems = checks.check_daily_refresh(c, inputs, meta["d0"])
        else:
            problems = checks.check_operator_mix(c, sf, os.path.join(bench_dir, "oracle"))
    finally:
        if not a.keep:
            shutil.rmtree(run, ignore_errors=True)
    print(f"npobench: inputs {t1 - t0:.1f} s, measuring process {t2 - t1:.1f} s, "
          f"checks {time.time() - t2:.1f} s", file=sys.stderr)
    for m in problems:
        print(f"npobench: check failed: {m}", file=sys.stderr)

    lat = r["latencies"]
    if a.trace:
        metrics = {k: {"value": v, "unit": unit_of(k)} for k, v in sorted(r["layers"].items())}
    else:
        values = {"setup_s": r["setup_s"], "wall_s": sum(lat) / r["rounds"],
                  "op_p50_s": statistics.median(lat), "peak_rss_mb": r["peak_rss_mb"]}
        metrics = {k: {"value": values[k], "unit": u} for k, u in END_TO_END}
    print(json.dumps({"correct": not problems, "attempted": r["attempted"],
                      "failed": r["failed"], "metrics": metrics}))


def unit_of(name):
    if name.endswith(("_s", ".s")):
        return "s"
    if name.endswith("bytes"):
        return "B"
    if name.endswith("_mb"):
        return "MiB"
    if name in ("sched.stage_reuse", "exec.util", "write.amplification"):
        return "ratio"
    return "count"


if __name__ == "__main__":
    main()
