#!/usr/bin/env python3
"""Benchmark entry point: one workload, one seed, one JSON result line.

Usage (from the repository root):
  python3 perfbench/run.py --workload relational --seed 1 --seconds 10 --trace 0

Builds the engine and the harness from source (once per source tree),
generates the seed's inputs (once per seed), runs the workload in one JVM,
checks its outputs, and prints as the last line of stdout
  {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}
with every end-to-end metric of BENCHMARK.json (--trace 0) or every
per-layer metric (--trace 1). Exits non-zero on a wrong result.
Everything it writes goes under .bench_build/ in the repository root.
"""
import argparse
import hashlib
import json
import os
import re
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
# Tables are generated at this fraction of the engine's scale-factor-1
# sizes (orders = 1.5M x SCALE); see gen.py.
SCALE = 0.01
JVM_HEAP = "3g"
# The JVM's share of the 180 s a run may take, once the build is done.
JVM_LIMIT_S = 150
BUILD_LIMIT_S = 850
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def fail(msg, code=2):
    log(msg)
    sys.exit(code)


def source_fingerprint():
    h = hashlib.sha256()
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(ROOT, "project"),
             os.path.join(HERE, "src"), os.path.join(HERE, "project")]
    files = [os.path.join(ROOT, "build.sbt"), os.path.join(HERE, "build.sbt")]
    for r in roots:
        for d, subdirs, names in os.walk(r):
            subdirs[:] = sorted(s for s in subdirs if s not in ("target", "project"))
            files += [os.path.join(d, n) for n in sorted(names)]
    for f in files:
        if os.path.isfile(f):
            h.update(os.path.relpath(f, ROOT).encode())
            with open(f, "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()[:16]


def build(out):
    """Compile engine and harness with sbt, once per source fingerprint;
    returns the runtime classpath."""
    cp_file = os.path.join(out, f"classpath-{source_fingerprint()}.txt")
    if os.path.exists(cp_file):
        with open(cp_file) as f:
            return f.read().strip()
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    logf = os.path.join(out, "build.log")
    log(f"building engine and harness (log: {logf})")
    t0 = time.time()
    with open(logf, "w") as lf:
        p = subprocess.run(
            ["sbt", "--batch", "-Dsbt.log.noformat=true", "-Dsbt.server.forcestart=false",
             "export perfbench/Runtime/fullClasspath"],
            cwd=HERE, env=env, stdout=subprocess.PIPE, stderr=lf, text=True,
            timeout=BUILD_LIMIT_S)
    lines = [l for l in p.stdout.splitlines() if l.strip()]
    with open(logf, "a") as lf:
        lf.write(p.stdout)
    if p.returncode != 0 or not lines or ".jar" not in lines[-1]:
        fail(f"build failed (exit {p.returncode}); see {logf}")
    log(f"built in {time.time() - t0:.0f} s")
    with open(cp_file, "w") as f:
        f.write(lines[-1])
    return lines[-1]


def inputs(out, seed):
    d = os.path.join(out, "data", f"scale{SCALE}-seed{seed}")
    if not os.path.isdir(d):
        log(f"generating inputs for seed {seed}")
        tmp = d + ".tmp"
        shutil.rmtree(tmp, ignore_errors=True)
        subprocess.run([sys.executable, os.path.join(HERE, "gen.py"), d, str(seed), str(SCALE)],
                       check=True)
    return d


def check_queries(data, work):
    """Every query result against its DuckDB oracle; returns (checked, failed)."""
    p = subprocess.run(
        [sys.executable, os.path.join(ROOT, "tools", "check_correctness.py"),
         data, os.path.join(work, "dump"), "--agghash"],
        stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True, timeout=120)
    with open(os.path.join(work, "check.log"), "w") as f:
        f.write(p.stdout)
    m = re.search(r"(\d+) passed, (\d+) failed", p.stdout)
    if not m:
        log("oracle check produced no summary:\n" + p.stdout[-2000:])
        return 1, 1
    bad = [l for l in p.stdout.splitlines() if l.startswith("FAIL")]
    for l in bad:
        log(l)
    n_pass, n_fail = int(m.group(1)), int(m.group(2))
    return n_pass + n_fail, n_fail


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    t_start = time.time()
    # turn SIGTERM into SystemExit, so the JVM below is stopped with us
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))

    bench = os.path.join(ROOT, "BENCHMARK.json")
    for need in ("build.sbt", os.path.join("src", "main", "scala"),
                 os.path.join("tools", "check_correctness.py")):
        if not os.path.exists(os.path.join(ROOT, need)):
            fail(f"{need} not found next to perfbench/: run from a checkout of the engine")
    with open(bench) as f:
        spec = json.load(f)
    if a.workload not in [w["name"] for w in spec["workloads"]]:
        fail(f"unknown workload {a.workload}")
    declared = spec["per_layer"] if a.trace else spec["end_to_end"]

    out = os.path.join(ROOT, ".bench_build")
    os.makedirs(out, exist_ok=True)
    cp = build(out)
    data = inputs(out, a.seed)
    work = os.path.join(out, "runs", f"{a.workload}-seed{a.seed}-trace{a.trace}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    result = os.path.join(work, "result.json")
    cores = len(os.sched_getaffinity(0))
    cmd = (["java", f"-Xmx{JVM_HEAP}", f"-Djava.io.tmpdir={work}/tmp",
            "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"]
           + [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
           + ["-cp", cp, "perfbench.Main", "--workload", a.workload, "--data", data,
              "--work", work, "--seed", str(a.seed), "--seconds", str(a.seconds),
              "--trace", str(a.trace), "--cores", str(cores), "--out", result])
    jvm_log = os.path.join(work, "jvm.log")
    with open(jvm_log, "w") as lf:
        proc = subprocess.Popen(cmd, stdout=lf, stderr=subprocess.STDOUT, cwd=work)
        try:
            rc = proc.wait(timeout=JVM_LIMIT_S)
        except subprocess.TimeoutExpired:
            fail(f"run exceeded {JVM_LIMIT_S} s; see {jvm_log}", 1)
        finally:
            if proc.poll() is None:
                proc.kill()
                proc.wait()
    if rc != 0 or not os.path.exists(result):
        with open(jvm_log) as f:
            tail = f.read()[-3000:]
        fail(f"JVM exited {rc}; last output:\n{tail}", 1)
    with open(jvm_log) as f:
        for line in f:
            if line.startswith("[perfbench]"):
                print(line.rstrip(), file=sys.stderr)
    with open(result) as f:
        r = json.load(f)
    for msg in r["failures"]:
        log(f"FAIL {msg}")
    attempted, failed = r["attempted"], r["failed"]
    if a.workload in ("relational", "curation"):
        n, bad = check_queries(data, work)
        attempted += n
        failed += bad
    metrics = {}
    for m in declared:
        v = r["metrics"].get(m["name"])
        if v is None:
            fail(f"metric {m['name']} missing from the run's output", 1)
        metrics[m["name"]] = {"value": v, "unit": m["unit"]}
    correct = failed == 0
    log(f"{a.workload} seed {a.seed}: {attempted} checked, {failed} failed, "
        f"{time.time() - t_start:.1f} s wall")
    print(json.dumps({"correct": correct, "attempted": max(1, attempted), "failed": failed,
                      "metrics": metrics}))
    sys.exit(0 if correct else 1)


if __name__ == "__main__":
    main()
