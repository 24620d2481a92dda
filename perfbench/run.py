#!/usr/bin/env python3
"""Layered benchmark of the crime ETL, the ML train/serve path and the
registered query mix.

Run from the root of a checkout:

  python3 perfbench/run.py --workload <crime_etl|ml_train_serve|query_mix>
      --seed <n> --seconds <s> --trace <0|1>

The first run in a checkout compiles the program together with the
benchmark's Scala sources (sbt, with the extra source directory set on the
command line; build.sbt is not edited) and caches the classpath under
.bench_build/. Inputs are generated from the seed and cached by
(seed, size). The last stdout line is one JSON object:
{"correct", "attempted", "failed", "metrics"} - end-to-end metrics with
--trace 0, per-layer metrics with --trace 1. See perfbench/README.md.
"""
import argparse
import contextlib
import fcntl
import hashlib
import importlib.util
import io
import json
import os
import shutil
import subprocess
import sys
import time

import pyarrow.parquet as pq

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.path.join(HERE, "gen"))

import crime  # noqa: E402
import tables  # noqa: E402

BUILD = ".bench_build"
# input sizes, fixed per workload: crime CSV base rows, table scale factor,
# single-row serve requests per pass
CRIME_ROWS = 50_000
ML_SF = 0.005
QUERY_SF = 0.01
SERVE_REQUESTS = 12
KEEP_INPUTS = 8
RUN_LIMIT_S = 170
# Spark on JDK 17 outside spark-submit needs these (as build.sbt sets them
# for `sbt run`)
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar"]
END_TO_END = ["setup_s", "wall_s", "batch_s", "op_p50_ms", "rows_per_s",
              "retained_heap_mb"]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def source_hash(cmd):
    """Hash of the build command and every source file it compiles."""
    h = hashlib.sha256(" ".join(cmd).encode())
    roots = ["build.sbt", "project/build.properties", "src/main",
             os.path.join(os.path.relpath(HERE), "scala")]
    for root in roots:
        paths = [root] if os.path.isfile(root) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(root) for f in fs)
        for p in paths:
            h.update(p.encode())
            with open(p, "rb") as f:
                h.update(f.read())
    return h.hexdigest()[:16]


def build():
    """Compile program + benchmark once per source state; return classpath."""
    extra = os.path.join(os.path.relpath(HERE), "scala")
    # a target dir of its own: an ordinary `sbt compile` or test run in the
    # checkout recompiles target/ without the benchmark's classes
    cmd = ["sbt", "--batch", "-Dsbt.log.noformat=true",
           f'set Compile / unmanagedSourceDirectories += '
           f'baseDirectory.value / "{extra}"',
           f'set target := baseDirectory.value / "{BUILD}" / "target"',
           "compile", "export Compile / fullClasspath"]
    os.makedirs(BUILD, exist_ok=True)
    cp_file = os.path.join(BUILD, f"classpath-{source_hash(cmd)}.txt")
    with open(os.path.join(BUILD, "build.lock"), "w") as lock:
        fcntl.flock(lock, fcntl.LOCK_EX)
        if os.path.exists(cp_file):
            with open(cp_file) as f:
                return f.read().strip()
        env = dict(os.environ, COURSIER_MODE="offline")
        opts = ["-Dsbt.offline=true", "-Xmx2g", "-Dsbt.server.autostart=false"]
        repos = os.path.expanduser("~/.sbt/repositories")
        if os.path.exists(repos):
            opts += ["-Dsbt.override.build.repos=true",
                     f"-Dsbt.repository.config={repos}"]
        env["SBT_OPTS"] = " ".join(opts)
        log("building: " + " ".join(cmd[:3]) + " ...")
        t = time.time()
        p = subprocess.run(cmd, env=env, stdout=subprocess.PIPE,
                           stderr=subprocess.STDOUT, text=True,
                           stdin=subprocess.DEVNULL)
        with open(os.path.join(BUILD, "build.log"), "w") as f:
            f.write(p.stdout)
        lines = [l for l in p.stdout.splitlines()
                 if ".jar" in l and not l.startswith("[")]
        if p.returncode != 0 or not lines:
            log(f"build failed (rc={p.returncode}); see {BUILD}/build.log")
            sys.exit(1)
        log(f"built in {time.time() - t:.1f} s")
        with open(cp_file, "w") as f:
            f.write(lines[-1].strip())
        return lines[-1].strip()


def cached(kind, seed, size, make):
    """Generate an input once per (kind, seed, size); return its dir. The
    cache keeps the KEEP_INPUTS most recently used inputs."""
    root = os.path.join(BUILD, "data")
    d = os.path.join(root, f"{kind}-seed{seed}-{size}")
    if os.path.isdir(root):
        old = sorted((e for e in os.scandir(root) if e.path != d),
                     key=lambda e: e.stat().st_mtime, reverse=True)
        for e in old[KEEP_INPUTS - 1:]:
            shutil.rmtree(e.path, ignore_errors=True)
    if os.path.exists(os.path.join(d, ".done")):
        os.utime(d)
    else:
        tmp = f"{d}.tmp{os.getpid()}"
        shutil.rmtree(tmp, ignore_errors=True)
        t = time.time()
        make(tmp)
        open(os.path.join(tmp, ".done"), "w").close()
        shutil.rmtree(d, ignore_errors=True)
        os.rename(tmp, d)
        log(f"generated {d} in {time.time() - t:.1f} s")
    return os.path.abspath(d)


def inputs(workload, seed):
    """Input dir and the raw rows one pass reads (CSV rows, or lineitem)."""
    if workload == "crime_etl":
        d = cached("crime", seed, CRIME_ROWS,
                   lambda d: crime.generate(d, seed, CRIME_ROWS))
        with open(os.path.join(d, "crime_expected.json")) as f:
            return d, json.load(f)["raw_rows"]
    sf = ML_SF if workload == "ml_train_serve" else QUERY_SF
    d = cached("tables", seed, sf, lambda d: tables.generate(d, seed, sf))
    return d, pq.ParquetFile(os.path.join(d, "lineitem.parquet")) \
        .metadata.num_rows


def java_cmd(cp, run_dir, args):
    opens = [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    return (["java", "-Xmx3g", "-XX:+UseParallelGC",
             f"-Djava.io.tmpdir={tmp}",
             f"-Dderby.system.home={os.path.join(run_dir, 'derby')}"] +
            opens + ["-cp", cp, "perfbench.PerfBench"] + args)


def compare_queries(data, outputs):
    """Diff every query output against its DuckDB oracle with the
    repository's compare script; return (passed, expected, report)."""
    spec = importlib.util.spec_from_file_location(
        "compare", os.path.join("scripts", "compare.py"))
    compare = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(compare)
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        compare.main(data, outputs)
    report = buf.getvalue().splitlines()
    passed = sum(l.startswith("PASS ") for l in report)
    with open(os.path.join(outputs, "oracle_sql.json")) as f:
        expected = len(json.load(f))
    return passed, expected, report


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True,
                    choices=["crime_etl", "ml_train_serve", "query_mix"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    a = ap.parse_args()
    start = time.time()
    for need in ("build.sbt", "src/main/scala", "scripts/compare.py"):
        if not os.path.exists(need):
            log(f"{need} not found: run from the root of a full checkout")
            sys.exit(2)
    cp = build()
    data, rows = inputs(a.workload, a.seed)
    runs = os.path.join(BUILD, "runs")
    if os.path.isdir(runs):  # left behind by a run that was killed
        for e in os.scandir(runs):
            if not os.path.exists(f"/proc/{e.name}"):
                shutil.rmtree(e.path, ignore_errors=True)
    run_dir = os.path.abspath(os.path.join(runs, str(os.getpid())))
    os.makedirs(run_dir)
    args = ["--workload", a.workload, "--data", data, "--out", run_dir,
            "--seconds", str(a.seconds), "--trace", str(a.trace),
            "--seed", str(a.seed), "--requests", str(SERVE_REQUESTS),
            "--input-rows", str(rows),
            "--t0-ms", str(int(time.time() * 1000))]
    with open(os.path.join(run_dir, "jvm.log"), "w") as jlog:
        proc = subprocess.Popen(java_cmd(cp, run_dir, args), stdout=jlog,
                                stderr=subprocess.STDOUT,
                                stdin=subprocess.DEVNULL)
        try:
            rc = proc.wait(timeout=max(10, RUN_LIMIT_S - (time.time() - start)))
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            rc = "timeout"
    result_path = os.path.join(run_dir, "result.json")
    with open(os.path.join(run_dir, "jvm.log")) as f:
        jvm_log = f.read()
    if rc != 0 or not os.path.exists(result_path):
        sys.stderr.write(jvm_log[-4000:])
        log(f"benchmark process ended with {rc}")
        sys.exit(1)
    with open(result_path) as f:
        res = json.load(f)
    checks = res["checks"]
    if a.workload == "query_mix":
        passed, expected, report = compare_queries(
            data, os.path.join(run_dir, "query_outputs"))
        checks.append({"name": "query_mix.oracle",
                       "ok": passed == expected,
                       "detail": f"{passed} of {expected} pass"})
        for l in report:
            if l.startswith("FAIL"):
                log(l)
    for c in checks:
        log(f"check {c['name']}: {'ok' if c['ok'] else 'FAILED'} "
            f"({c['detail']})")
    for l in jvm_log.splitlines():
        if l.startswith("[perfbench]"):
            print(l, file=sys.stderr)
    for p in res["passes"]:
        log(f"pass {p['run']}: wall {p['wall_s']:.3f} s, "
            f"batch {p['batch_s']:.3f} s, {p['ops']} ops")
    if a.trace:
        shutil.copy(os.path.join(run_dir, "spans.jsonl"),
                    os.path.join(BUILD, f"spans-{a.workload}.jsonl"))
    shutil.rmtree(run_dir, ignore_errors=True)
    metrics = res["metrics"]
    if not a.trace:
        metrics = {k: metrics[k] for k in END_TO_END}
    correct = (res["failed"] == 0 and all(c["ok"] for c in checks) and
               all(m["value"] is not None for m in metrics.values()))
    print(json.dumps({"correct": correct, "attempted": res["attempted"],
                      "failed": res["failed"], "metrics": metrics}))


if __name__ == "__main__":
    main()
