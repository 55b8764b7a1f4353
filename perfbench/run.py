#!/usr/bin/env python3
"""Benchmark runner for the graft engine.

Run from the root of a checkout:

    python3 perfbench/run.py --workload search|analytics \
        --seed N --seconds S --trace 0|1

Builds the engine and the benchmark code from source with sbt (once per
checkout; the build is reused while the sources are unchanged), runs the
workload in one JVM at local[4] with one client thread, checks the outputs,
and prints one JSON object as the last line of stdout:

    {"correct": .., "attempted": .., "failed": .., "metrics": {..}}

With --trace 0 the metrics are the end-to-end ones; with --trace 1 the
per-layer ones. The line before it carries the workload's named figures.
Everything the run writes stays under .bench_build/ in the checkout.
"""
import argparse
import hashlib
import json
import os
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
STATE = os.path.join(ROOT, ".bench_build", "perfbench")
ENGINE_SRC = os.path.join(ROOT, "src", "main", "scala")
JVM_TIMEOUT_S = 172
BUILD_TIMEOUT_S = 840

OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]

ANALYTICS_TABLES = ["documents", "events", "lineitem", "embeddings"]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def source_stamp():
    """Hash of every file the build reads from the checkout."""
    h = hashlib.sha256()
    roots = [ENGINE_SRC, os.path.join(HERE, "src")]
    files = [os.path.join(HERE, "build.sbt"),
             os.path.join(HERE, "project", "build.properties"),
             os.path.join(ROOT, "build.sbt")]
    for r in roots:
        for d, _, fs in os.walk(r):
            files += [os.path.join(d, f) for f in fs]
    for f in sorted(files):
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def build():
    """Compiles engine + benchmark; returns the runtime classpath."""
    if not os.path.isdir(os.path.join(ENGINE_SRC, "graft")):
        raise SystemExit("perfbench: engine sources (src/main/scala/graft) not found")
    os.makedirs(STATE, exist_ok=True)
    stamp_file = os.path.join(STATE, "build.stamp")
    cp_file = os.path.join(HERE, "target", "classpath.txt")
    stamp = source_stamp()
    if os.path.exists(stamp_file) and os.path.exists(cp_file):
        with open(stamp_file) as fh:
            if fh.read() == stamp:
                with open(cp_file) as f2:
                    return f2.read().strip()
    log("building engine and benchmark with sbt")
    cmd = ["sbt", "--batch", "-Dsbt.log.noformat=true", "-Dsbt.offline=true",
           "-Dsbt.server.forcestart=false",
           f"-Dsbt.global.base={os.path.join(STATE, 'sbt-global')}",
           "clean", "writeClasspath"]
    r = subprocess.run(cmd, cwd=HERE, stdout=sys.stderr, stderr=sys.stderr,
                       timeout=BUILD_TIMEOUT_S)
    if r.returncode != 0 or not os.path.exists(cp_file):
        raise SystemExit(f"perfbench: build failed ({r.returncode})")
    with open(stamp_file, "w") as fh:
        fh.write(stamp)
    with open(cp_file) as fh:
        return fh.read().strip()


def run_jvm(cp, args, work):
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cmd = ["java"]
    for p in OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += ["-Xmx3g", "-XX:+UseParallelGC", f"-Djava.io.tmpdir={tmp}",
            "-Dspark.ui.enabled=false", "-cp", cp,
            "graft.perfbench.Main"] + args
    proc = subprocess.Popen(cmd, cwd=work, stdout=sys.stderr, stderr=sys.stderr,
                            start_new_session=True)
    try:
        rc = proc.wait(timeout=JVM_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        os.killpg(proc.pid, 9)
        proc.wait()
        raise SystemExit("perfbench: workload timed out")
    if rc != 0:
        raise SystemExit(f"perfbench: workload exited with {rc}")


def duckdb_check(out):
    """Compares each analytics result with its oracle SQL run on DuckDB,
    the way the engine's own verify recipe does. Returns the number of
    results that differ.
    """
    import duckdb
    with open(os.path.join(out, "tables")) as fh:
        sf = fh.read().strip()
    with open(os.path.join(out, "oracle_sql.json")) as fh:
        oracle = json.load(fh)
    con = duckdb.connect()
    con.execute("SET threads TO 2")
    for t in ANALYTICS_TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{sf}/{t}.parquet/*.parquet'")
    wrong = 0
    for name, sql in oracle.items():
        try:
            exp = con.execute(sql).fetch_arrow_table()
            got = con.execute(
                f"SELECT * FROM '{out}/{name}/*.parquet'").fetch_arrow_table()
            ec, gc = sorted(exp.column_names), sorted(got.column_names)
            ok = ec == gc and exp.select(ec).to_pylist() == got.select(gc).to_pylist()
        except Exception as e:  # an oracle that does not run is a failed check
            log(f"oracle {name}: {e}")
            ok = False
        if not ok:
            log(f"analytics result {name} differs from the DuckDB oracle")
            wrong += 1
    con.close()
    return wrong


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True,
                    choices=["search", "analytics"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    a = ap.parse_args()

    cp = build()
    work = os.path.join(STATE, f"run-{a.workload}-{a.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    spans_dir = os.path.join(STATE, "spans")
    os.makedirs(spans_dir, exist_ok=True)
    try:
        out = os.path.join(work, "result.json")
        args = ["--workload", a.workload, "--seed", str(a.seed),
                "--seconds", str(a.seconds), "--trace", str(a.trace),
                "--work", work, "--out", out]
        if a.trace:
            args += ["--spans", os.path.join(
                spans_dir, f"{a.workload}-{a.seed}-{int(time.time())}.jsonl")]
        run_jvm(cp, args, work)
        with open(out) as fh:
            res = json.load(fh)
        failed = res["failed"]
        check_dir = os.path.join(work, "analytics_check")
        if os.path.isdir(check_dir):
            failed += duckdb_check(check_dir)
        attempted = res["attempted"]
        metrics = res["metrics"]
        if not a.trace:
            metrics["success_rate"] = {
                "value": max(0.0, 1.0 - failed / attempted), "unit": "ratio"}
        print(json.dumps({"workload": a.workload, "figures": res["figures"]}))
        print(json.dumps({"correct": failed == 0, "attempted": attempted,
                          "failed": failed, "metrics": metrics}))
    finally:
        shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    main()
