#!/usr/bin/env python3
"""End-to-end benchmark of the importer: backfill, hourly merge, analytical
SQL and HTTP serve over generated GH Archive hour files.

Usage (from the repository root):
  python3 perfbench/run.py --workload <backfill|hourly_merge|query_mix|serve_http>
                           --seed <n> --seconds <s> --trace <0|1>

It builds the engine and the benchmark from source with sbt when the
sources changed since the last build, runs the workload in one JVM, checks
the outputs (ledger, DuckDB, idempotence) untimed, and prints one JSON line:
  {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}
With --trace 0 the metrics are the end-to-end ones; with --trace 1 the
per-layer ones (see README.md in this directory).
"""
import argparse
import hashlib
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time

import checks

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
ENGINE_SRC = os.path.join(ROOT, "src", "main", "scala")
BUILD_DIR = os.path.join(HERE, "target")
STAMP = os.path.join(BUILD_DIR, "perfbench-build.json")
JVM_TIMEOUT_S = 165
BUILD_TIMEOUT_S = 840
WORKLOADS = ("backfill", "hourly_merge", "query_mix", "serve_http")

# end-to-end metrics, reported by every workload: name -> unit
E2E = {
    "setup_s": "s",
    "op_p50_ms": "ms",
    "ops_per_s": "1/s",
    "stored_bytes_per_row": "B",
    "retained_heap_mb": "MB",
}

# per-layer metrics (every workload reports all; a layer off its path reads 0)
LAYER_UNITS = {
    "parser.busy_ms": "ms", "parser.task_cpu_ms": "ms",
    "parser.rows_in": "count", "parser.rows_out": "count",
    "writer.busy_ms": "ms", "writer.rows_read_back": "count",
    "writer.rows_written": "count", "writer.bytes_written": "B",
    "writer.files_written": "count", "writer.shuffle_bytes": "B",
    "writer.jobs": "count", "writer.rewrite_ratio": "ratio",
    "rewrite.busy_ms": "ms", "plan.analyze_ms": "ms",
    "plan.optimize_ms": "ms", "plan.physical_ms": "ms",
    "exec.busy_ms": "ms", "exec.jobs": "count", "exec.stages": "count",
    "exec.tasks": "count", "exec.task_run_ms": "ms", "exec.task_cpu_ms": "ms",
    "exec.cpu_share": "ratio", "exec.scan_rows": "count", "exec.scan_bytes": "B",
    "exec.scan_files": "count", "exec.shuffle_write_bytes": "B",
    "exec.spill_bytes": "B", "serve.server_ms": "ms", "serve.overhead_ms": "ms",
    "serve.jobs_per_request": "count", "serve.response_bytes": "B",
    "jvm.gc_ms": "ms", "jvm.gc_count": "count", "trace.ops": "count",
    "trace.coverage": "ratio", "trace.overhead_pct": "%",
}

ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(1)


def source_hash():
    h = hashlib.sha256()
    roots = [ENGINE_SRC, os.path.join(HERE, "src")]
    files = [os.path.join(HERE, "build.sbt"),
             os.path.join(HERE, "project", "build.properties")]
    for r in roots:
        for d, _, fs in os.walk(r):
            files += [os.path.join(d, f) for f in fs if f.endswith((".scala", ".java"))]
    for f in sorted(files):
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def build():
    """Compiles engine + benchmark with sbt unless the sources are unchanged.
    Returns the runtime classpath."""
    digest = source_hash()
    if os.path.exists(STAMP):
        with open(STAMP) as fh:
            stamp = json.load(fh)
        if stamp.get("hash") == digest:
            return stamp["classpath"]
    env = dict(os.environ, COURSIER_MODE="offline")
    opts = ["-Dsbt.offline=true", "-Dsbt.server.autostart=false", "-Xmx2g"]
    repos = os.path.expanduser("~/.sbt/repositories")
    if os.path.exists(repos):
        opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
    env["SBT_OPTS"] = " ".join(opts)
    os.makedirs(BUILD_DIR, exist_ok=True)
    log = os.path.join(BUILD_DIR, "build.log")
    with open(log, "w") as out:
        p = subprocess.Popen(
            ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
             "export Runtime/fullClasspath"],
            cwd=HERE, env=env, stdout=out, stderr=subprocess.STDOUT,
            stdin=subprocess.DEVNULL, start_new_session=True)
        code = wait(p, BUILD_TIMEOUT_S)
    with open(log) as fh:
        lines = fh.read().splitlines()
    cp = [ln for ln in lines if "perfbench/target" in ln and ":" in ln
          and not ln.startswith("[")]
    if code != 0 or not cp:
        sys.stderr.write("\n".join(lines[-40:]) + "\n")
        fail(f"build failed (exit {code}), log in {log}")
    with open(STAMP, "w") as fh:
        json.dump({"hash": digest, "classpath": cp[-1].strip()}, fh)
    return cp[-1].strip()


def wait(p, timeout):
    """Waits for a child; on timeout kills its whole process group."""
    try:
        return p.wait(timeout=timeout)
    except subprocess.TimeoutExpired:
        os.killpg(p.pid, signal.SIGKILL)
        p.wait()
        return None


def run_jvm(classpath, args, work):
    launch_ms = int(time.time() * 1000)
    jvm = ["java", "-Xmx2g", "-XX:+UseG1GC"]
    for o in ADD_OPENS:
        jvm += ["--add-opens", f"{o}=ALL-UNNAMED"]
    for d in ("tmp", "spark-local", "warehouse"):
        os.makedirs(os.path.join(work, d), exist_ok=True)
    jvm += [
        "-Dspark.ui.enabled=false",
        "-Dspark.sql.session.timeZone=UTC",
        f"-Dspark.local.dir={os.path.join(work, 'spark-local')}",
        f"-Dspark.sql.warehouse.dir={os.path.join(work, 'warehouse')}",
        f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}",
        "-cp", classpath, "perfbench.Main",
        args.workload, str(args.seed), str(args.seconds), str(args.trace), work,
        str(launch_ms), os.path.join(HERE, "queries.json"),
    ]
    log = os.path.join(work, "jvm.log")
    with open(log, "w") as out:
        p = subprocess.Popen(jvm, cwd=work, stdout=out, stderr=subprocess.STDOUT,
                             stdin=subprocess.DEVNULL, start_new_session=True)
        code = wait(p, JVM_TIMEOUT_S)
    result = os.path.join(work, "result.json")
    if code != 0 or not os.path.exists(result):
        with open(log, errors="replace") as fh:
            sys.stderr.write("".join(fh.readlines()[-60:]))
        fail(f"workload JVM exited with {code}")
    with open(result) as fh:
        return json.load(fh)


def e2e_metrics(res, check):
    ops = res["op_ms"]
    values = {
        "setup_s": res["setup_s"],
        "op_p50_ms": statistics.median(ops),
        "ops_per_s": len(ops) / res["window_s"],
        "stored_bytes_per_row": check["table_bytes"] / check["table_rows"],
        "retained_heap_mb": res["retained_heap_mb"],
    }
    return {k: {"value": values[k], "unit": u} for k, u in E2E.items()}


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    if not os.path.isdir(ENGINE_SRC):
        fail(f"engine sources not found at {ENGINE_SRC}")
    if shutil.which("java") is None or shutil.which("sbt") is None:
        fail("java and sbt are required")
    if not os.path.isdir(os.path.join(os.environ.get("SPARK_HOME", ""), "jars")):
        fail("SPARK_HOME must name a Spark installation with a jars directory")
    classpath = build()
    work = os.path.join(HERE, ".work", f"{args.workload}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    try:
        res = run_jvm(classpath, args, work)
        problems, check = checks.run(res)
        for p in problems:
            print(f"perfbench: check failed: {p}", file=sys.stderr)
        if not res["op_ms"]:
            fail("no untraced operation completed in the window")
        if args.trace:
            metrics = {k: {"value": float(res["trace"][k]), "unit": u}
                       for k, u in LAYER_UNITS.items()}
        else:
            metrics = e2e_metrics(res, check)
        print(json.dumps({"correct": not problems, "attempted": res["attempted"],
                          "failed": res["failed"], "metrics": metrics}))
    finally:
        shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    main()
