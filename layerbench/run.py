#!/usr/bin/env python3
"""Benchmark entry point.

    python3 layerbench/run.py --workload <etl_e1|eager_mix> \
        --seed <n> --seconds <n> --trace <0|1>

Run from the root of a checkout. The first run builds the program and the
harness from source (sbt, offline); every run then generates its inputs
from the seed, measures one workload in one JVM, checks the outputs, and
prints one JSON object as the last line of standard output. With
``--trace 0`` it holds the end-to-end metrics, with ``--trace 1`` the
per-layer metrics. See NOTES.md.
"""
import sys

sys.dont_write_bytecode = True  # leave no __pycache__ in the checkout

import argparse  # noqa: E402
import glob
import hashlib
import importlib.util
import json
import math
import os
import re
import shutil
import signal
import statistics
import subprocess
import time

import gen

BENCH = os.path.dirname(os.path.abspath(__file__))
ROOT = os.getcwd()
WORKLOADS = ("etl_e1", "eager_mix")

# Input sizes. Row counts never depend on the seed.
E1_CONTACTS = 50_000
E1_CONTRACTS = 50_000
E1_RELATIONS = 5_000
LAKE_SF = 0.01  # eager_mix

# A fixed heap, committed and touched when the JVM starts: a heap that grows,
# and first touches of its pages during the passes, made pass times differ
# from JVM to JVM (NOTES.md).
JVM_HEAP = "3g"
JVM_FLAGS = [f"-Xms{JVM_HEAP}", f"-Xmx{JVM_HEAP}", "-XX:+AlwaysPreTouch"]
RUN_DEADLINE_S = 175  # a run, build excluded, must end within 180 s
BUILD_DEADLINE_S = 850

# The same --add-opens set the program's own build passes to its JVMs.
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def fail(msg, code=2):
    print(f"[layerbench] {msg}", file=sys.stderr)
    sys.exit(code)


def run_group(cmd, timeout, log_path, cwd=None, env=None):
    """Run `cmd` in its own process group with its output in `log_path`;
    kill the whole group on timeout and wait for it. Returns the exit
    code, or None on timeout."""
    with open(log_path, "w") as log:
        p = subprocess.Popen(cmd, cwd=cwd, env=env, stdout=log,
                             stderr=subprocess.STDOUT,
                             start_new_session=True)
        try:
            return p.wait(timeout=timeout)
        except subprocess.TimeoutExpired:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()
            return None
        except BaseException:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()
            raise


def tail(path, n=40):
    try:
        with open(path, errors="replace") as fh:
            return "".join(fh.readlines()[-n:])
    except OSError:
        return ""


# ------------------------------------------------------------------ build

def source_stamp():
    h = hashlib.sha256()
    files = sorted(glob.glob(os.path.join(ROOT, "src/main/scala/**/*.scala"),
                             recursive=True) +
                   glob.glob(os.path.join(BENCH, "src/**/*.scala"),
                             recursive=True) +
                   [os.path.join(BENCH, "build.sbt"),
                    os.path.join(BENCH, "project/build.properties")])
    for f in files:
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def ensure_build():
    """Compile the program's sources and the harness once per source
    state; return the runtime classpath."""
    cp_file = os.path.join(BENCH, "target", "bench-classpath.txt")
    stamp_file = os.path.join(BENCH, "target", "bench-stamp.txt")
    stamp = source_stamp()
    if os.path.exists(cp_file) and os.path.exists(stamp_file):
        with open(stamp_file) as fh:
            if fh.read() == stamp:
                with open(cp_file) as c:
                    return c.read().strip()
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    if "SBT_OPTS" not in env:
        opts = ["-Dsbt.offline=true", "-Xmx2g"]
        repos = os.path.expanduser("~/.sbt/repositories")
        if os.path.exists(repos):
            opts += ["-Dsbt.override.build.repos=true",
                     f"-Dsbt.repository.config={repos}"]
        env["SBT_OPTS"] = " ".join(opts)
    os.makedirs(os.path.join(BENCH, "target"), exist_ok=True)
    log = os.path.join(BENCH, "target", "bench-build.log")
    rc = run_group(["sbt", "-batch", "-Dsbt.log.noformat=true",
                    "compile", "writeClasspath"],
                   BUILD_DEADLINE_S, log, cwd=BENCH, env=env)
    if rc != 0 or not os.path.exists(cp_file):
        fail(f"build failed (exit {rc}):\n{tail(log)}", 3)
    with open(stamp_file, "w") as fh:
        fh.write(stamp)
    with open(cp_file) as c:
        return c.read().strip()


# ---------------------------------------------------------------- checks

def load_check_module():
    """scripts/check.py's canonical form, so the benchmark compares results
    exactly as the repository's own correctness check does."""
    path = os.path.join(ROOT, "scripts", "check.py")
    spec = importlib.util.spec_from_file_location("graft_check", path)
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def canon_hash(check, df):
    cols, rows = check.canon(df)
    h = hashlib.sha256(repr(cols).encode())
    for r in rows:
        h.update(repr(r).encode())
    return h.hexdigest(), len(rows)


def oracle_compare(lake_dir, check_dir, oracles, queries):
    """Hash every dumped result and its DuckDB oracle in check.py's
    canonical form; return the names that differ or fail."""
    import duckdb
    check = load_check_module()
    con = duckdb.connect()
    check.make_views(con, lake_dir)
    bad = []
    for q in queries:
        try:
            sql = oracles[q]
            got = con.sql(
                f"SELECT * FROM '{check_dir}/{q}/*.parquet'").df()
            want = con.sql(sql).df()
            if canon_hash(check, got) != canon_hash(check, want):
                bad.append(q)
                print(f"[layerbench] {q}: result differs from the oracle",
                      file=sys.stderr)
        except Exception as e:  # a missing oracle or result is a failure
            bad.append(q)
            print(f"[layerbench] {q}: {e}", file=sys.stderr)
    con.close()
    return bad


def tables_read(sql):
    return [t for t in gen.lake_rows(1) if re.search(rf"\b{t}\b", sql)]


# ---------------------------------------------------------------- metrics

def pctl(xs, q):
    """Nearest-rank percentile."""
    return sorted(xs)[max(0, math.ceil(q * len(xs)) - 1)]


def end_to_end(raw, source_rows):
    pass_s = statistics.median(raw["pass_s"])
    return {
        "setup_s": (raw["setup_s"], "s"),
        "pass_s": (pass_s, "s"),
        "heap_peak_mb": (raw["heap_peak_bytes"] / 2 ** 20, "MiB"),
        "rows_per_s": (source_rows / pass_s, "1/s"),
    }


LAYER_UNITS = {
    "cold_pass_s": "s", "query_p50_s": "s", "query_p90_s": "s",
    "io.csv_read_s": "s", "io.csv_read_jobs": "count",
    "io.xlsx_read_s": "s", "io.pk_audit_s": "s", "io.pk_audit_jobs": "count",
    "io.sink_s": "s", "io.sink_bytes": "bytes", "io.sink_files": "count",
    "etl.build_s": "s", "etl.source_reads_per_row": "ratio",
    "queries.build_s": "s", "queries.build_jobs": "count",
    "queries.build_tasks": "count", "spark.plan_s": "s", "spark.exec_s": "s",
    "spark.exec_jobs": "count", "spark.stages": "count",
    "spark.tasks": "count", "spark.task_run_s": "s", "spark.task_cpu_s": "s",
    "spark.sched_delay_s": "s", "spark.gc_s": "s",
    "spark.input_bytes": "bytes", "spark.input_records": "count",
    "spark.shuffle_read_bytes": "bytes", "spark.shuffle_write_bytes": "bytes",
    "spark.spill_bytes": "bytes", "spark.peak_exec_mem_bytes": "bytes",
    "util.shared_stage_s.graph_edges_shared_stage": "s",
    "util.shared_stage_s.events_sliced_fixture": "s",
    "streaming.batches": "count", "streaming.latest_offset_s": "s",
    "streaming.get_batch_s": "s", "streaming.query_planning_s": "s",
    "streaming.add_batch_s": "s", "streaming.wal_commit_s": "s",
    "streaming.trigger_s": "s", "trace.overhead_frac": "ratio",
    "trace.unattributed_task_s": "s",
}


def per_layer(raw, source_rows):
    """Median over the traced passes of each layer metric."""
    samples = raw["layers"]
    med = {k: statistics.median(s[k] for s in samples) for k in samples[0]}
    out = {k: med[k] for k in LAYER_UNITS if k in med}
    out["cold_pass_s"] = raw["cold_pass_s"]
    # operation times of the untraced timed passes
    ops = [t for _, t in raw["op_s"]]
    out["query_p50_s"] = statistics.median(ops)
    out["query_p90_s"] = pctl(ops, 0.9)
    out["etl.source_reads_per_row"] = (
        med["etl.input_records"] / source_rows
        if raw["workload"] == "etl_e1" else 0.0)
    for stage in ("graph_edges_shared_stage", "events_sliced_fixture"):
        out[f"util.shared_stage_s.{stage}"] = raw["shared_stage_s"].get(
            stage, 0.0)
    # traced pass over its untraced partner, median over the pairs
    out["trace.overhead_frac"] = statistics.median(raw["trace_overhead"])
    # exact attribution: every task belongs to a span
    out["trace.unattributed_task_s"] = max(
        s["trace.unattributed_task_s"] for s in samples)
    return {k: (out[k], LAYER_UNITS[k]) for k in LAYER_UNITS}


# ------------------------------------------------------------------- main

def main():
    # a terminated run still stops its JVM (run_group) and removes its inputs
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft")):
        fail("no program sources under src/main/scala/graft: run from the "
             "root of a checkout")
    classpath = ensure_build()
    started = time.monotonic()

    work = os.path.join(BENCH, ".work",
                        f"{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    try:
        data = os.path.join(work, "data")
        expect = ""
        if args.workload == "etl_e1":
            _, rows, expected = gen.e1_sources(
                data, args.seed, E1_CONTACTS, E1_CONTRACTS, E1_RELATIONS)
            source_rows = sum(rows.values())
            expect = ",".join(f"{k}:{v}" for k, v in expected.items())
        else:
            lake_rows = gen.lake(data, args.seed, LAKE_SF)

        out = os.path.join(work, "result.json")
        log = os.path.join(work, "jvm.log")
        cmd = (["java"] + JVM_FLAGS +
               [f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}"] +
               [a for p in ADD_OPENS
                for a in ("--add-opens", f"{p}=ALL-UNNAMED")] +
               ["-cp", classpath, "layerbench.Main",
                f"workload={args.workload}", f"seconds={args.seconds}",
                f"trace={args.trace}", f"data={data}", f"work={work}",
                f"out={out}", f"expect={expect}"])
        budget = RUN_DEADLINE_S - (time.monotonic() - started)
        # Spark's local dirs (shuffle, spill, blocks) stay in the checkout
        env = dict(os.environ, SPARK_LOCAL_DIRS=os.path.join(work, "tmp"))
        rc = run_group(cmd, budget, log, cwd=work, env=env)
        if rc != 0 or not os.path.exists(out):
            fail(f"measuring JVM failed (exit {rc}):\n{tail(log)}", 4)
        with open(out) as fh:
            raw = json.load(fh)

        failed = raw["failed"]
        for e in raw["errors"]:
            print(f"[layerbench] {e}", file=sys.stderr)
        if args.workload != "etl_e1":
            queries = raw["queries"]
            failed += len(oracle_compare(data, os.path.join(work, "check"),
                                         raw["oracle"], queries))
            # generated rows of the base tables each query's oracle reads
            source_rows = sum(lake_rows[t] for q in queries
                              for t in tables_read(raw["oracle"].get(q, "")))

        if args.trace:
            metrics = per_layer(raw, source_rows)
            # exact attribution: a task outside every span is a failure
            leak = metrics["trace.unattributed_task_s"][0]
            if leak != 0:
                failed += 1
                print(f"[layerbench] {leak} s of task time carries no span "
                      "tag", file=sys.stderr)
        else:
            metrics = end_to_end(raw, source_rows)
        detail = {"workload": args.workload, "seed": args.seed,
                  "cpus": raw["cpus"], "source_rows": source_rows,
                  "timed_passes": len(raw["pass_s"]),
                  "traced_passes": len(raw["traced_pass_s"]),
                  "cold_pass_s": raw["cold_pass_s"],
                  "run_s": time.monotonic() - started,
                  "query_p90_samples": len(raw["op_s"]),
                  "pass_s": raw["pass_s"], "setup_s": raw["setup_s"],
                  "op_median_s": {
                      n: statistics.median(t for m, t in raw["op_s"] if m == n)
                      for n in dict.fromkeys(m for m, _ in raw["op_s"])}}
        print("# detail " + json.dumps(detail))
        print(json.dumps({
            "correct": failed == 0,
            "attempted": raw["attempted"],
            "failed": failed,
            "metrics": {k: {"value": v, "unit": u}
                        for k, (v, u) in metrics.items()},
        }))
    finally:
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(work))  # only if no other run uses it
        except OSError:
            pass


if __name__ == "__main__":
    main()
