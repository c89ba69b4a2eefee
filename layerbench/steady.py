#!/usr/bin/env python3
"""Steadiness check: the evidence behind the bounds in BENCHMARK.json.

    python3 layerbench/steady.py [--runs 10] [--sets 2] [--workloads a,b]

Run from the root of a checkout. For each workload it makes `--sets` sets
of `--runs` untraced runs, every run with its own seed (no seed repeats
across sets), and prints per set each end-to-end metric's median, first
and third quartile (``statistics.quantiles(values, n=4)``) and spread
(quartile distance over median), then the drift of each set's median from
the first set's. A metric fails when its spread exceeds a third of its
bound or a later set's median is worse than the first set's by more than
the bound. The exit code is the number of failures. Raw results, with each
run's detail line, are appended as JSON lines to `--log`.
"""
import argparse
import json
import os
import statistics
import subprocess
import sys

ROOT = os.getcwd()


def run_once(workload, seed, seconds):
    cmd = [sys.executable, os.path.join(os.path.dirname(__file__), "run.py"),
           "--workload", workload, "--seed", str(seed),
           "--seconds", str(seconds), "--trace", "0"]
    p = subprocess.run(cmd, capture_output=True, text=True, cwd=ROOT)
    lines = p.stdout.strip().splitlines()
    if p.returncode != 0 or not lines:
        sys.stderr.write(p.stderr[-3000:])
        raise SystemExit(f"{workload} seed {seed}: exit {p.returncode}")
    detail = [json.loads(x[len("# detail "):]) for x in lines
              if x.startswith("# detail ")]
    return json.loads(lines[-1]), (detail or [None])[0]


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--runs", type=int, default=10)
    ap.add_argument("--sets", type=int, default=2)
    ap.add_argument("--workloads", default="")
    ap.add_argument("--seed-base", type=int, default=100)
    ap.add_argument("--log", default="")
    args = ap.parse_args()
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        bench = json.load(fh)
    workloads = ([w for w in args.workloads.split(",") if w] or
                 [w["name"] for w in bench["workloads"]])
    metrics = {m["name"]: m for m in bench["end_to_end"]}
    failures = 0
    for w in workloads:
        sets = []
        for s in range(args.sets):
            values = {m: [] for m in metrics}
            for r in range(args.runs):
                seed = args.seed_base + 1000 * s + r
                res, detail = run_once(w, seed, bench["run_seconds"])
                if not res["correct"] or res["failed"]:
                    print(f"{w} seed {seed}: INCORRECT {res}")
                    failures += 1
                for m in metrics:
                    values[m].append(res["metrics"][m]["value"])
                if args.log:
                    with open(args.log, "a") as fh:
                        fh.write(json.dumps({"workload": w, "set": s,
                                             "seed": seed, **res,
                                             "detail": detail}) + "\n")
            sets.append(values)
        print(f"== {w}: {args.sets} sets x {args.runs} runs")
        for m, spec in metrics.items():
            bound = spec["bound"]
            lower = spec["better"] == "lower"
            meds = []
            for s, values in enumerate(sets):
                q1, med, q3 = statistics.quantiles(values[m], n=4)
                spread = (q3 - q1) / med
                meds.append(med)
                bad = spread > bound / 3
                failures += bad
                print(f"  {m:14s} set{s} median {med:12.4f} q1 {q1:12.4f} "
                      f"q3 {q3:12.4f} spread {spread:6.3f} "
                      f"(bound/3 {bound / 3:.3f}){'  FAIL' if bad else ''}")
            for s in range(1, len(meds)):
                drift = (meds[s] - meds[0]) / meds[0]
                worse = drift if lower else -drift
                bad = worse > bound
                failures += bad
                print(f"  {m:14s} set{s} vs set0 drift {drift:+.3f} "
                      f"(bound {bound}){'  FAIL' if bad else ''}")
    sys.exit(failures)


if __name__ == "__main__":
    main()
