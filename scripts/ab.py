#!/usr/bin/env python3
"""Paired A/B of two trees on one layerbench workload.

    python3 scripts/ab.py --parent <rev> [--change <rev>] \\
        --workload <etl_e1|eager_mix> --pairs N [--traced M] \\
        [--seeds 1-6,11-14] [--workdir DIR] [--log FILE]

Run from the root of a checkout. Each side is copied into its own
directory under --workdir (`git archive` of the revision; without
--change, the checkout's working tree: tracked and untracked files that
git does not ignore) and builds there, so nothing is built or written in
the checkout. A copy is reused while its content is unchanged. Each side
first runs one short untimed pass, which builds it and warms the file
cache.

Then come N untraced pairs and M traced pairs. Pair i runs both sides on
the i-th seed (default 1..max(N, M)), parent first in even pairs and
change first in odd ones. Every run is `layerbench/run.py` with the
`run_seconds` of BENCHMARK.json; its result line and detail line are
appended to --log.

Printed, untraced: per end-to-end metric of BENCHMARK.json, each side's
median and quartiles, the change in the median, the number of pairs in
which the change was better (ties count for neither), the metric's bound
and one verdict:
  - "worse > bound" if the change's median is worse than the parent's by
    more than the bound;
  - "gain" if the change was better in at least nine tenths of the pairs
    and the medians differ by more than the parent's quartile distance;
  - "within bound" otherwise.
Traced: per per-layer metric, each side's median; for count and byte
metrics also every pair's difference, or "same" when every pair is equal.
Both sections end with the runs attempted, failed and not correct.

Reads BENCHMARK.json; writes only under --workdir and to --log.
Exits 1 if any run failed to produce a result, else 0.
"""
import argparse
import hashlib
import io
import json
import os
import shutil
import statistics
import subprocess
import sys
import tarfile
import tempfile

ROOT = os.getcwd()


def git(*args, data=False):
    out = subprocess.run(["git", *args], cwd=ROOT, check=True,
                         capture_output=True).stdout
    return out if data else out.decode().strip()


def seeds_of(spec, n):
    """'1-6,11-14' -> [1..6, 11..14]; None -> 1..n."""
    if not spec:
        return list(range(1, n + 1))
    out = []
    for part in spec.split(","):
        lo, _, hi = part.partition("-")
        out += range(int(lo), int(hi or lo) + 1)
    if len(out) < n:
        sys.exit(f"ab: {len(out)} seeds for {n} pairs")
    return out


def worktree_files():
    return sorted(f for f in git("ls-files", "-co", "--exclude-standard",
                                 "-z").split("\0")
                  if f and os.path.isfile(os.path.join(ROOT, f)))


def materialize(workdir, label, rev):
    """A copy of `rev` (None: the working tree) under workdir, named by
    its content, built there by its first run."""
    if rev is None:
        files = worktree_files()
        h = hashlib.sha256()
        for f in files:
            h.update(f.encode() + b"\0")
            with open(os.path.join(ROOT, f), "rb") as fh:
                h.update(hashlib.sha256(fh.read()).digest())
        key = "wt-" + h.hexdigest()[:12]
    else:
        key = git("rev-parse", "--verify", f"{rev}^{{commit}}")[:12]
    path = os.path.join(workdir, f"{label}-{key}")
    ready = os.path.join(path, ".ab-ready")
    if not os.path.exists(ready):
        shutil.rmtree(path, ignore_errors=True)
        os.makedirs(path)
        if rev is None:
            for f in files:
                dst = os.path.join(path, f)
                os.makedirs(os.path.dirname(dst), exist_ok=True)
                shutil.copy2(os.path.join(ROOT, f), dst)
        else:
            with tarfile.open(fileobj=io.BytesIO(
                    git("archive", key, data=True))) as tar:
                tar.extractall(path)
        open(ready, "w").close()
    return key, path


def run(path, workload, seed, seconds, trace):
    """One layerbench run in `path`: (result, detail), or (None, stderr)."""
    p = subprocess.run(
        [sys.executable, "layerbench/run.py", "--workload", workload,
         "--seed", str(seed), "--seconds", str(seconds),
         "--trace", str(trace)], cwd=path, capture_output=True, text=True)
    lines = p.stdout.strip().splitlines()
    if p.returncode != 0 or not lines:
        return None, p.stderr[-2000:]
    detail = next((json.loads(l[len("# detail "):]) for l in lines
                   if l.startswith("# detail ")), {})
    return json.loads(lines[-1]), detail


def quartiles(xs):
    if len(xs) < 2:
        return xs[0], xs[0], xs[0]
    return tuple(statistics.quantiles(xs, n=4, method="inclusive"))


def fmt(v):
    """Whole numbers in full (counts, bytes), others to four digits."""
    return str(int(v)) if float(v).is_integer() else f"{v:.4g}"


def better(a, b, sense):
    """Whether value b is better than a."""
    return b < a if sense == "lower" else b > a


def table(rows):
    """Rows of cells, left-aligned in columns as wide as their cells."""
    widths = [max(len(r[i]) for r in rows) for i in range(len(rows[0]))]
    for r in rows:
        print("  ".join(c.ljust(w) for c, w in zip(r, widths)).rstrip())


def report_untraced(pairs, metrics):
    n = len(pairs)
    print(f"untraced: {n} pairs (seeds {[p['seed'] for p in pairs]})")
    rows = [["metric", "parent median [q1, q3]", "change median [q1, q3]",
             "delta", "better", "bound", "verdict"]]
    for m in metrics:
        name, sense, bound = m["name"], m["better"], m["bound"]
        a = [p["parent"]["metrics"][name]["value"] for p in pairs]
        b = [p["change"]["metrics"][name]["value"] for p in pairs]
        qa, qb = quartiles(a), quartiles(b)
        ma, mb = qa[1], qb[1]
        wins = sum(better(x, y, sense) for x, y in zip(a, b))
        worse = (mb - ma) if sense == "lower" else (ma - mb)
        if worse > bound * abs(ma):
            verdict = "worse > bound"
        elif wins * 10 >= 9 * n and abs(mb - ma) > qa[2] - qa[0]:
            verdict = "gain"
        else:
            verdict = "within bound"
        rows.append([name, f"{fmt(ma)} [{fmt(qa[0])}, {fmt(qa[2])}]",
                     f"{fmt(mb)} [{fmt(qb[0])}, {fmt(qb[2])}]",
                     f"{(mb - ma) / ma * 100 if ma else 0.0:+.1f}%",
                     f"{wins}/{n}", str(bound), verdict])
    table(rows)


def report_traced(pairs, layers):
    print(f"traced: {len(pairs)} pairs (seeds {[p['seed'] for p in pairs]})")
    rows = [["metric", "parent median", "change median", "change - parent"]]
    for m in layers:
        name, unit = m["name"], m["unit"]
        a = [p["parent"]["metrics"][name]["value"] for p in pairs]
        b = [p["change"]["metrics"][name]["value"] for p in pairs]
        diffs = [y - x for x, y in zip(a, b)]
        rows.append([name, fmt(statistics.median(a)),
                     fmt(statistics.median(b)),
                     "" if unit not in ("count", "bytes") else
                     "same" if not any(diffs) else
                     ", ".join(f"{d:+}" for d in map(int, diffs))])
    table(rows)


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--parent", required=True)
    ap.add_argument("--change")
    ap.add_argument("--workload", required=True,
                    choices=("etl_e1", "eager_mix"))
    ap.add_argument("--pairs", type=int, required=True)
    ap.add_argument("--traced", type=int, default=0)
    ap.add_argument("--seeds")
    ap.add_argument("--workdir",
                    default=os.path.join(tempfile.gettempdir(), "graft-ab"))
    ap.add_argument("--log")
    args = ap.parse_args()

    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        bench = json.load(fh)
    seconds = bench["run_seconds"]
    seeds = seeds_of(args.seeds, max(args.pairs, args.traced))
    os.makedirs(args.workdir, exist_ok=True)
    log = args.log or os.path.join(
        args.workdir, f"ab-{args.workload}-{os.getpid()}.jsonl")
    sides = {}
    for label, rev in (("parent", args.parent), ("change", args.change)):
        key, path = materialize(args.workdir, label, rev)
        sides[label] = path
        print(f"[ab] {label} = {key} in {path}", file=sys.stderr)
        res, err = run(path, args.workload, 0, 1, 0)
        if res is None:
            sys.exit(f"ab: {label} does not build or run:\n{err}")

    lost = 0
    done = {0: [], 1: []}
    plan = [(i, 0) for i in range(args.pairs)] + \
           [(i, 1) for i in range(args.traced)]
    for i, trace in plan:
        seed = seeds[i]
        order = ("parent", "change") if i % 2 == 0 else ("change", "parent")
        pair = {"seed": seed}
        for label in order:
            res, detail = run(sides[label], args.workload, seed, seconds,
                              trace)
            if res is None:
                lost += 1
                print(f"[ab] {label} seed {seed} trace {trace} gave no "
                      f"result:\n{detail}", file=sys.stderr)
            pair[label] = res
            with open(log, "a") as fh:
                fh.write(json.dumps({"side": label, "seed": seed,
                                     "trace": trace, "result": res,
                                     "detail": detail}) + "\n")
        if pair["parent"] and pair["change"]:
            done[trace].append(pair)
        print(f"[ab] pair {i + 1} trace {trace} seed {seed} done",
              file=sys.stderr)

    print(f"ab.py {args.workload}: parent {args.parent}, change "
          f"{args.change or 'working tree'}, run_seconds {seconds}")
    for trace, pairs in done.items():
        if not pairs:
            continue
        if trace:
            report_traced(pairs, bench["per_layer"])
        else:
            report_untraced(pairs, bench["end_to_end"])
        runs = [p[s] for p in pairs for s in ("parent", "change")]
        print(f"runs: {len(runs)} with a result, "
              f"{sum(r['failed'] for r in runs)} failed of "
              f"{sum(r['attempted'] for r in runs)} operations, "
              f"{sum(not r['correct'] for r in runs)} not correct")
    print(f"runs without a result: {lost}")
    print(f"log: {log}", file=sys.stderr)
    sys.exit(1 if lost else 0)


if __name__ == "__main__":
    main()
