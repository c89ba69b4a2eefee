#!/usr/bin/env bash
# End-of-round snapshot gate.
#
# Round 4 ended with an uncompilable tree (a paren error landed right at
# snapshot time), so the round's bench never ran (BENCH_r04 rc=1) even
# though the fix was one character. A snapshot of a broken build is worse
# than no snapshot: every downstream artifact of the round (bench,
# correctness, judge verdict) silently degrades to "could not run".
#
# Run this before ANY end-of-round commit; it exits nonzero unless both
# main and test sources compile. Deliberately does NOT run the full test
# suite or verify sweep by default — those are quality gates with their
# own cadence; this is the cheap never-snapshot-a-broken-tree floor
# (~30 s warm).
#
# --full-sf: additionally run the Verify dump + DuckDB oracle compare at
# sf0.1 (~10 min). sf0.01 cannot see every scale bug on the ORACLE side
# either: round 6's sweep caught a DuckDB CTE-inlining blowup (k-core
# round chain re-expanding 3^5 times) that only bites once the edge table
# is big enough to exhaust temp disk. Run it when round time allows —
# at minimum whenever a round added or changed oracle SQL with chained /
# recursive CTEs.
set -euo pipefail
cd "$(dirname "$0")/.."
sbt -batch compile Test/compile < /dev/null
echo "preflight OK: main + test sources compile"

# Registry-index freshness (r13 directive #6): ARCHITECTURE.md's generated
# 362-row index must match the registry — it drifts on every line shift in
# queries/*.scala, and a stale committed index misleads the next context.
python3 scripts/gen_registry_index.py --check
echo "preflight OK: registry index fresh"

if [[ "${1:-}" == "--full-sf" ]]; then
  out=$(mktemp -d /tmp/preflight_sf01.XXXX)
  sbt -batch "runMain graft.Verify /root/testdata/sf0.1 $out" < /dev/null \
    2>&1 | tail -3
  python3 scripts/check.py "$out" /root/testdata/sf0.1
  echo "preflight OK: full sf0.1 verify sweep green"
fi

# --closing: the end-of-round closing-bench gate (r14 verdict #2 — a 31%
# total regression went unrecorded because no ritual demanded a final-tree
# bench statement). Requires a FRESH BENCH_DETAIL.json in the tree; diffs
# it against the previous round snapshot's committed detail and verifies
# PERF.md cites the fresh total and names every >1.5x mover.
if [[ "${1:-}" == "--closing" ]]; then
  prev_commit=$(git log --format=%H -1 --grep='^round .*: verdict')
  if [[ -z "$prev_commit" ]]; then
    echo "closing gate: no previous round snapshot found - skipping diff" >&2
  else
    git show "$prev_commit:BENCH_DETAIL.json" > /tmp/prev_bench_detail.json
    python3 scripts/closing_bench.py BENCH_DETAIL.json \
      /tmp/prev_bench_detail.json --check PERF.md
    echo "preflight OK: closing-bench narrative present in PERF.md"
  fi
fi

# --runners: the two runner contracts at sf0.001 on a one-query subset.
# Bench's last stdout line is the total JSON with a fixed key order, and
# its detail line lists the eleven shared stages (SparkEntry.sharedStages)
# first, in declared order; a Verify subset run leaves SUBSET_MARKER.json
# and oracle_sql.json. A subset Bench run never rewrites BENCH_DETAIL.json.
if [[ "${1:-}" == "--runners" ]]; then
  sf=/root/testdata/sf0.001
  out=$(mktemp -d /tmp/preflight_runners.XXXX)
  SPARK_GRAFT_SF_DIR=$sf SPARK_GRAFT_ONLY=agg_pricing_summary \
    SPARK_GRAFT_BENCH_RUNS=1 sbt -batch "runMain graft.Bench" \
    < /dev/null 2>/dev/null > "$out/bench.out"
  python3 - "$out/bench.out" <<'PY'
import json, sys
lines = [l for l in open(sys.argv[1]).read().splitlines() if l.strip()]
total = json.loads(lines[-1])
keys = ["metric", "value", "unit", "runs", "n_queries", "errors",
        "detail", "queries", "sf"]
assert list(total) == keys, f"total line keys {list(total)}"
detail = json.loads(next(l for l in lines if l.startswith('{"metric":"detail"')))
stages = ["dedup_lsh_shared_stage", "similarity_kmeans_shared_train",
          "graph_edges_shared_stage", "graph_lpa_shared_labels",
          "text_bpe_shared_train", "text_ngram_shared_census",
          "multimodal_png_shared_encode", "multimodal_wav_shared_encode",
          "learn_logreg_shared_train", "linkage_candidates_shared_stage",
          "events_sliced_fixture"]
got = list(detail["queries"])[:len(stages)]
assert got == stages, f"detail starts with {got}"
assert not total["errors"], f"bench errors: {total['errors']}"
PY
  echo "preflight OK: Bench stdout contract holds"
  SPARK_GRAFT_ONLY=agg_pricing_summary \
    sbt -batch "runMain graft.Verify $sf $out/verify" < /dev/null \
    > /dev/null 2>&1
  for f in SUBSET_MARKER.json oracle_sql.json; do
    [[ -s "$out/verify/$f" ]] || { echo "Verify wrote no $f" >&2; exit 1; }
  done
  echo "preflight OK: Verify subset run writes its marker and oracle SQL"
  rm -rf "$out"
fi
