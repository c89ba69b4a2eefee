#!/usr/bin/env python3
"""Generate the one-line-per-query registry index in ARCHITECTURE.md.

Scans src/main/scala/graft/queries/*.scala for `"name" -> QuerySpec(`
registrations, reads the contiguous comment block above each one, and
derives scale-strategy tags from the vocabulary those comments already
use (broadcast, skew-split, shared-stage, bounded-window, fold, ...).
Splices the table between the REGISTRY-INDEX markers in ARCHITECTURE.md
so a fresh context can audit 360 queries' scale strategies without
reading 24k LoC. Re-run after adding queries:

    python3 scripts/gen_registry_index.py

`--check` regenerates the block in memory and exits 1 if the committed
index has drifted from the registry (wired into scripts/preflight.sh —
r13 verdict directive #6: freshness as a gate, not a hand ritual).
"""
import os
import re
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
QDIR = os.path.join(ROOT, "src/main/scala/graft/queries")
ARCH = os.path.join(ROOT, "ARCHITECTURE.md")
BEGIN = "<!-- REGISTRY-INDEX:BEGIN (generated by scripts/gen_registry_index.py) -->"
END = "<!-- REGISTRY-INDEX:END -->"

# tag -> regex over the lower-cased comment block; ordered by priority
TAGS = [
    ("shared-stage", r"shared (edge |pair |label |census |train |codebook |stage|lsh)|sessionscopedcache|sharedstage|rides the shared|shared stage|shared co-purchase|shared lpa|shared n-gram|shared census"),
    ("skew-split", r"skew|head/tail|zipf"),
    ("broadcast", r"broadcast"),
    ("bucketed", r"bucket(ed|by|ing)"),
    ("bounded-window", r"bounded window|single-partition window|window.*bounded|provably bounded|domain-bounded"),
    ("fold", r"\bfold(s|ed)?\b"),
    ("watermark", r"watermark"),
    ("stateful-stream", r"state store|mapgroupswithstate|transformwithstate|flatmapgroups|dropduplicateswithinwatermark"),
    ("banded-lsh", r"\blsh\b|minhash|band(ed|ing)"),
    ("map-side-agg", r"map-side|partial agg|partial-agg|keyed agg"),
    ("top-k", r"takeordered|top-k|top k|limit is|\btop-\d+"),
    ("exact-decimal", r"decimal\(|2\^\d+-scaled|exact decimal|scaled integer"),
    ("iterative", r"\brounds?\b.*(iterat|propagat|converge)|fixed-round|per round"),
    ("sample", r"deterministic sample|hash-derandomized"),
    ("pushdown", r"pushed to the parquet|pushedfilters|partition prun|pushed down|prunes? at the (scan|source)"),
    ("window-func", r"window\.partitionby|over \(partition|window function|rank\(\)|row_number|running |cumulative|\bntile\b|\blag\b|\blead\b"),
    ("generator", r"\bexplode|posexplode|unnest|\bgenerator\b|\budtf\b|\bsequence\(|generate_series"),
    ("rollup-cube", r"\brollup\b|\bcube\b|grouping sets|grouping_id"),
    ("semi-anti-join", r"semi[- ]join|anti[- ]join|left_semi|left_anti|not exists|\bexists\b"),
    ("roundtrip-io", r"roundtrip|round[- ]trip|sink|write.*read[- ]back|jdbc|xlsx|csv scan|foreachbatch"),
    ("scan-agg", r"one (tight )?(pass|scan)|single (pass|scan)|scan-dominated|one keyed agg|one aggregate|tiny grouped|grouped output"),
]

def comment_block(lines, i):
    """Contiguous // comment lines directly above registration line i."""
    out = []
    j = i - 1
    while j >= 0 and lines[j].strip().startswith("//"):
        out.append(lines[j].strip().lstrip("/ "))
        j -= 1
    return " ".join(reversed(out))

REG = re.compile(r'\s*"([a-z0-9_]+)" -> QuerySpec\(')

STOP = re.compile(r"^(\}|  (private|def|val|object)\b|  /\*\*)")

def body_comments(lines, i):
    """Full-line // comments inside the QuerySpec body (up to the next
    entry or the end of the registry map) — much of the scale rationale
    lives next to the code it justifies. Inline '//' after code is NOT
    taken: oracle SQL strings contain DuckDB's integer-division '//'
    (e.g. `COALESCE(intra2, 0) // 2`), which is not a comment."""
    out = []
    for j in range(i + 1, min(len(lines), i + 200)):
        if REG.match(lines[j]) or STOP.match(lines[j]):
            break
        s = lines[j].strip()
        if s.startswith("//"):
            out.append(s.lstrip("/ "))
    return " ".join(out)

def main():
    rows = []
    for fn in sorted(os.listdir(QDIR)):
        if not fn.endswith(".scala"):
            continue
        path = os.path.join(QDIR, fn)
        lines = open(path, encoding="utf-8").read().splitlines()
        for i, l in enumerate(lines):
            m = REG.match(l)
            if not m:
                continue
            name = m.group(1)
            doc = (name.replace("_", " ") + " " +
                   comment_block(lines, i) + " " +
                   body_comments(lines, i)).lower()
            tags = [t for t, rx in TAGS if re.search(rx, doc)]
            rows.append((name, f"queries/{fn}:{i + 1}",
                         " ".join(tags[:4]) if tags else "-"))
    rows.sort()
    body = [BEGIN, "",
            f"{len(rows)} registry queries. Tags are derived from each",
            "query's own scale-rationale comment (first 4 shown); `-` means",
            "the comment uses none of the tag vocabulary — read it directly.",
            "",
            "| query | file:line | scale strategy |",
            "|---|---|---|"]
    body += [f"| `{n}` | {loc} | {tags} |" for n, loc, tags in rows]
    body += ["", END]
    text = open(ARCH, encoding="utf-8").read()
    block = "\n".join(body)
    if "--check" in sys.argv:
        if BEGIN in text and END in text and text.index(BEGIN) < text.index(END):
            committed = text[text.index(BEGIN):text.index(END) + len(END)]
        else:
            committed = ""
        if committed == block:
            print(f"registry index fresh ({len(rows)} rows)")
            return 0
        print("registry index STALE: ARCHITECTURE.md's generated block "
              "differs from the registry.\nRun: python3 "
              "scripts/gen_registry_index.py")
        return 1
    if BEGIN in text and END in text and text.index(BEGIN) < text.index(END):
        pre = text[:text.index(BEGIN)]
        post = text[text.index(END) + len(END):]
        text = pre + block + post
    else:
        text = text.rstrip() + "\n\n## Registry index\n\n" + block + "\n"
    open(ARCH, "w", encoding="utf-8").write(text)
    print(f"wrote {len(rows)} rows into ARCHITECTURE.md")
    return 0

if __name__ == "__main__":
    sys.exit(main())
