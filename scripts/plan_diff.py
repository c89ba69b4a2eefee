#!/usr/bin/env python3
"""Diff two `graft.tools.Explain` dumps entry by entry.

A refactor that claims "same plans" is proven by identical formatted
physical plans. Two dumps of the same tree still differ in strings that
carry no plan content, so both sides are normalized first:

  - expression ids (`#123`, `#45L`) and lambda variable names (`x_12`);
  - RDD ids (`MapPartitionsRDD[50]`), call sites (`Foo.scala:82`) and
    exchange ids (`plan_id=3519`);
  - session scratch paths (`graft_<name>_<session>_p<pid>[_s<n>]`) and
    the checkout root;
  - lambda and object identity strings (`$$Lambda$89/0x7f..@3ac3`,
    `UnsafeArrayData@582dcbb3`);
  - in an entry with an `Expand` node (distinct aggregates, rollups),
    the order of the Expand's projections, the numbering of its group
    id, and the order of items in every operator list: Spark orders the
    distinct groups differently from one JVM run to the next, which
    permutes the group ids and the columns of every list downstream.

Usage:
    sbt "runMain graft.tools.Explain <sfdir>" > a.txt   # on each tree
    python3 scripts/plan_diff.py a.txt b.txt

Prints a unified diff of every entry that differs, and a summary line.
Exits 1 if any entry differs or is present on one side only, else 0.
"""
import difflib
import re
import sys

HEADER = re.compile(r"^===== (\S+) =====$")

SUBS = [
    (re.compile(r"#\d+L?\b"), "#N"),
    (re.compile(r"\b(lambda \w+?)_\d+\b"), r"\1_N"),
    (re.compile(r"\b(\w*RDD)\[\d+\]"), r"\1[N]"),
    (re.compile(r"\b(\w+\.scala):\d+"), r"\1:N"),
    (re.compile(r"plan_id=\d+"), "plan_id=N"),
    (re.compile(r"(graft_\w+?)_[0-9a-f]{8}_p[0-9a-z]+(?:_s[0-9a-z]+)?"),
     r"\1_<session>"),
    (re.compile(r"\$\$Lambda\$?[\w$]*/0x[0-9a-f]+@[0-9a-f]+"), "$$Lambda@N"),
    (re.compile(r"@[0-9a-f]{5,}\b"), "@N"),
]


def split_top(s):
    """Split `[a, [b, c]], [d]` on its top-level commas."""
    parts, depth, cur = [], 0, []
    for ch in s:
        if ch in "[(":
            depth += 1
        elif ch in "])":
            depth -= 1
        if ch == "," and depth == 0:
            parts.append("".join(cur).strip())
            cur = []
        else:
            cur.append(ch)
    parts.append("".join(cur).strip())
    return parts


def bracket_end(s, i):
    """Index of the bracket closing the one opened at `s[i]`."""
    depth = 0
    for j in range(i, len(s)):
        if s[j] in "[(":
            depth += 1
        elif s[j] in "])":
            depth -= 1
            if depth == 0:
                return j
    return len(s) - 1


def sort_lists(s):
    """`s` with the items of every `[...]` list and of every
    `hashpartitioning(...)` key list sorted, innermost first."""
    out, i = [], 0
    while i < len(s):
        if s[i] == "[" or s.startswith("hashpartitioning(", i):
            start = s.index("(", i) if s[i] != "[" else i
            end = bracket_end(s, start)
            items = [sort_lists(x) for x in split_top(s[start + 1:end])]
            tail = items[-1:] if s[start] == "(" else []  # partition count
            keys = sorted(items[:len(items) - len(tail)])
            out.append(s[i:start + 1] + ", ".join(keys + tail) + s[end])
            i = end + 1
        else:
            out.append(s[i])
            i += 1
    return "".join(out)


def canonical_expand(lines, at):
    """Rewrite the Expand arguments at `lines[at]` as sorted projections of
    `column=value` pairs, renumber its group id by that order (here and in
    every `(gid = k)` test of the entry), then sort every list."""
    args = split_top(lines[at][len("Arguments: "):])
    projections = [split_top(p[1:-1]) for p in split_top(args[0][1:-1])]
    output = split_top(args[1][1:-1])
    gid = next((j for j in range(len(output))
                if all(p[j].isdigit() for p in projections)), None)
    if gid is None:
        return [sort_lists(l) for l in lines]
    keyed = sorted((sorted(f"{o}={v}" for k, (o, v) in
                           enumerate(zip(output, p)) if k != gid), p[gid])
                   for p in projections)
    renumber = {old: str(i) for i, (_, old) in enumerate(keyed)}
    lines = list(lines)
    lines[at] = "Arguments: " + ", ".join(
        "[" + ", ".join(pairs + [f"{output[gid]}={renumber[old]}"]) + "]"
        for pairs, old in keyed)
    test = re.compile(re.escape(output[gid]) + r" = (\d+)\b")
    return [sort_lists(test.sub(lambda m: f"{output[gid]} = "
                                + renumber.get(m.group(1), m.group(1)), l))
            for l in lines]


def normalize(lines, root):
    out, expands, in_expand = [], [], False
    for line in lines:
        if root:
            line = line.replace(root, "<root>")
        for pat, rep in SUBS:
            line = pat.sub(rep, line)
        if re.match(r"^\(\d+\) ", line):
            in_expand = line.split(" ", 1)[1].startswith("Expand")
        elif in_expand and line.startswith("Arguments: "):
            expands.append(len(out))
        out.append(line)
    if len(expands) == 1:
        return canonical_expand(out, expands[0])
    return [sort_lists(l) for l in out] if expands else out


def entries(path):
    """{entry name: plan lines}, and the checkout root sbt reports."""
    found, name, root = {}, None, None
    with open(path, encoding="utf-8", errors="replace") as f:
        for raw in f:
            line = raw.rstrip("\n")
            m = HEADER.match(line)
            if m:
                name = m.group(1)
                found[name] = []
            elif name is not None:
                found[name].append(line)
            elif root is None:
                r = re.search(r"\(in build file:(/\S+?)/?\)", line)
                root = r.group(1) if r else None
    return found, root


def main(argv):
    if len(argv) != 3:
        print("usage: plan_diff.py A.txt B.txt", file=sys.stderr)
        return 2
    (a, root_a), (b, root_b) = entries(argv[1]), entries(argv[2])
    only = sorted(set(a) ^ set(b))
    for n in only:
        print(f"ONLY IN {'A' if n in a else 'B'}: {n}")
    differ = 0
    for n in sorted(set(a) & set(b)):
        la, lb = normalize(a[n], root_a), normalize(b[n], root_b)
        if la != lb:
            differ += 1
            sys.stdout.writelines(l + "\n" for l in difflib.unified_diff(
                la, lb, f"A/{n}", f"B/{n}", n=0, lineterm=""))
    same = len(set(a) & set(b)) - differ
    print(f"plan_diff: {same} identical, {differ} differ, "
          f"{len(only)} on one side only")
    return 1 if differ or only else 0


if __name__ == "__main__":
    sys.exit(main(sys.argv))
