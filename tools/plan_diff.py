#!/usr/bin/env python3
"""Diff two directories of formatted-explain plan files, ignoring per-JVM noise.

Usage: python3 tools/plan_diff.py <dirA> <dirB>

Both directories come from `graft.Profile --plan-only --plans OUTDIR SUFFIX`
(one `<qNN>_<SUFFIX>.txt` per query), typically one run on the parent commit
and one on a change. Files are paired by query id, so the two runs may use
different suffixes. Before comparing, each file is masked for what differs
between any two JVMs (or checkouts) running the same plans:

  - expression ids (`#123`), `plan_id=`, `[id=#..]` and RDD ids (`RDD[45]`);
  - object hashes (`@5f2a9c1`) and lambda / `$anonfun` class names;
  - fresh lambda-variable names (`x_178`, `y_3`, `z_9`);
  - source call sites (`Dedup.scala:306`), so moved code still matches;
  - the checkout path in file-index locations (`file:/.../target/`,
    `file:/.../spark-warehouse/`).

Prints the files that exist on one side only or differ after masking (with
the first differing lines) and exits 1 if there is any; otherwise prints the
file count and exits 0. Dev-only tooling — not part of the Scala library.
"""
import difflib
import os
import re
import sys

MASKS = [
    (re.compile(r"[\w.$]*\$\$Lambda\$?[\w/$]*@[0-9a-f]+"), "<lambda>"),
    (re.compile(r"[\w.$]*\$anonfun\$[\w$]*"), "<anonfun>"),
    (re.compile(r"@[0-9a-f]{4,}\b"), "@<hash>"),
    (re.compile(r"\b[\w$]+\.scala:\d+"), "<callsite>"),
    (re.compile(r"file:[^\s\]]*?/(target|spark-warehouse)/"), r"file:<checkout>/\1/"),
    (re.compile(r"plan_id=\d+"), "plan_id=N"),
    (re.compile(r"RDD\[\d+\]"), "RDD[N]"),
    (re.compile(r"#\d+"), "#N"),
    (re.compile(r"\b([xyz])_\d+\b"), r"\1_N"),
]


def mask(text):
    for pattern, repl in MASKS:
        text = pattern.sub(repl, text)
    return text.splitlines()


def by_query(d):
    """Map query id (`q123`) -> file name; the suffix after the id is free."""
    out = {}
    for name in sorted(os.listdir(d)):
        if name.endswith(".txt"):
            out[name.split("_", 1)[0]] = name
    return out


def main(dir_a, dir_b):
    a, b = by_query(dir_a), by_query(dir_b)
    bad = []
    for q in sorted(set(a) - set(b)):
        bad.append(f"{a[q]}: only in {dir_a}")
    for q in sorted(set(b) - set(a)):
        bad.append(f"{b[q]}: only in {dir_b}")
    same = 0
    for q in sorted(set(a) & set(b)):
        with open(os.path.join(dir_a, a[q])) as fa, open(os.path.join(dir_b, b[q])) as fb:
            la, lb = mask(fa.read()), mask(fb.read())
        if la == lb:
            same += 1
            continue
        diff = list(difflib.unified_diff(la, lb, a[q], b[q], n=0, lineterm=""))
        bad.append("\n".join([f"{a[q]} differs:"] + diff[2:12]))
    for line in bad:
        print(line)
    print(f"== {same} same, {len(bad)} different ==")
    return 1 if bad else 0


if __name__ == "__main__":
    if len(sys.argv) != 3:
        sys.exit(__doc__)
    sys.exit(main(sys.argv[1], sys.argv[2]))
