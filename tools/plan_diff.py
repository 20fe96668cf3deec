#!/usr/bin/env python3
"""Diff two graft.Bench plan dumps after masking run-varying values.

`SPARK_GRAFT_PLANS_DIR=<dir> tools/run.sh graft.Bench` writes each bench
entry's formatted plan to `<dir>/<name>.txt`. Two dumps of the same
plans still differ in ids that every run draws afresh (expression ids,
plan ids, RDD ids, object hashes, JVM lambda classes, accumulator ids,
temp paths). This script masks those with placeholders, then compares
the dumps file by file: a file present on one side only, or any line
left different, is a difference.

Run: python3 tools/plan_diff.py <parent_dir> <change_dir>
     (exit 0 = every plan identical, 1 = a difference, 2 = bad usage)
"""
import difflib
import os
import re
import sys

# (what, pattern, placeholder), applied in order
MASKS = [
    ("JVM lambda classes", r"\$\$Lambda(?:\$\d+)?/0x[0-9a-f]+", "$$Lambda"),
    ("object hashes", r"@[0-9a-f]{5,}", "@H"),
    ("expression ids", r"#\d+L?", "#N"),
    ("plan ids", r"plan_id=\d+", "plan_id=N"),
    ("RDD ids", r"\[\d+\] at ", "[N] at "),
    ("RDD ids", r"RDD\[\d+\]", "RDD[N]"),
    ("RDD ids", r"rddId=\d+", "rddId=N"),
    ("RDD ids", r"\bRDD \d+", "RDD N"),
    ("accumulator ids", r"Accumulator\(id: \d+", "Accumulator(id: N"),
    ("temp paths", r"/tmp/[^\s,\]\)]*", "/tmp/..."),
]
_COMPILED = [(re.compile(p), r) for _, p, r in MASKS]


def normalise(text):
    for pattern, placeholder in _COMPILED:
        text = pattern.sub(placeholder, text)
    return text


def plans(d):
    return {f[:-4] for f in os.listdir(d) if f.endswith(".txt")}


def diff(dir_a, dir_b, out=sys.stdout, context=3):
    """Print the differences between two dumps; return how many plans
    differ (a plan missing on one side counts as one)."""
    a, b = plans(dir_a), plans(dir_b)
    differing = 0
    for name in sorted(a ^ b):
        where = dir_a if name in a else dir_b
        print(f"ONLY IN {where}: {name}", file=out)
        differing += 1
    for name in sorted(a & b):
        texts = []
        for d in (dir_a, dir_b):
            with open(os.path.join(d, name + ".txt"), encoding="utf-8") as f:
                texts.append(normalise(f.read()).splitlines())
        if texts[0] != texts[1]:
            differing += 1
            print(f"DIFF {name}", file=out)
            for line in difflib.unified_diff(texts[0], texts[1], dir_a,
                                             dir_b, n=context, lineterm=""):
                print("  " + line, file=out)
    same = len(a & b) - (differing - len(a ^ b))
    print(f"{same} of {len(a | b)} plans identical", file=out)
    return differing


def main(argv):
    if len(argv) != 3 or not all(os.path.isdir(d) for d in argv[1:]):
        print("usage: python3 tools/plan_diff.py <parent_dir> <change_dir>",
              file=sys.stderr)
        return 2
    return 1 if diff(argv[1], argv[2]) else 0


if __name__ == "__main__":
    sys.exit(main(sys.argv))
