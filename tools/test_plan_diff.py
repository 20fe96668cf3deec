#!/usr/bin/env python3
"""Regression test for plan_diff.py.

Two dumps of the same plans differ in ids each run draws afresh; a
plan change differs in anything else. This test writes small dumps and
asserts that plan_diff.py passes a pair differing only in run-varying
values, and fails a pair with a changed operator, a changed literal,
or a plan missing on one side.

Run: python3 tools/test_plan_diff.py  (exit 0 = plan_diff works)
"""
import io
import os
import shutil
import sys
import tempfile

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import plan_diff  # noqa: E402

PLAN = """== Physical Plan ==
* BroadcastHashJoin Inner BuildRight (5)
(1) Scan parquet
Output [2]: [id#{e1}L, name#{e2}]
Location: InMemoryFileIndex [file:/tmp/graft_bench_{tmp}/part-0.parquet]
(2) MapPartitions
Arguments: graft.pipeline.Multimodal$$$Lambda${lam}/0x{hx}@{obj}, obj#{e1}
(3) Exchange
Arguments: HashedRelationBroadcastMode(List(input[0, bigint, true]),false), [plan_id={pid}]
(4) Scan ExistingRDD
Arguments: MapPartitionsRDD[{rdd}] at checkpoint, rddId={rdd}, RDD {rdd}
(5) Project
Arguments: LongAccumulator(id: {acc}, name: Some(n), value: 0), LIMIT 10
"""


def dump(root, side, plans):
    d = os.path.join(root, side)
    os.makedirs(d)
    for name, text in plans.items():
        with open(os.path.join(d, name + ".txt"), "w") as f:
            f.write(text)
    return d


def rc(parent, change):
    tmp = tempfile.mkdtemp(prefix="plan_diff_")
    try:
        return plan_diff.diff(dump(tmp, "a", parent), dump(tmp, "b", change),
                              out=io.StringIO())
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


def main():
    run1 = PLAN.format(e1=12, e2=13, tmp="abc1", lam=6210, hx="7f00a1",
                       obj="1b2c3d4e", pid=5724, rdd=80, acc=12077)
    run2 = PLAN.format(e1=912, e2=913, tmp="zz99", lam=6185, hx="7f00ff",
                       obj="9a8b7c6d", pid=5783, rdd=8076, acc=12074)
    cases = {
        "run-varying ids only": (rc({"q": run1}, {"q": run2}), 0),
        "operator changed": (rc({"q": run1}, {"q": run2.replace(
            "BroadcastHashJoin", "SortMergeJoin")}), 1),
        "literal changed": (rc({"q": run1}, {"q": run2.replace(
            "LIMIT 10", "LIMIT 20")}), 1),
        "plan missing": (rc({"q": run1, "r": run1}, {"q": run2}), 1),
    }
    ok = all(got == want for got, want in cases.values())
    for name, (got, want) in cases.items():
        print(f"{name}: {got} differing (want {want})")
    print("plan_diff regression: " + ("PASS" if ok else "FAIL"))
    return 0 if ok else 1


if __name__ == "__main__":
    sys.exit(main())
