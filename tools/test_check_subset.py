#!/usr/bin/env python3
"""Regression test for check.py's subset-name check.

`check.py <sf> <out> <names>` restricts the check to the named gates.
A name with no entry in oracle_sql.json used to be skipped like every
other name, so a mistyped subset printed "0 pass, 0 fail, N skipped"
and exited 0. This test feeds check.py one passing gate and asserts
that the right subset passes, a mistyped one fails, and a subset
mixing a real and a mistyped name fails too.

Run: python3 tools/test_check_subset.py  (exit 0 = check works)
"""
import json
import os
import shutil
import sys
import tempfile

import duckdb

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import check  # noqa: E402


def run_case(subset):
    tmp = tempfile.mkdtemp(prefix="subset_")
    try:
        sf_dir = os.path.join(tmp, "sf")
        out_dir = os.path.join(tmp, "out")
        os.makedirs(sf_dir)
        os.makedirs(os.path.join(out_dir, "sub_gate"))
        con = duckdb.connect()
        for t in check.TABLES:
            con.execute(
                f"COPY (SELECT 1 AS doc_id, CAST(913 AS BIGINT) AS v) "
                f"TO '{sf_dir}/{t}.parquet' (FORMAT PARQUET)")
        con.execute(
            f"COPY (SELECT CAST(913 AS BIGINT) AS v) TO "
            f"'{out_dir}/sub_gate/part-0.parquet' (FORMAT PARQUET)")
        json.dump({"sub_gate": "SELECT v FROM documents"},
                  open(os.path.join(out_dir, "oracle_sql.json"), "w"))
        return check.main(sf_dir, out_dir, subset)
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


def main():
    rc_ok = run_case({"sub_gate"})
    rc_typo = run_case({"sub_gaet"})
    rc_mixed = run_case({"sub_gate", "sub_gaet"})
    ok = rc_ok == 0 and rc_typo != 0 and rc_mixed != 0
    print(f"subset regression: known rc={rc_ok} (want 0), "
          f"mistyped rc={rc_typo} (want !=0), "
          f"known+mistyped rc={rc_mixed} (want !=0) "
          f"→ {'PASS' if ok else 'FAIL'}")
    return 0 if ok else 1


if __name__ == "__main__":
    sys.exit(main())
