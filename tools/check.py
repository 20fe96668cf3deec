#!/usr/bin/env python3
"""Local stand-in for the driver's DuckDB-oracle correctness gate.

Reads each query's parquet dump from the Verify output dir, runs the
corresponding oracle SQL in DuckDB over the same testdata, canonicalizes
both (columns sorted by name, rows sorted lexicographically, values
rendered as strings), and diffs.
"""
import json
import os
import sys
import time

import duckdb

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]


def canon(rows, cols):
    order = sorted(range(len(cols)), key=lambda i: cols[i])

    def render(v):
        if v is None:
            return "\0NULL"
        if isinstance(v, float):
            return repr(v)
        if isinstance(v, list):
            return "[" + ",".join(render(x) for x in v) + "]"
        return str(v)

    out = [tuple(render(r[i]) for i in order) for r in rows]
    out.sort()
    return [c for c in sorted(cols)], out


def main(sf_dir, out_dir, subset=None):
    con = duckdb.connect()
    # bound DuckDB's footprint (default: 80% of RAM — collides with a
    # concurrent big-heap Spark JVM) and give it a spill dir so capped
    # ladder-scale queries degrade to disk instead of OOM
    con.execute("SET memory_limit='%s'"
                % os.environ.get("GRAFT_DUCK_MEM", "40GB"))
    con.execute("SET temp_directory='%s/duck_spill'" % out_dir)
    for t in TABLES:
        # driver testdata is one file per table; ScaleGen output is a
        # Spark-style directory of part files per table
        path = f"{sf_dir}/{t}.parquet"
        if os.path.isdir(path):
            path = f"{path}/*.parquet"
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{path}'")
    oracle = json.load(open(f"{out_dir}/oracle_sql.json"))
    n_pass = n_fail = n_skip = 0
    # Oracle-side lowercasing canary (r12/r13 judge item #6, the half
    # the fixture-build guard in DuckOracleSql.assertLowerMirrorSafe
    # does not cover): the lower()-tokenizing oracles assume DuckDB's
    # simple per-codepoint lower() agrees with Spark/Java's contextual
    # one. The divergent cases under Locale.ROOT are U+0130 (İ → i +
    # combining dot in Java, plain i in DuckDB) and word-final Σ (ς in
    # Java, σ in DuckDB). A corpus containing either CANNOT be
    # hash-replayed through those oracles — fail loudly up front
    # instead of surfacing as N confusing downstream hash mismatches.
    try:
        boundary = con.execute(
            "SELECT count(*) FROM documents WHERE "
            "regexp_matches(text, '(İ)|(\\p{L}Σ([^\\p{L}]|$))')"
        ).fetchone()[0]
    except Exception:  # synthetic fixture without a text column
        boundary = 0
    if boundary:
        print(f"FAIL __lower_canary__: {boundary} document(s) cross "
              f"the Java-contextual vs DuckDB-simple lowercasing "
              f"boundary (U+0130 İ or word-final Σ) — the XXH64 "
              f"mirror's lower()-tokenizing oracles cannot replay this "
              f"corpus; pre-lowercase the fixture or port the oracle "
              f"side to an ICU-contextual lower (DuckOracleSql "
              f"boundary note)")
        n_fail += 1
    # Whitespace-class canary (review r15): Java's regex \s includes
    # U+000B (vertical tab), RE2's does not — every '\s+'-tokenizing
    # oracle replay (word counts, sentence splits, token contracts)
    # diverges on a corpus containing VT. Fail loudly up front.
    try:
        vt = con.execute(
            "SELECT count(*) FROM documents WHERE "
            "contains(text, chr(11))").fetchone()[0]
    except Exception:  # synthetic fixture without a text column
        vt = 0
    if vt:
        print(f"FAIL __ws_canary__: {vt} document(s) contain U+000B "
              f"(vertical tab) — Java \\s matches it, RE2 \\s does "
              f"not, so the '\\s+' token/sentence oracles cannot "
              f"replay this corpus; strip VT at ingest or port the "
              f"oracle regexes to an explicit class")
        n_fail += 1
    # Line-terminator canary (advice r15, generalized): Java treats
    # \r and U+0085 (and U+2028/U+2029) as line terminators — its `.`
    # refuses to match them and its `$` matches BEFORE a final one,
    # while RE2's `.` excludes only \n and its `$` is strict
    # end-of-text. The engine's line-grain anchors were ported to \z
    # (r16), but every `.`-bearing oracle regex still diverges on a
    # corpus containing these. Fail loudly up front.
    try:
        lt = con.execute(
            "SELECT count(*) FROM documents WHERE "
            "contains(text, chr(13)) OR contains(text, chr(133)) OR "
            "contains(text, chr(8232)) OR contains(text, chr(8233))"
        ).fetchone()[0]
    except Exception:  # synthetic fixture without a text column
        lt = 0
    if lt:
        print(f"FAIL __lineterm_canary__: {lt} document(s) contain "
              f"\\r / U+0085 / U+2028 / U+2029 — Java's `.` excludes "
              f"them and Java's `$` matches before a final one, RE2 "
              f"disagrees on both, so `.`-bearing oracle replays "
              f"cannot be trusted on this corpus; normalize line "
              f"terminators at ingest or port the affected oracles")
        n_fail += 1
    # Every book entry is stamped with a run id so books merged across
    # one-per-process subset invocations can prove each entry came from
    # the current binary — a stale pass:true from an earlier build is
    # distinguishable by its stamp (r11 advice). Skipped queries are
    # deliberately ABSENT from the book (not written as skip markers):
    # a naive dict-merge of per-subset books would otherwise let a later
    # invocation's skip entry clobber an earlier invocation's real
    # pass/fail row.
    run_id = os.environ.get("GRAFT_CHECK_RUN") or \
        "%d-%d" % (int(time.time()), os.getpid())
    book = {}
    # A subset name with no oracle entry would otherwise be skipped like
    # every other name, and a fully mistyped subset would pass vacuously.
    for name in sorted((subset or set()) - oracle.keys()):
        print(f"FAIL {name}: not a gated query (no entry in "
              f"oracle_sql.json)")
        book[name] = {"pass": False, "rows": None, "oracle": "duckdb",
                      "err": "unknown query", "run": run_id}
        n_fail += 1
    for name, sql in sorted(oracle.items()):
        # The subset RESTRICTS the check itself (not just missing-dump
        # classification): one-query-per-process retry loops depend on a
        # subset invocation touching nothing else — a DuckDB OOM on one
        # heavy oracle poisons the process for every later query.
        if subset is not None and name not in subset:
            n_skip += 1
            continue
        # A missing dump is only benign when the Verify run was explicitly
        # filtered (pass the same comma-separated subset as 3rd arg);
        # otherwise it means the query crashed before dumping → FAIL.
        if not os.path.isdir(f"{out_dir}/{name}"):
            print(f"FAIL {name}: no dump (crashed before write?)")
            book[name] = {"pass": False, "rows": None, "oracle": "duckdb",
                          "err": "no dump", "run": run_id}
            n_fail += 1
            continue
        try:
            eng = con.execute(
                f"SELECT * FROM '{out_dir}/{name}/*.parquet'")
            ecols = [d[0] for d in eng.description]
            erows = eng.fetchall()
            # Type-lint the oracle result schema BEFORE comparing values:
            # fetchall() returns HUGEINT/DECIMAL as exact Python numbers,
            # but the driver's hasher goes through Arrow/pandas where
            # HUGEINT (DuckDB's type for bare sum(BIGINT/INTEGER)) and
            # DECIMAL become float64 — so "913" hashes as "913.0" there
            # while this gate would see an exact match (the r13
            # p91/p101 gate-fidelity hole). Reject loudly; the fix is
            # always an explicit CAST in the oracle SQL.
            rel = con.sql(sql)
            bad = [(c, str(t)) for c, t in zip(rel.columns, rel.types)
                   if str(t) == "HUGEINT" or str(t).startswith("DECIMAL")]
            if bad:
                print(f"FAIL {name}: oracle schema has driver-divergent "
                      f"types {bad} — CAST(... AS BIGINT/DOUBLE) in the "
                      f"oracle SQL (driver renders these as float64)")
                book[name] = {"pass": False, "rows": None,
                              "oracle": "duckdb",
                              "err": f"type-lint: {bad}", "run": run_id}
                n_fail += 1
                continue
            ora = con.execute(sql)
            ocols = [d[0] for d in ora.description]
            orows = ora.fetchall()
            # Empty-oracle lint (r15 judge item #1, "the a23 lesson"):
            # a gate whose oracle returns 0 rows can only ever compare
            # empty sets — it proves schema agreement, nothing about
            # the operator. a23_setops booked as pass:true for three
            # rounds this way (two successive re-points were still
            # empty at the driver's SF). No allowlist: an operator
            # whose correct output is empty needs a fixture that makes
            # it non-empty, not an exemption.
            if len(orows) == 0:
                print(f"FAIL {name}: oracle returned 0 rows — an "
                      f"empty-vs-empty compare proves nothing about "
                      f"the operator; re-point the gate at a "
                      f"non-empty fixture/operand")
                book[name] = {"pass": False, "rows": len(erows),
                              "oracle": "duckdb",
                              "err": "empty oracle", "run": run_id}
                n_fail += 1
                continue
            ec, er = canon(erows, ecols)
            oc, orr = canon(orows, ocols)
            if ec != oc:
                print(f"FAIL {name}: columns {ec} vs {oc}")
                book[name] = {"pass": False, "rows": len(er),
                              "oracle": "duckdb", "run": run_id}
                n_fail += 1
            elif er != orr:
                diff = [(a, b) for a, b in zip(er, orr) if a != b][:3]
                only_e = [r for r in er if r not in set(orr)][:3]
                only_o = [r for r in orr if r not in set(er)][:3]
                print(f"FAIL {name}: rows {len(er)} vs {len(orr)}; "
                      f"first diffs {diff} | only-engine {only_e} | "
                      f"only-oracle {only_o}")
                book[name] = {"pass": False, "rows": len(er),
                              "oracle": "duckdb", "run": run_id}
                n_fail += 1
            else:
                print(f"PASS {name} ({len(er)} rows)")
                book[name] = {"pass": True, "rows": len(er),
                              "oracle": "duckdb", "run": run_id}
                n_pass += 1
        except Exception as e:
            print(f"ERROR {name}: {e}")
            book[name] = {"pass": False, "rows": None, "oracle": "duckdb",
                          "err": str(e)[:200], "run": run_id}
            n_fail += 1
    print(f"== {n_pass} pass, {n_fail} fail, {n_skip} skipped (filtered)")
    if os.environ.get("GRAFT_CHECK_BOOK"):
        json.dump(book, open(os.environ["GRAFT_CHECK_BOOK"], "w"), indent=1)
    return 1 if n_fail else 0


if __name__ == "__main__":
    sys.exit(main(
        sys.argv[1], sys.argv[2],
        set(sys.argv[3].split(",")) if len(sys.argv) > 3 else None))
