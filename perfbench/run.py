"""Benchmark runner for the graft engine.

    python3 perfbench/run.py --workload graph_read --seed 1 --seconds 10 --trace 0

Run from the repository root. Builds the engine from source (cached in
`.bench_build/`), generates the seeded inputs under `.bench_work/`, runs
one workload in a JVM (one client thread, `local[N]` with N = min(4,
cores)), checks every result, and prints as its last line

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

with the end-to-end metrics of BENCHMARK.json (`--trace 0`) or its
per-layer metrics (`--trace 1`). The line before it is a `context`
object: host calibration, the tail percentile used, per-kind latencies,
and each check's outcome. See perfbench/README.md.
"""
import argparse
import json
import math
import os
import re
import shutil
import statistics
import subprocess
import sys
import time

sys.dont_write_bytecode = True
sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import build  # noqa: E402
import datagen  # noqa: E402
import statements  # noqa: E402

WORKLOADS = ("graph_read", "graph_write", "curation_batch")
NAME_RE = re.compile(r"^[A-Za-z0-9_.-]+$")
# Input sizes: scale 1.0 is TPC-H sf0.1 (15k customers, 150k orders,
# ~600k lineitems); the curation corpus is sized apart.
SCALE = 0.1
DOCS = 1000
# Whole cycles of its mix a run holds at least, however long they take:
# the tail percentile is fixed per workload so that a run of this many
# cycles has ten samples beyond it (see `tail_percentile`).
MIN_CYCLES = {"graph_read": 6, "graph_write": 7, "curation_batch": 3}
# What an engine run may take beyond --seconds: JVM start, the set-ups,
# the warm-up, the end of the last cycle and the end-of-run checks.
ENGINE_ALLOWANCE_S = 150
CURATION_OPS = ["dedup_exact", "neardup_keepfirst", "gopher_signals",
                "c4_clean", "dedup_lines", "bpe_train", "bpe_tokenize",
                "pack_sequences", "shuffle_shards"]
# Per-layer metrics each workload must produce itself; the others do not
# apply to it and are reported as 0.
COMMON_LAYERS = ["tpch.open_ms", "tpch.cache_fill_ms", "spark.jobs",
                 "spark.stages", "spark.tasks", "spark.task_cpu_ms",
                 "spark.gc_ms", "spark.busy_frac", "spark.exchanges",
                 "spark.shuffle_write_mb", "spark.shuffle_read_mb",
                 "spark.spill_mb", "failed_frac", "trace.overhead_frac",
                 "harness.self_ms"]
QUERY_LAYERS = ["ql.parse_ms", "planner.plan_ms", "catalyst.prepare_ms",
                "spark.exec_ms"]
APPLIES = {
    "graph_read": COMMON_LAYERS + QUERY_LAYERS +
    ["spark.rows_in_per_row_out"],
    "graph_write": COMMON_LAYERS + QUERY_LAYERS +
    ["store.update_ms", "store.create_ms", "store.delete_ms",
     "store.plan_depth", "store.commit_ms", "store.commit_mb",
     "store.write_amp", "store.restore_ms",
     "store.traversal_update_growth", "asof_p50_ms",
     "commit_p50_ms", "snapshot_mb"],
    "curation_batch": COMMON_LAYERS + ["batch_s", "docs_per_s"] +
    [f"pipeline.{o}.{k}_ms" for o in CURATION_OPS
     for k in ("build", "exec")],
}


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def load_spec(root):
    path = os.path.join(root, "BENCHMARK.json")
    if not os.path.isfile(path):
        fail("BENCHMARK.json not found; run from the repository root")
    with open(path) as f:
        spec = json.load(f)
    names = [w["name"] for w in spec["workloads"]]
    names += [m["name"] for m in spec["end_to_end"] + spec["per_layer"]]
    bad = [n for n in names if not NAME_RE.match(n)]
    if bad:
        fail(f"invalid names in BENCHMARK.json: {bad}")
    return spec


def cycle_ops(workload):
    """Operations in one cycle of a workload's mix."""
    return {"graph_read": len(statements.READ_TEMPLATES),
            "graph_write": 4 * statements.COMMIT_EVERY + 1,
            "curation_batch": len(CURATION_OPS)}[workload]


def tail_percentile(workload):
    """The highest percentile with at least ten samples beyond it in a run
    of MIN_CYCLES cycles. It is fixed, not taken from each run's sample
    count, so that a faster program (more samples) is not measured at a
    higher percentile than a slower one."""
    return 100.0 * (1 - 10 / (MIN_CYCLES[workload] * cycle_ops(workload)))


def percentile(ms, pct):
    """Nearest-rank percentile."""
    s = sorted(ms)
    return s[max(0, math.ceil(pct / 100 * len(s)) - 1)]


def jvm_cmd(classes, root, work, args):
    jars = os.path.join(build.spark_jars(), "*")
    opens = ["java.base/java.lang", "java.base/java.lang.invoke",
             "java.base/java.lang.reflect", "java.base/java.io",
             "java.base/java.net", "java.base/java.nio",
             "java.base/java.util", "java.base/java.util.concurrent",
             "java.base/java.util.concurrent.atomic",
             "java.base/sun.nio.ch", "java.base/sun.nio.cs",
             "java.base/sun.security.action",
             "java.base/sun.util.calendar"]
    cmd = ["java", "-Xmx3g", "-Xss8m", "-XX:-UsePerfData",
           f"-Djava.io.tmpdir={work}/tmp",
           "-Dspark.sql.session.timeZone=UTC",
           "-Dlog4j2.configurationFile=" +
           os.path.join(root, "src", "main", "resources",
                        "log4j2.properties")]
    for p in opens:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    return cmd + ["-cp", f"{classes}{os.pathsep}{jars}", "perfbench.Main"] \
        + args


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    started = time.monotonic()
    stages = {}

    def stage(name, since):
        stages[name] = round(time.monotonic() - since, 3)
        return time.monotonic()

    root = os.getcwd()
    spec = load_spec(root)
    try:
        classes = build.build(root)
    except build.BuildError as e:
        fail(str(e))
    mark = stage("build_s", started)

    work = os.path.join(root, ".bench_work", a.workload)
    shutil.rmtree(work, ignore_errors=True)
    data = os.path.join(work, "data")
    os.makedirs(os.path.join(work, "tmp"))
    datagen.generate(data, a.seed, SCALE, DOCS)
    n_customers = datagen.sizes(SCALE)["customer"]
    mark = stage("datagen_s", mark)

    expected = {}
    input_path = os.path.join(work, "input.tsv")
    with open(input_path, "w") as f:
        if a.workload == "graph_read":
            reads = statements.read_statements(a.seed, n_customers, 3000)
            for tmpl, q, _ in reads:
                f.write(f"{tmpl}\t{q}\n")
        elif a.workload == "graph_write":
            # far more rounds than a run can reach even on a fast host
            # (a round is five operations); the engine run fails if it
            # runs out
            script = statements.write_script(
                a.seed, data, rounds=20 + int(a.seconds * 10))
            f.write(f"#clock\t{statements.CLOCK_BASE}\t"
                    f"{statements.CLOCK_STEP}\n")
            for i, (kind, q, exp) in enumerate(script):
                f.write(f"{kind}\t{q}\n")
                if exp is not None:
                    expected[i] = exp

    mark = stage("inputs_s", mark)
    out = os.path.join(work, "report.json")
    cores = max(1, min(4, len(os.sched_getaffinity(0))))
    args = ["--workload", a.workload, "--seconds", str(a.seconds),
            "--trace", str(a.trace), "--cores", str(cores),
            "--min-cycles", str(MIN_CYCLES[a.workload]),
            "--data", data, "--work", work, "--input", input_path,
            "--out", out]
    with open(os.path.join(work, "jvm.log"), "w") as log:
        proc = subprocess.Popen(jvm_cmd(classes, root, work, args),
                                stdout=log, stderr=subprocess.STDOUT)
        try:
            code = proc.wait(timeout=a.seconds + ENGINE_ALLOWANCE_S)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            fail("the engine run timed out")
    if code != 0 or not os.path.isfile(out):
        with open(os.path.join(work, "jvm.log")) as log:
            tail = log.read()[-3000:]
        fail(f"the engine run failed (exit {code}):\n{tail}")
    with open(out) as f:
        rep = json.load(f)
    mark = stage("engine_s", mark)

    # --- checks ------------------------------------------------------------
    ops = rep["ops"]
    failures = []
    if a.workload == "graph_read":
        cache = {}
        for o in ops:
            if not o["ok"]:
                continue
            i = o["idx"]
            if i not in cache:
                tmpl, _, params = reads[i]
                cache[i] = statements.read_expected(data, tmpl, params)
            if (o["rows"], o["hash"]) != cache[i]:
                o["ok"] = False
                o["err"] = f"got {o['rows']} rows/{o['hash']}, " \
                           f"expected {cache[i][0]}/{cache[i][1]}"
    elif a.workload == "graph_write":
        for o in ops:
            exp = expected.get(o["idx"])
            if o["ok"] and exp is not None and (o["rows"], o["hash"]) != exp:
                o["ok"] = False
                o["err"] = f"got {o['rows']} rows/{o['hash']}, " \
                           f"expected {exp[0]}/{exp[1]}"
    for o in ops:
        if not o["ok"]:
            failures.append(f"{o['kind']}#{o['idx']}: {o['err']}")
    for c in rep["checks"]:
        if not c["ok"]:
            failures.append(f"check {c['name']}: {c['detail']}")
    stage("checks_s", mark)
    attempted = len(ops) + len(rep["checks"])
    failed = len(failures)

    # --- metrics -----------------------------------------------------------
    timed = [o for o in ops if o["phase"] == 0 and o["ok"]]
    if not timed:
        fail("no operation completed: " + "; ".join(failures[:5]))
    ms = [o["ms"] for o in timed]
    tail_pct = tail_percentile(a.workload)
    values = dict(rep["values"])
    # throughput over whole untraced cycles of the mix (a window cut at
    # --seconds would count a varying part of the last cycle, whose
    # operations differ widely in length): operations per cycle over the
    # median cycle's wall time, so one cycle hit by a host stall does
    # not move it
    cycles = rep["cycle_s"][0]
    e2e = {
        "setup_s": statistics.median(rep["setup_s"]),
        "ops_per_s": len(timed) / len(cycles) / statistics.median(cycles),
        "op_p50_ms": statistics.median(ms),
        "op_tail_ms": percentile(ms, tail_pct),
        "cache_mb": rep["cache_mb"],
    }
    by_kind = {}
    for o in timed:
        by_kind.setdefault(o["kind"], []).append(o["ms"])
    kind_p50 = {k: statistics.median(v) for k, v in by_kind.items()}
    for kind in ("asof", "commit"):
        if kind in kind_p50:
            values[f"{kind}_p50_ms"] = kind_p50[kind]
    if a.workload == "curation_batch":
        batches = {}
        for o in timed:
            batches.setdefault(o["idx"], []).append(o["ms"])
        full = [sum(v) / 1000 for v in batches.values()
                if len(v) == len(CURATION_OPS)]
        if full:
            values["batch_s"] = statistics.median(full)
            values["docs_per_s"] = values["docs"] * len(full) / sum(full)
    values["failed_frac"] = failed / attempted
    if a.trace:
        # per kind of operation, traced p50 over untraced p50; the
        # overhead is the median of those ratios, less one
        ratios = []
        for k in by_kind:
            traced = [o["ms"] for o in ops
                      if o["phase"] == 1 and o["ok"] and o["kind"] == k]
            if traced:
                ratios.append(statistics.median(traced) / kind_p50[k])
        if ratios:
            values["trace.overhead_frac"] = statistics.median(ratios) - 1
        if "self.op" in values:
            values["harness.self_ms"] = values["self.op"]

    # self-check: every declared metric this run must report is measured
    declared_e2e = {m["name"]: m["unit"] for m in spec["end_to_end"]}
    declared_layer = {m["name"]: m["unit"] for m in spec["per_layer"]}
    if a.trace:
        undeclared = set(APPLIES[a.workload]) - set(declared_layer)
        missing = [k for k in APPLIES[a.workload] if k not in values]
        if undeclared or missing:
            fail(f"self-check: {a.workload} per-layer metrics undeclared "
                 f"{sorted(undeclared)}, not produced {missing}")
        metrics = {k: {"value": float(values.get(k, 0.0)), "unit": u}
                   for k, u in declared_layer.items()}
    else:
        missing = sorted(set(declared_e2e) - set(e2e))
        if missing:
            fail(f"self-check: {a.workload} did not produce {missing}")
        metrics = {k: {"value": float(e2e[k]), "unit": u}
                   for k, u in declared_e2e.items()}

    context = {
        "workload": a.workload, "seed": a.seed, "cores": cores,
        "op_tail_percentile": round(tail_pct, 2), "op_samples": len(ms),
        "kind_p50_ms": kind_p50,
        "setup_s_each": rep["setup_s"],
        "stages_s": stages,
        "values": {k: v for k, v in values.items()
                   if k not in metrics},
        "failures": failures[:20],
        "checks": rep["checks"],
    }
    print(json.dumps({"context": context}))
    print(json.dumps({"correct": failed == 0, "attempted": attempted,
                      "failed": failed, "metrics": metrics}))


if __name__ == "__main__":
    main()
