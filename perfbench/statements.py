"""Seeded TundraQL inputs for the graph workloads, and the results they
must produce, computed independently of the engine.

`graph_read` expectations come from DuckDB over the raw Parquet files.
`graph_write` expectations come from a model of the customer table that
replays the script: a read sees the state after the operation before
it, an AS OF read the state after the operation its timestamp follows.
"""
import collections
import hashlib
import os
import random

import duckdb

from datagen import PRIORITIES, SEGMENTS

STATUSES = ["F", "O", "P"]
# The writer's store clock: operation i runs at CLOCK_BASE + (i+1)*STEP ns.
CLOCK_BASE = 1_000_000_000_000
CLOCK_STEP = 1_000_000
CREATES_PER_ROUND = 20
# A commit every round re-bases the customer table on the committed
# files before each round's two mutations, so every round's mutations see
# the same plan depth.
COMMIT_EVERY = 1


def rows_hash(rows):
    """Order-independent hash of result rows; `perfbench.Main.rowsHash`
    computes the same on the engine side."""
    acc = 0
    for r in rows:
        s = "\x1f".join("\\N" if v is None else str(v) for v in r)
        acc += int.from_bytes(hashlib.md5(s.encode()).digest()[:8], "big")
    return len(rows), str(acc % (1 << 64))


def _table(data_dir, name):
    return "'" + os.path.join(data_dir, name + ".parquet") + "'"


# --- graph_read -----------------------------------------------------------

# One cycle of the mix: each template once.
READ_TEMPLATES = ["scan", "hop1", "left", "hop2", "agg", "varlen"]


def read_statements(seed, n_customers, count):
    """`count` statements cycling through the mix in a fixed order, each
    with seeded parameters: (template, statement, params)."""
    rng = random.Random(seed)
    out = []
    for i in range(count):
        t = READ_TEMPLATES[i % len(READ_TEMPLATES)]
        n = rng.randrange(25)
        seg = rng.choice(SEGMENTS)
        p = rng.choice(PRIORITIES)
        if t == "scan":
            x = rng.randrange(-999, 9000)
            q = (f'MATCH (c:customer) WHERE c.nationkey = {n} AND '
                 f'c.mktsegment = "{seg}" AND c.acctbal > {x} '
                 f'SELECT c.id, c.name;')
            params = (n, seg, x)
        elif t == "hop1":
            q = (f'MATCH (c:customer)-[:placed]->(o:orders) WHERE '
                 f'c.nationkey = {n} AND o.priority = "{p}" '
                 f'SELECT c.id, o.id, o.status;')
            params = (n, p)
        elif t == "hop2":
            q = (f'MATCH (c:customer)-[:placed]->(o:orders)-[:contains]->'
                 f'(l:lineitem) WHERE c.nationkey = {n} AND '
                 f'c.mktsegment = "{seg}" '
                 f'SELECT c.id, o.id, l.linenumber, l.partkey;')
            params = (n, seg)
        elif t == "left":
            x = rng.randrange(-999, 2000)
            q = (f'MATCH (c:customer)-[:placed LEFT]->(o:orders) WHERE '
                 f'c.nationkey = {n} AND c.acctbal < {x} '
                 f'SELECT c.id, o.id;')
            params = (n, x)
        elif t == "agg":
            s = rng.choice(STATUSES)
            q = (f'MATCH (o:orders)-[:contains]->(l:lineitem) WHERE '
                 f'o.priority = "{p}" AND o.status = "{s}" '
                 f'SELECT l.returnflag, COUNT(*) AS n, '
                 f'SUM(l.linenumber) AS s;')
            params = (p, s)
        else:
            a = rng.randrange(max(1, n_customers - 20))
            q = (f'MATCH (o:orders)-[:next_order*1..3]->(p:orders) WHERE '
                 f'o.custkey >= {a} AND o.custkey < {a + 20} '
                 f'SELECT o.id, p.id;')
            params = (a,)
        out.append((t, q, params))
    return out


def read_expected(data_dir, template, params):
    """The rows a read statement must return, by DuckDB over the raw
    Parquet, as (row count, hash)."""
    c, o, l = (_table(data_dir, x) for x in ("customer", "orders",
                                              "lineitem"))
    con = duckdb.connect()
    con.execute("SET threads TO 2")
    if template == "scan":
        n, seg, x = params
        rows = con.execute(
            f"SELECT c_custkey, c_name FROM {c} WHERE c_nationkey = ? AND "
            f"c_mktsegment = ? AND c_acctbal > ?", [n, seg, x]).fetchall()
    elif template == "hop1":
        n, p = params
        rows = con.execute(
            f"SELECT c_custkey, o_orderkey, o_orderstatus FROM {c} JOIN {o} "
            f"ON o_custkey = c_custkey WHERE c_nationkey = ? AND "
            f"o_orderpriority = ?", [n, p]).fetchall()
    elif template == "hop2":
        n, seg = params
        rows = con.execute(
            f"SELECT c_custkey, o_orderkey, l_linenumber, l_partkey FROM {c} "
            f"JOIN {o} ON o_custkey = c_custkey JOIN {l} ON "
            f"l_orderkey = o_orderkey WHERE c_nationkey = ? AND "
            f"c_mktsegment = ?", [n, seg]).fetchall()
    elif template == "left":
        n, x = params
        rows = con.execute(
            f"SELECT c_custkey, o_orderkey FROM {c} LEFT JOIN {o} ON "
            f"o_custkey = c_custkey WHERE c_nationkey = ? AND "
            f"c_acctbal < ?", [n, x]).fetchall()
    elif template == "agg":
        p, s = params
        rows = con.execute(
            f"SELECT l_returnflag, count(*), sum(l_linenumber) FROM {o} "
            f"JOIN {l} ON l_orderkey = o_orderkey WHERE o_orderpriority = ? "
            f"AND o_orderstatus = ? GROUP BY l_returnflag", [p, s]).fetchall()
    else:
        (a,) = params
        chains = collections.defaultdict(list)
        for key, cust in con.execute(
                f"SELECT o_orderkey, o_custkey FROM {o} WHERE o_custkey >= ? "
                f"AND o_custkey < ? ORDER BY o_orderkey", [a, a + 20]
        ).fetchall():
            chains[cust].append(key)
        # next_order links each order to the customer's next one, so the
        # orders within 1..3 hops are the next three of the chain
        rows = [(ks[i], ks[j]) for ks in chains.values()
                for i in range(len(ks))
                for j in range(i + 1, min(i + 4, len(ks)))]
    con.close()
    return rows_hash(rows)


# --- graph_write ----------------------------------------------------------

def write_script(seed, data_dir, rounds):
    """A script of `rounds` rounds, each an UPDATE MATCH, 20 CREATE NODE
    statements sent as one script, a DELETE and an AS OF VALID read at a
    random earlier point, with a COMMIT every COMMIT_EVERY rounds. Returns
    [(kind, statement, expected)] with `expected` the (row count, hash) a
    read must return, else None."""
    rng = random.Random(seed)
    con = duckdb.connect()
    con.execute("SET threads TO 2")
    cust = con.execute(
        f"SELECT c_custkey, c_nationkey, c_mktsegment, c_acctbal FROM "
        f"{_table(data_dir, 'customer')} ORDER BY c_custkey").fetchall()
    con.close()
    nation = {cid: n for cid, n, _, _ in cust}
    segment = {cid: s for cid, _, s, _ in cust}
    alive = set(nation)
    # customers by nation with their balance; created customers have no
    # balance, so no balance predicate ever matches them
    by_nation = collections.defaultdict(list)
    for cid, n, _, bal in cust:
        by_nation[n].append((cid, bal))
    counts = collections.defaultdict(collections.Counter)
    for cid in alive:
        counts[nation[cid]][segment[cid]] += 1
    next_id = max(nation) + 1
    history = []  # per operation: nation -> segment counts after it
    ops = []

    def done(kind, stmt, expected=None):
        ops.append((kind, stmt, expected))
        history.append({n: dict(cs) for n, cs in counts.items()})

    def expect(state, n):
        return rows_hash([(s, c) for s, c in state.get(n, {}).items()
                          if c > 0])

    def per_segment(n):
        return f"WHERE c.nationkey = {n} SELECT c.mktsegment, COUNT(*) AS n;"

    for r in range(rounds):
        n, x = rng.randrange(25), rng.randrange(-999, 9000)
        new_seg = f"SEG{rng.randrange(8)}"
        for cid, bal in by_nation[n]:
            if cid in alive and bal > x and segment[cid] != new_seg:
                counts[n][segment[cid]] -= 1
                counts[n][new_seg] += 1
                segment[cid] = new_seg
        done("update",
             f'UPDATE MATCH (c:customer) SET c.mktsegment = '
             f'"{new_seg}" WHERE c.nationkey = {n} AND c.acctbal > {x};')
        creates = []
        for _ in range(CREATES_PER_ROUND):
            k = rng.randrange(25)
            creates.append(f'CREATE NODE customer (name = "new{next_id}", '
                           f'nationkey = {k}, mktsegment = "NEW");')
            nation[next_id], segment[next_id] = k, "NEW"
            alive.add(next_id)
            counts[k]["NEW"] += 1
            next_id += 1
        done("create", " ".join(creates))
        victim = rng.randrange(next_id)
        while victim not in alive:
            victim = rng.randrange(next_id)
        alive.discard(victim)
        counts[nation[victim]][segment[victim]] -= 1
        done("delete", f"DELETE (c:customer) WHERE c.id = {victim};")
        j = rng.randrange(len(ops))
        t = CLOCK_BASE + (j + 1) * CLOCK_STEP + CLOCK_STEP // 2
        k = rng.randrange(25)
        done("asof", f"MATCH (c:customer) AS OF VALID {t} {per_segment(k)}",
             expect(history[j], k))
        if r % COMMIT_EVERY == COMMIT_EVERY - 1:
            done("commit", "COMMIT;")
    return ops
