"""Seeded generator for the benchmark's input tables.

Writes one Parquet file per table, with the columns `graft.tpch.TpchGraph`
reads: a TPC-H-shaped star schema (region, nation, customer, supplier,
part, orders, lineitem), an `events` stream, an `embeddings` table and a
`documents` corpus for the curation operators. The same (seed, scale)
always gives byte-identical rows. Row order is by key, and each table is
one file, so a scan is one task exactly as with the reference fixtures.

Scale 1.0 is TPC-H sf0.1: 15k customers, 150k orders, ~600k lineitems.
"""
import os
import random
import shutil

import duckdb
import pyarrow as pa
import pyarrow.parquet as pq

SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
WORDS = (
    "the be to of and that have with for on in is it as at by from this "
    "data query spark join scan sort hash group filter window stream batch "
    "table column row value key order part line customer vector merge agg "
    "fast slow big small graph node edge label store snapshot commit version "
    "river mountain forest ocean city village market harbor garden bridge "
    "winter summer autumn spring morning evening letter record journal note "
    "engine planner shuffle stage task driver worker cluster cache memory disk"
).split()
BOILERPLATE = [
    "Click here to subscribe to our weekly newsletter.",
    "All rights reserved by the original authors.",
    "Share this article with your friends and family.",
    "Read the full story on the archive page.",
    "Follow us for more updates on the project.",
    "Terms of use and privacy policy apply to this page.",
    "Comments are closed for this post.",
    "Posted in the general news section of the site.",
]


def sizes(scale):
    """Row counts per table at a scale (1.0 = sf0.1)."""
    return {
        "customer": int(15000 * scale),
        "supplier": max(10, int(1000 * scale)),
        "part": int(20000 * scale),
        "orders": int(150000 * scale),
        "events": int(100000 * scale),
        "embeddings": max(16, int(2000 * scale)),
    }


def _documents(seed, n_docs):
    """A corpus with exact duplicates, near duplicates (one word changed),
    shared boilerplate lines and lines without terminal punctuation, so
    every curation operator has work to remove."""
    rng = random.Random(seed * 7919 + 17)
    texts = []
    for i in range(n_docs):
        r = rng.random()
        if i > 10 and r < 0.05:
            text = texts[rng.randrange(i)]
        elif i > 10 and r < 0.10:
            words = texts[rng.randrange(i)].split(" ")
            j = rng.randrange(len(words))
            words[j] = rng.choice(WORDS)
            text = " ".join(words)
        else:
            lines = []
            for _ in range(rng.randint(3, 8)):
                if rng.random() < 0.2:
                    lines.append(rng.choice(BOILERPLATE))
                    continue
                n = rng.randint(5, 14)
                line = " ".join(rng.choice(WORDS) for _ in range(n))
                line = line[0].upper() + line[1:]
                if rng.random() < 0.85:
                    line += rng.choice([".", ".", ".", "!", "?"])
                lines.append(line)
            text = "\n".join(lines)
        texts.append(text)
    langs = ["en", "en", "en", "de", "fr", "es", "zh"]
    return pa.table({
        "doc_id": pa.array(range(n_docs), pa.int64()),
        "text": pa.array(texts, pa.string()),
        "lang": pa.array([langs[rng.randrange(len(langs))]
                          for _ in range(n_docs)], pa.string()),
        "source": pa.array([f"src{i % 20}" for i in range(n_docs)],
                           pa.string()),
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })


def generate(out_dir, seed, scale, n_docs):
    """Write every table under `out_dir` (replacing it)."""
    if os.path.exists(out_dir):
        shutil.rmtree(out_dir)
    os.makedirs(out_dir)
    n = sizes(scale)
    con = duckdb.connect()
    con.execute("SET threads TO 2")
    # u(i, salt): a uniform draw in [0, 1) that depends only on the row,
    # the column salt and the seed
    con.execute(f"CREATE MACRO u(i, s) AS "
                f"(hash(i, s, {int(seed)}) % 1000003) / 1000003.0")

    def copy(name, sql):
        path = os.path.join(out_dir, f"{name}.parquet")
        con.execute(f"COPY ({sql}) TO '{path}' (FORMAT parquet)")

    copy("region", "SELECT i::INTEGER AS r_regionkey, "
         "(list_value(" + ",".join(f"'{r}'" for r in REGIONS) +
         "))[i + 1] AS r_name FROM range(5) t(i) ORDER BY i")
    copy("nation", "SELECT i::INTEGER AS n_nationkey, 'NATION_' || i AS "
         "n_name, (i % 5)::INTEGER AS n_regionkey FROM range(25) t(i) "
         "ORDER BY i")
    seg = "list_value(" + ",".join(f"'{s}'" for s in SEGMENTS) + ")"
    copy("customer", f"""
        SELECT i AS c_custkey, 'Customer#' || lpad(i::VARCHAR, 9, '0')
          AS c_name, floor(u(i, 1) * 25)::INTEGER AS c_nationkey,
          round(u(i, 2) * 10999 - 999, 2) AS c_acctbal,
          {seg}[1 + floor(u(i, 3) * 5)::INTEGER] AS c_mktsegment
        FROM range({n['customer']}) t(i) ORDER BY i""")
    copy("supplier", f"""
        SELECT i AS s_suppkey, 'Supplier#' || lpad(i::VARCHAR, 9, '0')
          AS s_name, floor(u(i, 4) * 25)::INTEGER AS s_nationkey,
          round(u(i, 5) * 10999 - 999, 2) AS s_acctbal
        FROM range({n['supplier']}) t(i) ORDER BY i""")
    copy("part", f"""
        SELECT i AS p_partkey,
          (list_value('large','hot','blue','small','red','green'))
            [1 + floor(u(i, 6) * 6)::INTEGER] || ' ' ||
          (list_value('ring','bolt','gear','plate','screw'))
            [1 + floor(u(i, 7) * 5)::INTEGER] AS p_name,
          'Brand#' || (1 + floor(u(i, 8) * 25)::INTEGER) AS p_brand,
          (list_value('LARGE','ECONOMY','SMALL','STANDARD','PROMO'))
            [1 + floor(u(i, 9) * 5)::INTEGER] AS p_type,
          (1 + floor(u(i, 10) * 50))::INTEGER AS p_size,
          round(900 + (i % 1000) * 0.1, 2) AS p_retailprice
        FROM range({n['part']}) t(i) ORDER BY i""")
    pri = "list_value(" + ",".join(f"'{p}'" for p in PRIORITIES) + ")"
    copy("orders", f"""
        SELECT i AS o_orderkey,
          floor(u(i, 11) * {n['customer']})::BIGINT AS o_custkey,
          (list_value('F','O','P'))[1 + floor(u(i, 12) * 3)::INTEGER]
            AS o_orderstatus,
          round(1000 + u(i, 13) * 499000, 2) AS o_totalprice,
          (TIMESTAMP '1995-01-01' + to_days(floor(u(i, 14) * 2404)::INTEGER))
            AS o_orderdate,
          {pri}[1 + floor(u(i, 15) * 5)::INTEGER] AS o_orderpriority
        FROM range({n['orders']}) t(i) ORDER BY i""")
    copy("lineitem", f"""
        SELECT o AS l_orderkey,
          floor(u(o * 8 + ln, 16) * {n['part']})::BIGINT AS l_partkey,
          floor(u(o * 8 + ln, 17) * {n['supplier']})::BIGINT AS l_suppkey,
          ln::INTEGER AS l_linenumber,
          (1 + floor(u(o * 8 + ln, 18) * 50))::DOUBLE AS l_quantity,
          round(900 + u(o * 8 + ln, 19) * 100000, 2) AS l_extendedprice,
          floor(u(o * 8 + ln, 20) * 11) / 100.0 AS l_discount,
          floor(u(o * 8 + ln, 21) * 9) / 100.0 AS l_tax,
          (list_value('A','N','R'))[1 + floor(u(o * 8 + ln, 22) * 3)::INTEGER]
            AS l_returnflag,
          (list_value('F','O'))[1 + floor(u(o * 8 + ln, 23) * 2)::INTEGER]
            AS l_linestatus,
          (TIMESTAMP '1995-01-01' +
            to_days(floor(u(o * 8 + ln, 24) * 2500)::INTEGER)) AS l_shipdate
        FROM range({n['orders']}) t(o), range(1, 8) s(ln)
        WHERE ln <= 1 + floor(u(o, 25) * 7)
        ORDER BY o, ln""")
    copy("events", f"""
        SELECT i AS event_id,
          TIMESTAMP '2024-01-01' + to_microseconds((i * 30000000)::BIGINT
            + floor(u(i, 26) * 30000000)::BIGINT) AS ts,
          floor(u(i, 27) * 2000)::BIGINT AS user_id,
          (list_value('view','click','signup','error','purchase'))
            [1 + floor(u(i, 28) * 5)::INTEGER] AS event_type,
          round(u(i, 29) * 200, 2) AS value,
          '{{"k": ' || floor(u(i, 30) * 100)::INTEGER || '}}' AS props
        FROM range({n['events']}) t(i) ORDER BY i""")
    copy("embeddings", f"""
        SELECT i AS vec_id,
          list_transform(range(64),
            j -> (u(i * 64 + j, 31) * 2 - 1)::FLOAT) AS embedding,
          floor(u(i, 32) * 10)::INTEGER AS label
        FROM range({n['embeddings']}) t(i) ORDER BY i""")
    pq.write_table(_documents(seed, n_docs),
                   os.path.join(out_dir, "documents.parquet"))
    con.close()
