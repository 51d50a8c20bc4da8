#!/usr/bin/env python3
"""Seeded input generator for the perfbench workloads.

Writes the ten test tables (region, nation, customer, supplier, part,
orders, lineitem, events, documents, embeddings) as one parquet file each,
with the column names, types and row counts of the project's sf0.01 test
tables. Every random choice comes from one numpy generator seeded with
`--seed`, so the same seed gives byte-identical content and two seeds give
different content with the same sizes and the same shape:

* documents are 10-99 words drawn from a fixed 30-word vocabulary; their
  lengths, languages, sources and near-duplicate pairs (another document
  plus " dup", a fixed 5% share, which sets the volume of candidate pairs in
  the dedup operators) are fixed by position, so only the words vary;
* part names are two words from the 8x8 adjective/noun grid the gazetteer
  is built from; one vocabulary word ("small") is also a part-name word,
  which sets the share of document tokens that hit the gazetteer;
* lineitem quantities are uniform on 1..50, so the entity graph (customer to
  supplier edges of lineitems with quantity >= 48) keeps the same density.

Usage: python3 perfbench/gen.py --seed N --out DIR
"""
import argparse
import os
import sys

import duckdb
import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

ROWS = {"customer": 1500, "supplier": 100, "part": 2000, "orders": 15000,
        "lineitem": 60000, "events": 10000, "documents": 500,
        "embeddings": 500}
NEAR_DUP_SHARE = 0.05
EMBED_DIM = 64

VOCAB = ("join hash row batch scan customer column filter small slow merge "
         "order vector line data table agg value key stream window spark a "
         "group part big sort query fast the").split()
ADJ = "red small hot old large blue new cold".split()
NOUN = "plate widget ring rod bolt gizmo gear anvil".split()
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
LANGS = ["en", "de", "es", "fr", "zh"]

DAY_US = 86_400_000_000


def _ts(us):
    return pa.array(us, type=pa.timestamp("us"))


def _money(rng, lo, hi, n):
    return np.round(rng.uniform(lo, hi, n), 2)


def _pick(rng, values, n):
    return pa.array(np.asarray(values, dtype=object)[rng.choice(len(values), n)].tolist(),
                    type=pa.string())


def _days(rng, first, last, n):
    """Midnight timestamps uniform on [first, last] (numpy datetime64 days)."""
    lo = np.datetime64(first, "D").astype("int64")
    hi = np.datetime64(last, "D").astype("int64")
    return _ts(rng.integers(lo, hi + 1, n) * DAY_US)


def documents(rng, n):
    """Documents whose shape is fixed by position and whose words come from
    the seed: document i has 10 + 37i mod 90 words, its language and source
    follow fixed strata (44% "en", 20 sources), and every 20th document from
    the 10th on is a near-duplicate of the one 7 before it. So the work
    that depends on lengths, languages, sources and duplicate pairs is the
    same for every seed."""
    texts = [" ".join(VOCAB[w] for w in rng.choice(len(VOCAB), 10 + (i * 37) % 90))
             for i in range(n)]
    n_dup = int(round(n * NEAR_DUP_SHARE))
    for j in range(n_dup):
        texts[20 * j + 10] = texts[20 * j + 3] + " dup"
    return pa.table({
        "doc_id": pa.array(np.arange(n), pa.int64()),
        "text": pa.array(texts, pa.string()),
        "lang": pa.array([LANGS[0] if i % 25 < 11 else LANGS[1 + i % 4] for i in range(n)], pa.string()),
        "source": pa.array([f"src{(i * 7) % 20}" for i in range(n)], pa.string()),
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })


def embeddings(rng, n):
    v = rng.standard_normal((n, EMBED_DIM)).astype(np.float32)
    v /= np.linalg.norm(v, axis=1, keepdims=True)
    return pa.table({
        "vec_id": pa.array(np.arange(n), pa.int64()),
        "embedding": pa.array(list(v), pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, n), pa.int32()),
    })


def tables(seed):
    """All ten tables for `seed`, as {name: pyarrow.Table}."""
    # numpy takes only non-negative seeds; any integer on the command line works
    rng = np.random.default_rng(seed % 2**64)
    n = ROWS
    out = {
        "region": pa.table({"r_regionkey": pa.array(range(5), pa.int32()),
                            "r_name": pa.array(REGIONS, pa.string())}),
        "nation": pa.table({"n_nationkey": pa.array(range(25), pa.int32()),
                            "n_name": pa.array([f"NATION_{i}" for i in range(25)], pa.string()),
                            "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())}),
    }
    c = n["customer"]
    out["customer"] = pa.table({
        "c_custkey": pa.array(np.arange(c), pa.int64()),
        "c_name": pa.array([f"Customer#{i:09d}" for i in range(c)], pa.string()),
        "c_nationkey": pa.array(rng.integers(0, 25, c), pa.int32()),
        "c_acctbal": pa.array(_money(rng, -999.99, 9999.99, c), pa.float64()),
        "c_mktsegment": _pick(rng, SEGMENTS, c),
    })
    s = n["supplier"]
    out["supplier"] = pa.table({
        "s_suppkey": pa.array(np.arange(s), pa.int64()),
        "s_name": pa.array([f"Supplier#{i:09d}" for i in range(s)], pa.string()),
        "s_nationkey": pa.array(rng.integers(0, 25, s), pa.int32()),
        "s_acctbal": pa.array(_money(rng, -999.99, 9999.99, s), pa.float64()),
    })
    p = n["part"]
    out["part"] = pa.table({
        "p_partkey": pa.array(np.arange(p), pa.int64()),
        "p_name": pa.array([f"{ADJ[a]} {NOUN[b]}" for a, b in
                            zip(rng.integers(0, 8, p), rng.integers(0, 8, p))], pa.string()),
        "p_brand": pa.array([f"Brand#{k}" for k in rng.integers(1, 26, p)], pa.string()),
        "p_type": _pick(rng, TYPES, p),
        "p_size": pa.array(rng.integers(1, 51, p), pa.int32()),
        "p_retailprice": pa.array([900 + (i % 1000) / 10 for i in range(p)], pa.float64()),
    })
    o = n["orders"]
    out["orders"] = pa.table({
        "o_orderkey": pa.array(np.arange(o), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, c, o), pa.int64()),
        "o_orderstatus": _pick(rng, ["F", "O", "P"], o),
        "o_totalprice": pa.array(_money(rng, 1000, 500000, o), pa.float64()),
        "o_orderdate": _days(rng, "1995-01-01", "2001-08-01", o),
        "o_orderpriority": _pick(rng, PRIORITIES, o),
    })
    li = n["lineitem"]
    out["lineitem"] = pa.table({
        "l_orderkey": pa.array(rng.integers(0, o, li), pa.int64()),
        "l_partkey": pa.array(rng.integers(0, p, li), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, s, li), pa.int64()),
        "l_linenumber": pa.array(rng.integers(1, 8, li), pa.int32()),
        "l_quantity": pa.array(rng.integers(1, 51, li).astype(np.float64), pa.float64()),
        "l_extendedprice": pa.array(_money(rng, 900, 105000, li), pa.float64()),
        "l_discount": pa.array(rng.integers(0, 11, li) / 100, pa.float64()),
        "l_tax": pa.array(rng.integers(0, 9, li) / 100, pa.float64()),
        "l_returnflag": _pick(rng, ["A", "N", "R"], li),
        "l_linestatus": _pick(rng, ["F", "O"], li),
        "l_shipdate": _days(rng, "1995-01-02", "2001-11-04", li),
    })
    e = n["events"]
    t0 = np.datetime64("2024-01-01", "us").astype("int64")
    out["events"] = pa.table({
        "event_id": pa.array(np.arange(e), pa.int64()),
        "ts": _ts(t0 + np.sort(rng.integers(0, 30 * DAY_US, e))),
        "user_id": pa.array(rng.integers(0, e * 3 // 200, e), pa.int64()),
        "event_type": _pick(rng, EVENT_TYPES, e),
        "value": pa.array(np.maximum(np.round(rng.exponential(50, e), 2), 0.01), pa.float64()),
        "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, e)], pa.string()),
    })
    out["documents"] = documents(rng, n["documents"])
    out["embeddings"] = embeddings(rng, n["embeddings"])
    return out


def write(seed, out_dir):
    os.makedirs(out_dir, exist_ok=True)
    for name, table in tables(seed).items():
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))


def properties(data_dir):
    """The input properties the workloads' cost depends on, measured on the
    written tables."""
    con = duckdb.connect()
    for name in ["documents", "part", "orders", "lineitem", "embeddings"]:
        con.execute(f"CREATE VIEW {name} AS SELECT * FROM "
                    f"read_parquet('{data_dir}/{name}.parquet')")
    near_dup, = con.sql("""
        SELECT avg(CASE WHEN EXISTS (SELECT 1 FROM documents o
                   WHERE d.text = o.text || ' dup') THEN 1.0 ELSE 0.0 END)
        FROM documents d""").fetchone()
    gaz_hit, = con.sql("""
        WITH alias AS (SELECT DISTINCT unnest(string_split(p_name, ' ')) AS w FROM part),
             tok AS (SELECT unnest(string_split(text, ' ')) AS w FROM documents)
        SELECT avg(CASE WHEN w IN (SELECT w FROM alias) THEN 1.0 ELSE 0.0 END) FROM tok""").fetchone()
    edges, vertices = con.sql("""
        WITH e AS (SELECT DISTINCT o_custkey AS src, 100000 + l_suppkey AS dst
                   FROM orders JOIN lineitem ON o_orderkey = l_orderkey
                   WHERE l_quantity >= 48)
        SELECT count(*), (SELECT count(*) FROM (SELECT src FROM e UNION SELECT dst FROM e))
        FROM e""").fetchone()
    n_emb, = con.sql("SELECT count(*) FROM embeddings").fetchone()
    return {"near_dup_share": round(near_dup, 4),
            "gazetteer_hit_share": round(gaz_hit, 4),
            "graph_edges": edges,
            "graph_mean_degree": round(2 * edges / vertices, 3),
            "embeddings": n_emb}


def main(argv):
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--out", required=True)
    a = ap.parse_args(argv)
    write(a.seed, a.out)
    print(properties(a.out))


if __name__ == "__main__":
    main(sys.argv[1:])
