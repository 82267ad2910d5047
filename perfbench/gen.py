"""Fixture generator for the perfbench workloads.

`lake(dir, sf)` writes the ten TPC-H-like parquet tables the registry and
the dbdiff loop read, with the schemas, key ranges and value domains of the
repository's test fixtures. The lake depends only on `sf` (fixed internal
seed), so it is built once per checkout and reused by every run.

`derby_fixture(lake, out, tables)` writes CSV copies of some of its
tables and the DDL that loads them into embedded Derby for the
`loop_jdbc_churn` workload.
"""
import os
import shutil

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

BASE_SEED = 42
WORDS = ("the a fast slow big small key value row column table data query join "
         "filter group sort merge hash scan window stream batch agg order line "
         "part customer vector spark").split()
NOUNS = "anvil bolt gear gizmo plate ring rod widget".split()
ADJS = "blue cold hot large new old red small".split()
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
LANGS = ["de", "en", "es", "fr", "zh"]
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]

# Primary keys of the diffable tables (graft.Tables).
PKS = {"region": ["r_regionkey"], "nation": ["n_nationkey"], "customer": ["c_custkey"],
       "supplier": ["s_suppkey"], "part": ["p_partkey"], "orders": ["o_orderkey"],
       "lineitem": ["l_orderkey", "l_linenumber"], "events": ["event_id"],
       "documents": ["doc_id"]}

US_PER_DAY = 86_400_000_000


def _ts(days_from, rng, n, lo_day, hi_day):
    base = np.datetime64(days_from, "us").astype(np.int64)
    days = rng.integers(lo_day, hi_day + 1, n)
    return pa.array(base + days * US_PER_DAY, pa.timestamp("us"))


def _money(rng, n, lo, hi):
    return np.round(rng.uniform(lo, hi, n), 2)


def build_lake(sf):
    """The ten tables as {name: pyarrow.Table}."""
    rng = np.random.default_rng(BASE_SEED)
    n_cust, n_supp, n_part = int(150_000 * sf), max(10, int(10_000 * sf)), int(200_000 * sf)
    n_ord, n_ev = int(1_500_000 * sf), int(1_000_000 * sf)
    n_users = max(15, int(15_000 * sf))
    n_docs, n_emb = max(500, int(50_000 * sf)), max(500, int(20_000 * sf))
    t = {}
    t["region"] = pa.table({"r_regionkey": pa.array(range(5), pa.int32()),
                            "r_name": REGIONS})
    t["nation"] = pa.table({"n_nationkey": pa.array(range(25), pa.int32()),
                            "n_name": [f"NATION_{i}" for i in range(25)],
                            "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())})
    ck = np.arange(n_cust, dtype=np.int64)
    t["customer"] = pa.table({
        "c_custkey": ck, "c_name": [f"Customer#{i:09d}" for i in ck],
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
        "c_acctbal": _money(rng, n_cust, -999.99, 9999.99),
        "c_mktsegment": [SEGMENTS[i] for i in rng.integers(0, 5, n_cust)]})
    sk = np.arange(n_supp, dtype=np.int64)
    t["supplier"] = pa.table({
        "s_suppkey": sk, "s_name": [f"Supplier#{i:09d}" for i in sk],
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int32()),
        "s_acctbal": _money(rng, n_supp, -999.99, 9999.99)})
    pk = np.arange(n_part, dtype=np.int64)
    t["part"] = pa.table({
        "p_partkey": pk,
        "p_name": [f"{ADJS[a]} {NOUNS[b]}" for a, b in
                   zip(rng.integers(0, 8, n_part), rng.integers(0, 8, n_part))],
        "p_brand": [f"Brand#{i}" for i in rng.integers(1, 26, n_part)],
        "p_type": [TYPES[i] for i in rng.integers(0, 6, n_part)],
        "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
        "p_retailprice": np.round(900.0 + (pk % 1000) * 0.1, 2)})
    ok = np.arange(n_ord, dtype=np.int64)
    t["orders"] = pa.table({
        "o_orderkey": ok, "o_custkey": rng.integers(0, n_cust, n_ord).astype(np.int64),
        "o_orderstatus": [("F", "O", "P")[i] for i in rng.integers(0, 3, n_ord)],
        "o_totalprice": _money(rng, n_ord, 1000.0, 500_000.0),
        "o_orderdate": _ts("1995-01-01", rng, n_ord, 0, 2404),
        "o_orderpriority": [PRIORITIES[i] for i in rng.integers(0, 5, n_ord)]})
    lines = rng.integers(1, 8, n_ord)
    lo = np.repeat(ok, lines)
    ln = np.concatenate([np.arange(1, k + 1) for k in lines]).astype(np.int32)
    n_li = len(lo)
    qty = rng.integers(1, 51, n_li).astype(np.float64)
    t["lineitem"] = pa.table({
        "l_orderkey": lo, "l_partkey": rng.integers(0, n_part, n_li).astype(np.int64),
        "l_suppkey": rng.integers(0, n_supp, n_li).astype(np.int64),
        "l_linenumber": pa.array(ln, pa.int32()), "l_quantity": qty,
        "l_extendedprice": np.round(qty * rng.uniform(900.0, 2100.0, n_li), 2),
        "l_discount": rng.integers(0, 11, n_li) / 100.0,
        "l_tax": rng.integers(0, 9, n_li) / 100.0,
        "l_returnflag": [("A", "N", "R")[i] for i in rng.integers(0, 3, n_li)],
        "l_linestatus": [("F", "O")[i] for i in rng.integers(0, 2, n_li)],
        "l_shipdate": _ts("1995-01-02", rng, n_li, 0, 2498)})
    ev_us = np.sort(rng.integers(0, 30 * US_PER_DAY, n_ev))
    t["events"] = pa.table({
        "event_id": np.arange(n_ev, dtype=np.int64),
        "ts": pa.array(np.datetime64("2024-01-01", "us").astype(np.int64) + ev_us,
                       pa.timestamp("us")),
        "user_id": rng.integers(0, n_users, n_ev).astype(np.int64),
        "event_type": [EVENT_TYPES[i] for i in rng.integers(0, 5, n_ev)],
        "value": _money(rng, n_ev, 0.01, 500.0),
        "props": [f'{{"k": {i}}}' for i in rng.integers(0, 100, n_ev)]})
    texts = []
    for i in range(n_docs):
        if i > 20 and rng.random() < 0.05:  # near-duplicate of an earlier doc
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        else:
            texts.append(" ".join(WORDS[j] for j in rng.integers(0, len(WORDS),
                                                                  int(rng.integers(10, 100)))))
    t["documents"] = pa.table({
        "doc_id": np.arange(n_docs, dtype=np.int64), "text": texts,
        "lang": [LANGS[i] for i in rng.integers(0, 5, n_docs)],
        "source": [f"src{i}" for i in rng.integers(0, 20, n_docs)],
        "n_chars": np.array([len(s) for s in texts], dtype=np.int64)})
    labels = rng.integers(0, 10, n_emb)
    centers = rng.normal(0, 1, (10, 64))
    vec = centers[labels] * 0.6 + rng.normal(0, 1, (n_emb, 64))
    vec = (vec / np.linalg.norm(vec, axis=1, keepdims=True)).astype(np.float32)
    t["embeddings"] = pa.table({
        "vec_id": np.arange(n_emb, dtype=np.int64),
        "embedding": pa.array(list(vec), pa.list_(pa.float32())),
        "label": pa.array(labels, pa.int32())})
    return t


def write_lake(tables, d):
    os.makedirs(d, exist_ok=True)
    for name, tab in tables.items():
        pq.write_table(tab, os.path.join(d, f"{name}.parquet"))


def lake(d, sf):
    """Builds the lake at `d` unless a complete one is already there."""
    if os.path.exists(d):
        return
    tmp = f"{d}.tmp{os.getpid()}"
    write_lake(build_lake(sf), tmp)
    try:
        os.rename(tmp, d)  # atomic: a lake directory is always complete
    except OSError:  # a concurrent run got there first
        shutil.rmtree(tmp, ignore_errors=True)


DERBY_TYPES = {"int32": "INT", "int64": "BIGINT", "double": "DOUBLE", "string": "VARCHAR(200)",
               "timestamp[us]": "TIMESTAMP"}


def derby_fixture(lake_dir, out, tables):
    """CSV copies of `tables` plus the DDL that declares them in Derby with
    NOT NULL primary keys, for the `loop_jdbc_churn` database load."""
    import duckdb
    os.makedirs(out, exist_ok=True)
    con = duckdb.connect()
    specs = []
    for t in tables:
        src = os.path.join(lake_dir, f"{t}.parquet")
        schema = pq.read_schema(src)
        cols = [f"{f.name.upper()} {DERBY_TYPES[str(f.type)]}"
                + (" NOT NULL" if f.name in PKS[t] else "") for f in schema]
        ddl = (f"CREATE TABLE {t.upper()} ({', '.join(cols)}, "
               f"PRIMARY KEY ({', '.join(k.upper() for k in PKS[t])}))")
        csv = os.path.join(out, f"{t}.csv")
        con.execute(f"COPY (SELECT * FROM read_parquet('{src}')) TO '{csv}' "
                    "(HEADER false, TIMESTAMPFORMAT '%Y-%m-%d %H:%M:%S')")
        specs.append({"table": t.upper(), "ddl": ddl, "csv": csv})
    return specs
