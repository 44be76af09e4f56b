"""Seeded generator of the TPC-H-ish tables the declared queries read.

The schemas match the engine's query surface (`SparkEntry.queries`):
region nation customer supplier part orders lineitem events documents
embeddings, one parquet file each. Every value is a pure function of the
seed, and the files are written without wall-clock metadata, so
one seed always gives byte-identical files.

`documents` carries planted near-duplicates: about 5% of the documents copy
an earlier one with the last token dropped or a `dup` token appended (word
3-shingle Jaccard >= 0.875). `planted_doc_clusters` returns that truth.
"""
import datetime as dt
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

from bench import stats

WORDS = ("a agg batch big column customer data fast filter group hash join "
         "key line merge order part query row scan slow small sort spark "
         "stream table the value vector window").split()
LANGS = ["en", "zh", "es", "de", "fr"]
LANG_P = [0.44, 0.14, 0.14, 0.14, 0.14]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
ADJ = ["big", "blue", "hot", "large", "old", "red", "small", "tiny"]
NOUN = ["bolt", "gear", "gizmo", "nut", "plate", "ring", "valve", "widget"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
DUP_SHARE = 0.05

# row counts: the sizes of the sf0.01 test tables
ROWS = {"customer": 1500, "supplier": 100, "part": 2000,
             "orders": 15000, "lineitem": 60000, "events": 10000,
             "documents": 500, "embeddings": 500, "users": 150}


def _money(rng, lo, hi, n):
    return np.round(rng.uniform(lo, hi, n), 2)


def _ts(base, offsets_us):
    return pa.array((np.datetime64(base, "us") + offsets_us.astype("timedelta64[us]")),
                    type=pa.timestamp("us"))


def documents(seed):
    """(table, dup_edges): documents with planted (earlier, later) copies."""
    rng = np.random.default_rng([seed, 1])
    n = ROWS["documents"]
    texts, edges = [], []
    for i in range(n):
        if i >= 10 and rng.random() < DUP_SHARE:
            j = int(rng.integers(0, i))
            toks = texts[j].split()
            if len(toks) > 10 and rng.random() < 0.5:
                toks = toks[:-1]
            else:
                toks = toks + ["dup"]
            edges.append((j, i))
        else:
            toks = list(rng.choice(WORDS, size=int(rng.integers(10, 100))))
        texts.append(" ".join(toks))
    table = pa.table({
        "doc_id": pa.array(np.arange(n), pa.int64()),
        "text": pa.array(texts, pa.string()),
        "lang": pa.array(rng.choice(LANGS, size=n, p=LANG_P), pa.string()),
        "source": pa.array([f"src{k}" for k in rng.integers(0, 20, n)], pa.string()),
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })
    return table, edges


def planted_doc_clusters(seed):
    """doc_id -> smallest doc_id of its planted duplicate group."""
    table, edges = documents(seed)
    return stats.components(range(table.num_rows), edges)


def generate(seed):
    """All tables as {name: pyarrow.Table}."""
    rng = np.random.default_rng([seed, 0])
    n_cust, n_supp, n_part = (ROWS[k] for k in ("customer", "supplier", "part"))
    n_ord, n_line, n_ev = (ROWS[k] for k in ("orders", "lineitem", "events"))
    n_emb, n_users = ROWS["embeddings"], ROWS["users"]
    t = {}
    t["region"] = pa.table({"r_regionkey": pa.array(np.arange(5), pa.int32()),
                            "r_name": pa.array(REGIONS, pa.string())})
    t["nation"] = pa.table({
        "n_nationkey": pa.array(np.arange(25), pa.int32()),
        "n_name": pa.array([f"NATION_{i}" for i in range(25)], pa.string()),
        "n_regionkey": pa.array(np.arange(25) % 5, pa.int32())})
    t["customer"] = pa.table({
        "c_custkey": pa.array(np.arange(n_cust), pa.int64()),
        "c_name": pa.array([f"Customer#{i:09d}" for i in range(n_cust)], pa.string()),
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
        "c_acctbal": pa.array(_money(rng, -999.99, 9999.99, n_cust), pa.float64()),
        "c_mktsegment": pa.array(rng.choice(SEGMENTS, n_cust), pa.string())})
    t["supplier"] = pa.table({
        "s_suppkey": pa.array(np.arange(n_supp), pa.int64()),
        "s_name": pa.array([f"Supplier#{i:09d}" for i in range(n_supp)], pa.string()),
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int32()),
        "s_acctbal": pa.array(_money(rng, -999.99, 9999.99, n_supp), pa.float64())})
    t["part"] = pa.table({
        "p_partkey": pa.array(np.arange(n_part), pa.int64()),
        "p_name": pa.array([f"{ADJ[a]} {NOUN[b]}" for a, b in
                            zip(rng.integers(0, 8, n_part), rng.integers(0, 8, n_part))],
                           pa.string()),
        "p_brand": pa.array([f"Brand#{k}" for k in rng.integers(1, 26, n_part)], pa.string()),
        "p_type": pa.array(rng.choice(PART_TYPES, n_part), pa.string()),
        "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
        "p_retailprice": pa.array(np.round(900 + (np.arange(n_part) % 1000) / 10, 2),
                                  pa.float64())})
    day_us = 86_400_000_000
    t["orders"] = pa.table({
        "o_orderkey": pa.array(np.arange(n_ord), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_ord), pa.int64()),
        "o_orderstatus": pa.array(rng.choice(["F", "O", "P"], n_ord), pa.string()),
        "o_totalprice": pa.array(_money(rng, 1000, 500000, n_ord), pa.float64()),
        "o_orderdate": _ts(dt.datetime(1995, 1, 1), rng.integers(0, 2404, n_ord) * day_us),
        "o_orderpriority": pa.array(rng.choice(PRIORITIES, n_ord), pa.string())})
    qty = rng.integers(1, 51, n_line).astype(np.float64)
    t["lineitem"] = pa.table({
        "l_orderkey": pa.array(rng.integers(0, n_ord, n_line), pa.int64()),
        "l_partkey": pa.array(rng.integers(0, n_part, n_line), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n_line), pa.int64()),
        "l_linenumber": pa.array(rng.integers(1, 8, n_line), pa.int32()),
        "l_quantity": pa.array(qty, pa.float64()),
        "l_extendedprice": pa.array(np.round(qty * rng.uniform(900, 2100, n_line), 2),
                                    pa.float64()),
        "l_discount": pa.array(rng.integers(0, 11, n_line) / 100, pa.float64()),
        "l_tax": pa.array(rng.integers(0, 9, n_line) / 100, pa.float64()),
        "l_returnflag": pa.array(rng.choice(["A", "N", "R"], n_line), pa.string()),
        "l_linestatus": pa.array(rng.choice(["F", "O"], n_line), pa.string()),
        "l_shipdate": _ts(dt.datetime(1995, 1, 1), rng.integers(0, 2600, n_line) * day_us)})
    t["events"] = pa.table({
        "event_id": pa.array(np.arange(n_ev), pa.int64()),
        "ts": _ts(dt.datetime(2024, 1, 1),
                  np.sort(rng.integers(0, 30 * day_us, n_ev))),
        "user_id": pa.array(rng.integers(0, n_users, n_ev), pa.int64()),
        "event_type": pa.array(rng.choice(EVENT_TYPES, n_ev), pa.string()),
        "value": pa.array(np.maximum(0.01, np.round(rng.exponential(50, n_ev), 2)),
                          pa.float64()),
        "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)],
                          pa.string())})
    emb = rng.standard_normal((n_emb, 64)).astype(np.float32)
    emb /= np.linalg.norm(emb, axis=1, keepdims=True)
    t["embeddings"] = pa.table({
        "vec_id": pa.array(np.arange(n_emb), pa.int64()),
        "embedding": pa.array(list(emb), pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, n_emb), pa.int32())})
    t["documents"] = documents(seed)[0]
    return t


def write(out_dir, seed):
    """Write every table to `out_dir/<name>.parquet`; returns {name: rows}."""
    os.makedirs(out_dir, exist_ok=True)
    rows = {}
    for name, table in generate(seed).items():
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))
        rows[name] = table.num_rows
    return rows
