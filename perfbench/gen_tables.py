"""Seeded generator for the query-mix input tables.

Writes the ten tables the registered queries read (`region nation
customer supplier part orders lineitem events documents embeddings`), one
parquet file each, with the schemas, row counts per scale factor and value
distributions of the program's test data (TESTDATA.md): the same column
names and types, categorical values, uniform keys, prices and dates over
the same ranges, documents of 10-99 words from the same 30-word
vocabulary with 5 % near-duplicates (an earlier text plus " dup"), and
unit-norm 64-dimensional embeddings with independent uniform labels.
The same seed and scale give the same rows.
"""
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

BENCH_SCALE = 0.005
TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
PTYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
ADJ = ["blue", "red", "small", "large", "old", "new", "hot", "cold"]
NOUN = ["bolt", "gear", "ring", "rod", "plate", "widget", "anvil", "gizmo"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
LANGS = ["en"] * 9 + ["de", "es", "fr", "zh"] * 3
WORDS = ["a", "agg", "batch", "big", "column", "customer", "data", "fast",
         "filter", "group", "hash", "join", "key", "line", "merge", "order",
         "part", "query", "row", "scan", "slow", "small", "sort", "spark",
         "stream", "table", "the", "value", "vector", "window"]
DUP_SHARE = 0.05
DIM = 64


def _ts(rng, n, start, days):
    base = np.datetime64(start, "us")
    return base + rng.integers(0, days * 86400 * 10**6, n).astype("timedelta64[us]")


def _days(rng, n, start, days):
    return np.datetime64(start, "us") + (
        rng.integers(0, days, n) * 86400 * 10**6).astype("timedelta64[us]")


def _money(rng, n, lo, hi):
    return np.round(rng.uniform(lo, hi, n), 2)


def tables(seed: int, sf: float) -> dict:
    rng = np.random.default_rng(seed)
    n_cust, n_ord = int(150000 * sf), int(1500000 * sf)
    n_line, n_part = int(6000000 * sf), int(200000 * sf)
    n_supp, n_ev = max(10, int(10000 * sf)), int(1000000 * sf)
    n_doc, n_emb = max(500, int(50000 * sf)), max(500, int(20000 * sf))
    n_users = max(15, int(15000 * sf))
    out = {}
    out["region"] = pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": REGIONS})
    out["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())})
    out["customer"] = pa.table({
        "c_custkey": pa.array(np.arange(n_cust), pa.int64()),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
        "c_acctbal": _money(rng, n_cust, -999.99, 9999.99),
        "c_mktsegment": rng.choice(SEGMENTS, n_cust)})
    out["supplier"] = pa.table({
        "s_suppkey": pa.array(np.arange(n_supp), pa.int64()),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int32()),
        "s_acctbal": _money(rng, n_supp, -999.99, 9999.99)})
    names = [f"{a} {b}" for a in ADJ for b in NOUN]
    out["part"] = pa.table({
        "p_partkey": pa.array(np.arange(n_part), pa.int64()),
        "p_name": rng.choice(names, n_part),
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_part)],
        "p_type": rng.choice(PTYPES, n_part),
        "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
        "p_retailprice": np.round(900 + (np.arange(n_part) % 1000) * 0.1, 2)})
    out["orders"] = pa.table({
        "o_orderkey": pa.array(np.arange(n_ord), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_ord), pa.int64()),
        "o_orderstatus": rng.choice(["F", "O", "P"], n_ord),
        "o_totalprice": _money(rng, n_ord, 1000, 500000),
        "o_orderdate": pa.array(_days(rng, n_ord, "1995-01-01", 2405),
                                pa.timestamp("us")),
        "o_orderpriority": rng.choice(PRIORITIES, n_ord)})
    qty = rng.integers(1, 51, n_line).astype(float)
    out["lineitem"] = pa.table({
        "l_orderkey": pa.array(rng.integers(0, n_ord, n_line), pa.int64()),
        "l_partkey": pa.array(rng.integers(0, n_part, n_line), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n_line), pa.int64()),
        "l_linenumber": pa.array(rng.integers(1, 8, n_line), pa.int32()),
        "l_quantity": qty,
        "l_extendedprice": _money(rng, n_line, 900, 105000),
        "l_discount": np.round(rng.integers(0, 11, n_line) / 100, 2),
        "l_tax": np.round(rng.integers(0, 9, n_line) / 100, 2),
        "l_returnflag": rng.choice(["A", "N", "R"], n_line),
        "l_linestatus": rng.choice(["F", "O"], n_line),
        "l_shipdate": pa.array(_days(rng, n_line, "1995-01-02", 2499),
                               pa.timestamp("us"))})
    ts = np.sort(_ts(rng, n_ev, "2024-01-01", 30))
    out["events"] = pa.table({
        "event_id": pa.array(np.arange(n_ev), pa.int64()),
        "ts": pa.array(ts, pa.timestamp("us")),
        "user_id": pa.array(rng.integers(0, n_users, n_ev), pa.int64()),
        "event_type": rng.choice(EVENT_TYPES, n_ev),
        "value": _money(rng, n_ev, 0.01, 490.0),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)]})
    texts = []
    for i in range(n_doc):
        if i > 10 and rng.random() < DUP_SHARE:
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        else:
            texts.append(" ".join(rng.choice(WORDS, int(rng.integers(10, 100)))))
    out["documents"] = pa.table({
        "doc_id": pa.array(np.arange(n_doc), pa.int64()),
        "text": texts,
        "lang": rng.choice(LANGS, n_doc),
        "source": [f"src{i % 20}" for i in range(n_doc)],
        "n_chars": pa.array([len(t) for t in texts], pa.int64())})
    labels = rng.integers(0, 10, n_emb)
    vecs = rng.normal(0, 1, (n_emb, DIM))
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
    out["embeddings"] = pa.table({
        "vec_id": pa.array(np.arange(n_emb), pa.int64()),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "label": pa.array(labels, pa.int32())})
    return out


def generate(out_dir: str, seed: int, sf: float = BENCH_SCALE) -> None:
    os.makedirs(out_dir, exist_ok=True)
    for name, t in tables(seed, sf).items():
        pq.write_table(t, os.path.join(out_dir, f"{name}.parquet"))


def input_rows(out_dir: str) -> int:
    """Rows across every generated table, read from the parquet footers."""
    return sum(pq.ParquetFile(os.path.join(out_dir, f"{t}.parquet")).metadata.num_rows
               for t in TABLES)

