"""Deterministic synthetic source tables for the catalog benchmark.

Writes one single-row-group parquet file per table (region, nation,
customer, supplier, part, orders, lineitem, events, documents, embeddings)
with the schemas and value distributions the catalog's entries are written
against: a TPC-H-like star schema, an event stream sorted by time over 30
days, a 30-word document corpus in which one document in twenty is a copy of
another with " dup" appended, and unit-norm 64-dimensional embeddings with a
weak per-label signal.

Usage: python3 perfbench/gendata.py <scale factor> <output dir>
"""
import datetime
import os
import sys

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

SEED = 42
WORDS = ("spark window merge table column vector stream value data small join "
         "filter big group hash customer sort order slow line part fast row the "
         "agg key query a scan batch").split()
ADJ = "red blue small large hot cold old new".split()
NOUN = "ring widget bolt gear plate rod gizmo anvil".split()
LANGS = ["en", "zh", "de", "fr", "es"]


def _ts(start, seconds):
    """Microsecond timestamps `seconds` after the date `start`."""
    base = np.datetime64(start, "us")
    return pa.array(base + (np.asarray(seconds) * 1e6).astype("timedelta64[us]"),
                    type=pa.timestamp("us"))


def _days(rng, n, first, last):
    span = (datetime.date.fromisoformat(last) - datetime.date.fromisoformat(first)).days
    return _ts(first, rng.integers(0, span + 1, n) * 86400)


def tables(sf):
    rng = np.random.default_rng(SEED)
    n_cust, n_supp, n_part = int(150000 * sf), int(10000 * sf), int(200000 * sf)
    n_ord, n_line, n_ev = int(1500000 * sf), int(6000000 * sf), int(1000000 * sf)
    n_doc = max(500, int(50000 * sf))
    n_vec = max(500, int(20000 * sf))
    money = lambda lo, hi, n: np.round(rng.uniform(lo, hi, n), 2)
    pick = lambda xs, n: pa.array(np.array(xs)[rng.integers(0, len(xs), n)])
    i32 = lambda xs: pa.array(np.asarray(xs, dtype=np.int32))
    i64 = lambda xs: pa.array(np.asarray(xs, dtype=np.int64))

    out = {}
    out["region"] = pa.table({
        "r_regionkey": i32(range(5)),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]})
    out["nation"] = pa.table({
        "n_nationkey": i32(range(25)),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": i32([i % 5 for i in range(25)])})
    out["customer"] = pa.table({
        "c_custkey": i64(range(n_cust)),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": i32(rng.integers(0, 25, n_cust)),
        "c_acctbal": money(-999.99, 9999.99, n_cust),
        "c_mktsegment": pick(["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"], n_cust)})
    out["supplier"] = pa.table({
        "s_suppkey": i64(range(n_supp)),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": i32(rng.integers(0, 25, n_supp)),
        "s_acctbal": money(-999.99, 9999.99, n_supp)})
    out["part"] = pa.table({
        "p_partkey": i64(range(n_part)),
        "p_name": pa.array([f"{ADJ[a]} {NOUN[b]}" for a, b in
                            zip(rng.integers(0, 8, n_part), rng.integers(0, 8, n_part))]),
        "p_brand": pa.array([f"Brand#{b}" for b in rng.integers(1, 26, n_part)]),
        "p_type": pick(["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"], n_part),
        "p_size": i32(rng.integers(1, 51, n_part)),
        "p_retailprice": np.round(900 + (np.arange(n_part) % 1000) / 10, 1)})
    out["orders"] = pa.table({
        "o_orderkey": i64(range(n_ord)),
        "o_custkey": i64(rng.integers(0, n_cust, n_ord)),
        "o_orderstatus": pick(["F", "O", "P"], n_ord),
        "o_totalprice": money(1000, 500000, n_ord),
        "o_orderdate": _days(rng, n_ord, "1995-01-01", "2001-08-01"),
        "o_orderpriority": pick(["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"], n_ord)})
    flags = rng.integers(0, 3, n_line)
    out["lineitem"] = pa.table({
        "l_orderkey": i64(rng.integers(0, n_ord, n_line)),
        "l_partkey": i64(rng.integers(0, n_part, n_line)),
        "l_suppkey": i64(rng.integers(0, n_supp, n_line)),
        "l_linenumber": i32(rng.integers(1, 8, n_line)),
        "l_quantity": rng.integers(1, 51, n_line).astype(np.float64),
        "l_extendedprice": money(900, 105000, n_line),
        "l_discount": rng.integers(0, 11, n_line) / 100.0,
        "l_tax": rng.integers(0, 9, n_line) / 100.0,
        "l_returnflag": pa.array(np.array(["A", "N", "R"])[flags]),
        "l_linestatus": pick(["F", "O"], n_line),
        "l_shipdate": _days(rng, n_line, "1995-01-02", "2001-11-04")})
    secs = np.sort(rng.uniform(0, 30 * 86400, n_ev))
    out["events"] = pa.table({
        "event_id": i64(range(n_ev)),
        "ts": _ts("2024-01-01", secs),
        "user_id": i64(rng.integers(0, int(15000 * sf), n_ev)),
        "event_type": pick(["click", "error", "purchase", "signup", "view"], n_ev),
        "value": np.maximum(0.01, np.round(rng.exponential(50, n_ev), 2)),
        "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)])})
    words = np.array(WORDS)
    texts = [" ".join(words[rng.integers(0, len(WORDS), k)]) for k in rng.integers(10, 101, n_doc)]
    for d in np.flatnonzero(rng.random(n_doc) < 0.05):
        texts[d] = texts[rng.integers(0, n_doc)] + " dup"
    out["documents"] = pa.table({
        "doc_id": i64(range(n_doc)),
        "text": pa.array(texts),
        "lang": pa.array(np.array(LANGS)[rng.choice(5, n_doc, p=[0.42, 0.145, 0.145, 0.145, 0.145])]),
        "source": pa.array([f"src{i % 20}" for i in range(n_doc)]),
        "n_chars": i64([len(t) for t in texts])})
    labels = rng.integers(0, 10, n_vec)
    centers = rng.normal(0, 1, (10, 64))
    vecs = rng.normal(0, 1, (n_vec, 64)) + 0.3 * centers[labels]
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
    out["embeddings"] = pa.table({
        "vec_id": i64(range(n_vec)),
        "embedding": pa.array(list(vecs), type=pa.list_(pa.float32())),
        "label": i32(labels)})
    return out


def write(sf, out_dir):
    """Write every table of scale factor `sf` into `out_dir` atomically."""
    tmp = f"{out_dir}.tmp{os.getpid()}"
    os.makedirs(tmp)
    for name, t in tables(sf).items():
        pq.write_table(t, f"{tmp}/{name}.parquet", row_group_size=len(t) + 1)
    os.rename(tmp, out_dir)


if __name__ == "__main__":
    write(float(sys.argv[1]), sys.argv[2])
