"""Seeded input generator for the benchmark.

Writes the ten tables the library's gates read (`region` ... `embeddings`,
one parquet file each) with the same schemas and value domains as the
project's synthetic test data: uniform TPC-H-like keys and categories, a
time-ordered `events` stream, a 30-word document corpus with planted
near-duplicates, and unit-norm 64-dim embeddings.

The same (seed, sizes) always produce byte-identical rows.
"""
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

WORDS = ("spark window merge table column vector stream value data small "
         "join filter big group hash customer sort order slow line part "
         "fast row the agg key query a scan batch").split()
LANGS = ["en", "zh", "de", "fr", "es"]
LANG_P = [0.41, 0.15, 0.14, 0.15, 0.15]
ADJ = "blue cold hot large new old red small".split()
NOUN = "anvil bolt gear gizmo plate ring rod widget".split()
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PTYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PRIOS = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
DIM = 64

US_PER_DAY = 86_400_000_000
ORDER_EPOCH = np.datetime64("1995-01-01T00:00:00", "us")
SHIP_EPOCH = np.datetime64("1995-01-02T00:00:00", "us")
EVENT_EPOCH = np.datetime64("2024-01-01T00:00:00", "us")


def _write(out_dir, name, cols):
    pq.write_table(pa.table(cols), os.path.join(out_dir, f"{name}.parquet"))


def _money(rng, lo, hi, n):
    return np.round(rng.uniform(lo, hi, n), 2)


def _pick(rng, values, n, p=None):
    return np.asarray(values, dtype=object)[rng.choice(len(values), n, p=p)]


def documents(seed, n):
    """`n` documents, ids 0..n-1. 5% repeat an earlier document plus the
    marker word `dup` (near-duplicates); a few repeat one verbatim."""
    rng = np.random.default_rng([seed, 1])
    texts = []
    for i in range(n):
        r = rng.random()
        if i > 0 and r < 0.05:
            texts.append(texts[rng.integers(0, i)] + " dup")
        elif i > 0 and r < 0.052:
            texts.append(texts[rng.integers(0, i)])
        else:
            k = int(rng.integers(10, 100))
            texts.append(" ".join(WORDS[j]
                                  for j in rng.integers(0, len(WORDS), k)))
    return {
        "doc_id": pa.array(np.arange(n, dtype=np.int64)),
        "text": pa.array(texts, pa.string()),
        "lang": pa.array(_pick(rng, LANGS, n, LANG_P), pa.string()),
        "source": pa.array([f"src{i % 20}" for i in range(n)], pa.string()),
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    }


def embeddings(seed, n, first_id=0):
    """`n` unit-norm float32 vectors with ids first_id.. and a label 0-9."""
    rng = np.random.default_rng([seed, 2, first_id])
    v = rng.standard_normal((n, DIM))
    v = (v / np.linalg.norm(v, axis=1, keepdims=True)).astype(np.float32)
    return {
        "vec_id": pa.array(np.arange(first_id, first_id + n, dtype=np.int64)),
        "embedding": pa.array(list(v), pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, n).astype(np.int32)),
    }


def tables(out_dir, seed, sf, n_docs, n_vecs):
    """All ten tables at TPC-H-like scale factor `sf` (sf=0.1 gives
    600k lineitems), `n_docs` documents and `n_vecs` embeddings."""
    os.makedirs(out_dir, exist_ok=True)
    rng = np.random.default_rng([seed, 0])
    n_cust = max(10, int(150_000 * sf))
    n_supp = max(5, int(10_000 * sf))
    n_part = max(20, int(200_000 * sf))
    n_ord = max(50, int(1_500_000 * sf))
    n_line = max(200, int(6_000_000 * sf))
    n_ev = max(100, int(1_000_000 * sf))
    n_users = max(5, int(n_ev * 0.015))

    _write(out_dir, "region", {
        "r_regionkey": pa.array(np.arange(5, dtype=np.int32)),
        "r_name": pa.array(REGIONS, pa.string())})
    _write(out_dir, "nation", {
        "n_nationkey": pa.array(np.arange(25, dtype=np.int32)),
        "n_name": pa.array([f"NATION_{i}" for i in range(25)], pa.string()),
        "n_regionkey": pa.array(rng.integers(0, 5, 25).astype(np.int32))})
    _write(out_dir, "customer", {
        "c_custkey": pa.array(np.arange(n_cust, dtype=np.int64)),
        "c_name": pa.array([f"Customer#{i:09d}" for i in range(n_cust)],
                           pa.string()),
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust).astype(np.int32)),
        "c_acctbal": pa.array(_money(rng, -999.99, 9999.99, n_cust)),
        "c_mktsegment": pa.array(_pick(rng, SEGMENTS, n_cust), pa.string())})
    _write(out_dir, "supplier", {
        "s_suppkey": pa.array(np.arange(n_supp, dtype=np.int64)),
        "s_name": pa.array([f"Supplier#{i:09d}" for i in range(n_supp)],
                           pa.string()),
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp).astype(np.int32)),
        "s_acctbal": pa.array(_money(rng, -999.99, 9999.99, n_supp))})
    pkeys = np.arange(n_part, dtype=np.int64)
    retail = np.round(900.0 + (pkeys % 1000) / 10.0, 1)
    _write(out_dir, "part", {
        "p_partkey": pa.array(pkeys),
        "p_name": pa.array([f"{ADJ[a]} {NOUN[b]}" for a, b in
                            rng.integers(0, 8, (n_part, 2))], pa.string()),
        "p_brand": pa.array([f"Brand#{b}" for b in
                             rng.integers(1, 26, n_part)], pa.string()),
        "p_type": pa.array(_pick(rng, PTYPES, n_part), pa.string()),
        "p_size": pa.array(rng.integers(1, 51, n_part).astype(np.int32)),
        "p_retailprice": pa.array(retail)})
    odays = rng.integers(0, 2405, n_ord)
    _write(out_dir, "orders", {
        "o_orderkey": pa.array(np.arange(n_ord, dtype=np.int64)),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_ord)),
        "o_orderstatus": pa.array(_pick(rng, ["F", "O", "P"], n_ord),
                                  pa.string()),
        "o_totalprice": pa.array(_money(rng, 1000.0, 500000.0, n_ord)),
        "o_orderdate": pa.array(ORDER_EPOCH + odays * US_PER_DAY,
                                pa.timestamp("us")),
        "o_orderpriority": pa.array(_pick(rng, PRIOS, n_ord), pa.string())})
    lpart = rng.integers(0, n_part, n_line)
    qty = rng.integers(1, 51, n_line).astype(np.float64)
    sdays = rng.integers(0, 2500, n_line)
    _write(out_dir, "lineitem", {
        "l_orderkey": pa.array(rng.integers(0, n_ord, n_line)),
        "l_partkey": pa.array(lpart),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n_line)),
        "l_linenumber": pa.array(rng.integers(1, 8, n_line).astype(np.int32)),
        "l_quantity": pa.array(qty),
        "l_extendedprice": pa.array(np.round(retail[lpart] * qty, 2)),
        "l_discount": pa.array(np.round(rng.uniform(0, 0.1, n_line), 2)),
        "l_tax": pa.array(np.round(rng.uniform(0, 0.08, n_line), 2)),
        "l_returnflag": pa.array(_pick(rng, ["A", "N", "R"], n_line),
                                 pa.string()),
        "l_linestatus": pa.array(_pick(rng, ["F", "O"], n_line), pa.string()),
        "l_shipdate": pa.array(SHIP_EPOCH + sdays * US_PER_DAY,
                               pa.timestamp("us"))})
    ets = np.sort(rng.integers(0, 30 * US_PER_DAY, n_ev))
    _write(out_dir, "events", {
        "event_id": pa.array(np.arange(n_ev, dtype=np.int64)),
        "ts": pa.array(EVENT_EPOCH + ets, pa.timestamp("us")),
        "user_id": pa.array(rng.integers(0, n_users, n_ev)),
        "event_type": pa.array(_pick(rng, EVENT_TYPES, n_ev), pa.string()),
        "value": pa.array(np.round(rng.exponential(50.0, n_ev), 2)),
        "props": pa.array([f'{{"k": {k}}}' for k in
                           rng.integers(0, 100, n_ev)], pa.string())})
    _write(out_dir, "documents", documents(seed, n_docs))
    _write(out_dir, "embeddings", embeddings(seed, n_vecs))
