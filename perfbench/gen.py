#!/usr/bin/env python3
"""Seeded fixture generator for the benchmark.

Writes the ten parquet tables the gate registry reads (region nation
customer supplier part orders lineitem events documents embeddings) with
the schemas and value shapes of the repository's TPC-H-ish test fixtures:
the same column types, key ranges, categorical domains, date windows,
5% planted near-duplicate documents (another document's text plus
" dup") and label-clustered unit embeddings. Row counts follow the
fixtures' scale factors (scale 0.01: 60k lineitem rows). The same (scale,
seed) gives byte-identical files.

Usage: gen.py <outDir> <scale> <seed>
"""
import os
import sys

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

WORDS = ("join hash row batch scan column customer filter small slow merge "
         "order vector line table data agg value key stream window a spark "
         "part group big sort query fast the").split()
COLORS = "blue cold hot large new old red small".split()
NOUNS = "anvil bolt gear gizmo plate ring rod widget".split()
P_TYPES = "ECONOMY STANDARD LARGE SMALL MEDIUM PROMO".split()
SEGMENTS = "MACHINERY AUTOMOBILE HOUSEHOLD FURNITURE BUILDING".split()
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = "click signup error view purchase".split()
LANGS = ["en", "de", "es", "fr", "zh"]
LANG_P = [0.44, 0.14, 0.14, 0.14, 0.14]
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]

US_PER_DAY = 86_400_000_000
EPOCH_1995 = np.datetime64("1995-01-01", "us").astype(np.int64)
EPOCH_2024 = np.datetime64("2024-01-01", "us").astype(np.int64)


def ts_us(values):
    return pa.array(values.astype(np.int64), type=pa.timestamp("us"))


def money(rng, lo, hi, n):
    return np.round(rng.uniform(lo, hi, n), 2)


def gen_tables(scale, seed):
    rng = np.random.default_rng(seed)
    n_supp = max(10, round(1000 * scale * 10) // 10)
    n_cust = max(150, int(150_000 * scale))
    n_part = max(200, int(200_000 * scale))
    n_ord = max(1500, int(1_500_000 * scale))
    n_line = max(6000, int(6_000_000 * scale))
    n_ev = max(1000, int(1_000_000 * scale))
    n_users = max(15, int(15_000 * scale))
    n_docs = max(500, int(50_000 * scale))
    n_vecs = max(500, int(20_000 * scale))
    t = {}
    t["region"] = pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": REGIONS})
    t["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())})
    t["supplier"] = pa.table({
        "s_suppkey": pa.array(np.arange(n_supp), pa.int64()),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int32()),
        "s_acctbal": money(rng, -999.99, 9999.99, n_supp)})
    t["customer"] = pa.table({
        "c_custkey": pa.array(np.arange(n_cust), pa.int64()),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
        "c_acctbal": money(rng, -999.99, 9999.99, n_cust),
        "c_mktsegment": np.array(SEGMENTS)[rng.integers(0, 5, n_cust)]})
    names = np.array([f"{c} {n}" for c in COLORS for n in NOUNS])
    t["part"] = pa.table({
        "p_partkey": pa.array(np.arange(n_part), pa.int64()),
        "p_name": names[rng.integers(0, len(names), n_part)],
        "p_brand": np.array([f"Brand#{i}" for i in range(1, 26)])[
            rng.integers(0, 25, n_part)],
        "p_type": np.array(P_TYPES)[rng.integers(0, 6, n_part)],
        "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
        "p_retailprice": np.round(900.0 + (np.arange(n_part) % 1000) / 10, 1)})
    t["orders"] = pa.table({
        "o_orderkey": pa.array(np.arange(n_ord), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_ord), pa.int64()),
        "o_orderstatus": np.array(["F", "O", "P"])[rng.integers(0, 3, n_ord)],
        "o_totalprice": money(rng, 1000.0, 500_000.0, n_ord),
        "o_orderdate": ts_us(EPOCH_1995 + rng.integers(0, 2404, n_ord) * US_PER_DAY),
        "o_orderpriority": np.array(PRIORITIES)[rng.integers(0, 5, n_ord)]})
    qty = rng.integers(1, 51, n_line).astype(np.float64)
    t["lineitem"] = pa.table({
        "l_orderkey": pa.array(rng.integers(0, n_ord, n_line), pa.int64()),
        "l_partkey": pa.array(rng.integers(0, n_part, n_line), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n_line), pa.int64()),
        "l_linenumber": pa.array(rng.integers(1, 8, n_line), pa.int32()),
        "l_quantity": qty,
        "l_extendedprice": np.round(qty * rng.uniform(900.0, 2100.0, n_line), 2),
        "l_discount": rng.integers(0, 11, n_line) / 100.0,
        "l_tax": rng.integers(0, 9, n_line) / 100.0,
        "l_returnflag": np.array(["A", "N", "R"])[rng.integers(0, 3, n_line)],
        "l_linestatus": np.array(["F", "O"])[rng.integers(0, 2, n_line)],
        "l_shipdate": ts_us(EPOCH_1995 + (1 + rng.integers(0, 2498, n_line)) * US_PER_DAY)})
    span = 30 * US_PER_DAY
    gaps = rng.exponential(span / (n_ev + 1), n_ev)
    ev_ts = EPOCH_2024 + np.minimum(np.cumsum(gaps), span - 1)
    t["events"] = pa.table({
        "event_id": pa.array(np.arange(n_ev), pa.int64()),
        "ts": ts_us(ev_ts),
        "user_id": pa.array(rng.integers(0, n_users, n_ev), pa.int64()),
        "event_type": np.array(EVENT_TYPES)[rng.integers(0, 5, n_ev)],
        "value": np.maximum(np.round(rng.exponential(50.0, n_ev), 2), 0.01),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)]})
    t["documents"] = gen_documents(rng, n_docs)
    t["embeddings"] = gen_embeddings(rng, n_vecs)
    return t


def gen_documents(rng, n):
    vocab = np.array(WORDS)
    texts = []
    for length in rng.integers(44, 580, n):
        words = vocab[rng.integers(0, len(vocab), length // 3 + 2)]
        texts.append(" ".join(words)[:length].rstrip())
    # 5% near-duplicates: another document's text with " dup" appended,
    # applied in random order so short chains (dup of a dup) also occur
    for i in rng.choice(n, n // 20, replace=False):
        j = int(rng.integers(0, n - 1))
        j += j >= i
        texts[i] = texts[j] + " dup"
    return pa.table({
        "doc_id": pa.array(np.arange(n), pa.int64()),
        "text": texts,
        "lang": np.array(LANGS)[rng.choice(5, n, p=LANG_P)],
        "source": [f"src{i % 20}" for i in range(n)],
        "n_chars": pa.array([len(s) for s in texts], pa.int64())})


def gen_embeddings(rng, n, dim=64, classes=10):
    centroids = rng.normal(0.0, 0.14, (classes, dim))
    labels = rng.integers(0, classes, n)
    v = centroids[labels] + rng.normal(0.0, 1.0, (n, dim))
    v /= np.linalg.norm(v, axis=1, keepdims=True)
    flat = pa.array(v.astype(np.float32).ravel(), pa.float32())
    return pa.table({
        "vec_id": pa.array(np.arange(n), pa.int64()),
        "embedding": pa.ListArray.from_arrays(
            pa.array(np.arange(0, n * dim + 1, dim), pa.int32()), flat),
        "label": pa.array(labels, pa.int32())})


def write_fixture(out, scale, seed):
    os.makedirs(out, exist_ok=True)
    for name, tab in sorted(gen_tables(scale, seed).items()):
        path = os.path.join(out, f"{name}.parquet")
        pq.write_table(tab, path + ".tmp")
        os.replace(path + ".tmp", path)


if __name__ == "__main__":
    if len(sys.argv) != 4:
        sys.exit(__doc__)
    write_fixture(sys.argv[1], float(sys.argv[2]), int(sys.argv[3]))
