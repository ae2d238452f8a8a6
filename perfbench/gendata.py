#!/usr/bin/env python3
"""Deterministic input tables for the lakehouse benchmark.

Usage: python3 perfbench/gendata.py <out_dir> [scale]

Writes the ten tables the engine's registry reads (region nation customer
supplier part orders lineitem events documents embeddings), one parquet
file each, with the column names and physical types of the engine's
TPC-H-ish test substrate: int64 keys, float64 measures, tz-less
timestamp[us], JSON `props`, word-vocabulary documents with planted
near-duplicates, and unit-norm 64-d clustered embeddings.

The tables depend only on `scale` and the fixed DATA_SEED, never on the
benchmark's --seed, so the expected result fingerprints kept next to
this file stay valid; the benchmark seed varies query order and the CDC
change stream instead. Every table is a single row group, as in the
substrate, so each scan is one task.
"""
import os
import sys

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

DATA_SEED = 42

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
COLORS = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
NOUNS = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
PTYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
WORDS = ["a", "agg", "batch", "big", "column", "customer", "data", "dup",
         "fast", "filter", "group", "hash", "join", "key", "line", "merge",
         "order", "part", "query", "row", "scan", "slow", "small", "sort",
         "spark", "stream", "table", "the", "value", "vector", "window"]
LANGS = ["de", "en", "es", "fr", "zh"]
LANG_P = [0.14, 0.41, 0.15, 0.15, 0.15]

US_PER_DAY = 86_400_000_000


def days_since_epoch(y, m, d):
    return int(np.datetime64(f"{y:04d}-{m:02d}-{d:02d}", "D").astype(np.int64))


def ts_days(days):
    return pa.array(days.astype(np.int64) * US_PER_DAY, pa.timestamp("us"))


def money(rng, lo, hi, n):
    return np.round(rng.uniform(lo, hi, n), 2)


def tables(scale: float) -> dict:
    rng = np.random.default_rng(DATA_SEED)
    n_cust = max(150, int(150_000 * scale))
    n_supp = max(10, int(10_000 * scale))
    n_part = max(200, int(200_000 * scale))
    n_ord = max(1500, int(1_500_000 * scale))
    n_line = 4 * n_ord
    n_evt = max(1000, int(1_000_000 * scale))
    n_users = max(150, n_evt // 66)
    n_docs = max(500, int(50_000 * scale))
    n_emb = max(500, int(20_000 * scale))
    out = {}

    out["region"] = pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": REGIONS})
    out["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())})

    out["customer"] = pa.table({
        "c_custkey": np.arange(n_cust, dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": rng.integers(0, 25, n_cust).astype(np.int32),
        "c_acctbal": money(rng, -999.99, 9999.99, n_cust),
        "c_mktsegment": rng.choice(SEGMENTS, n_cust)})
    out["supplier"] = pa.table({
        "s_suppkey": np.arange(n_supp, dtype=np.int64),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": rng.integers(0, 25, n_supp).astype(np.int32),
        "s_acctbal": money(rng, -999.99, 9999.99, n_supp)})
    names = [f"{c} {n}" for c in COLORS for n in NOUNS]
    out["part"] = pa.table({
        "p_partkey": np.arange(n_part, dtype=np.int64),
        "p_name": rng.choice(names, n_part),
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_part)],
        "p_type": rng.choice(PTYPES, n_part),
        "p_size": rng.integers(1, 51, n_part).astype(np.int32),
        "p_retailprice": np.round(
            900.0 + (np.arange(n_part) % 1000) / 10.0, 1)})

    d0 = days_since_epoch(1995, 1, 1)
    d1 = days_since_epoch(2001, 8, 1)
    out["orders"] = pa.table({
        "o_orderkey": np.arange(n_ord, dtype=np.int64),
        "o_custkey": rng.integers(0, n_cust, n_ord).astype(np.int64),
        "o_orderstatus": rng.choice(["F", "O", "P"], n_ord),
        "o_totalprice": money(rng, 1000.0, 500000.0, n_ord),
        "o_orderdate": ts_days(rng.integers(d0, d1 + 1, n_ord)),
        "o_orderpriority": rng.choice(PRIORITIES, n_ord)})

    s0 = days_since_epoch(1995, 1, 2)
    s1 = days_since_epoch(2001, 11, 4)
    out["lineitem"] = pa.table({
        "l_orderkey": rng.integers(0, n_ord, n_line).astype(np.int64),
        "l_partkey": rng.integers(0, n_part, n_line).astype(np.int64),
        "l_suppkey": rng.integers(0, n_supp, n_line).astype(np.int64),
        "l_linenumber": rng.integers(1, 8, n_line).astype(np.int32),
        "l_quantity": rng.integers(1, 51, n_line).astype(np.float64),
        "l_extendedprice": money(rng, 900.0, 105000.0, n_line),
        "l_discount": rng.integers(0, 11, n_line) / 100.0,
        "l_tax": rng.integers(0, 9, n_line) / 100.0,
        "l_returnflag": rng.choice(["A", "N", "R"], n_line),
        "l_linestatus": rng.choice(["F", "O"], n_line),
        "l_shipdate": ts_days(rng.integers(s0, s1 + 1, n_line))})

    e0 = int(np.datetime64("2024-01-01T00:00:00", "us").astype(np.int64))
    span = 30 * US_PER_DAY
    ts = np.sort(rng.integers(e0, e0 + span, n_evt))
    out["events"] = pa.table({
        "event_id": np.arange(n_evt, dtype=np.int64),
        "ts": pa.array(ts, pa.timestamp("us")),
        "user_id": rng.integers(0, n_users, n_evt).astype(np.int64),
        "event_type": rng.choice(EVENT_TYPES, n_evt),
        "value": np.round(rng.exponential(40.0, n_evt), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_evt)]})

    texts = []
    for i in range(n_docs):
        r = rng.random()
        if texts and r < 0.02:          # exact duplicate
            texts.append(texts[int(rng.integers(0, len(texts)))])
        elif texts and r < 0.15:        # near duplicate: a few edited tokens
            toks = texts[int(rng.integers(0, len(texts)))].split(" ")
            for _ in range(int(rng.integers(1, 4))):
                toks[int(rng.integers(0, len(toks)))] = str(rng.choice(WORDS))
            texts.append(" ".join(toks))
        else:
            n = int(rng.integers(10, 101))
            texts.append(" ".join(rng.choice(WORDS, n)))
    out["documents"] = pa.table({
        "doc_id": np.arange(n_docs, dtype=np.int64),
        "text": texts,
        "lang": rng.choice(LANGS, n_docs, p=LANG_P),
        "source": [f"src{i % 20}" for i in range(n_docs)],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64)})

    centers = rng.normal(0.0, 1.0, (10, 64))
    labels = rng.integers(0, 10, n_emb)
    vecs = centers[labels] + rng.normal(0.0, 0.6, (n_emb, 64))
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
    out["embeddings"] = pa.table({
        "vec_id": np.arange(n_emb, dtype=np.int64),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "label": labels.astype(np.int32)})
    return out


def main():
    out_dir = sys.argv[1]
    scale = float(sys.argv[2]) if len(sys.argv) > 2 else 0.01
    tmp = out_dir + ".tmp"
    os.makedirs(tmp, exist_ok=True)
    for name, t in tables(scale).items():
        pq.write_table(t, f"{tmp}/{name}.parquet",
                       row_group_size=max(1, t.num_rows))
    os.replace(tmp, out_dir)


if __name__ == "__main__":
    main()
