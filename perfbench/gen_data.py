#!/usr/bin/env python3
"""Deterministic synthetic tables for the benchmark.

Writes the ten parquet tables the query surface reads (`region nation
customer supplier part orders lineitem events documents embeddings`) with
the same physical schemas, key ranges and value domains as the graded
fixture family: a TPC-H-ish star schema, an `events` stream table and the
`documents`/`embeddings` corpus. Every table is one row group, as the
fixture files are.

Usage: python3 gen_data.py <out_dir> <scale_factor> <data_seed>
"""
import sys
from pathlib import Path

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

WORDS = ["spark", "window", "merge", "table", "column", "vector", "stream",
         "value", "data", "small", "join", "filter", "big", "group", "hash",
         "customer", "sort", "order", "slow", "line", "part", "fast", "row",
         "the", "agg", "key", "query", "a", "scan", "batch"]
ADJ = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
NOUN = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PTYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["view", "click", "purchase", "signup", "error"]
LANGS = ["en", "de", "es", "fr", "zh"]
LANG_P = [0.4, 0.15, 0.15, 0.15, 0.15]

DAY_US = 86_400_000_000


def days_us(start, end, n, rng):
    """`n` midnight timestamps (µs since epoch) uniform in [start, end]."""
    lo = np.datetime64(start, "D").astype(np.int64)
    hi = np.datetime64(end, "D").astype(np.int64)
    return rng.integers(lo, hi + 1, n) * DAY_US


def cents(lo, hi, n, rng):
    return np.round(rng.integers(int(lo * 100), int(hi * 100) + 1, n) / 100.0, 2)


def ts_col(us):
    return pa.array(us.astype("datetime64[us]"), pa.timestamp("us"))


def write(out, name, cols):
    table = pa.table(cols)
    pq.write_table(table, out / f"{name}.parquet", row_group_size=len(table) + 1,
                   compression="snappy")


def pick(vocab, idx):
    return pa.array(np.asarray(vocab, dtype=object)[idx], pa.string())


def main():
    out, sf, seed = Path(sys.argv[1]), float(sys.argv[2]), int(sys.argv[3])
    out.mkdir(parents=True, exist_ok=True)
    rng = np.random.default_rng(seed)
    n_supp, n_cust, n_part = int(10_000 * sf), int(150_000 * sf), int(200_000 * sf)
    n_ord, n_line, n_ev = int(1_500_000 * sf), int(6_000_000 * sf), int(1_000_000 * sf)
    n_users = int(15_000 * sf)
    n_docs, n_emb = max(500, int(50_000 * sf)), max(500, int(20_000 * sf))

    write(out, "region", {
        "r_regionkey": pa.array(np.arange(5, dtype=np.int32)),
        "r_name": pa.array(REGIONS)})
    write(out, "nation", {
        "n_nationkey": pa.array(np.arange(25, dtype=np.int32)),
        "n_name": pa.array([f"NATION_{i}" for i in range(25)]),
        "n_regionkey": pa.array(np.arange(25, dtype=np.int32) % 5)})
    write(out, "supplier", {
        "s_suppkey": pa.array(np.arange(n_supp, dtype=np.int64)),
        "s_name": pa.array([f"Supplier#{i:09d}" for i in range(n_supp)]),
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp).astype(np.int32)),
        "s_acctbal": pa.array(cents(-999.99, 9999.99, n_supp, rng))})
    write(out, "customer", {
        "c_custkey": pa.array(np.arange(n_cust, dtype=np.int64)),
        "c_name": pa.array([f"Customer#{i:09d}" for i in range(n_cust)]),
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust).astype(np.int32)),
        "c_acctbal": pa.array(cents(-999.99, 9999.99, n_cust, rng)),
        "c_mktsegment": pick(SEGMENTS, rng.integers(0, 5, n_cust))})
    pk = np.arange(n_part, dtype=np.int64)
    write(out, "part", {
        "p_partkey": pa.array(pk),
        "p_name": pa.array([f"{ADJ[a]} {NOUN[b]}" for a, b in
                            zip(rng.integers(0, 8, n_part), rng.integers(0, 8, n_part))]),
        "p_brand": pa.array([f"Brand#{i}" for i in rng.integers(1, 26, n_part)]),
        "p_type": pick(PTYPES, rng.integers(0, 6, n_part)),
        "p_size": pa.array(rng.integers(1, 51, n_part).astype(np.int32)),
        "p_retailprice": pa.array(np.round(900.0 + (pk % 1000) / 10.0, 1))})
    write(out, "orders", {
        "o_orderkey": pa.array(np.arange(n_ord, dtype=np.int64)),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_ord)),
        "o_orderstatus": pick(["F", "O", "P"], rng.integers(0, 3, n_ord)),
        "o_totalprice": pa.array(cents(1000.0, 500000.0, n_ord, rng)),
        "o_orderdate": ts_col(days_us("1995-01-01", "2001-08-01", n_ord, rng)),
        "o_orderpriority": pick(PRIORITIES, rng.integers(0, 5, n_ord))})
    write(out, "lineitem", {
        "l_orderkey": pa.array(rng.integers(0, n_ord, n_line)),
        "l_partkey": pa.array(rng.integers(0, n_part, n_line)),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n_line)),
        "l_linenumber": pa.array(rng.integers(1, 8, n_line).astype(np.int32)),
        "l_quantity": pa.array(rng.integers(1, 51, n_line).astype(np.float64)),
        "l_extendedprice": pa.array(cents(900.0, 105000.0, n_line, rng)),
        "l_discount": pa.array(rng.integers(0, 11, n_line) / 100.0),
        "l_tax": pa.array(rng.integers(0, 9, n_line) / 100.0),
        "l_returnflag": pick(["A", "N", "R"], rng.integers(0, 3, n_line)),
        "l_linestatus": pick(["F", "O"], rng.integers(0, 2, n_line)),
        "l_shipdate": ts_col(days_us("1995-01-02", "2001-11-04", n_line, rng))})

    # events: arrival-ordered ids over 30 days. A few events arrive late
    # (their ts lies before an earlier arrival of the same user), which is
    # what the causal-order audit counts.
    start_us = np.datetime64("2024-01-01", "us").astype(np.int64)
    gaps = rng.exponential(30 * DAY_US / n_ev, n_ev)
    ts = start_us + np.cumsum(gaps).astype(np.int64)
    late = rng.random(n_ev) < 0.02
    ts = np.where(late, ts - rng.integers(1, 6 * 3_600_000_000, n_ev), ts)
    write(out, "events", {
        "event_id": pa.array(np.arange(n_ev, dtype=np.int64)),
        "ts": ts_col(ts),
        "user_id": pa.array(rng.integers(0, n_users, n_ev)),
        "event_type": pick(EVENT_TYPES, rng.integers(0, 5, n_ev)),
        "value": pa.array(np.round(rng.gamma(1.0, 50.0, n_ev), 2)),
        "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)])})

    # documents: random token texts; 5% are near-duplicates of an earlier
    # document (" dup" appended) and a few are exact copies.
    texts = [" ".join(np.asarray(WORDS)[rng.integers(0, len(WORDS), n)])
             for n in rng.integers(10, 101, n_docs)]
    for i in rng.choice(np.arange(10, n_docs), n_docs // 20, replace=False):
        texts[i] = texts[int(rng.integers(0, i))] + " dup"
    for i in rng.choice(np.arange(10, n_docs), max(1, n_docs // 600), replace=False):
        texts[i] = texts[int(rng.integers(0, i))]
    write(out, "documents", {
        "doc_id": pa.array(np.arange(n_docs, dtype=np.int64)),
        "text": pa.array(texts),
        "lang": pick(LANGS, rng.choice(5, n_docs, p=LANG_P)),
        "source": pa.array([f"src{i % 20}" for i in range(n_docs)]),
        "n_chars": pa.array(np.array([len(t) for t in texts], dtype=np.int64))})

    emb = rng.standard_normal((n_emb, 64)).astype(np.float32)
    emb /= np.linalg.norm(emb, axis=1, keepdims=True)
    write(out, "embeddings", {
        "vec_id": pa.array(np.arange(n_emb, dtype=np.int64)),
        "embedding": pa.array(list(emb), pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, n_emb).astype(np.int32))})


if __name__ == "__main__":
    main()
