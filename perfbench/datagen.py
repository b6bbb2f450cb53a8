#!/usr/bin/env python3
"""Seeded generator for the benchmark's input tables.

Writes the ten tables the engine's query keys read (the TPC-H-ish star
schema, the `events` stream and the two LLM-pipeline tables) as one
Parquet file each, with the column names, types and value domains the
engine expects. Row counts scale with `sf` exactly like the reference
data set (lineitem = 6,000,000 x sf).

The same (sf, seed) always gives byte-identical values, so the expected
row counts stored next to the benchmark stay valid.

Usage:  python3 perfbench/datagen.py <out_dir> [--sf 0.1] [--seed 42]
"""
import argparse
import datetime as dt
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PART_ADJ = ["blue", "cold", "hot", "large", "new"]
PART_NOUN = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
ORDER_STATUS = ["F", "O", "P"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
RETURN_FLAGS = ["A", "N", "R"]
LINE_STATUS = ["F", "O"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
LANGS = ["de", "en", "es", "fr", "zh"]
LANG_P = [0.15, 0.40, 0.15, 0.15, 0.15]
VOCAB = ("a agg batch big column customer data fast filter group hash join key "
         "line merge order part query row scan slow small sort spark stream "
         "table the value vector window").split()
EMBED_DIM = 64


def pick(rng, values, n, p=None):
    return pa.array(np.asarray(values, dtype=object)[rng.choice(len(values), n, p=p)],
                    pa.string())


def money(rng, lo, hi, n):
    return np.round(rng.uniform(lo, hi, n), 2)


def day_stamps(rng, first, last, n):
    """Midnight timestamps uniform over [first, last], as µs arrays."""
    days = rng.integers(0, (last - first).days + 1, n)
    base = np.datetime64(first, "us")
    return pa.array(base + days.astype("timedelta64[D]"), pa.timestamp("us"))


def padded(prefix, n):
    return pa.array([f"{prefix}#{i:09d}" for i in range(n)], pa.string())


def tables(sf, seed):
    rng = np.random.default_rng(seed)
    n_cust, n_supp = int(150_000 * sf), int(10_000 * sf)
    n_part, n_ord = int(200_000 * sf), int(1_500_000 * sf)
    n_line, n_evt = int(6_000_000 * sf), int(1_000_000 * sf)
    n_doc, n_vec = int(50_000 * sf), int(20_000 * sf)
    n_users = max(1, int(15_000 * sf))

    yield "region", pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": pa.array(REGIONS, pa.string())})
    yield "nation", pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": pa.array([f"NATION_{i}" for i in range(25)], pa.string()),
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())})
    yield "customer", pa.table({
        "c_custkey": pa.array(np.arange(n_cust), pa.int64()),
        "c_name": padded("Customer", n_cust),
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
        "c_acctbal": money(rng, -999.99, 9999.99, n_cust),
        "c_mktsegment": pick(rng, SEGMENTS, n_cust)})
    yield "supplier", pa.table({
        "s_suppkey": pa.array(np.arange(n_supp), pa.int64()),
        "s_name": padded("Supplier", n_supp),
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int32()),
        "s_acctbal": money(rng, -999.99, 9999.99, n_supp)})
    names = [f"{a} {b}" for a in PART_ADJ for b in PART_NOUN]
    yield "part", pa.table({
        "p_partkey": pa.array(np.arange(n_part), pa.int64()),
        "p_name": pick(rng, names, n_part),
        "p_brand": pick(rng, [f"Brand#{i}" for i in range(1, 26)], n_part),
        "p_type": pick(rng, PART_TYPES, n_part),
        "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
        "p_retailprice": np.round(900.0 + (np.arange(n_part) % 1000) / 10.0, 1)})
    yield "orders", pa.table({
        "o_orderkey": pa.array(np.arange(n_ord), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_ord), pa.int64()),
        "o_orderstatus": pick(rng, ORDER_STATUS, n_ord),
        "o_totalprice": money(rng, 1000.0, 500000.0, n_ord),
        "o_orderdate": day_stamps(rng, dt.date(1995, 1, 1), dt.date(2001, 8, 1), n_ord),
        "o_orderpriority": pick(rng, PRIORITIES, n_ord)})
    yield "lineitem", pa.table({
        "l_orderkey": pa.array(rng.integers(0, n_ord, n_line), pa.int64()),
        "l_partkey": pa.array(rng.integers(0, n_part, n_line), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n_line), pa.int64()),
        "l_linenumber": pa.array(rng.integers(1, 8, n_line), pa.int32()),
        "l_quantity": rng.integers(1, 51, n_line).astype(np.float64),
        "l_extendedprice": money(rng, 900.0, 105000.0, n_line),
        "l_discount": rng.integers(0, 11, n_line) / 100.0,
        "l_tax": rng.integers(0, 9, n_line) / 100.0,
        "l_returnflag": pick(rng, RETURN_FLAGS, n_line),
        "l_linestatus": pick(rng, LINE_STATUS, n_line),
        "l_shipdate": day_stamps(rng, dt.date(1995, 1, 2), dt.date(2001, 11, 4), n_line)})

    # events: strictly increasing µs timestamps spread over 30 days
    span_us = 30 * 86_400 * 1_000_000
    gaps = rng.exponential(1.0, n_evt)
    offs = np.floor(np.cumsum(gaps) / gaps.sum() * (span_us - n_evt)).astype(np.int64)
    offs += np.arange(n_evt)  # at least 1 µs apart
    ts = np.datetime64("2024-01-01T00:00:00", "us") + offs.astype("timedelta64[us]")
    yield "events", pa.table({
        "event_id": pa.array(np.arange(n_evt), pa.int64()),
        "ts": pa.array(ts, pa.timestamp("us")),
        "user_id": pa.array(rng.integers(0, n_users, n_evt), pa.int64()),
        "event_type": pick(rng, EVENT_TYPES, n_evt),
        "value": np.round(np.minimum(rng.exponential(50.0, n_evt), 560.0), 2),
        "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n_evt)],
                          pa.string())})

    # documents: word soup over a small vocabulary; ~5% are near-duplicates
    # of an earlier document (its text plus the marker word "dup")
    vocab = np.asarray(VOCAB, dtype=object)
    lengths = rng.integers(10, 101, n_doc)
    texts = [" ".join(vocab[rng.integers(0, len(vocab), k)]) for k in lengths]
    dup = rng.random(n_doc) < 0.05
    dup[0] = False
    for i in np.nonzero(dup)[0]:
        texts[i] = texts[int(rng.integers(0, i))].removesuffix(" dup") + " dup"
    yield "documents", pa.table({
        "doc_id": pa.array(np.arange(n_doc), pa.int64()),
        "text": pa.array(texts, pa.string()),
        "lang": pick(rng, LANGS, n_doc, p=LANG_P),
        "source": pa.array([f"src{i % 20}" for i in range(n_doc)], pa.string()),
        "n_chars": pa.array([len(t) for t in texts], pa.int64())})

    # embeddings: unit vectors with a weak per-label direction
    labels = rng.integers(0, 10, n_vec)
    centres = rng.normal(size=(10, EMBED_DIM))
    vecs = rng.normal(size=(n_vec, EMBED_DIM)) + 0.6 * centres[labels]
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    flat = pa.array(vecs.astype(np.float32).ravel(), pa.float32())
    yield "embeddings", pa.table({
        "vec_id": pa.array(np.arange(n_vec), pa.int64()),
        "embedding": pa.ListArray.from_arrays(
            pa.array(np.arange(0, n_vec * EMBED_DIM + 1, EMBED_DIM), pa.int32()), flat),
        "label": pa.array(labels, pa.int32())})


def generate(out_dir, sf, seed):
    os.makedirs(out_dir, exist_ok=True)
    for name, table in tables(sf, seed):
        tmp = os.path.join(out_dir, f".{name}.parquet.tmp")
        pq.write_table(table, tmp, compression="snappy",
                       row_group_size=max(1, table.num_rows))
        os.replace(tmp, os.path.join(out_dir, f"{name}.parquet"))


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("out_dir")
    ap.add_argument("--sf", type=float, default=0.1)
    ap.add_argument("--seed", type=int, default=42)
    a = ap.parse_args()
    generate(a.out_dir, a.sf, a.seed)


if __name__ == "__main__":
    main()
