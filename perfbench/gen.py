#!/usr/bin/env python3
"""Seeded synthetic corpus for the benchmark.

Writes the ten tables the engine reads (region nation customer supplier
part orders lineitem events documents embeddings) as one parquet file
each, with the schemas, value domains and row counts per scale factor of
the TPC-H-shaped test corpus the engine's oracle gate runs on: same
column names and physical types, same categorical domains, uniform keys,
5% near-duplicate documents, 64-dim unit embeddings.

`replicate` builds the 10x corpus the same way `Synth10x` does: ten
id-offset copies of the fact tables (documents, orders, lineitem,
customer, events, embeddings), with the dimensions (region, nation,
supplier, part) copied once. Offsets shift only id columns, so grids
(priorities, months, suppliers, bins) keep their cardinality and the mass
per grid cell grows 10x. The seed picks each replica's key offsets.

Usage: python3 gen.py <out_dir> <sf> <seed> [replicas]
"""
import datetime as dt
import os
import sys

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

TABLES = "region nation customer supplier part orders lineitem events documents embeddings".split()
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
COLORS = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
NOUNS = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
WORDS = ("a agg batch big column customer data fast filter group hash join key line merge "
         "order part query row scan slow small sort spark stream table the value vector window").split()
LANGS = ["en", "de", "es", "fr", "zh"]
LANG_P = [0.4, 0.15, 0.15, 0.15, 0.15]
DIM = 64

# id columns shifted per replica, and the stride between replicas; tables
# sharing a key (orders/lineitem) share its offset
ID_SHIFTS = {
    "documents": {"doc_id": "doc"},
    "orders": {"o_orderkey": "order"},
    "lineitem": {"l_orderkey": "order"},
    "customer": {"c_custkey": "cust"},
    "events": {"event_id": "event", "user_id": "cust"},
    "embeddings": {"vec_id": "vec"},
}
STRIDES = {"doc": 10_000_000, "order": 1_000_000_000, "cust": 100_000_000,
           "event": 10_000_000_000, "vec": 10_000_000}


def days(rng, start, n_days, n):
    base = np.datetime64(start, "us")
    return base + rng.integers(0, n_days + 1, n).astype("timedelta64[D]").astype("timedelta64[us]")


def base_tables(sf, seed):
    """Yields (name, DataFrame) for every table at scale factor `sf`."""
    rngs = {t: np.random.default_rng([seed, i]) for i, t in enumerate(TABLES)}
    n_cust, n_supp, n_part = int(150_000 * sf), int(10_000 * sf), int(200_000 * sf)
    n_ord, n_li, n_ev = int(1_500_000 * sf), int(6_000_000 * sf), int(1_000_000 * sf)
    n_doc, n_emb = max(500, int(50_000 * sf)), max(500, int(20_000 * sf))

    yield "region", pd.DataFrame({"r_regionkey": np.arange(5, dtype=np.int32), "r_name": REGIONS})
    k = np.arange(25, dtype=np.int32)
    yield "nation", pd.DataFrame({"n_nationkey": k, "n_name": [f"NATION_{i}" for i in k],
                                  "n_regionkey": (k % 5).astype(np.int32)})

    r = rngs["customer"]
    k = np.arange(n_cust, dtype=np.int64)
    yield "customer", pd.DataFrame({
        "c_custkey": k, "c_name": [f"Customer#{i:09d}" for i in k],
        "c_nationkey": r.integers(0, 25, n_cust).astype(np.int32),
        "c_acctbal": np.round(r.uniform(-1000, 10000, n_cust), 2),
        "c_mktsegment": r.choice(SEGMENTS, n_cust)})

    r = rngs["supplier"]
    k = np.arange(n_supp, dtype=np.int64)
    yield "supplier", pd.DataFrame({
        "s_suppkey": k, "s_name": [f"Supplier#{i:09d}" for i in k],
        "s_nationkey": r.integers(0, 25, n_supp).astype(np.int32),
        "s_acctbal": np.round(r.uniform(-1000, 10000, n_supp), 2)})

    r = rngs["part"]
    k = np.arange(n_part, dtype=np.int64)
    names = np.array([f"{c} {n}" for c in COLORS for n in NOUNS])
    yield "part", pd.DataFrame({
        "p_partkey": k, "p_name": names[r.integers(0, len(names), n_part)],
        "p_brand": np.char.add("Brand#", r.integers(1, 26, n_part).astype(str)),
        "p_type": r.choice(PART_TYPES, n_part),
        "p_size": r.integers(1, 51, n_part).astype(np.int32),
        "p_retailprice": np.round(900 + (k % 1000) * 0.1, 1)})

    r = rngs["orders"]
    yield "orders", pd.DataFrame({
        "o_orderkey": np.arange(n_ord, dtype=np.int64),
        "o_custkey": r.integers(0, n_cust, n_ord).astype(np.int64),
        "o_orderstatus": r.choice(["F", "O", "P"], n_ord),
        "o_totalprice": np.round(r.uniform(1000, 500000, n_ord), 2),
        "o_orderdate": days(r, "1995-01-01", 2404, n_ord),
        "o_orderpriority": r.choice(PRIORITIES, n_ord)})

    r = rngs["lineitem"]
    yield "lineitem", pd.DataFrame({
        "l_orderkey": r.integers(0, n_ord, n_li).astype(np.int64),
        "l_partkey": r.integers(0, n_part, n_li).astype(np.int64),
        "l_suppkey": r.integers(0, n_supp, n_li).astype(np.int64),
        "l_linenumber": r.integers(1, 8, n_li).astype(np.int32),
        "l_quantity": r.integers(1, 51, n_li).astype(np.float64),
        "l_extendedprice": np.round(r.uniform(900, 105000, n_li), 2),
        "l_discount": np.round(r.uniform(0, 0.1, n_li), 2),
        "l_tax": np.round(r.uniform(0, 0.08, n_li), 2),
        "l_returnflag": r.choice(["A", "N", "R"], n_li),
        "l_linestatus": r.choice(["F", "O"], n_li),
        "l_shipdate": days(r, "1995-01-02", 2498, n_li)})

    r = rngs["events"]
    span_us = 30 * 86_400 * 1_000_000
    ts = np.sort(r.integers(0, span_us, n_ev))
    yield "events", pd.DataFrame({
        "event_id": np.arange(n_ev, dtype=np.int64),
        "ts": np.datetime64("2024-01-01", "us") + ts.astype("timedelta64[us]"),
        "user_id": r.integers(0, max(1, n_ev * 3 // 200), n_ev).astype(np.int64),
        "event_type": r.choice(EVENT_TYPES, n_ev),
        "value": np.round(r.exponential(50.0, n_ev), 2),
        "props": [f'{{"k": {v}}}' for v in r.integers(0, 100, n_ev)]})

    r = rngs["documents"]
    words = np.array(WORDS)
    texts = [" ".join(words[r.integers(0, len(words), r.integers(10, 101))]) for _ in range(n_doc)]
    for i in np.flatnonzero(r.random(n_doc) < 0.05):
        if i > 0:  # near-duplicate of an earlier document
            texts[i] = texts[r.integers(0, i)] + " dup"
    yield "documents", pd.DataFrame({
        "doc_id": np.arange(n_doc, dtype=np.int64), "text": texts,
        "lang": r.choice(LANGS, n_doc, p=LANG_P),
        "source": [f"src{i % 20}" for i in range(n_doc)],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64)})

    r = rngs["embeddings"]
    e = r.standard_normal((n_emb, DIM)).astype(np.float32)
    e /= np.linalg.norm(e, axis=1, keepdims=True)
    yield "embeddings", pd.DataFrame({
        "vec_id": np.arange(n_emb, dtype=np.int64), "embedding": list(e),
        "label": r.integers(0, 10, n_emb).astype(np.int32)})


def replicate(name, df, replicas, offsets):
    shifts = ID_SHIFTS.get(name)
    if not shifts or replicas == 1:
        return df
    parts = []
    for rep in range(replicas):
        d = df.copy() if rep else df
        for c, key in shifts.items():
            d[c] = d[c] + offsets[key][rep]
        parts.append(d)
    return pd.concat(parts, ignore_index=True)


def write(out_dir, sf, seed, replicas=1):
    os.makedirs(out_dir, exist_ok=True)
    rng = np.random.default_rng([seed, 99])
    # replica 0 keeps its keys; replica r shifts by r strides plus a seeded
    # jitter below a tenth of a stride, so replicas never collide
    offsets = {k: [0] + [rep * s + int(rng.integers(0, s // 10)) for rep in range(1, replicas)]
               for k, s in STRIDES.items()}
    for name, df in base_tables(sf, seed):
        df = replicate(name, df, replicas, offsets)
        table = pa.Table.from_pandas(df, preserve_index=False)
        if name == "embeddings":
            table = table.cast(pa.schema([("vec_id", pa.int64()),
                                          ("embedding", pa.list_(pa.float32())),
                                          ("label", pa.int32())]))
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))


if __name__ == "__main__":
    out, sf, seed = sys.argv[1], float(sys.argv[2]), int(sys.argv[3])
    write(out, sf, seed, int(sys.argv[4]) if len(sys.argv) > 4 else 1)
