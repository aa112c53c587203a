"""Seeded generator of the ten analytics tables the `analytics_mix` workload
queries (region, nation, customer, supplier, part, orders, lineitem, events,
documents, embeddings), one parquet file each, with the column names, types
and value domains of the repository's test data:

  - TPC-H-ish star schema with uniformly random foreign keys, money columns
    with exactly two decimals, dates at midnight, 1995..2001;
  - `events`: 30 days of time-ordered events from 2024-01-01, exponential
    values (mean 50), a `{"k": n}` JSON props column;
  - `documents`: 10..99 tokens drawn from a 30-word vocabulary, with ~5% of
    documents cloned from an earlier one and the token `dup` inserted
    (near-duplicate pairs for the LSH family), 20 round-robin sources;
  - `embeddings`: unit-norm 64-d float vectors around ten weak centroids.

Timestamps are written as parquet TIMESTAMP(MICROS) without a zone, the
layout the engine's loader reads as UTC wall-clock. The same seed gives the
same bytes (Python's `random.Random` stream is stable across versions).

Usage: python3 perfbench/tables.py <out_dir> [seed]
"""
import datetime as dt
import math
import os
import random
import sys

import pyarrow as pa
import pyarrow.parquet as pq

# rows per table, a fraction of the repository's sf0.01 tables: the mix's
# query times are mostly fixed per-job cost at this size
SIZES = {"customer": 300, "supplier": 30, "part": 400, "orders": 2500,
         "lineitem": 10000, "events": 3000, "users": 50, "documents": 240,
         "embeddings": 240}

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
ADJ = ["large", "small", "red", "blue", "hot", "cold", "old", "new"]
NOUN = ["anvil", "plate", "gizmo", "ring", "widget", "gear", "bolt", "rod"]
PTYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
VOCAB = ["a", "agg", "batch", "big", "column", "customer", "data", "fast",
         "filter", "group", "hash", "join", "key", "line", "merge", "order",
         "part", "query", "row", "scan", "slow", "small", "sort", "spark",
         "stream", "table", "the", "value", "vector", "window"]
LANGS = [("en", 44), ("de", 14), ("es", 14), ("fr", 14), ("zh", 14)]
DIM = 64


def money(r, lo, hi):
    return round(r.randint(int(lo * 100), int(hi * 100)) / 100.0, 2)


def day(r, start, end):
    return start + dt.timedelta(days=r.randint(0, (end - start).days))


def tables(seed):
    """Return {name: pyarrow.Table}; deterministic in `seed`."""
    r = random.Random(seed)
    n = SIZES
    out = {}
    out["region"] = pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": REGIONS})
    out["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())})
    out["customer"] = pa.table({
        "c_custkey": pa.array(range(n["customer"]), pa.int64()),
        "c_name": [f"Customer#{i:09d}" for i in range(n["customer"])],
        "c_nationkey": pa.array([r.randrange(25) for _ in range(n["customer"])], pa.int32()),
        "c_acctbal": [money(r, -999.99, 9999.99) for _ in range(n["customer"])],
        "c_mktsegment": [r.choice(SEGMENTS) for _ in range(n["customer"])]})
    out["supplier"] = pa.table({
        "s_suppkey": pa.array(range(n["supplier"]), pa.int64()),
        "s_name": [f"Supplier#{i:09d}" for i in range(n["supplier"])],
        "s_nationkey": pa.array([r.randrange(25) for _ in range(n["supplier"])], pa.int32()),
        "s_acctbal": [money(r, -999.99, 9999.99) for _ in range(n["supplier"])]})
    out["part"] = pa.table({
        "p_partkey": pa.array(range(n["part"]), pa.int64()),
        "p_name": [f"{r.choice(ADJ)} {r.choice(NOUN)}" for _ in range(n["part"])],
        "p_brand": [f"Brand#{r.randint(1, 25)}" for _ in range(n["part"])],
        "p_type": [r.choice(PTYPES) for _ in range(n["part"])],
        "p_size": pa.array([r.randint(1, 50) for _ in range(n["part"])], pa.int32()),
        "p_retailprice": [round(900 + (i % 1000) / 10.0, 2) for i in range(n["part"])]})
    d0, d1 = dt.datetime(1995, 1, 1), dt.datetime(2001, 8, 1)
    out["orders"] = pa.table({
        "o_orderkey": pa.array(range(n["orders"]), pa.int64()),
        "o_custkey": pa.array([r.randrange(n["customer"]) for _ in range(n["orders"])], pa.int64()),
        "o_orderstatus": [r.choice("FOP") for _ in range(n["orders"])],
        "o_totalprice": [money(r, 1000, 500000) for _ in range(n["orders"])],
        "o_orderdate": pa.array([day(r, d0, d1) for _ in range(n["orders"])], pa.timestamp("us")),
        "o_orderpriority": [r.choice(PRIORITIES) for _ in range(n["orders"])]})
    nl = n["lineitem"]
    out["lineitem"] = pa.table({
        "l_orderkey": pa.array([r.randrange(n["orders"]) for _ in range(nl)], pa.int64()),
        "l_partkey": pa.array([r.randrange(n["part"]) for _ in range(nl)], pa.int64()),
        "l_suppkey": pa.array([r.randrange(n["supplier"]) for _ in range(nl)], pa.int64()),
        "l_linenumber": pa.array([r.randint(1, 7) for _ in range(nl)], pa.int32()),
        "l_quantity": [float(r.randint(1, 50)) for _ in range(nl)],
        "l_extendedprice": [money(r, 900, 105000) for _ in range(nl)],
        "l_discount": [r.randint(0, 10) / 100.0 for _ in range(nl)],
        "l_tax": [r.randint(0, 8) / 100.0 for _ in range(nl)],
        "l_returnflag": [r.choice("ANR") for _ in range(nl)],
        "l_linestatus": [r.choice("FO") for _ in range(nl)],
        "l_shipdate": pa.array([day(r, d0 + dt.timedelta(days=1), dt.datetime(2001, 11, 4))
                                for _ in range(nl)], pa.timestamp("us"))})
    ne = n["events"]
    span_us = 30 * 86400 * 10**6
    ts = sorted(r.randrange(span_us) for _ in range(ne))
    t0 = dt.datetime(2024, 1, 1)
    out["events"] = pa.table({
        "event_id": pa.array(range(ne), pa.int64()),
        "ts": pa.array([t0 + dt.timedelta(microseconds=u) for u in ts], pa.timestamp("us")),
        "user_id": pa.array([r.randrange(n["users"]) for _ in range(ne)], pa.int64()),
        "event_type": [r.choice(EVENT_TYPES) for _ in range(ne)],
        "value": [max(0.01, round(r.expovariate(1 / 50.0), 2)) for _ in range(ne)],
        "props": [f'{{"k": {r.randrange(100)}}}' for _ in range(ne)]})
    texts = []
    for i in range(n["documents"]):
        if texts and r.random() < 0.05:
            toks = r.choice(texts).split(" ")
            if r.random() < 0.97:
                toks.insert(r.randrange(len(toks) + 1), "dup")
        else:
            toks = [r.choice(VOCAB) for _ in range(r.randint(10, 99))]
        texts.append(" ".join(toks))
    langs = [lang for lang, w in LANGS for _ in range(w)]
    out["documents"] = pa.table({
        "doc_id": pa.array(range(len(texts)), pa.int64()),
        "text": texts,
        "lang": [r.choice(langs) for _ in texts],
        "source": [f"src{i % 20}" for i in range(len(texts))],
        "n_chars": pa.array([len(t) for t in texts], pa.int64())})
    cents = [[r.gauss(0, 0.02) for _ in range(DIM)] for _ in range(10)]
    vecs, labels = [], []
    for _ in range(n["embeddings"]):
        k = r.randrange(10)
        v = [c + r.gauss(0, 0.125) for c in cents[k]]
        norm = math.sqrt(sum(x * x for x in v))
        vecs.append([x / norm for x in v])
        labels.append(k)
    out["embeddings"] = pa.table({
        "vec_id": pa.array(range(len(vecs)), pa.int64()),
        "embedding": pa.array(vecs, pa.list_(pa.float32())),
        "label": pa.array(labels, pa.int32())})
    return out


def write(out_dir, seed):
    os.makedirs(out_dir, exist_ok=True)
    for name, t in tables(seed).items():
        pq.write_table(t, os.path.join(out_dir, f"{name}.parquet"))


if __name__ == "__main__":
    write(sys.argv[1], int(sys.argv[2]) if len(sys.argv) > 2 else 0)
