"""Seeded generator for the TPC-H-style tables the query workloads read.

Writes region, nation, customer, supplier, part, orders, lineitem, events,
documents and embeddings as one parquet file each, with the column names and
types the driver queries and their DuckDB oracles expect. The same
(seed, sf) always gives byte-identical tables.

    python3 perfbench/datagen.py <outDir> <seed> <sf>
"""
import os
import sys

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

WORDS = ("a the key agg row scan slow fast table value part hash merge batch "
         "window spark order data column join small big line customer query "
         "filter group sort stream vector").split()
ADJ = ["red", "blue", "hot", "cold", "old", "new", "small", "large"]
NOUN = ["widget", "bolt", "gear", "ring", "rod", "plate", "gizmo", "anvil"]
TYPES = ["ECONOMY", "STANDARD", "SMALL", "MEDIUM", "LARGE", "PROMO"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["view", "click", "signup", "purchase", "error"]
LANGS = ["en", "de", "es", "fr", "zh"]
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]


def _days(rng, n, start, end):
    lo = np.datetime64(start, "D").astype(np.int64)
    hi = np.datetime64(end, "D").astype(np.int64)
    return (rng.integers(lo, hi, n) * 86_400_000_000).astype("datetime64[us]")


def _cents(rng, n, lo, hi):
    return np.round(rng.uniform(lo, hi, n), 2)


def tables(seed, sf):
    """All tables as name -> pyarrow.Table."""
    rng = np.random.default_rng(seed)
    n_cust = max(150, int(150_000 * sf))
    n_supp = max(10, int(10_000 * sf))
    n_part = max(200, int(200_000 * sf))
    n_ord = max(1_500, int(1_500_000 * sf))
    n_line = max(6_000, int(6_000_000 * sf))
    n_ev = max(1_000, int(1_000_000 * sf))
    n_doc = max(500, int(50_000 * sf))
    n_emb = max(500, int(20_000 * sf))
    i32 = lambda a: pa.array(a, pa.int32())
    out = {}
    out["region"] = pa.table({"r_regionkey": i32(range(5)),
                              "r_name": REGIONS})
    out["nation"] = pa.table({
        "n_nationkey": i32(range(25)),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": i32([i % 5 for i in range(25)])})
    out["customer"] = pa.table({
        "c_custkey": np.arange(n_cust, dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": i32(rng.integers(0, 25, n_cust)),
        "c_acctbal": _cents(rng, n_cust, -999.99, 9999.99),
        "c_mktsegment": rng.choice(SEGMENTS, n_cust)})
    out["supplier"] = pa.table({
        "s_suppkey": np.arange(n_supp, dtype=np.int64),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": i32(rng.integers(0, 25, n_supp)),
        "s_acctbal": _cents(rng, n_supp, -999.99, 9999.99)})
    out["part"] = pa.table({
        "p_partkey": np.arange(n_part, dtype=np.int64),
        "p_name": [f"{a} {b}" for a, b in zip(rng.choice(ADJ, n_part),
                                              rng.choice(NOUN, n_part))],
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 21, n_part)],
        "p_type": rng.choice(TYPES, n_part),
        "p_size": i32(rng.integers(1, 51, n_part)),
        "p_retailprice": np.round(900 + (np.arange(n_part) % 1000) / 10, 2)})
    out["orders"] = pa.table({
        "o_orderkey": np.arange(n_ord, dtype=np.int64),
        "o_custkey": rng.integers(0, n_cust, n_ord),
        "o_orderstatus": rng.choice(["F", "O", "P"], n_ord),
        "o_totalprice": _cents(rng, n_ord, 1_000, 500_000),
        "o_orderdate": _days(rng, n_ord, "1995-01-01", "1999-12-31"),
        "o_orderpriority": rng.choice(PRIORITIES, n_ord)})
    out["lineitem"] = pa.table({
        "l_orderkey": rng.integers(0, n_ord, n_line),
        "l_partkey": rng.integers(0, n_part, n_line),
        "l_suppkey": rng.integers(0, n_supp, n_line),
        "l_linenumber": i32(rng.integers(1, 8, n_line)),
        "l_quantity": rng.integers(1, 51, n_line).astype(np.float64),
        "l_extendedprice": _cents(rng, n_line, 900, 100_000),
        "l_discount": rng.integers(0, 11, n_line) / 100.0,
        "l_tax": rng.integers(0, 9, n_line) / 100.0,
        "l_returnflag": rng.choice(["A", "N", "R"], n_line),
        "l_linestatus": rng.choice(["F", "O"], n_line),
        "l_shipdate": _days(rng, n_line, "1995-01-02", "2001-11-05")})
    # events: one month of timestamps in id order, as an event log would be
    gaps = rng.exponential(30 * 86_400e6 / n_ev, n_ev).cumsum()
    out["events"] = pa.table({
        "event_id": np.arange(n_ev, dtype=np.int64),
        "ts": (np.datetime64("2024-01-01T00:00:00", "us").astype(np.int64)
               + gaps.astype(np.int64)).astype("datetime64[us]"),
        "user_id": rng.integers(0, max(50, n_ev // 20), n_ev),
        "event_type": rng.choice(EVENT_TYPES, n_ev),
        "value": np.round(rng.exponential(50, n_ev) + 0.01, 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)]})
    # documents: random word strings, a tenth of them near-duplicates of an
    # earlier document with a single word replaced
    texts = []
    for i in range(n_doc):
        if i > 10 and rng.random() < 0.1:
            w = texts[rng.integers(0, i)].split()
            w[rng.integers(0, len(w))] = WORDS[rng.integers(0, len(WORDS))]
        else:
            w = list(rng.choice(WORDS, rng.integers(20, 80)))
        texts.append(" ".join(w))
    out["documents"] = pa.table({
        "doc_id": np.arange(n_doc, dtype=np.int64),
        "text": texts,
        "lang": rng.choice(LANGS, n_doc, p=[.5, .15, .15, .1, .1]),
        "source": [f"src{s}" for s in rng.integers(0, 20, n_doc)],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64)})
    labels = rng.integers(0, 10, n_emb)
    centers = rng.normal(0, 1, (10, 64))
    emb = (centers[labels] + rng.normal(0, 0.5, (n_emb, 64))).astype(np.float32)
    out["embeddings"] = pa.table({
        "vec_id": np.arange(n_emb, dtype=np.int64),
        "embedding": pa.array(list(emb), pa.list_(pa.float32())),
        "label": i32(labels)})
    return out


def write(out_dir, seed, sf):
    """Write every table; returns {name: (rows, bytes)}."""
    os.makedirs(out_dir, exist_ok=True)
    sizes = {}
    for name, t in tables(seed, sf).items():
        path = os.path.join(out_dir, f"{name}.parquet")
        pq.write_table(t, path)
        sizes[name] = (t.num_rows, os.path.getsize(path))
    return sizes


if __name__ == "__main__":
    for k, v in write(sys.argv[1], int(sys.argv[2]), float(sys.argv[3])).items():
        print(k, *v)
