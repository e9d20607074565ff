"""Seeded generator for the benchmark's input tables.

Writes the ten tables the registry reads (region, nation, customer,
supplier, part, orders, lineitem, events, documents, embeddings) as one
parquet file each, with the column names, physical types, row counts and
value domains of the repository's sf0.1 test tables. The same seed gives
byte-identical files.

Usage: python3 perfbench/gen.py <out_dir> <seed>
"""
import os
import sys

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# The documents tables draw every word from this fixed pool; the q15/q31
# oracles embed a stem map over exactly these words.
WORDS = ("spark window merge table column vector stream value data small "
         "join filter big group hash customer sort order slow line part fast "
         "row the agg key query a scan batch").split()
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
ADJ = ["blue", "old", "large", "hot", "cold", "red", "small", "new"]
NOUN = ["widget", "gizmo", "ring", "gear", "bolt", "plate", "rod", "anvil"]
PTYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
LANGS = ["en", "en", "en", "de", "es", "fr", "zh"]


def money(rng, lo, hi, n):
    return np.round(rng.uniform(lo, hi, n), 2)


def days(rng, start, span_days, n):
    base = np.datetime64(start, "us")
    return base + rng.integers(0, span_days + 1, n).astype("timedelta64[D]")


def pick(rng, values, n):
    return np.asarray(values, dtype=object)[rng.integers(0, len(values), n)]


def write(out, name, cols):
    pq.write_table(pa.table(cols), os.path.join(out, f"{name}.parquet"),
                   compression="snappy")


def generate(out, seed):
    rng = np.random.default_rng(seed)
    i32, i64 = pa.int32(), pa.int64()
    write(out, "region", {"r_regionkey": pa.array(range(5), i32),
                          "r_name": REGIONS})
    write(out, "nation", {
        "n_nationkey": pa.array(range(25), i32),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], i32)})
    nc = 15000
    write(out, "customer", {
        "c_custkey": pa.array(np.arange(nc), i64),
        "c_name": [f"Customer#{i:09d}" for i in range(nc)],
        "c_nationkey": pa.array(rng.integers(0, 25, nc), i32),
        "c_acctbal": money(rng, -999.99, 9999.99, nc),
        "c_mktsegment": pick(rng, SEGMENTS, nc)})
    ns = 1000
    write(out, "supplier", {
        "s_suppkey": pa.array(np.arange(ns), i64),
        "s_name": [f"Supplier#{i:09d}" for i in range(ns)],
        "s_nationkey": pa.array(rng.integers(0, 25, ns), i32),
        "s_acctbal": money(rng, -999.99, 9999.99, ns)})
    npart = 20000
    ids = np.arange(npart)
    write(out, "part", {
        "p_partkey": pa.array(ids, i64),
        "p_name": [f"{a} {b}" for a, b in zip(pick(rng, ADJ, npart),
                                              pick(rng, NOUN, npart))],
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, npart)],
        "p_type": pick(rng, PTYPES, npart),
        "p_size": pa.array(rng.integers(1, 51, npart), i32),
        "p_retailprice": np.round(900.0 + (ids % 1000) / 10.0, 1)})
    no = 150000
    write(out, "orders", {
        "o_orderkey": pa.array(np.arange(no), i64),
        "o_custkey": pa.array(rng.integers(0, nc, no), i64),
        "o_orderstatus": pick(rng, ["F", "O", "P"], no),
        "o_totalprice": money(rng, 1000.0, 500000.0, no),
        "o_orderdate": days(rng, "1995-01-01", 2403, no),
        "o_orderpriority": pick(rng, PRIORITIES, no)})
    nl = 600000
    write(out, "lineitem", {
        "l_orderkey": pa.array(rng.integers(0, no, nl), i64),
        "l_partkey": pa.array(rng.integers(0, npart, nl), i64),
        "l_suppkey": pa.array(rng.integers(0, ns, nl), i64),
        "l_linenumber": pa.array(rng.integers(1, 8, nl), i32),
        "l_quantity": rng.integers(1, 51, nl).astype(np.float64),
        "l_extendedprice": money(rng, 900.0, 105000.0, nl),
        "l_discount": rng.integers(0, 11, nl) / 100.0,
        "l_tax": rng.integers(0, 9, nl) / 100.0,
        "l_returnflag": pick(rng, ["A", "N", "R"], nl),
        "l_linestatus": pick(rng, ["F", "O"], nl),
        "l_shipdate": days(rng, "1995-01-02", 2498, nl)})
    ne = 100000
    gaps = rng.exponential(1.0, ne)
    span_us = 30 * 86400 * 10**6
    offs = np.floor(np.cumsum(gaps) / gaps.sum() * (span_us - 10**6)).astype(np.int64)
    write(out, "events", {
        "event_id": pa.array(np.arange(ne), i64),
        "ts": np.datetime64("2024-01-01", "us") + offs.astype("timedelta64[us]"),
        "user_id": pa.array(rng.integers(0, 1500, ne), i64),
        "event_type": pick(rng, EVENT_TYPES, ne),
        "value": np.round(np.minimum(rng.exponential(50.0, ne), 560.0), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, ne)]})
    nd = 5000
    texts = [" ".join(pick(rng, WORDS, n)) for n in rng.integers(10, 101, nd)]
    # ~5% near-duplicates (an earlier text plus a marker word) and a few
    # exact duplicates, as in the test tables.
    for d in np.flatnonzero(rng.random(nd) < 0.05):
        texts[d] = texts[int(rng.integers(0, nd))] + " dup"
    for d in rng.integers(1, nd, 8):
        texts[d] = texts[int(rng.integers(0, d))]
    write(out, "documents", {
        "doc_id": pa.array(np.arange(nd), i64),
        "text": texts,
        "lang": pick(rng, LANGS, nd),
        "source": [f"src{i % 20}" for i in range(nd)],
        "n_chars": pa.array([len(t) for t in texts], i64)})
    nv, dim = 2000, 64
    labels = rng.integers(0, 10, nv)
    centers = rng.normal(0.0, 1.0, (10, dim))
    vecs = centers[labels] + rng.normal(0.0, 1.5, (nv, dim))
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
    write(out, "embeddings", {
        "vec_id": pa.array(np.arange(nv), i64),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "label": pa.array(labels, i32)})


if __name__ == "__main__":
    out, seed = sys.argv[1], int(sys.argv[2])
    tmp = out + ".tmp"
    os.makedirs(tmp, exist_ok=True)
    generate(tmp, seed)
    os.replace(tmp, out)
