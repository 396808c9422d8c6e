"""Deterministic synthetic tables for the benchmark's query workloads.

Writes one parquet file per table (`<dir>/<name>.parquet`), with the
schemas the library's `graft.engine.Tables` loaders read: a TPC-H-like
star schema, an `events` stream table, a `documents` corpus with exact
and near duplicates, and 64-dim `embeddings` clustered by label.

The data seed is fixed (it is not the workload seed): the expected row
counts and digests in `expected/` are pinned to these bytes. The
workload seed only orders the queries and shapes the ingest stream.

Usage: python3 gen_data.py <data_root>
writes `bench/` (scale 1.0, the `sf0.01` size: 10k events, 60k lineitem
rows), `warm/` (scale 0.1, the `sf0.001` size) and `ingest/` (a dense
50-hour `events` table the ingest workload replays as payload files).
"""

import os
import sys

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

DATA_SEED = 42
VOCAB = ("a the data query table row column key value part order line "
         "customer window batch stream scan join merge sort group agg "
         "hash filter spark small big fast slow vector").split()
LANGS = ["en"] * 7 + ["zh", "zh", "de", "de", "fr", "fr", "es", "es"]
EVENT_TYPES = ["click", "view", "purchase", "signup", "error"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
PTYPES = ["ECONOMY", "STANDARD", "LARGE", "SMALL", "MEDIUM", "PROMO"]
COLORS = ["red", "blue", "green", "small", "large", "steel", "brass"]
NOUNS = ["widget", "bolt", "ring", "gear", "valve", "nut"]


def days(start, n):
    return np.datetime64(start, "D") + np.arange(n).astype("timedelta64[D]")


def write(out, name, cols):
    tmp = os.path.join(out, f".{name}.parquet.tmp")
    pq.write_table(pa.table(cols), tmp, compression="snappy")
    os.replace(tmp, os.path.join(out, f"{name}.parquet"))


def money(rng, lo, hi, n):
    return np.round(rng.uniform(lo, hi, n), 2)


def generate(out, scale):
    rng = np.random.default_rng(DATA_SEED)
    os.makedirs(out, exist_ok=True)
    n_cust = max(50, int(1500 * scale))
    n_supp = max(10, int(100 * scale))
    n_part = max(100, int(2000 * scale))
    n_ord = max(500, int(15000 * scale))
    n_li = max(2000, int(60000 * scale))
    n_ev = max(1000, int(10000 * scale))
    n_users = max(50, int(150 * scale ** 0.5))
    n_doc = max(200, int(500 * scale))
    n_emb = max(200, int(500 * scale))

    write(out, "region", {
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]})
    write(out, "nation", {
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())})
    write(out, "customer", {
        "c_custkey": pa.array(range(n_cust), pa.int64()),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
        "c_acctbal": money(rng, -999, 9999, n_cust),
        "c_mktsegment": [SEGMENTS[i] for i in rng.integers(0, 5, n_cust)]})
    write(out, "supplier", {
        "s_suppkey": pa.array(range(n_supp), pa.int64()),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int32()),
        "s_acctbal": money(rng, -999, 9999, n_supp)})
    write(out, "part", {
        "p_partkey": pa.array(range(n_part), pa.int64()),
        "p_name": [f"{COLORS[a]} {NOUNS[b]}" for a, b in zip(
            rng.integers(0, len(COLORS), n_part),
            rng.integers(0, len(NOUNS), n_part))],
        "p_brand": [f"Brand#{i}" for i in rng.integers(1, 26, n_part)],
        "p_type": [PTYPES[i] for i in rng.integers(0, 6, n_part)],
        "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
        "p_retailprice": np.round(900 + (np.arange(n_part) % 1000) * 0.1, 2)})
    odates = days("1995-01-01", 2404)
    write(out, "orders", {
        "o_orderkey": pa.array(range(n_ord), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_ord), pa.int64()),
        "o_orderstatus": [("P", "O", "F")[i] for i in rng.integers(0, 3, n_ord)],
        "o_totalprice": money(rng, 1000, 500000, n_ord),
        "o_orderdate": pa.array(
            odates[rng.integers(0, len(odates), n_ord)].astype("datetime64[us]")),
        "o_orderpriority": [PRIORITIES[i] for i in rng.integers(0, 5, n_ord)]})
    sdates = days("1995-01-02", 2499)
    qty = rng.integers(1, 51, n_li).astype(np.float64)
    write(out, "lineitem", {
        "l_orderkey": pa.array(rng.integers(0, n_ord, n_li), pa.int64()),
        "l_partkey": pa.array(rng.integers(0, n_part, n_li), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n_li), pa.int64()),
        "l_linenumber": pa.array(rng.integers(1, 8, n_li), pa.int32()),
        "l_quantity": qty,
        "l_extendedprice": np.round(qty * rng.uniform(900, 2100, n_li), 2),
        "l_discount": np.round(rng.integers(0, 11, n_li) * 0.01, 2),
        "l_tax": np.round(rng.integers(0, 9, n_li) * 0.01, 2),
        "l_returnflag": [("A", "N", "R")[i] for i in rng.integers(0, 3, n_li)],
        "l_linestatus": [("O", "F")[i] for i in rng.integers(0, 2, n_li)],
        "l_shipdate": pa.array(
            sdates[rng.integers(0, len(sdates), n_li)].astype("datetime64[us]"))})
    # events: 30 days from 2024-01-01, strictly increasing µs timestamps
    span_us = 30 * 86400 * 1_000_000
    ts = np.sort(rng.choice(span_us, n_ev, replace=False))
    write(out, "events", {
        "event_id": pa.array(range(n_ev), pa.int64()),
        "ts": pa.array((np.datetime64("2024-01-01T00:00:00", "us")
                        + ts.astype("timedelta64[us]"))),
        "user_id": pa.array(rng.integers(0, n_users, n_ev), pa.int64()),
        "event_type": [EVENT_TYPES[i] for i in rng.integers(0, 5, n_ev)],
        "value": np.round(np.minimum(rng.exponential(50, n_ev), 490) + 0.01, 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)]})
    # documents: fresh texts, exact re-posts and one-token near-dups
    texts = []
    for i in range(n_doc):
        r = rng.random()
        if i > 10 and r < 0.08:
            texts.append(texts[int(rng.integers(0, i))])
        elif i > 10 and r < 0.18:
            toks = texts[int(rng.integers(0, i))].split()
            toks[int(rng.integers(0, len(toks)))] = VOCAB[int(rng.integers(0, len(VOCAB)))]
            texts.append(" ".join(toks))
        else:
            n = int(rng.integers(8, 90))
            texts.append(" ".join(VOCAB[j] for j in rng.integers(0, len(VOCAB), n)))
    write(out, "documents", {
        "doc_id": pa.array(range(n_doc), pa.int64()),
        "text": texts,
        "lang": [LANGS[i] for i in rng.integers(0, len(LANGS), n_doc)],
        "source": [f"src{i % 20}" for i in range(n_doc)],
        "n_chars": pa.array([len(t) for t in texts], pa.int64())})
    # embeddings: 10 label clusters on the unit sphere, some near-copies
    centers = rng.normal(0, 1, (10, 64))
    labels = rng.integers(0, 10, n_emb)
    vecs = centers[labels] * 0.35 + rng.normal(0, 1, (n_emb, 64))
    for i in range(20, n_emb):
        if rng.random() < 0.05:
            j = int(rng.integers(0, i))
            vecs[i] = vecs[j] + rng.normal(0, 0.02, 64)
            labels[i] = labels[j]
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    write(out, "embeddings", {
        "vec_id": pa.array(range(n_emb), pa.int64()),
        "embedding": pa.array(list(vecs.astype(np.float32)),
                              pa.list_(pa.float32())),
        "label": pa.array(labels, pa.int32())})


def generate_ingest(out, hours=50, per_hour=300):
    """Ticks for the ingest replay: unique µs timestamps over `hours`
    hours from 2024-01-01, so the stream crosses three dates."""
    rng = np.random.default_rng(DATA_SEED + 1)
    os.makedirs(out, exist_ok=True)
    n = hours * per_hour
    ts = np.sort(rng.choice(hours * 3600 * 1_000_000, n, replace=False))
    write(out, "events", {
        "event_id": pa.array(range(n), pa.int64()),
        "ts": pa.array(np.datetime64("2024-01-01T00:00:00", "us")
                       + ts.astype("timedelta64[us]")),
        "user_id": pa.array(rng.integers(0, 150, n), pa.int64()),
        "event_type": [EVENT_TYPES[i] for i in rng.integers(0, 5, n)],
        "value": np.round(rng.uniform(1, 500, n), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n)]})


if __name__ == "__main__":
    if len(sys.argv) != 2:
        sys.exit("usage: gen_data.py <data_root>")
    root = sys.argv[1]
    generate(os.path.join(root, "bench"), 1.0)
    generate(os.path.join(root, "warm"), 0.1)
    generate_ingest(os.path.join(root, "ingest"))
