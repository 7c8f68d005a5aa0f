"""Deterministic synthetic tables for the benchmark.

Writes the ten parquet tables the engine reads (`region nation customer
supplier part orders lineitem events documents embeddings`) with the schemas
and value distributions of the project's testdata generator, scaled by `sf`
(events = 1e6 * sf rows, lineitem = 6e6 * sf, ...).

The base tables depend only on `sf`, never on the workload seed: every seed
runs against the same data, so run-to-run differences come from the seeded
request streams and samples alone. The seeded input that is a file (the
merge slice) is written by `event_slice`.

Usage: python3 perfbench/gen.py <out_dir> [sf]
"""
import os
import sys

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

DATA_SEED = 42
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PART_ADJ = ["small", "red", "blue", "hot", "old", "large", "cold", "new"]
PART_NOUN = ["ring", "widget", "bolt", "gear", "gizmo", "plate", "anvil", "rod"]
EVENT_TYPES = ["signup", "click", "error", "view", "purchase"]
LANGS = ["en", "de", "es", "fr", "zh"]
LANG_P = [0.44, 0.14, 0.14, 0.14, 0.14]
WORDS = ["a", "agg", "batch", "big", "column", "customer", "data", "fast",
         "filter", "group", "hash", "join", "key", "line", "merge", "order",
         "part", "query", "row", "scan", "slow", "small", "sort", "spark",
         "stream", "table", "the", "value", "vector", "window"]
DAY_US = 86_400_000_000
EPOCH_2024_US = 1_704_067_200_000_000  # 2024-01-01T00:00:00Z
EVENT_DAYS = 30


def _us(days_since_1970):
    return pa.array(np.asarray(days_since_1970, dtype="int64") * DAY_US,
                    type=pa.timestamp("us"))


def _days(iso):
    return int(np.datetime64(iso, "D").astype("int64"))


def _write(out_dir, name, cols):
    pq.write_table(pa.table(cols), os.path.join(out_dir, f"{name}.parquet"))


def events_table(n, n_users, rng):
    gaps = rng.exponential(1.0, n + 1)
    ts = (np.cumsum(gaps)[:n] / gaps.sum() * EVENT_DAYS * DAY_US).astype("int64")
    return {
        "event_id": pa.array(np.arange(n, dtype="int64")),
        "ts": pa.array(EPOCH_2024_US + ts, type=pa.timestamp("us")),
        "user_id": pa.array(rng.integers(0, n_users, n, dtype="int64")),
        "event_type": pa.array([EVENT_TYPES[i] for i in rng.integers(0, 5, n)]),
        "value": pa.array(np.round(rng.exponential(50.0, n), 2)),
        "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n)]),
    }


def generate(out_dir, sf):
    os.makedirs(out_dir, exist_ok=True)
    rng = np.random.default_rng(DATA_SEED)
    n_cust, n_supp = int(150_000 * sf), max(10, int(10_000 * sf))
    n_part, n_ord = int(200_000 * sf), int(1_500_000 * sf)
    n_line, n_ev = int(6_000_000 * sf), int(1_000_000 * sf)
    n_docs, n_emb = max(500, int(50_000 * sf)), max(500, int(20_000 * sf))

    _write(out_dir, "region", {
        "r_regionkey": pa.array(np.arange(5, dtype="int32")),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]})
    _write(out_dir, "nation", {
        "n_nationkey": pa.array(np.arange(25, dtype="int32")),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array(np.arange(25, dtype="int32") % 5)})
    _write(out_dir, "customer", {
        "c_custkey": pa.array(np.arange(n_cust, dtype="int64")),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust, dtype="int32")),
        "c_acctbal": pa.array(np.round(rng.uniform(-999.99, 9999.99, n_cust), 2)),
        "c_mktsegment": [SEGMENTS[i] for i in rng.integers(0, 5, n_cust)]})
    _write(out_dir, "supplier", {
        "s_suppkey": pa.array(np.arange(n_supp, dtype="int64")),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp, dtype="int32")),
        "s_acctbal": pa.array(np.round(rng.uniform(-999.99, 9999.99, n_supp), 2))})
    _write(out_dir, "part", {
        "p_partkey": pa.array(np.arange(n_part, dtype="int64")),
        "p_name": [f"{PART_ADJ[a]} {PART_NOUN[b]}" for a, b in
                   zip(rng.integers(0, 8, n_part), rng.integers(0, 8, n_part))],
        "p_brand": [f"Brand#{i}" for i in rng.integers(1, 26, n_part)],
        "p_type": [PART_TYPES[i] for i in rng.integers(0, 6, n_part)],
        "p_size": pa.array(rng.integers(1, 51, n_part, dtype="int32")),
        "p_retailprice": pa.array(
            np.round(900.0 + (np.arange(n_part) % 1000) * 0.1, 1))})
    d0, d1 = _days("1995-01-01"), _days("2001-08-01")
    _write(out_dir, "orders", {
        "o_orderkey": pa.array(np.arange(n_ord, dtype="int64")),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_ord, dtype="int64")),
        "o_orderstatus": [("F", "O", "P")[i] for i in rng.integers(0, 3, n_ord)],
        "o_totalprice": pa.array(np.round(rng.uniform(1000.0, 500_000.0, n_ord), 2)),
        "o_orderdate": _us(rng.integers(d0, d1 + 1, n_ord)),
        "o_orderpriority": [PRIORITIES[i] for i in rng.integers(0, 5, n_ord)]})
    _write(out_dir, "lineitem", {
        "l_orderkey": pa.array(rng.integers(0, n_ord, n_line, dtype="int64")),
        "l_partkey": pa.array(rng.integers(0, n_part, n_line, dtype="int64")),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n_line, dtype="int64")),
        "l_linenumber": pa.array(rng.integers(1, 8, n_line, dtype="int32")),
        "l_quantity": pa.array(rng.integers(1, 51, n_line).astype("float64")),
        "l_extendedprice": pa.array(np.round(rng.uniform(900.0, 105_000.0, n_line), 2)),
        "l_discount": pa.array(rng.integers(0, 11, n_line) / 100.0),
        "l_tax": pa.array(rng.integers(0, 9, n_line) / 100.0),
        "l_returnflag": [("A", "N", "R")[i] for i in rng.integers(0, 3, n_line)],
        "l_linestatus": [("F", "O")[i] for i in rng.integers(0, 2, n_line)],
        "l_shipdate": _us(rng.integers(d0 + 1, _days("2001-11-04") + 1, n_line))})
    _write(out_dir, "events", events_table(n_ev, int(150_000 * sf), rng))
    texts = [" ".join(WORDS[w] for w in rng.integers(0, len(WORDS), k))
             for k in rng.integers(10, 100, n_docs)]
    for i in np.flatnonzero(rng.random(n_docs) < 0.05):  # near-duplicates
        if i > 0:
            texts[i] = texts[int(rng.integers(0, i))] + " dup"
    _write(out_dir, "documents", {
        "doc_id": pa.array(np.arange(n_docs, dtype="int64")),
        "text": texts,
        "lang": [LANGS[i] for i in rng.choice(5, n_docs, p=LANG_P)],
        "source": [f"src{i % 20}" for i in range(n_docs)],
        "n_chars": pa.array(np.array([len(t) for t in texts], dtype="int64"))})
    labels = rng.integers(0, 10, n_emb, dtype="int32")
    centers = rng.normal(0.0, 0.02, (10, 64))
    vecs = centers[labels] + rng.normal(0.0, 0.125, (n_emb, 64))
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    _write(out_dir, "embeddings", {
        "vec_id": pa.array(np.arange(n_emb, dtype="int64")),
        "embedding": pa.array(list(vecs.astype("float32")),
                              type=pa.list_(pa.float32())),
        "label": pa.array(labels)})


def event_slice(path, sf, seed):
    """A seeded event slice for the merge: events of the same users and
    types inside a random two-day window of January 2024, with event ids
    past every id already written."""
    os.makedirs(os.path.dirname(path), exist_ok=True)
    rng = np.random.default_rng([DATA_SEED, seed])
    n = int(rng.integers(int(2_000 * sf) + 20, int(10_000 * sf) + 40))
    cols = events_table(n, int(150_000 * sf), rng)
    first = int(1_000_000 * sf)
    cols["event_id"] = pa.array(np.arange(first, first + n, dtype="int64"))
    start = int(rng.integers(0, (EVENT_DAYS - 2) * DAY_US))
    ts = np.sort(rng.integers(start, start + 2 * DAY_US, n))
    cols["ts"] = pa.array(EPOCH_2024_US + ts, type=pa.timestamp("us"))
    pq.write_table(pa.table(cols), path)


if __name__ == "__main__":
    generate(sys.argv[1], float(sys.argv[2]) if len(sys.argv) > 2 else 0.002)
