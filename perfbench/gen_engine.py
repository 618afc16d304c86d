"""Engine input tables for the benchmark's engine workloads.

Writes the ten TPC-H-ish tables the query packs read (region, nation,
customer, supplier, part, orders, lineitem, events, documents,
embeddings) as one parquet file each, with the same schemas and the
same column distributions as the repository's sf tiers: independent
uniform columns, Poisson(4) lines per order, an exponential event
value over 30 days of ordered timestamps, word-salad documents over a
31-word vocabulary with ~5% planted near-duplicates, and unit-norm
64-dim gaussian embeddings.

The tables are a fixed input: they do not depend on the benchmark
seed (the seed moves the row order instead), so the golden
fingerprints in golden.json stay valid. numpy's legacy RandomState
stream is stable across numpy releases.

Usage: python3 perfbench/gen_engine.py <out_dir> [<sf>]
"""
import os
import sys

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

VERSION = 1
GEN_SEED = 42

VOCAB = ["row", "the", "query", "stream", "fast", "spark", "line", "small",
         "customer", "group", "value", "hash", "batch", "sort", "data", "big",
         "filter", "dup", "key", "agg", "scan", "slow", "table", "part", "a",
         "merge", "window", "order", "column", "join", "vector"]
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PART_ADJ = ["red", "blue", "small", "large", "hot", "cold", "old", "new"]
PART_NOUN = ["widget", "gear", "bolt", "plate", "ring", "rod", "gizmo", "anvil"]
PART_TYPES = ["ECONOMY", "STANDARD", "LARGE", "SMALL", "MEDIUM", "PROMO"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "view", "purchase", "signup", "error"]
LANGS = ["en", "es", "zh", "de", "fr"]
LANG_P = [0.44, 0.14, 0.14, 0.14, 0.14]

T_1995 = np.datetime64("1995-01-01", "us")
T_2024 = np.datetime64("2024-01-01", "us")
DAY_US = 86_400_000_000


def _days(rng, n, lo_days, hi_days):
    return T_1995 + (rng.randint(lo_days, hi_days, n) * DAY_US).astype("timedelta64[us]")


def _write(out, name, cols):
    pq.write_table(pa.table(cols), os.path.join(out, f"{name}.parquet"))


def generate(out, sf):
    os.makedirs(out, exist_ok=True)
    rng = np.random.RandomState(GEN_SEED)
    n_cust = int(150_000 * sf)
    n_supp = max(10, int(10_000 * sf))
    n_part = int(200_000 * sf)
    n_ord = int(1_500_000 * sf)
    n_line = int(6_000_000 * sf)
    n_ev = int(1_000_000 * sf)
    n_doc = max(500, int(50_000 * sf))
    n_emb = max(500, int(20_000 * sf))

    _write(out, "region", {
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": REGIONS})
    _write(out, "nation", {
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())})

    _write(out, "customer", {
        "c_custkey": pa.array(np.arange(n_cust), pa.int64()),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": pa.array(rng.randint(0, 25, n_cust), pa.int32()),
        "c_acctbal": np.round(rng.uniform(-999.99, 9999.99, n_cust), 2),
        "c_mktsegment": [SEGMENTS[i] for i in rng.randint(0, 5, n_cust)]})
    _write(out, "supplier", {
        "s_suppkey": pa.array(np.arange(n_supp), pa.int64()),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": pa.array(rng.randint(0, 25, n_supp), pa.int32()),
        "s_acctbal": np.round(rng.uniform(-999.99, 9999.99, n_supp), 2)})
    _write(out, "part", {
        "p_partkey": pa.array(np.arange(n_part), pa.int64()),
        "p_name": [f"{PART_ADJ[a]} {PART_NOUN[b]}" for a, b in
                   zip(rng.randint(0, 8, n_part), rng.randint(0, 8, n_part))],
        "p_brand": [f"Brand#{i}" for i in rng.randint(1, 26, n_part)],
        "p_type": [PART_TYPES[i] for i in rng.randint(0, 6, n_part)],
        "p_size": pa.array(rng.randint(1, 51, n_part), pa.int32()),
        "p_retailprice": np.round(900.0 + (np.arange(n_part) % 1000) * 0.1, 1)})

    _write(out, "orders", {
        "o_orderkey": pa.array(np.arange(n_ord), pa.int64()),
        "o_custkey": pa.array(rng.randint(0, n_cust, n_ord), pa.int64()),
        "o_orderstatus": [("F", "O", "P")[i] for i in rng.randint(0, 3, n_ord)],
        "o_totalprice": np.round(rng.uniform(1000.0, 500000.0, n_ord), 2),
        "o_orderdate": _days(rng, n_ord, 0, 2405),
        "o_orderpriority": [PRIORITIES[i] for i in rng.randint(0, 5, n_ord)]})
    flags = rng.randint(0, 6, n_line)
    _write(out, "lineitem", {
        "l_orderkey": pa.array(rng.randint(0, n_ord, n_line), pa.int64()),
        "l_partkey": pa.array(rng.randint(0, n_part, n_line), pa.int64()),
        "l_suppkey": pa.array(rng.randint(0, n_supp, n_line), pa.int64()),
        "l_linenumber": pa.array(rng.randint(1, 8, n_line), pa.int32()),
        "l_quantity": rng.randint(1, 51, n_line).astype("float64"),
        "l_extendedprice": np.round(rng.uniform(900.0, 100000.0, n_line), 2),
        "l_discount": rng.randint(0, 11, n_line) / 100.0,
        "l_tax": rng.randint(0, 9, n_line) / 100.0,
        "l_returnflag": [("A", "N", "R")[i // 2] for i in flags],
        "l_linestatus": [("F", "O")[i % 2] for i in flags],
        "l_shipdate": _days(rng, n_line, 1, 2500)})

    span_us = 30 * DAY_US
    ts = np.sort(rng.randint(0, span_us, n_ev)).astype("timedelta64[us]")
    _write(out, "events", {
        "event_id": pa.array(np.arange(n_ev), pa.int64()),
        "ts": pa.array(T_2024 + ts, pa.timestamp("us")),
        "user_id": pa.array(rng.randint(0, max(1, n_cust // 10), n_ev), pa.int64()),
        "event_type": [EVENT_TYPES[i] for i in rng.randint(0, 5, n_ev)],
        "value": np.maximum(0.01, np.round(rng.exponential(50.0, n_ev), 2)),
        "props": [f'{{"k": {k}}}' for k in rng.randint(0, 100, n_ev)]})

    texts = []
    for i in range(n_doc):
        if i >= 20 and rng.rand() < 0.05:
            words = texts[rng.randint(0, i)].split(" ")
            for j in range(len(words)):
                if rng.rand() < 0.02:
                    words[j] = VOCAB[rng.randint(0, len(VOCAB))]
        else:
            words = [VOCAB[w] for w in rng.randint(0, len(VOCAB), rng.randint(10, 100))]
        texts.append(" ".join(words))
    _write(out, "documents", {
        "doc_id": pa.array(np.arange(n_doc), pa.int64()),
        "text": texts,
        "lang": [LANGS[i] for i in rng.choice(5, n_doc, p=LANG_P)],
        "source": [f"src{i % 20}" for i in range(n_doc)],
        "n_chars": pa.array([len(t) for t in texts], pa.int64())})

    vecs = rng.standard_normal((n_emb, 64))
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    _write(out, "embeddings", {
        "vec_id": pa.array(np.arange(n_emb), pa.int64()),
        "embedding": pa.array(list(vecs.astype("float32")), pa.list_(pa.float32())),
        "label": pa.array(rng.randint(0, 10, n_emb), pa.int32())})


def ensure(out, sf):
    """Generate once per (version, sf); later calls reuse the files."""
    stamp = os.path.join(out, "_GENERATED")
    want = f"v{VERSION} sf={sf}\n"
    if os.path.exists(stamp) and open(stamp).read() == want:
        return
    generate(out, sf)
    with open(stamp, "w") as f:
        f.write(want)


if __name__ == "__main__":
    ensure(sys.argv[1], float(sys.argv[2]) if len(sys.argv) > 2 else 0.01)
