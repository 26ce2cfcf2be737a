"""Seeded catalog tables for the ``query_catalog`` workload.

    python3 perfbench/datagen.py <out_dir> <seed>

writes region..embeddings as one parquet file each. It runs as a child
process, so numpy and pyarrow never enter the benchmark process's peak
memory. Everything is a pure function of the seed: the same seed gives
byte-identical inputs.

Schemas and value domains follow the repository's test corpora
(FIXTURES.md, TESTDATA.md). The relational and event tables are at TPC-H
scale factor 0.01, as in the sf0.01 corpus (15,000 orders, 60,000 line
items, 10,000 events). Documents (10-100 words over a 31-word vocabulary)
and unit-norm 64-d embeddings with labels 0-9 are at 40% of the sf0.1
corpus's 5,000 and 2,000: at the sf0.01 corpus's 500 documents the dedup
queries' time is fixed per-job cost (see NOTES.md).
"""

from __future__ import annotations

import os
import sys

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

SF, N_DOCS, N_VECS = 0.01, 2000, 800
# Near-duplicate structure of the sf0.01 and sf0.1 test corpora: 4.8% and
# 4.9% of documents copy an original one without its last word (word 3-gram
# Jaccard 0.96-0.99), and 8 of the 244 copies at sf0.1 are exact.
COPY_RATE, EXACT_SHARE = 0.048, 1 / 30
# Language shares of the sf0.01 corpus (218 of 500 documents are "en").
LANGS, LANG_P = ["en", "de", "es", "fr", "zh"], [0.44, 0.14, 0.14, 0.14, 0.14]

VOCAB = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream "
    "table the value vector window"
).split()
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PART_ADJ = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
PART_NOUN = ["anvil", "bolt", "gear", "plate", "ring", "rod", "widget", "nut"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]

US_PER_DAY = 86_400_000_000


def _days(rng, lo: str, hi: str, n: int) -> np.ndarray:
    lo_d, hi_d = np.datetime64(lo, "D"), np.datetime64(hi, "D")
    off = rng.integers(0, (hi_d - lo_d).astype(int) + 1, n)
    return (lo_d + off).astype("datetime64[us]")


def _money(rng, lo: float, hi: float, n: int) -> np.ndarray:
    return rng.integers(round(lo * 100), round(hi * 100) + 1, n) / 100.0


def _write(out_dir: str, name: str, cols: dict) -> None:
    pq.write_table(pa.table(cols), os.path.join(out_dir, f"{name}.parquet"))


def _documents(rng, n: int) -> dict:
    """Random texts over VOCAB plus the corpus's share of near-duplicate
    copies, in shuffled order (a copy may precede its source)."""
    n_copies = round(COPY_RATE * n)
    n_orig = n - n_copies
    # Lengths evenly spread over 10-100 words (the corpus's range, uniform)
    # rather than drawn, so the shingle count does not vary with the seed.
    lengths = rng.permutation([10 + 91 * k // n_orig for k in range(n_orig)])
    texts = [[VOCAB[k] for k in rng.integers(0, len(VOCAB), int(m))] for m in lengths]
    for _ in range(n_copies):
        words = texts[int(rng.integers(0, n_orig))]
        texts.append(words if rng.random() < EXACT_SHARE else words[:-1])
    texts = [" ".join(texts[k]) for k in rng.permutation(n)]
    return {
        "doc_id": pa.array(np.arange(n), pa.int64()),
        "text": pa.array(texts, pa.string()),
        "lang": pa.array(rng.choice(LANGS, n, p=LANG_P), pa.string()),
        "source": pa.array([f"src{i % 20}" for i in range(n)], pa.string()),
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    }


def write_tables(out_dir: str, seed: int) -> None:
    """Write region..embeddings as single parquet files under ``out_dir``.
    ``SF`` scales the relational and event tables like TPC-H (orders =
    1.5M x SF, 4 lines per order)."""
    os.makedirs(out_dir, exist_ok=True)
    rng = np.random.default_rng(seed % 2**63)
    n_cust, n_supp, n_part = int(150_000 * SF), int(10_000 * SF), int(200_000 * SF)
    n_ord, n_line, n_evt = int(1_500_000 * SF), int(6_000_000 * SF), int(1_000_000 * SF)
    n_users = max(100, int(15_000 * SF))

    _write(out_dir, "region", {
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": pa.array(REGIONS, pa.string()),
    })
    _write(out_dir, "nation", {
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": pa.array([f"NATION_{i}" for i in range(25)], pa.string()),
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
    })
    _write(out_dir, "customer", {
        "c_custkey": pa.array(np.arange(n_cust), pa.int64()),
        "c_name": pa.array([f"Customer#{i:09d}" for i in range(n_cust)], pa.string()),
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
        "c_acctbal": pa.array(_money(rng, -999.99, 9999.99, n_cust), pa.float64()),
        "c_mktsegment": pa.array(rng.choice(SEGMENTS, n_cust), pa.string()),
    })
    _write(out_dir, "supplier", {
        "s_suppkey": pa.array(np.arange(n_supp), pa.int64()),
        "s_name": pa.array([f"Supplier#{i:09d}" for i in range(n_supp)], pa.string()),
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int32()),
        "s_acctbal": pa.array(_money(rng, -999.99, 9999.99, n_supp), pa.float64()),
    })
    names = [f"{PART_ADJ[a]} {PART_NOUN[b]}" for a, b in rng.integers(0, 8, (n_part, 2))]
    _write(out_dir, "part", {
        "p_partkey": pa.array(np.arange(n_part), pa.int64()),
        "p_name": pa.array(names, pa.string()),
        "p_brand": pa.array([f"Brand#{k}" for k in rng.integers(1, 26, n_part)], pa.string()),
        "p_type": pa.array(rng.choice(PART_TYPES, n_part), pa.string()),
        "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
        "p_retailprice": pa.array((9000 + np.arange(n_part) % 1000) / 10.0, pa.float64()),
    })
    _write(out_dir, "orders", {
        "o_orderkey": pa.array(np.arange(n_ord), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_ord), pa.int64()),
        "o_orderstatus": pa.array(rng.choice(["F", "O", "P"], n_ord), pa.string()),
        "o_totalprice": pa.array(_money(rng, 1000.0, 500_000.0, n_ord), pa.float64()),
        "o_orderdate": pa.array(_days(rng, "1995-01-01", "2001-08-01", n_ord)),
        "o_orderpriority": pa.array(rng.choice(PRIORITIES, n_ord), pa.string()),
    })
    _write(out_dir, "lineitem", {
        "l_orderkey": pa.array(rng.integers(0, n_ord, n_line), pa.int64()),
        "l_partkey": pa.array(rng.integers(0, n_part, n_line), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n_line), pa.int64()),
        "l_linenumber": pa.array(rng.integers(1, 8, n_line), pa.int32()),
        "l_quantity": pa.array(rng.integers(1, 51, n_line).astype(float), pa.float64()),
        "l_extendedprice": pa.array(_money(rng, 900.0, 105_000.0, n_line), pa.float64()),
        "l_discount": pa.array(rng.integers(0, 11, n_line) / 100.0, pa.float64()),
        "l_tax": pa.array(rng.integers(0, 9, n_line) / 100.0, pa.float64()),
        "l_returnflag": pa.array(rng.choice(["A", "N", "R"], n_line), pa.string()),
        "l_linestatus": pa.array(rng.choice(["F", "O"], n_line), pa.string()),
        "l_shipdate": pa.array(_days(rng, "1995-01-02", "2001-11-04", n_line)),
    })
    ts = np.sort(rng.integers(0, 30 * US_PER_DAY, n_evt)) + np.datetime64("2024-01-01", "us")
    _write(out_dir, "events", {
        "event_id": pa.array(np.arange(n_evt), pa.int64()),
        "ts": pa.array(ts),
        "user_id": pa.array(rng.integers(0, n_users, n_evt), pa.int64()),
        "event_type": pa.array(rng.choice(EVENT_TYPES, n_evt), pa.string()),
        "value": pa.array(np.round(rng.exponential(50.0, n_evt), 2), pa.float64()),
        "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n_evt)], pa.string()),
    })
    _write(out_dir, "documents", _documents(rng, N_DOCS))
    vecs = rng.standard_normal((N_VECS, 64))
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
    _write(out_dir, "embeddings", {
        "vec_id": pa.array(np.arange(N_VECS), pa.int64()),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, N_VECS), pa.int32()),
    })


if __name__ == "__main__":
    write_tables(sys.argv[1], int(sys.argv[2]))
