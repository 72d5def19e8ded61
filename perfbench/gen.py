"""Seeded input generation for the benchmark.

Every table the workloads read is generated here from the run's seed, so
the same seed always gives the same inputs and the benchmark reads nothing
outside its checkout. The schemas and value distributions follow the
driver tables the registered queries are written against (TPC-H-like star
schema, an ``events`` table, ``embeddings`` and ``documents``). Row counts
scale with ``sf``; sizes stay fixed across seeds so run-to-run spread comes
from the system, not from the input size.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

WORDS = ("spark window merge table column vector stream value data small "
         "join filter big group hash customer sort order slow line part "
         "fast row the agg key query a scan batch").split()
LANGS = ["en", "zh", "es", "fr", "de"]
LANG_P = [0.42, 0.145, 0.145, 0.145, 0.145]
EVENT_TYPES = ["view", "click", "purchase", "signup", "error"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
P_ADJ = ["red", "blue", "small", "large", "hot", "cold", "new", "old"]
P_NOUN = ["bolt", "ring", "widget", "rod", "plate", "gear", "anvil", "nut"]
P_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
EMB_DIM = 64
US_PER_DAY = 86_400_000_000
DAY_1995 = np.datetime64("1995-01-01", "us")
DAY_2024 = np.datetime64("2024-01-01", "us")


def _write(out_dir: str, name: str, cols: dict) -> None:
    pq.write_table(pa.table(cols), os.path.join(out_dir, f"{name}.parquet"))


def _days(rng: np.random.Generator, n: int, lo: int, hi: int) -> np.ndarray:
    return DAY_1995 + rng.integers(lo, hi, n) * US_PER_DAY


def doc_texts(rng: np.random.Generator, n: int, dup_share: float = 0.02):
    """``n`` documents over the 31-word vocabulary, 10-100 words each; 5%
    carry a trailing ``dup`` marker and ``dup_share`` are exact copies of
    an earlier document (the near-duplicate signal the LSH tier finds)."""
    lens = rng.integers(10, 101, n)
    flat = rng.integers(0, len(WORDS), int(lens.sum()))
    vocab = np.array(WORDS, dtype=object)
    texts, pos = [], 0
    for k in lens:
        texts.append(" ".join(vocab[flat[pos:pos + k]]))
        pos += k
    for i in np.flatnonzero(rng.random(n) < 0.05):
        texts[i] += " dup"
    copies = np.flatnonzero(rng.random(n) < dup_share)
    for i in copies[copies > 0]:
        texts[i] = texts[int(rng.integers(0, i))]
    return texts


def documents(out_dir: str, rng: np.random.Generator, n: int) -> None:
    texts = doc_texts(rng, n)
    _write(out_dir, "documents", {
        "doc_id": pa.array(np.arange(n, dtype=np.int64)),
        "text": pa.array(texts),
        "lang": pa.array(rng.choice(LANGS, n, p=LANG_P)),
        "source": pa.array([f"src{i % 20}" for i in range(n)]),
        "n_chars": pa.array(np.array([len(t) for t in texts], np.int64)),
    })


def embedding_matrix(rng: np.random.Generator, n: int):
    """Unit vectors weakly clustered around ten label centres."""
    labels = rng.integers(0, 10, n).astype(np.int32)
    centres = rng.standard_normal((10, EMB_DIM))
    x = centres[labels] * 0.15 + rng.standard_normal((n, EMB_DIM)) / 8.0
    x /= np.linalg.norm(x, axis=1, keepdims=True)
    return x.astype(np.float32), labels


def embeddings(out_dir: str, rng: np.random.Generator, n: int) -> None:
    x, labels = embedding_matrix(rng, n)
    _write(out_dir, "embeddings", {
        "vec_id": pa.array(np.arange(n, dtype=np.int64)),
        "embedding": pa.FixedSizeListArray.from_arrays(
            pa.array(x.reshape(-1)), EMB_DIM).cast(pa.list_(pa.float32())),
        "label": pa.array(labels),
    })


def events(out_dir: str, rng: np.random.Generator, n: int) -> None:
    gaps = rng.exponential(30 * US_PER_DAY / n, n).astype(np.int64)
    _write(out_dir, "events", {
        "event_id": pa.array(np.arange(n, dtype=np.int64)),
        "ts": pa.array(DAY_2024 + np.cumsum(gaps)),
        "user_id": pa.array(rng.integers(0, max(n // 67, 10), n)),
        "event_type": pa.array(rng.choice(EVENT_TYPES, n)),
        "value": pa.array(np.round(rng.exponential(50.0, n), 2)),
        "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n)]),
    })


def tpch(out_dir: str, rng: np.random.Generator, sf: float) -> None:
    n_cust, n_supp = int(150_000 * sf), int(10_000 * sf)
    n_part, n_ord = int(200_000 * sf), int(1_500_000 * sf)
    n_line = 4 * n_ord
    _write(out_dir, "region", {
        "r_regionkey": pa.array(np.arange(5, dtype=np.int32)),
        "r_name": pa.array(["AFRICA", "AMERICA", "ASIA", "EUROPE",
                            "MIDDLE EAST"])})
    _write(out_dir, "nation", {
        "n_nationkey": pa.array(np.arange(25, dtype=np.int32)),
        "n_name": pa.array([f"NATION_{i}" for i in range(25)]),
        "n_regionkey": pa.array((np.arange(25) % 5).astype(np.int32))})
    _write(out_dir, "customer", {
        "c_custkey": pa.array(np.arange(n_cust, dtype=np.int64)),
        "c_name": pa.array([f"Customer#{i:09d}" for i in range(n_cust)]),
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust).astype(np.int32)),
        "c_acctbal": pa.array(np.round(rng.uniform(-999.99, 9999.99, n_cust), 2)),
        "c_mktsegment": pa.array(rng.choice(SEGMENTS, n_cust))})
    _write(out_dir, "supplier", {
        "s_suppkey": pa.array(np.arange(n_supp, dtype=np.int64)),
        "s_name": pa.array([f"Supplier#{i:09d}" for i in range(n_supp)]),
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp).astype(np.int32)),
        "s_acctbal": pa.array(np.round(rng.uniform(-999.99, 9999.99, n_supp), 2))})
    _write(out_dir, "part", {
        "p_partkey": pa.array(np.arange(n_part, dtype=np.int64)),
        "p_name": pa.array([f"{P_ADJ[a]} {P_NOUN[b]}" for a, b in zip(
            rng.integers(0, 8, n_part), rng.integers(0, 8, n_part))]),
        "p_brand": pa.array([f"Brand#{b}" for b in rng.integers(1, 26, n_part)]),
        "p_type": pa.array(rng.choice(P_TYPES, n_part)),
        "p_size": pa.array(rng.integers(1, 51, n_part).astype(np.int32)),
        "p_retailprice": pa.array(np.round(900 + (np.arange(n_part) % 1000) / 10, 2))})
    _write(out_dir, "orders", {
        "o_orderkey": pa.array(np.arange(n_ord, dtype=np.int64)),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_ord)),
        "o_orderstatus": pa.array(rng.choice(["F", "O", "P"], n_ord)),
        "o_totalprice": pa.array(np.round(rng.uniform(1000, 500_000, n_ord), 2)),
        "o_orderdate": pa.array(_days(rng, n_ord, 0, 2405)),
        "o_orderpriority": pa.array(rng.choice(PRIORITIES, n_ord))})
    qty = rng.integers(1, 51, n_line).astype(np.float64)
    _write(out_dir, "lineitem", {
        "l_orderkey": pa.array(rng.integers(0, n_ord, n_line)),
        "l_partkey": pa.array(rng.integers(0, n_part, n_line)),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n_line)),
        "l_linenumber": pa.array(rng.integers(1, 8, n_line).astype(np.int32)),
        "l_quantity": pa.array(qty),
        "l_extendedprice": pa.array(np.round(qty * rng.uniform(900, 2100, n_line), 2)),
        "l_discount": pa.array(rng.integers(0, 11, n_line) / 100.0),
        "l_tax": pa.array(rng.integers(0, 9, n_line) / 100.0),
        "l_returnflag": pa.array(rng.choice(["A", "N", "R"], n_line)),
        "l_linestatus": pa.array(rng.choice(["F", "O"], n_line)),
        "l_shipdate": pa.array(_days(rng, n_line, 1, 2499))})


def driver_tables(out_dir: str, seed: int, sf: float = 0.01) -> str:
    """The full driver table set at scale ``sf`` (0.01: 60k lineitems,
    10k events, 500 embeddings and 500 documents)."""
    os.makedirs(out_dir, exist_ok=True)
    rng = np.random.default_rng(seed)
    tpch(out_dir, rng, sf)
    events(out_dir, rng, int(1_000_000 * sf))
    embeddings(out_dir, rng, int(50_000 * sf))
    documents(out_dir, rng, int(50_000 * sf))
    return out_dir

