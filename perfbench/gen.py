"""Seeded generator for the benchmark's inputs.

Writes the TPC-H-shaped star schema plus the ``events``, ``documents`` and
``embeddings`` tables that the registered queries read, one parquet file per
table, with the column names, types and value ranges the engine's catalog
expects. Every table draws from a ``numpy`` generator seeded by the caller's seed
and the table's position, so the same seed writes byte-identical files.
"""

from __future__ import annotations

import datetime as dt
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
PART_ADJ = ["blue", "cold", "hot", "new", "old", "red", "small", "big"]
PART_NOUN = ["anvil", "bolt", "gear", "plate", "ring", "rod", "widget", "nut"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
LANGS = ["en", "en", "en", "de", "es", "fr", "zh"]
VOCAB = (
    "a the data table row column key value join filter sort group agg hash "
    "scan merge window batch stream query spark part order line customer "
    "vector fast slow big small"
).split()
EMBED_DIM = 64

DAY0 = dt.datetime(1995, 1, 1)
EVENT_T0 = dt.datetime(2024, 1, 1)


def _ts(base: dt.datetime, offsets_us: np.ndarray) -> pa.Array:
    start = int((base - dt.datetime(1970, 1, 1)).total_seconds() * 1_000_000)
    return pa.array(start + offsets_us.astype(np.int64), type=pa.timestamp("us"))


def _days(rng: np.random.Generator, n: int, lo: int, hi: int) -> pa.Array:
    return _ts(DAY0, rng.integers(lo, hi, n) * 86_400_000_000)


def _money(rng: np.random.Generator, n: int, lo: float, hi: float) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _pick(rng: np.random.Generator, choices: list[str], n: int) -> pa.Array:
    return pa.array(np.asarray(choices, dtype=object)[rng.integers(0, len(choices), n)])


def tables(sf: float, seed: int, names: tuple[str, ...] | None = None) -> dict[str, pa.Table]:
    """Tables at scale factor ``sf`` (sf=1 means 1.5M orders); ``names``
    picks a subset. Each table draws from its own stream, so a subset holds
    the same rows as the full set."""
    n_cust = max(int(150_000 * sf), 50)
    n_supp = max(int(10_000 * sf), 10)
    n_part = max(int(200_000 * sf), 50)
    n_ord = max(int(1_500_000 * sf), 200)
    n_line = 4 * n_ord
    n_evt = max(int(1_000_000 * sf), 500)
    n_users = max(n_evt // 66, 10)
    n_doc = max(int(50_000 * sf), 50)
    n_vec = max(int(50_000 * sf), 50)
    i64 = pa.int64()
    i32 = pa.int32()

    def region(rng):
        return pa.table({"r_regionkey": pa.array(range(5), i32), "r_name": REGIONS})

    def nation(rng):
        return pa.table({
            "n_nationkey": pa.array(range(25), i32),
            "n_name": [f"NATION_{i}" for i in range(25)],
            "n_regionkey": pa.array([i % 5 for i in range(25)], i32),
        })

    def customer(rng):
        return pa.table({
            "c_custkey": pa.array(np.arange(n_cust), i64),
            "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
            "c_nationkey": pa.array(rng.integers(0, 25, n_cust), i32),
            "c_acctbal": _money(rng, n_cust, -999.99, 9999.99),
            "c_mktsegment": _pick(rng, SEGMENTS, n_cust),
        })

    def supplier(rng):
        return pa.table({
            "s_suppkey": pa.array(np.arange(n_supp), i64),
            "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
            "s_nationkey": pa.array(rng.integers(0, 25, n_supp), i32),
            "s_acctbal": _money(rng, n_supp, -999.99, 9999.99),
        })

    def part(rng):
        names = [f"{a} {b}" for a in PART_ADJ for b in PART_NOUN]
        return pa.table({
            "p_partkey": pa.array(np.arange(n_part), i64),
            "p_name": _pick(rng, names, n_part),
            "p_brand": pa.array([f"Brand#{i}" for i in rng.integers(1, 26, n_part)]),
            "p_type": _pick(rng, PART_TYPES, n_part),
            "p_size": pa.array(rng.integers(1, 51, n_part), i32),
            "p_retailprice": np.round(900.0 + (np.arange(n_part) % 1000) / 10.0, 1),
        })

    def orders(rng):
        return pa.table({
            "o_orderkey": pa.array(np.arange(n_ord), i64),
            "o_custkey": pa.array(rng.integers(0, n_cust, n_ord), i64),
            "o_orderstatus": _pick(rng, ["F", "O", "P"], n_ord),
            "o_totalprice": _money(rng, n_ord, 1000.0, 500_000.0),
            "o_orderdate": _days(rng, n_ord, 0, 2400),
            "o_orderpriority": _pick(rng, PRIORITIES, n_ord),
        })

    def lineitem(rng):
        return pa.table({
            "l_orderkey": pa.array(rng.integers(0, n_ord, n_line), i64),
            "l_partkey": pa.array(rng.integers(0, n_part, n_line), i64),
            "l_suppkey": pa.array(rng.integers(0, n_supp, n_line), i64),
            "l_linenumber": pa.array(rng.integers(1, 8, n_line), i32),
            "l_quantity": rng.integers(1, 51, n_line).astype(np.float64),
            "l_extendedprice": _money(rng, n_line, 900.0, 105_000.0),
            "l_discount": rng.integers(0, 11, n_line) / 100.0,
            "l_tax": rng.integers(0, 9, n_line) / 100.0,
            "l_returnflag": _pick(rng, ["A", "N", "R"], n_line),
            "l_linestatus": _pick(rng, ["F", "O"], n_line),
            "l_shipdate": _days(rng, n_line, 1, 2500),
        })

    def events(rng):
        gaps = rng.exponential(30 * 86_400e6 / n_evt, n_evt)
        return pa.table({
            "event_id": pa.array(np.arange(n_evt), i64),
            "ts": _ts(EVENT_T0, np.cumsum(gaps)),
            "user_id": pa.array(rng.integers(0, n_users, n_evt), i64),
            "event_type": _pick(rng, EVENT_TYPES, n_evt),
            "value": _money(rng, n_evt, 0.01, 490.0),
            "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n_evt)]),
        })

    def documents(rng):
        vocab = np.asarray(VOCAB, dtype=object)
        texts = [
            " ".join(vocab[rng.integers(0, len(vocab), int(k))])
            for k in rng.integers(10, 100, n_doc)
        ]
        return pa.table({
            "doc_id": pa.array(np.arange(n_doc), i64),
            "text": texts,
            "lang": _pick(rng, LANGS, n_doc),
            "source": pa.array([f"src{i}" for i in rng.integers(0, 20, n_doc)]),
            "n_chars": pa.array([len(t) for t in texts], i64),
        })

    def embeddings(rng):
        labels = rng.integers(0, 10, n_vec)
        centers = rng.normal(0.0, 1.0, (10, EMBED_DIM))
        vecs = centers[labels] + rng.normal(0.0, 0.8, (n_vec, EMBED_DIM))
        vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
        return pa.table({
            "vec_id": pa.array(np.arange(n_vec), i64),
            "embedding": pa.array(list(vecs.astype(np.float32)), pa.list_(pa.float32())),
            "label": pa.array(labels, i32),
        })

    makers = (region, nation, customer, supplier, part, orders, lineitem,
              events, documents, embeddings)
    return {
        mk.__name__: mk(np.random.default_rng([seed, i]))
        for i, mk in enumerate(makers)
        if names is None or mk.__name__ in names
    }


def write_tables(out_dir: str, sf: float, seed: int, names: tuple[str, ...] | None = None) -> None:
    """Write the tables as ``<out_dir>/<name>.parquet``."""
    os.makedirs(out_dir, exist_ok=True)
    for name, table in tables(sf, seed, names).items():
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))
