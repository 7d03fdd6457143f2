"""Seeded synthetic inputs for the benchmark.

Everything is generated from ``--seed`` with numpy; nothing is read from
outside the checkout and nothing is downloaded. The tables follow the
TPC-H-shaped schema the query registry reads (``catalog.TABLES``):
same column names, types and value domains, at a chosen row scale.

``table_digest`` is the order-insensitive fingerprint (row count + value
hash under ``tools/check_correctness.py``'s canonicalisation) that the
correctness gates compare sink read-backs against.
"""

from __future__ import annotations

import os
from datetime import datetime, timezone

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq
from check_correctness import value_hash

WORDS = (
    "a the row query stream fast spark line small customer group value hash "
    "batch sort data big filter key agg scan slow table part merge window "
    "order column join vector"
).split()
ADJ = "blue old small new hot large cold red".split()
NOUN = "widget gizmo ring gear bolt plate anvil rod".split()
P_TYPES = "ECONOMY STANDARD LARGE SMALL MEDIUM PROMO".split()
SEGMENTS = "MACHINERY AUTOMOBILE HOUSEHOLD BUILDING FURNITURE".split()
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
PRIORITIES = "1-URGENT 2-HIGH 3-MEDIUM 4-NOT SPECIFIED 5-LOW".split()
EVENT_TYPES = "view click signup purchase error".split()
LANGS = "en de fr es zh".split()

_DAY_US = 86_400 * 1_000_000
_EPOCH_1995 = int(datetime(1995, 1, 1, tzinfo=timezone.utc).timestamp()) * 1_000_000
_EPOCH_2024 = int(datetime(2024, 1, 1, tzinfo=timezone.utc).timestamp()) * 1_000_000


def _ts(us: np.ndarray) -> pa.Array:
    return pa.array(us.astype("int64"), type=pa.int64()).cast(pa.timestamp("us"))


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _documents(rng: np.random.Generator, n: int) -> pa.Table:
    """Word-salad documents; about one in five is a near-copy of an
    earlier one (a few words edited, ``dup`` inserted) so the dedup and
    containment ops have real clusters to find."""
    texts: list[str] = []
    words = np.array(WORDS)
    for i in range(n):
        if i >= 10 and rng.random() < 0.2:
            base = texts[int(rng.integers(0, i))].split()
            for _ in range(int(rng.integers(1, 4))):
                base[int(rng.integers(0, len(base)))] = str(rng.choice(words))
            base.insert(int(rng.integers(0, len(base))), "dup")
            texts.append(" ".join(base))
        else:
            texts.append(" ".join(rng.choice(words, int(rng.integers(10, 100)))))
    return pa.table({
        "doc_id": pa.array(np.arange(n), pa.int64()),
        "text": texts,
        "lang": rng.choice(LANGS, n, p=[0.44, 0.14, 0.13, 0.15, 0.14]).tolist(),
        "source": [f"src{k}" for k in rng.integers(0, 20, n)],
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })


def make_tables(seed: int, scale: float, names: tuple[str, ...] | None = None) -> dict[str, pa.Table]:
    """Registry tables at ``scale`` (1.0 ~ 6M lineitem rows); ``names``
    limits generation to those tables. Each table draws from its own
    stream, so a subset reads the same as the full set."""
    n_li = int(6_000_000 * scale)
    n_ord = int(1_500_000 * scale)
    n_cust = int(150_000 * scale)
    n_part = int(200_000 * scale)
    n_supp = max(10, int(10_000 * scale))
    n_ev = int(1_000_000 * scale)
    n_docs = max(500, int(50_000 * scale))
    n_emb = 500

    def region(rng):
        return pa.table({"r_regionkey": pa.array(range(5), pa.int32()), "r_name": REGIONS})

    def nation(rng):
        return pa.table({
            "n_nationkey": pa.array(range(25), pa.int32()),
            "n_name": [f"NATION_{i}" for i in range(25)],
            "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
        })

    def customer(rng):
        return pa.table({
            "c_custkey": pa.array(np.arange(n_cust), pa.int64()),
            "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
            "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
            "c_acctbal": _money(rng, -999.99, 9999.99, n_cust),
            "c_mktsegment": rng.choice(SEGMENTS, n_cust).tolist(),
        })

    def supplier(rng):
        return pa.table({
            "s_suppkey": pa.array(np.arange(n_supp), pa.int64()),
            "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
            "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int32()),
            "s_acctbal": _money(rng, -999.99, 9999.99, n_supp),
        })

    def part(rng):
        return pa.table({
            "p_partkey": pa.array(np.arange(n_part), pa.int64()),
            "p_name": [f"{a} {b}" for a, b in zip(rng.choice(ADJ, n_part), rng.choice(NOUN, n_part))],
            "p_brand": [f"Brand#{k}" for k in rng.integers(1, 26, n_part)],
            "p_type": rng.choice(P_TYPES, n_part).tolist(),
            "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
            "p_retailprice": np.round(900 + rng.integers(0, 1000, n_part) / 10, 1),
        })

    def orders(rng):
        return pa.table({
            "o_orderkey": pa.array(np.arange(n_ord), pa.int64()),
            "o_custkey": pa.array(rng.integers(0, n_cust, n_ord), pa.int64()),
            "o_orderstatus": rng.choice(["F", "O", "P"], n_ord).tolist(),
            "o_totalprice": _money(rng, 1000, 500_000, n_ord),
            "o_orderdate": _ts(_EPOCH_1995 + rng.integers(0, 2400, n_ord) * _DAY_US),
            "o_orderpriority": rng.choice(PRIORITIES, n_ord).tolist(),
        })

    def lineitem(rng):
        qty = rng.integers(1, 51, n_li).astype("float64")
        return pa.table({
            "l_orderkey": pa.array(rng.integers(0, n_ord, n_li), pa.int64()),
            "l_partkey": pa.array(rng.integers(0, n_part, n_li), pa.int64()),
            "l_suppkey": pa.array(rng.integers(0, n_supp, n_li), pa.int64()),
            "l_linenumber": pa.array(rng.integers(1, 8, n_li), pa.int32()),
            "l_quantity": qty,
            "l_extendedprice": np.round(qty * rng.uniform(900, 2100, n_li), 2),
            "l_discount": rng.integers(0, 11, n_li) / 100.0,
            "l_tax": rng.integers(0, 9, n_li) / 100.0,
            "l_returnflag": rng.choice(["A", "N", "R"], n_li).tolist(),
            "l_linestatus": rng.choice(["F", "O"], n_li).tolist(),
            "l_shipdate": _ts(_EPOCH_1995 + rng.integers(0, 2500, n_li) * _DAY_US),
        })

    def events(rng):
        return pa.table({
            "event_id": pa.array(np.arange(n_ev), pa.int64()),
            "ts": _ts(np.sort(_EPOCH_2024 + rng.integers(0, 30 * _DAY_US, n_ev))),
            "user_id": pa.array(rng.integers(0, max(150, n_ev // 66), n_ev), pa.int64()),
            "event_type": rng.choice(EVENT_TYPES, n_ev).tolist(),
            "value": np.round(rng.gamma(2.0, 40.0, n_ev), 2) + 0.01,
            "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)],
        })

    def documents(rng):
        return _documents(rng, n_docs)

    def embeddings(rng):
        emb = rng.normal(0, 0.12, (n_emb, 64)).astype("float32")
        return pa.table({
            "vec_id": pa.array(np.arange(n_emb), pa.int64()),
            "embedding": pa.array(list(emb), pa.list_(pa.float32())),
            "label": pa.array(rng.integers(0, 10, n_emb), pa.int32()),
        })

    gens = [region, nation, customer, supplier, part, orders, lineitem,
            events, documents, embeddings]
    return {
        g.__name__: g(np.random.default_rng([seed, k]))
        for k, g in enumerate(gens)
        if names is None or g.__name__ in names
    }


def write_tables(tables: dict[str, pa.Table], out_dir: str) -> str:
    os.makedirs(out_dir, exist_ok=True)
    for name, tbl in tables.items():
        pq.write_table(tbl, os.path.join(out_dir, f"{name}.parquet"))
    return out_dir


def shuffled(tbl: pa.Table, seed: int) -> pa.Table:
    return tbl.take(np.random.default_rng(seed).permutation(tbl.num_rows))


def table_digest(tbl: pa.Table) -> tuple[int, str]:
    """(row count, order-insensitive value hash) of an arrow table."""
    cols = tbl.column_names
    rows = list(zip(*(tbl.column(c).to_pylist() for c in cols)))
    return len(rows), value_hash(rows, cols)
