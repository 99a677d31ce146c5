"""Seeded generator for the star schema the query registry reads.

Writes the ten tables ``python_etl_spark.sources.tables.TABLE_NAMES``
names (one snappy parquet file each, pyarrow-written like the reference
test data) so the benchmark needs no data outside its own checkout.
The same ``seed`` and sizes always give byte-identical tables.

Shapes follow the reference data: uniform TPC-H-style keys and
categories, a 30-word document vocabulary with planted near-duplicates
(a copy of an earlier document plus the word ``dup``), and 64-dim unit
embeddings clustered by label.
"""

from __future__ import annotations

import os
from dataclasses import dataclass

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PART_ADJ = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
PART_NOUN = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
VOCAB = (
    "spark window merge table column vector stream value data small join "
    "filter big group hash customer sort order slow line part fast row the "
    "agg key query a scan batch"
).split()
LANGS = ["en", "en", "de", "es", "fr", "zh"]

_DAY_US = 86_400_000_000
_ORDER_START = np.datetime64("1995-01-01", "us")
_ORDER_DAYS = 2404  # through 2001-08-01
_SHIP_START = np.datetime64("1995-01-02", "us")
_SHIP_DAYS = 2498
_EVENT_START = np.datetime64("2024-01-01", "us")
_EVENT_SPAN_US = 30 * _DAY_US


@dataclass(frozen=True)
class Sizes:
    """Row counts of the scaled tables; ``documents`` and
    ``embeddings`` are sized on their own, as in the reference data."""

    customers: int
    suppliers: int
    parts: int
    orders: int
    lineitems: int
    events: int
    users: int
    documents: int
    embeddings: int

    @classmethod
    def at(cls, sf: float, documents: int = 500, embeddings: int = 500) -> "Sizes":
        return cls(
            customers=max(10, int(150_000 * sf)),
            suppliers=max(5, int(10_000 * sf)),
            parts=max(10, int(200_000 * sf)),
            orders=max(50, int(1_500_000 * sf)),
            lineitems=max(200, int(6_000_000 * sf)),
            events=max(100, int(1_000_000 * sf)),
            users=max(10, int(15_000 * sf)),
            documents=documents,
            embeddings=embeddings,
        )


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.integers(int(lo * 100), int(hi * 100), n) / 100.0, 2)


def _days(start: np.datetime64, rng: np.random.Generator, span: int, n: int):
    return start + rng.integers(0, span, n).astype("timedelta64[D]")


def orders_table(rng: np.random.Generator, n: int, customers: int, key0: int = 0) -> pa.Table:
    return pa.table(
        {
            "o_orderkey": pa.array(np.arange(key0, key0 + n, dtype=np.int64)),
            "o_custkey": pa.array(rng.integers(0, customers, n, dtype=np.int64)),
            "o_orderstatus": pa.array(rng.choice(["F", "O", "P"], n)),
            "o_totalprice": pa.array(_money(rng, 1000, 500_000, n)),
            "o_orderdate": pa.array(
                _days(_ORDER_START, rng, _ORDER_DAYS, n), pa.timestamp("us")
            ),
            "o_orderpriority": pa.array(rng.choice(PRIORITIES, n)),
        }
    )


def _documents(rng: np.random.Generator, n: int) -> pa.Table:
    texts: list[str] = []
    for i in range(n):
        # ~5 % planted near-duplicates: an earlier document plus "dup"
        if i >= 10 and rng.random() < 0.05:
            texts.append(texts[int(rng.integers(0, i))] + " dup")
            continue
        words = rng.choice(VOCAB, int(rng.integers(10, 101)))
        texts.append(" ".join(words))
    return pa.table(
        {
            "doc_id": pa.array(np.arange(n, dtype=np.int64)),
            "text": pa.array(texts),
            "lang": pa.array(rng.choice(LANGS, n)),
            "source": pa.array([f"src{i % 20}" for i in range(n)]),
            "n_chars": pa.array(np.array([len(t) for t in texts], dtype=np.int64)),
        }
    )


def _embeddings(rng: np.random.Generator, n: int, dim: int = 64) -> pa.Table:
    labels = rng.integers(0, 10, n).astype(np.int32)
    centers = rng.normal(size=(10, dim))
    vecs = centers[labels] + 1.5 * rng.normal(size=(n, dim))
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
    return pa.table(
        {
            "vec_id": pa.array(np.arange(n, dtype=np.int64)),
            "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
            "label": pa.array(labels),
        }
    )


def tables(seed: int, sizes: Sizes) -> dict[str, pa.Table]:
    """All ten tables for ``seed`` at ``sizes`` (in memory)."""
    rng = np.random.default_rng(seed)
    s = sizes
    out: dict[str, pa.Table] = {}
    out["region"] = pa.table(
        {
            "r_regionkey": pa.array(np.arange(5, dtype=np.int32)),
            "r_name": pa.array(REGIONS),
        }
    )
    out["nation"] = pa.table(
        {
            "n_nationkey": pa.array(np.arange(25, dtype=np.int32)),
            "n_name": pa.array([f"NATION_{i}" for i in range(25)]),
            "n_regionkey": pa.array(np.arange(25, dtype=np.int32) % 5),
        }
    )
    out["customer"] = pa.table(
        {
            "c_custkey": pa.array(np.arange(s.customers, dtype=np.int64)),
            "c_name": pa.array([f"Customer#{i:09d}" for i in range(s.customers)]),
            "c_nationkey": pa.array(rng.integers(0, 25, s.customers, dtype=np.int32)),
            "c_acctbal": pa.array(_money(rng, 0, 10_000, s.customers)),
            "c_mktsegment": pa.array(rng.choice(SEGMENTS, s.customers)),
        }
    )
    out["supplier"] = pa.table(
        {
            "s_suppkey": pa.array(np.arange(s.suppliers, dtype=np.int64)),
            "s_name": pa.array([f"Supplier#{i:09d}" for i in range(s.suppliers)]),
            "s_nationkey": pa.array(rng.integers(0, 25, s.suppliers, dtype=np.int32)),
            "s_acctbal": pa.array(_money(rng, 0, 10_000, s.suppliers)),
        }
    )
    pk = np.arange(s.parts, dtype=np.int64)
    names = [
        f"{PART_ADJ[a]} {PART_NOUN[b]}"
        for a, b in zip(rng.integers(0, 8, s.parts), rng.integers(0, 8, s.parts))
    ]
    out["part"] = pa.table(
        {
            "p_partkey": pa.array(pk),
            "p_name": pa.array(names),
            "p_brand": pa.array([f"Brand#{b}" for b in rng.integers(1, 26, s.parts)]),
            "p_type": pa.array(rng.choice(PART_TYPES, s.parts)),
            "p_size": pa.array(rng.integers(1, 51, s.parts, dtype=np.int32)),
            "p_retailprice": pa.array(np.round(900.0 + (pk % 1000) * 0.1, 2)),
        }
    )
    out["orders"] = orders_table(rng, s.orders, s.customers)
    n = s.lineitems
    qty = rng.integers(1, 51, n).astype(np.float64)
    out["lineitem"] = pa.table(
        {
            "l_orderkey": pa.array(rng.integers(0, s.orders, n, dtype=np.int64)),
            "l_partkey": pa.array(rng.integers(0, s.parts, n, dtype=np.int64)),
            "l_suppkey": pa.array(rng.integers(0, s.suppliers, n, dtype=np.int64)),
            "l_linenumber": pa.array(rng.integers(1, 8, n, dtype=np.int32)),
            "l_quantity": pa.array(qty),
            "l_extendedprice": pa.array(np.round(qty * _money(rng, 900, 2100, n), 2)),
            "l_discount": pa.array(rng.integers(0, 11, n) / 100.0),
            "l_tax": pa.array(rng.integers(0, 9, n) / 100.0),
            "l_returnflag": pa.array(rng.choice(["A", "N", "R"], n)),
            "l_linestatus": pa.array(rng.choice(["F", "O"], n)),
            "l_shipdate": pa.array(
                _days(_SHIP_START, rng, _SHIP_DAYS, n), pa.timestamp("us")
            ),
        }
    )
    n = s.events
    ts = _EVENT_START + np.sort(rng.integers(0, _EVENT_SPAN_US, n)).astype(
        "timedelta64[us]"
    )
    out["events"] = pa.table(
        {
            "event_id": pa.array(np.arange(n, dtype=np.int64)),
            "ts": pa.array(ts, pa.timestamp("us")),
            "user_id": pa.array(rng.integers(0, s.users, n, dtype=np.int64)),
            "event_type": pa.array(rng.choice(EVENT_TYPES, n)),
            "value": pa.array(np.round(rng.exponential(50.0, n), 2)),
            "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n)]),
        }
    )
    out["documents"] = _documents(rng, s.documents)
    out["embeddings"] = _embeddings(rng, s.embeddings)
    return out


def write_dir(out_dir: str, seed: int, sizes: Sizes) -> str:
    """Write every table as ``<out_dir>/<name>.parquet``; returns out_dir."""
    os.makedirs(out_dir, exist_ok=True)
    for name, t in tables(seed, sizes).items():
        pq.write_table(t, os.path.join(out_dir, f"{name}.parquet"), compression="snappy")
    return out_dir
