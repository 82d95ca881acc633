"""Deterministic synthetic input tables for the benchmark.

The engine's queries read the TPC-H-like star schema plus an `events`
stream table, `documents` and `embeddings` (one parquet file each). The
benchmark may not read data from outside its checkout, so it writes its
own tables here, with the same schemas and column distributions as the
engine's test data: independent uniform columns for the star schema,
ts-ordered events with exponential values, 5% planted near-duplicate
documents and unit-norm 64-d embeddings.

The tables are a pure function of `GEN_SEED` and the row counts, so every
run of the benchmark sees the same rows and the correctness gate compares
against the same oracle results; the run's own `--seed` only picks the
replay's file split points and the query order.
"""

from __future__ import annotations

import json
import os
from dataclasses import dataclass

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

GEN_SEED = 20240101

_SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
_REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
_PART_ADJ = ["small", "red", "blue", "hot", "old", "large", "new", "cold"]
_PART_NOUN = ["ring", "widget", "bolt", "gear", "gizmo", "plate", "anvil", "rod"]
_PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
_PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
_EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
_VOCAB = (
    "a agg batch big column customer data fast filter group hash join key line "
    "merge order part query row scan slow small sort spark stream table the "
    "value vector window"
).split()
_LANGS = ["en", "de", "es", "fr", "zh"]
_LANG_P = [0.4, 0.15, 0.15, 0.15, 0.15]

_US_PER_DAY = 86_400 * 1_000_000


@dataclass(frozen=True)
class Scale:
    """Row counts of one generated dataset."""

    customers: int = 1_500
    suppliers: int = 100
    parts: int = 2_000
    orders: int = 15_000
    lineitems: int = 60_000
    events: int = 10_000
    users: int = 150
    documents: int = 500
    embeddings: int = 500
    dim: int = 64


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _days(rng: np.random.Generator, start: str, end: str, n: int) -> pa.Array:
    lo = np.datetime64(start, "D").astype(np.int64)
    hi = np.datetime64(end, "D").astype(np.int64)
    us = rng.integers(lo, hi + 1, n).astype(np.int64) * _US_PER_DAY
    return pa.array(us, type=pa.timestamp("us"))


def _names(prefix: str, n: int) -> list[str]:
    return [f"{prefix}#{i:09d}" for i in range(n)]


def events_table(n: int, users: int, seed: int = GEN_SEED) -> pa.Table:
    """`n` events over 30 days from 2024-01-01, in ts order, for `users`
    users; values are exponential (mean 50) with 2 decimals."""
    rng = np.random.default_rng([seed, 1])
    gaps = rng.exponential(1.0, n)
    span_us = 30 * _US_PER_DAY - 60_000_000
    t0 = np.datetime64("2024-01-01", "us").astype(np.int64)
    ts = t0 + 1 + (np.cumsum(gaps) / gaps.sum() * span_us).astype(np.int64)
    value = np.maximum(np.round(rng.exponential(50.0, n), 2), 0.01)
    return pa.table(
        {
            "event_id": pa.array(np.arange(n, dtype=np.int64)),
            "ts": pa.array(ts, type=pa.timestamp("us")),
            "user_id": pa.array(rng.integers(0, users, n).astype(np.int64)),
            "event_type": pa.array(rng.choice(_EVENT_TYPES, n)),
            "value": pa.array(value),
            "props": pa.array([json.dumps({"k": int(k)}) for k in rng.integers(0, 100, n)]),
        }
    )


def _documents(rng: np.random.Generator, n: int) -> pa.Table:
    texts = [
        " ".join(rng.choice(_VOCAB, int(rng.integers(10, 100)))) for _ in range(n)
    ]
    # 5% planted near-duplicates: another document's text plus one token,
    # so the dedup / Jaccard / MinHash queries have real candidate pairs
    dups = rng.choice(n, n // 20, replace=False)
    originals = np.setdiff1d(np.arange(n), dups)
    for d in dups:
        texts[d] = texts[int(rng.choice(originals))] + " dup"
    return pa.table(
        {
            "doc_id": pa.array(np.arange(n, dtype=np.int64)),
            "text": pa.array(texts),
            "lang": pa.array(rng.choice(_LANGS, n, p=_LANG_P)),
            "source": pa.array([f"src{i % 20}" for i in range(n)]),
            "n_chars": pa.array(np.array([len(t) for t in texts], dtype=np.int64)),
        }
    )


def _embeddings(rng: np.random.Generator, n: int, dim: int) -> pa.Table:
    x = rng.standard_normal((n, dim))
    x = (x / np.linalg.norm(x, axis=1, keepdims=True)).astype(np.float32)
    return pa.table(
        {
            "vec_id": pa.array(np.arange(n, dtype=np.int64)),
            "embedding": pa.array(list(x), type=pa.list_(pa.float32())),
            "label": pa.array(rng.integers(0, 10, n).astype(np.int32)),
        }
    )


def star_tables(scale: Scale, seed: int = GEN_SEED) -> dict[str, pa.Table]:
    """Every table but `events`."""
    rng = np.random.default_rng([seed, 0])
    s = scale
    i32 = np.int32
    return {
        "region": pa.table(
            {"r_regionkey": pa.array(np.arange(5, dtype=i32)), "r_name": _REGIONS}
        ),
        "nation": pa.table(
            {
                "n_nationkey": pa.array(np.arange(25, dtype=i32)),
                "n_name": [f"NATION_{i}" for i in range(25)],
                "n_regionkey": pa.array(np.arange(25, dtype=i32) % 5),
            }
        ),
        "customer": pa.table(
            {
                "c_custkey": pa.array(np.arange(s.customers, dtype=np.int64)),
                "c_name": _names("Customer", s.customers),
                "c_nationkey": pa.array(rng.integers(0, 25, s.customers).astype(i32)),
                "c_acctbal": _money(rng, -999.99, 9999.99, s.customers),
                "c_mktsegment": rng.choice(_SEGMENTS, s.customers),
            }
        ),
        "supplier": pa.table(
            {
                "s_suppkey": pa.array(np.arange(s.suppliers, dtype=np.int64)),
                "s_name": _names("Supplier", s.suppliers),
                "s_nationkey": pa.array(rng.integers(0, 25, s.suppliers).astype(i32)),
                "s_acctbal": _money(rng, -999.99, 9999.99, s.suppliers),
            }
        ),
        "part": pa.table(
            {
                "p_partkey": pa.array(np.arange(s.parts, dtype=np.int64)),
                "p_name": [
                    f"{rng.choice(_PART_ADJ)} {rng.choice(_PART_NOUN)}" for _ in range(s.parts)
                ],
                "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, s.parts)],
                "p_type": rng.choice(_PART_TYPES, s.parts),
                "p_size": pa.array(rng.integers(1, 51, s.parts).astype(i32)),
                "p_retailprice": np.round(900.0 + (np.arange(s.parts) % 1000) / 10.0, 1),
            }
        ),
        "orders": pa.table(
            {
                "o_orderkey": pa.array(np.arange(s.orders, dtype=np.int64)),
                "o_custkey": pa.array(rng.integers(0, s.customers, s.orders).astype(np.int64)),
                "o_orderstatus": rng.choice(["F", "O", "P"], s.orders),
                "o_totalprice": _money(rng, 1000.0, 500000.0, s.orders),
                "o_orderdate": _days(rng, "1995-01-01", "2001-08-01", s.orders),
                "o_orderpriority": rng.choice(_PRIORITIES, s.orders),
            }
        ),
        "lineitem": pa.table(
            {
                "l_orderkey": pa.array(rng.integers(0, s.orders, s.lineitems).astype(np.int64)),
                "l_partkey": pa.array(rng.integers(0, s.parts, s.lineitems).astype(np.int64)),
                "l_suppkey": pa.array(rng.integers(0, s.suppliers, s.lineitems).astype(np.int64)),
                "l_linenumber": pa.array(rng.integers(1, 8, s.lineitems).astype(i32)),
                "l_quantity": rng.integers(1, 51, s.lineitems).astype(np.float64),
                "l_extendedprice": _money(rng, 900.0, 105000.0, s.lineitems),
                "l_discount": rng.integers(0, 11, s.lineitems) / 100.0,
                "l_tax": rng.integers(0, 9, s.lineitems) / 100.0,
                "l_returnflag": rng.choice(["A", "N", "R"], s.lineitems),
                "l_linestatus": rng.choice(["F", "O"], s.lineitems),
                "l_shipdate": _days(rng, "1995-01-02", "2001-11-04", s.lineitems),
            }
        ),
        "documents": _documents(rng, s.documents),
        "embeddings": _embeddings(rng, s.embeddings, s.dim),
    }


def write_dataset(out_dir: str, scale: Scale = Scale(), seed: int = GEN_SEED) -> str:
    """Write every table as `<out_dir>/<name>.parquet`; returns `out_dir`."""
    os.makedirs(out_dir, exist_ok=True)
    tables = star_tables(scale, seed)
    tables["events"] = events_table(scale.events, scale.users, seed)
    for name, t in tables.items():
        pq.write_table(t, os.path.join(out_dir, f"{name}.parquet"))
    return out_dir
