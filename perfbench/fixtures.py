"""Deterministic sf0.1-shaped fixture tables for the benchmark.

The engine's queries read ten parquet tables from one directory (a
TPC-H-like star schema plus ``events``, ``documents`` and
``embeddings``; FIXTURES.md section B lists the schemas).  This module
writes tables of that schema and of sf0.1 size from a fixed seed, so
a benchmark run needs nothing outside its checkout.  Value
distributions follow the sf0.1 tables the engine is developed
against: uniform keys and measures, 1-7 line numbers with duplicate
``(l_orderkey, l_linenumber)`` pairs, exponential event values, and a
5 % share of near-duplicate documents (a copy of another document
with `` dup`` appended), which the dedup family needs to find pairs.

The workload seed never reaches this module: every run sees the same
tables, and only the query order varies with ``--seed``.
"""

from __future__ import annotations

import os
import shutil
from datetime import datetime

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

TABLES = (
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
)
DATA_SEED = 42
# Bump when the generated data changes so a stale cache is rebuilt.
VERSION = "1"

_REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
_SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
_PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
_PART_ADJ = ["blue", "old", "red", "small", "new", "large", "hot", "cold"]
_PART_NOUN = ["widget", "gizmo", "bolt", "plate", "rod", "anvil", "ring", "gear"]
_PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
_EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
_VOCAB = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream "
    "table the value vector window"
).split()
_LANGS = ["en", "zh", "de", "fr", "es"]
_LANG_P = [0.41, 0.15, 0.14, 0.15, 0.15]


def _us(dt: datetime) -> int:
    return int(dt.timestamp() * 1_000_000)


def _days(rng: np.random.Generator, start: datetime, n_days: int, n: int) -> pa.Array:
    day_us = 86_400 * 1_000_000
    us = _us(start) + rng.integers(0, n_days, n) * day_us
    return pa.array(us, pa.timestamp("us"))


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _tables(rng: np.random.Generator) -> dict[str, pa.Table]:
    t: dict[str, pa.Table] = {}
    t["region"] = pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": _REGIONS,
    })
    t["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
    })
    n = 15_000
    t["customer"] = pa.table({
        "c_custkey": pa.array(np.arange(n), pa.int64()),
        "c_name": [f"Customer#{i:09d}" for i in range(n)],
        "c_nationkey": pa.array(rng.integers(0, 25, n), pa.int32()),
        "c_acctbal": _money(rng, -999.99, 9999.99, n),
        "c_mktsegment": rng.choice(_SEGMENTS, n),
    })
    n = 1_000
    t["supplier"] = pa.table({
        "s_suppkey": pa.array(np.arange(n), pa.int64()),
        "s_name": [f"Supplier#{i:09d}" for i in range(n)],
        "s_nationkey": pa.array(rng.integers(0, 25, n), pa.int32()),
        "s_acctbal": _money(rng, -999.99, 9999.99, n),
    })
    n = 20_000
    names = [f"{a} {b}" for a in _PART_ADJ for b in _PART_NOUN]
    t["part"] = pa.table({
        "p_partkey": pa.array(np.arange(n), pa.int64()),
        "p_name": rng.choice(names, n),
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n)],
        "p_type": rng.choice(_PART_TYPES, n),
        "p_size": pa.array(rng.integers(1, 51, n), pa.int32()),
        "p_retailprice": np.round(900 + (np.arange(n) % 1000) / 10, 1),
    })
    n = 150_000
    t["orders"] = pa.table({
        "o_orderkey": pa.array(np.arange(n), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, 15_000, n), pa.int64()),
        "o_orderstatus": rng.choice(["F", "O", "P"], n),
        "o_totalprice": _money(rng, 1000.0, 500_000.0, n),
        "o_orderdate": _days(rng, datetime(1995, 1, 1), 2404, n),
        "o_orderpriority": rng.choice(_PRIORITIES, n),
    })
    n = 600_000
    t["lineitem"] = pa.table({
        "l_orderkey": pa.array(rng.integers(0, 150_000, n), pa.int64()),
        "l_partkey": pa.array(rng.integers(0, 20_000, n), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, 1_000, n), pa.int64()),
        "l_linenumber": pa.array(rng.integers(1, 8, n), pa.int32()),
        "l_quantity": rng.integers(1, 51, n).astype(np.float64),
        "l_extendedprice": _money(rng, 900.0, 105_000.0, n),
        "l_discount": rng.integers(0, 11, n) / 100.0,
        "l_tax": rng.integers(0, 9, n) / 100.0,
        "l_returnflag": rng.choice(["A", "N", "R"], n),
        "l_linestatus": rng.choice(["F", "O"], n),
        "l_shipdate": _days(rng, datetime(1995, 1, 2), 2498, n),
    })
    n = 100_000
    span_us = 30 * 86_400 * 1_000_000
    ts = _us(datetime(2024, 1, 1)) + np.sort(rng.choice(span_us, n, replace=False))
    t["events"] = pa.table({
        "event_id": pa.array(np.arange(n), pa.int64()),
        "ts": pa.array(ts, pa.timestamp("us")),
        "user_id": pa.array(rng.integers(0, 1_500, n), pa.int64()),
        "event_type": rng.choice(_EVENT_TYPES, n),
        "value": np.round(rng.exponential(50.0, n), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n)],
    })
    n = 5_000
    words = rng.choice(_VOCAB, (n, 100))
    lengths = rng.integers(10, 101, n)
    texts = [" ".join(words[i, : lengths[i]]) for i in range(n)]
    dups = rng.choice(n, n // 20, replace=False)
    for d in dups:
        src = int(rng.integers(0, n))
        texts[d] = texts[src if src != d else (d + 1) % n] + " dup"
    t["documents"] = pa.table({
        "doc_id": pa.array(np.arange(n), pa.int64()),
        "text": texts,
        "lang": rng.choice(_LANGS, n, p=_LANG_P),
        "source": [f"src{i % 20}" for i in range(n)],
        "n_chars": pa.array([len(s) for s in texts], pa.int64()),
    })
    n = 2_000
    vecs = rng.standard_normal((n, 64))
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    t["embeddings"] = pa.table({
        "vec_id": pa.array(np.arange(n), pa.int64()),
        "embedding": pa.array(list(vecs.astype(np.float32)), pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, n), pa.int32()),
    })
    return t


def ensure(root: str) -> str:
    """Return a directory holding the fixture tables, writing it if absent.

    The tables are written to a temporary sibling and renamed into
    place, so an interrupted run never leaves a partial directory that
    a later run would trust.
    """
    out = os.path.join(root, f"sf0.1-v{VERSION}")
    if all(os.path.exists(os.path.join(out, f"{t}.parquet")) for t in TABLES):
        return out
    tmp = f"{out}.partial-{os.getpid()}"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    for name, table in _tables(np.random.default_rng(DATA_SEED)).items():
        pq.write_table(table, os.path.join(tmp, f"{name}.parquet"))
    shutil.rmtree(out, ignore_errors=True)
    os.rename(tmp, out)
    return out
