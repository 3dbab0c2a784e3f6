"""Deterministic input tables for the benchmark.

A TPC-H-ish star schema plus ``events``, ``documents`` and
``embeddings``, with the column names, types and value domains of the
tables the workload registry is written against. Each table draws from
its own ``numpy`` generator seeded by the run's ``--seed`` and the
table's name, so one seed always yields byte-identical inputs and a job
builds only the tables it reads. Row counts depend only on the scale
factor, never on the seed, so the work a job does is the same size on
every seed.
"""

from __future__ import annotations

import datetime as dt
import zlib

import numpy as np
import pyarrow as pa

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PART_ADJ = ["cold", "small", "big", "blue", "red", "fast", "slow", "green"]
PART_NOUN = ["widget", "anvil", "gear", "bolt", "spring", "valve", "lever", "cog"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
STATUSES = ["F", "O", "P"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
LANGS = ["de", "en", "es", "fr", "zh"]
WORDS = (
    "a agg batch big column customer data dup fast filter group hash join "
    "key line merge order part query row scan slow small sort spark stream "
    "table the value vector window"
).split()

_US = 1_000_000
_DAY = 86_400 * _US


def _ts(base: dt.datetime, micros: np.ndarray) -> pa.Array:
    start = int((base - dt.datetime(1970, 1, 1)).total_seconds()) * _US
    return pa.array(start + micros.astype(np.int64), type=pa.timestamp("us"))


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.integers(int(lo * 100), int(hi * 100), n) / 100.0, 2)


def _choice(rng: np.random.Generator, values: list[str], n: int) -> pa.Array:
    return pa.array(np.array(values, dtype=object)[rng.integers(0, len(values), n)])


def _rows(sf: float) -> dict[str, int]:
    return {
        "customer": int(150_000 * sf),
        "supplier": max(10, int(10_000 * sf)),
        "part": int(200_000 * sf),
        "orders": int(1_500_000 * sf),
        "lineitem": int(6_000_000 * sf),
        "events": int(1_000_000 * sf),
        "documents": 500,
        "embeddings": 500,
    }


def _region(rng, n):
    return {"r_regionkey": pa.array(range(5), pa.int32()), "r_name": REGIONS}


def _nation(rng, n):
    return {
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
    }


def _customer(rng, n):
    return {
        "c_custkey": pa.array(np.arange(n["customer"]), pa.int64()),
        "c_name": [f"Customer#{i:09d}" for i in range(n["customer"])],
        "c_nationkey": pa.array(rng.integers(0, 25, n["customer"]), pa.int32()),
        "c_acctbal": _money(rng, -999.99, 9999.99, n["customer"]),
        "c_mktsegment": _choice(rng, SEGMENTS, n["customer"]),
    }


def _supplier(rng, n):
    k = n["supplier"]
    return {
        "s_suppkey": pa.array(np.arange(k), pa.int64()),
        "s_name": [f"Supplier#{i:09d}" for i in range(k)],
        "s_nationkey": pa.array(rng.integers(0, 25, k), pa.int32()),
        "s_acctbal": _money(rng, -999.99, 9999.99, k),
    }


def _part(rng, n):
    k = n["part"]
    names = [f"{a} {b}" for a in PART_ADJ for b in PART_NOUN]
    return {
        "p_partkey": pa.array(np.arange(k), pa.int64()),
        "p_name": _choice(rng, names, k),
        "p_brand": pa.array([f"Brand#{i}" for i in rng.integers(1, 26, k)]),
        "p_type": _choice(rng, PART_TYPES, k),
        "p_size": pa.array(rng.integers(1, 51, k), pa.int32()),
        "p_retailprice": np.round(900.0 + (np.arange(k) % 1000) / 10.0, 1),
    }


def _orders(rng, n):
    k = n["orders"]
    return {
        "o_orderkey": pa.array(np.arange(k), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, n["customer"], k), pa.int64()),
        "o_orderstatus": _choice(rng, STATUSES, k),
        "o_totalprice": _money(rng, 1000.0, 500_000.0, k),
        "o_orderdate": _ts(dt.datetime(1995, 1, 1), rng.integers(0, 2404, k) * _DAY),
        "o_orderpriority": _choice(rng, PRIORITIES, k),
    }


def _order_lines(rng, n_ord: int, k: int) -> tuple[np.ndarray, np.ndarray]:
    """(order key, line number) of ``k`` lines, 1 to 7 lines per order as
    in TPC-H: the pair is unique, so ``arg_max`` over it and ``mode`` of
    the line number have no ties for an engine to break its own way."""
    lines = rng.integers(1, 8, n_ord)
    gap = k - int(lines.sum())
    while gap:
        room = np.flatnonzero(lines < 7) if gap > 0 else np.flatnonzero(lines > 1)
        pick = rng.choice(room, min(abs(gap), len(room)), replace=False)
        lines[pick] += 1 if gap > 0 else -1
        gap = k - int(lines.sum())
    order = np.repeat(np.arange(n_ord), lines)
    start = np.repeat(np.cumsum(lines) - lines, lines)
    return order, np.arange(k) - start + 1


def _lineitem(rng, n):
    k = n["lineitem"]
    order, line = _order_lines(rng, n["orders"], k)
    return {
        "l_orderkey": pa.array(order, pa.int64()),
        "l_partkey": pa.array(rng.integers(0, n["part"], k), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, n["supplier"], k), pa.int64()),
        "l_linenumber": pa.array(line, pa.int32()),
        "l_quantity": rng.integers(1, 51, k).astype(np.float64),
        "l_extendedprice": _money(rng, 901.0, 105_000.0, k),
        "l_discount": rng.integers(0, 11, k) / 100.0,
        "l_tax": rng.integers(0, 9, k) / 100.0,
        "l_returnflag": _choice(rng, ["A", "N", "R"], k),
        "l_linestatus": _choice(rng, ["F", "O"], k),
        "l_shipdate": _ts(dt.datetime(1995, 1, 2), rng.integers(0, 2499, k) * _DAY),
    }


def _events(rng, n):
    k = n["events"]
    return {
        "event_id": pa.array(np.arange(k), pa.int64()),
        "ts": _ts(dt.datetime(2024, 1, 1), np.sort(rng.integers(0, 30 * _DAY, k))),
        "user_id": pa.array(rng.integers(0, 150, k), pa.int64()),
        "event_type": _choice(rng, EVENT_TYPES, k),
        "value": _money(rng, 0.01, 490.02, k),
        "props": pa.array([f'{{"k": {v}}}' for v in rng.integers(0, 100, k)]),
    }


def _documents(rng, n):
    k = n["documents"]
    words = np.array(WORDS, dtype=object)
    texts = [
        " ".join(words[rng.integers(0, len(WORDS), int(w))]) for w in rng.integers(10, 90, k)
    ]
    return {
        "doc_id": pa.array(np.arange(k), pa.int64()),
        "text": texts,
        "lang": _choice(rng, LANGS, k),
        "source": pa.array([f"src{i}" for i in rng.integers(0, 20, k)]),
        "n_chars": pa.array([len(s) for s in texts], pa.int64()),
    }


def _embeddings(rng, n):
    k = n["embeddings"]
    vecs = rng.normal(0.0, 0.12, (k, 64)).astype(np.float32)
    return {
        "vec_id": pa.array(np.arange(k), pa.int64()),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, k), pa.int32()),
    }


MAKERS = {
    "region": _region, "nation": _nation, "customer": _customer,
    "supplier": _supplier, "part": _part, "orders": _orders,
    "lineitem": _lineitem, "events": _events, "documents": _documents,
    "embeddings": _embeddings,
}


def make_tables(sf: float, seed: int, names=tuple(MAKERS)) -> dict[str, pa.Table]:
    """The tables ``names`` at scale factor ``sf`` for ``seed``."""
    n = _rows(sf)
    return {
        name: pa.table(MAKERS[name](np.random.default_rng([seed, zlib.crc32(name.encode())]), n))
        for name in names
    }
