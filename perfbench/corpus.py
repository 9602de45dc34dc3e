"""Seeded synthetic corpus in the shape of the shipped test tables.

Writes the ten tables the package reads (``sources.tables.TABLE_NAMES``)
as one parquet file each, with the column names, types and value
distributions of the shipped ``sf*`` corpora: a TPC-H-like star schema,
an ``events`` log, a word-salad ``documents`` table with 5% near-duplicate
rows and a unit-norm 64-d ``embeddings`` table. The same ``(seed, sf)``
always gives byte-identical values.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

VOCAB = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream "
    "table the value vector window"
).split()

_REGIONS = ("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST")
_SEGMENTS = ("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
_ADJ = ("blue", "cold", "hot", "large", "new", "old", "red", "small")
_NOUN = ("anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget")
_PTYPES = ("ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD")
_PRIORITIES = ("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
_EVENT_TYPES = ("click", "error", "purchase", "signup", "view")
_LANGS = ("en", "de", "es", "fr", "zh")
_LANG_P = (0.4, 0.15, 0.15, 0.15, 0.15)

_DAY_US = 86_400_000_000
_ORDERS_T0 = np.datetime64("1995-01-01", "us").astype(np.int64)
_EVENTS_T0 = np.datetime64("2024-01-01", "us").astype(np.int64)


def _ts(us: np.ndarray) -> pa.Array:
    return pa.array(us, type=pa.timestamp("us"))


def _pick(rng: np.random.Generator, values, n: int, p=None) -> pa.Array:
    return pa.array(np.asarray(values, dtype=object)[rng.choice(len(values), n, p=p)],
                    type=pa.string())


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _documents(rng: np.random.Generator, n: int) -> pa.Table:
    words = np.asarray(VOCAB, dtype=object)
    n_dup = n // 20
    texts = [" ".join(words[rng.integers(0, len(VOCAB), rng.integers(10, 101))])
             for _ in range(n - n_dup)]
    # near-duplicates: an earlier document with one token appended
    texts += [texts[i] + " dup" for i in rng.integers(0, n - n_dup, n_dup)]
    return pa.table({
        "doc_id": pa.array(np.arange(n), pa.int64()),
        "text": pa.array(texts, pa.string()),
        "lang": _pick(rng, _LANGS, n, p=_LANG_P),
        "source": pa.array([f"src{i % 20}" for i in range(n)], pa.string()),
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })


def _embeddings(rng: np.random.Generator, n: int) -> pa.Table:
    v = rng.standard_normal((n, 64))
    v = (v / np.linalg.norm(v, axis=1, keepdims=True)).astype(np.float32)
    return pa.table({
        "vec_id": pa.array(np.arange(n), pa.int64()),
        "embedding": pa.array(list(v), pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, n), pa.int32()),
    })


def table_sizes(sf: float) -> dict[str, int]:
    """Row counts per table; ``documents``/``embeddings`` floor at 500
    rows like the shipped small corpora."""
    return {
        "customer": max(1, round(150_000 * sf)),
        "supplier": max(1, round(10_000 * sf)),
        "part": max(1, round(200_000 * sf)),
        "orders": max(1, round(1_500_000 * sf)),
        "lineitem": max(1, round(6_000_000 * sf)),
        "events": max(1, round(1_000_000 * sf)),
        "documents": max(500, round(50_000 * sf)),
        "embeddings": max(500, round(20_000 * sf)),
    }


def generate(out_dir: str, seed: int, sf: float) -> dict[str, int]:
    """Write every table under ``out_dir``; return row counts by table."""
    rng = np.random.default_rng(seed)
    size = table_sizes(sf)
    n_users = max(2, round(15_000 * sf))
    tables: dict[str, pa.Table] = {
        "region": pa.table({
            "r_regionkey": pa.array(range(5), pa.int32()),
            "r_name": pa.array(_REGIONS, pa.string()),
        }),
        "nation": pa.table({
            "n_nationkey": pa.array(range(25), pa.int32()),
            "n_name": pa.array([f"NATION_{i}" for i in range(25)], pa.string()),
            "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
        }),
    }
    n = size["customer"]
    tables["customer"] = pa.table({
        "c_custkey": pa.array(np.arange(n), pa.int64()),
        "c_name": pa.array([f"Customer#{i:09d}" for i in range(n)], pa.string()),
        "c_nationkey": pa.array(rng.integers(0, 25, n), pa.int32()),
        "c_acctbal": pa.array(_money(rng, -999.99, 9999.99, n), pa.float64()),
        "c_mktsegment": _pick(rng, _SEGMENTS, n),
    })
    n = size["supplier"]
    tables["supplier"] = pa.table({
        "s_suppkey": pa.array(np.arange(n), pa.int64()),
        "s_name": pa.array([f"Supplier#{i:09d}" for i in range(n)], pa.string()),
        "s_nationkey": pa.array(rng.integers(0, 25, n), pa.int32()),
        "s_acctbal": pa.array(_money(rng, -999.99, 9999.99, n), pa.float64()),
    })
    n = size["part"]
    names = [f"{a} {b}" for a in _ADJ for b in _NOUN]
    tables["part"] = pa.table({
        "p_partkey": pa.array(np.arange(n), pa.int64()),
        "p_name": _pick(rng, names, n),
        "p_brand": pa.array([f"Brand#{b}" for b in rng.integers(1, 26, n)], pa.string()),
        "p_type": _pick(rng, _PTYPES, n),
        "p_size": pa.array(rng.integers(1, 51, n), pa.int32()),
        "p_retailprice": pa.array(np.round(900 + (np.arange(n) % 1000) / 10, 1), pa.float64()),
    })
    n = size["orders"]
    tables["orders"] = pa.table({
        "o_orderkey": pa.array(np.arange(n), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, size["customer"], n), pa.int64()),
        "o_orderstatus": _pick(rng, ("F", "O", "P"), n),
        "o_totalprice": pa.array(_money(rng, 1000, 500_000, n), pa.float64()),
        "o_orderdate": _ts(_ORDERS_T0 + rng.integers(0, 2404, n) * _DAY_US),
        "o_orderpriority": _pick(rng, _PRIORITIES, n),
    })
    n = size["lineitem"]
    tables["lineitem"] = pa.table({
        "l_orderkey": pa.array(rng.integers(0, size["orders"], n), pa.int64()),
        "l_partkey": pa.array(rng.integers(0, size["part"], n), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, size["supplier"], n), pa.int64()),
        "l_linenumber": pa.array(rng.integers(1, 8, n), pa.int32()),
        "l_quantity": pa.array(rng.integers(1, 51, n).astype(np.float64), pa.float64()),
        "l_extendedprice": pa.array(_money(rng, 900, 105_000, n), pa.float64()),
        "l_discount": pa.array(rng.integers(0, 11, n) / 100, pa.float64()),
        "l_tax": pa.array(rng.integers(0, 9, n) / 100, pa.float64()),
        "l_returnflag": _pick(rng, ("A", "N", "R"), n),
        "l_linestatus": _pick(rng, ("F", "O"), n),
        "l_shipdate": _ts(_ORDERS_T0 + rng.integers(1, 2499, n) * _DAY_US),
    })
    n = size["events"]
    tables["events"] = pa.table({
        "event_id": pa.array(np.arange(n), pa.int64()),
        "ts": _ts(np.sort(_EVENTS_T0 + rng.integers(0, 30 * _DAY_US, n))),
        "user_id": pa.array(rng.integers(0, n_users, n), pa.int64()),
        "event_type": _pick(rng, _EVENT_TYPES, n),
        "value": pa.array(np.round(rng.exponential(50.0, n), 2), pa.float64()),
        "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n)], pa.string()),
    })
    tables["documents"] = _documents(rng, size["documents"])
    tables["embeddings"] = _embeddings(rng, size["embeddings"])

    os.makedirs(out_dir, exist_ok=True)
    for name, table in tables.items():
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))
    return {name: t.num_rows for name, t in tables.items()}
