"""Seeded source tables for the benchmark.

Writes the ten parquet tables the engine reads (the TPC-H-like star
schema plus ``events``, ``documents`` and ``embeddings``) with the
schemas and row counts of the engine's reference test data, so every
registered query and its DuckDB oracle run unchanged. The seed varies
values, never row counts, so two seeds cost the engine about the same.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

_REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
_SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
_PART_ADJ = ["small", "large", "red", "blue", "hot", "cold", "new", "old"]
_PART_NOUN = ["ring", "widget", "bolt", "rod", "gear", "anvil", "plate", "nut"]
_PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
_PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
_EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
_LANGS = ["en", "de", "es", "fr", "zh"]
_LANG_P = [0.4, 0.15, 0.15, 0.15, 0.15]
_VOCAB = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream "
    "table the value vector window"
).split()
_DUP_FRACTION = 0.05
_DAY_US = 86_400_000_000


def row_counts(sf: float) -> dict[str, int]:
    return {
        "region": 5,
        "nation": 25,
        "customer": int(150_000 * sf),
        "supplier": int(10_000 * sf),
        "part": int(200_000 * sf),
        "orders": int(1_500_000 * sf),
        "lineitem": int(6_000_000 * sf),
        "events": int(1_000_000 * sf),
        "documents": max(500, int(50_000 * sf)),
        "embeddings": max(500, int(20_000 * sf)),
    }


def _days(rng, start: str, end: str, n: int) -> np.ndarray:
    lo = np.datetime64(start, "D").astype(np.int64)
    hi = np.datetime64(end, "D").astype(np.int64)
    return (rng.integers(lo, hi + 1, n) * _DAY_US).astype("datetime64[us]")


def _money(rng, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _pick(rng, values, n: int, p=None) -> pa.Array:
    return pa.array(np.asarray(values, dtype=object)[rng.choice(len(values), n, p=p)])


def _keyed_names(prefix: str, n: int) -> pa.Array:
    return pa.array([f"{prefix}#{i:09d}" for i in range(n)])


def _documents(rng, n: int) -> pa.Table:
    lengths = rng.integers(10, 101, n)
    words = np.asarray(_VOCAB, dtype=object)[rng.integers(0, len(_VOCAB), lengths.sum())]
    bounds = np.concatenate([[0], np.cumsum(lengths)])
    texts = [" ".join(words[bounds[i]:bounds[i + 1]]) for i in range(n)]
    # near-duplicates: a copy of another document with one word appended
    dups = rng.choice(n, int(n * _DUP_FRACTION), replace=False)
    for i in dups:
        texts[i] = texts[(i + 1 + rng.integers(0, n - 1)) % n] + " dup"
    return pa.table({
        "doc_id": pa.array(np.arange(n, dtype=np.int64)),
        "text": pa.array(texts),
        "lang": _pick(rng, _LANGS, n, _LANG_P),
        "source": pa.array([f"src{i % 20}" for i in range(n)]),
        "n_chars": pa.array(np.array([len(t) for t in texts], dtype=np.int64)),
    })


def _embeddings(rng, n: int, dim: int = 64) -> pa.Table:
    v = rng.standard_normal((n, dim)).astype(np.float32)
    v /= np.linalg.norm(v, axis=1, keepdims=True)
    return pa.table({
        "vec_id": pa.array(np.arange(n, dtype=np.int64)),
        "embedding": pa.FixedSizeListArray.from_arrays(
            pa.array(v.ravel()), dim
        ).cast(pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, n).astype(np.int32)),
    })


def build_tables(sf: float, seed: int) -> dict[str, pa.Table]:
    rng = np.random.default_rng(seed)
    n = row_counts(sf)
    nc, ns, np_, no = n["customer"], n["supplier"], n["part"], n["orders"]
    t: dict[str, pa.Table] = {}
    t["region"] = pa.table({
        "r_regionkey": pa.array(np.arange(5, dtype=np.int32)),
        "r_name": pa.array(_REGIONS),
    })
    t["nation"] = pa.table({
        "n_nationkey": pa.array(np.arange(25, dtype=np.int32)),
        "n_name": pa.array([f"NATION_{i}" for i in range(25)]),
        "n_regionkey": pa.array((np.arange(25) % 5).astype(np.int32)),
    })
    t["customer"] = pa.table({
        "c_custkey": pa.array(np.arange(nc, dtype=np.int64)),
        "c_name": _keyed_names("Customer", nc),
        "c_nationkey": pa.array(rng.integers(0, 25, nc).astype(np.int32)),
        "c_acctbal": pa.array(_money(rng, -999.99, 9999.99, nc)),
        "c_mktsegment": _pick(rng, _SEGMENTS, nc),
    })
    t["supplier"] = pa.table({
        "s_suppkey": pa.array(np.arange(ns, dtype=np.int64)),
        "s_name": _keyed_names("Supplier", ns),
        "s_nationkey": pa.array(rng.integers(0, 25, ns).astype(np.int32)),
        "s_acctbal": pa.array(_money(rng, -999.99, 9999.99, ns)),
    })
    names = [f"{a} {b}" for a in _PART_ADJ for b in _PART_NOUN]
    t["part"] = pa.table({
        "p_partkey": pa.array(np.arange(np_, dtype=np.int64)),
        "p_name": _pick(rng, names, np_),
        "p_brand": pa.array([f"Brand#{b}" for b in rng.integers(1, 26, np_)]),
        "p_type": _pick(rng, _PART_TYPES, np_),
        "p_size": pa.array(rng.integers(1, 51, np_).astype(np.int32)),
        "p_retailprice": pa.array(np.round(900 + (np.arange(np_) % 1000) / 10, 2)),
    })
    t["orders"] = pa.table({
        "o_orderkey": pa.array(np.arange(no, dtype=np.int64)),
        "o_custkey": pa.array(rng.integers(0, nc, no)),
        "o_orderstatus": _pick(rng, ["F", "O", "P"], no),
        "o_totalprice": pa.array(_money(rng, 1000.0, 500000.0, no)),
        "o_orderdate": pa.array(_days(rng, "1995-01-01", "2001-08-01", no)),
        "o_orderpriority": _pick(rng, _PRIORITIES, no),
    })
    nl = n["lineitem"]
    t["lineitem"] = pa.table({
        "l_orderkey": pa.array(rng.integers(0, no, nl)),
        "l_partkey": pa.array(rng.integers(0, np_, nl)),
        "l_suppkey": pa.array(rng.integers(0, ns, nl)),
        "l_linenumber": pa.array(rng.integers(1, 8, nl).astype(np.int32)),
        "l_quantity": pa.array(rng.integers(1, 51, nl).astype(np.float64)),
        "l_extendedprice": pa.array(_money(rng, 900.0, 105000.0, nl)),
        "l_discount": pa.array(rng.integers(0, 11, nl) / 100.0),
        "l_tax": pa.array(rng.integers(0, 9, nl) / 100.0),
        "l_returnflag": _pick(rng, ["A", "N", "R"], nl),
        "l_linestatus": _pick(rng, ["F", "O"], nl),
        "l_shipdate": pa.array(_days(rng, "1995-01-02", "2001-11-04", nl)),
    })
    ne = n["events"]
    start = np.datetime64("2024-01-01", "us").astype(np.int64)
    ts = np.sort(rng.integers(start, start + 30 * _DAY_US, ne))
    t["events"] = pa.table({
        "event_id": pa.array(np.arange(ne, dtype=np.int64)),
        "ts": pa.array(ts.astype("datetime64[us]")),
        "user_id": pa.array(rng.integers(0, max(15, int(15_000 * sf)), ne)),
        "event_type": _pick(rng, _EVENT_TYPES, ne),
        "value": pa.array(np.round(rng.exponential(50.0, ne), 2)),
        "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, ne)]),
    })
    t["documents"] = _documents(rng, n["documents"])
    t["embeddings"] = _embeddings(rng, n["embeddings"])
    return t


def write_dataset(out_dir: str, sf: float, seed: int) -> str:
    """Write every table to ``out_dir/<table>.parquet``; returns ``out_dir``."""
    os.makedirs(out_dir, exist_ok=True)
    for name, table in build_tables(sf, seed).items():
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))
    return out_dir
