"""Seeded generator for the benchmark's input tables.

Writes the ten tables the catalog and the plans read (``region nation
customer supplier part orders lineitem events documents embeddings``), one
parquet file each, with the column names and types of the TPC-H-like test
tables the catalog was written against. The same ``(seed, sf)`` always
gives byte-identical values, so a benchmark run sees only what its seed
generates.

Shapes that the operators depend on are kept: documents are bags of words
over a 30-word vocabulary, and about one in twenty is an earlier document
with `` dup`` appended (near-duplicates for the dedup family); embeddings
are 64-dimensional unit vectors with a weak per-label centre; events are
time-ordered over January 2024 with exponential values.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

TABLES = (
    "region nation customer supplier part orders lineitem events "
    "documents embeddings"
).split()

_VOCAB = (
    "scan column window order sort part agg value line key join merge group "
    "query a vector hash slow stream filter fast the batch spark table small "
    "data big customer row"
).split()
_LANGS = np.array(["en", "de", "fr", "es", "zh"])
_LANG_P = [0.4, 0.15, 0.15, 0.15, 0.15]
_REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
_SEGMENTS = np.array(["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"])
_PART_ADJ = np.array(["small", "large", "red", "blue", "hot", "cold", "old", "new"])
_PART_NOUN = np.array(["widget", "bolt", "gear", "gizmo", "ring", "plate", "anvil", "rod"])
_PART_TYPES = np.array(["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"])
_PRIORITIES = np.array(["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"])
_EVENT_TYPES = np.array(["click", "view", "purchase", "signup", "error"])
_DAY_US = 86_400 * 1_000_000
_EPOCH_1995 = np.datetime64("1995-01-01", "us")
_EPOCH_2024 = np.datetime64("2024-01-01", "us")


def _ts(base: np.datetime64, offsets_us: np.ndarray) -> pa.Array:
    return pa.array((base + offsets_us.astype("timedelta64[us]")), pa.timestamp("us"))


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _documents(rng: np.random.Generator, n: int) -> pa.Table:
    texts: list[str] = []
    for i in range(n):
        if i > 10 and rng.random() < 0.05:
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        else:
            words = rng.choice(_VOCAB, int(rng.integers(10, 100)))
            texts.append(" ".join(words))
    ids = np.arange(n, dtype=np.int64)
    return pa.table({
        "doc_id": ids,
        "text": texts,
        "lang": rng.choice(_LANGS, n, p=_LANG_P).tolist(),
        "source": [f"src{i % 20}" for i in range(n)],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
    })


def _embeddings(rng: np.random.Generator, n: int, dim: int = 64) -> pa.Table:
    labels = rng.integers(0, 10, n).astype(np.int32)
    centres = rng.normal(size=(10, dim))
    vecs = rng.normal(size=(n, dim)) + 0.15 * centres[labels]
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    emb = pa.array(list(vecs.astype(np.float32)), pa.list_(pa.float32()))
    return pa.table({
        "vec_id": np.arange(n, dtype=np.int64), "embedding": emb, "label": labels,
    })


def tables(seed: int, sf: float) -> dict[str, pa.Table]:
    """All ten tables for ``seed`` at scale factor ``sf`` (6,000,000 x sf
    lineitem rows; documents and embeddings stay at 500 rows below sf 0.1)."""
    rng = np.random.default_rng(seed)
    n_line = int(6_000_000 * sf)
    n_ord, n_cust = n_line // 4, n_line // 40
    n_part, n_supp = n_line // 30, max(10, n_line // 600)
    n_events, n_users = n_line // 6, n_cust // 10 or 1
    n_docs = n_emb = 500

    out: dict[str, pa.Table] = {}
    out["region"] = pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()), "r_name": _REGIONS,
    })
    out["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
    })
    out["customer"] = pa.table({
        "c_custkey": np.arange(n_cust, dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": rng.integers(0, 25, n_cust).astype(np.int32),
        "c_acctbal": _money(rng, -999.99, 9999.99, n_cust),
        "c_mktsegment": rng.choice(_SEGMENTS, n_cust).tolist(),
    })
    out["supplier"] = pa.table({
        "s_suppkey": np.arange(n_supp, dtype=np.int64),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": rng.integers(0, 25, n_supp).astype(np.int32),
        "s_acctbal": _money(rng, -999.99, 9999.99, n_supp),
    })
    out["part"] = pa.table({
        "p_partkey": np.arange(n_part, dtype=np.int64),
        "p_name": [
            f"{a} {b}" for a, b in zip(
                rng.choice(_PART_ADJ, n_part), rng.choice(_PART_NOUN, n_part)
            )
        ],
        "p_brand": [f"Brand#{i}" for i in rng.integers(1, 26, n_part)],
        "p_type": rng.choice(_PART_TYPES, n_part).tolist(),
        "p_size": rng.integers(1, 51, n_part).astype(np.int32),
        "p_retailprice": np.round(900.0 + (np.arange(n_part) % 1000) * 0.1, 2),
    })
    order_days = rng.integers(0, 2404, n_ord)
    out["orders"] = pa.table({
        "o_orderkey": np.arange(n_ord, dtype=np.int64),
        "o_custkey": rng.integers(0, n_cust, n_ord),
        "o_orderstatus": rng.choice(np.array(["F", "O", "P"]), n_ord).tolist(),
        "o_totalprice": _money(rng, 1000.0, 500000.0, n_ord),
        "o_orderdate": _ts(_EPOCH_1995, order_days * _DAY_US),
        "o_orderpriority": rng.choice(_PRIORITIES, n_ord).tolist(),
    })
    out["lineitem"] = pa.table({
        "l_orderkey": rng.integers(0, n_ord, n_line),
        "l_partkey": rng.integers(0, n_part, n_line),
        "l_suppkey": rng.integers(0, n_supp, n_line),
        "l_linenumber": rng.integers(1, 8, n_line).astype(np.int32),
        "l_quantity": rng.integers(1, 51, n_line).astype(np.float64),
        "l_extendedprice": _money(rng, 900.0, 105000.0, n_line),
        "l_discount": rng.integers(0, 11, n_line) / 100.0,
        "l_tax": rng.integers(0, 9, n_line) / 100.0,
        "l_returnflag": rng.choice(np.array(["A", "N", "R"]), n_line).tolist(),
        "l_linestatus": rng.choice(np.array(["F", "O"]), n_line).tolist(),
        "l_shipdate": _ts(_EPOCH_1995, rng.integers(1, 2499, n_line) * _DAY_US),
    })
    ev_us = np.sort(rng.integers(0, 30 * _DAY_US, n_events))
    out["events"] = pa.table({
        "event_id": np.arange(n_events, dtype=np.int64),
        "ts": _ts(_EPOCH_2024, ev_us),
        "user_id": rng.integers(0, n_users, n_events),
        "event_type": rng.choice(_EVENT_TYPES, n_events).tolist(),
        "value": np.maximum(0.01, np.round(rng.exponential(50.0, n_events), 2)),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_events)],
    })
    out["documents"] = _documents(rng, n_docs)
    out["embeddings"] = _embeddings(rng, n_emb)
    return out


def write(dest: str, seed: int, sf: float) -> int:
    """Write every table to ``dest/<name>.parquet``; returns bytes written."""
    os.makedirs(dest, exist_ok=True)
    total = 0
    for name, table in tables(seed, sf).items():
        path = os.path.join(dest, f"{name}.parquet")
        pq.write_table(table, path)
        total += os.path.getsize(path)
    return total
