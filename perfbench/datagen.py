"""Deterministic synthetic copy of the fixture tables.

Writes the ten tables the operators read at a chosen scale factor, with
the fixture's row counts, parquet types and value distributions: dates
and ``events.ts`` as ``timestamp[us]``, line items drawn uniformly over
the orders (so some orders have none and ``(l_orderkey, l_linenumber)``
pairs repeat), and 5 % of the documents edited copies of an earlier one
that end in the word ``dup``.  Every value is drawn from one fixed seed,
so every checkout and every run measures the same parquet.

A finished directory carries ``_rows.json``; :func:`ensure` reuses a
directory only when that marker names the same seed and row counts and
every table's parquet row count matches, and otherwise regenerates it
through a temporary sibling that is renamed into place.
"""

from __future__ import annotations

import json
import os
import shutil
from datetime import datetime

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["MACHINERY", "BUILDING", "FURNITURE", "AUTOMOBILE", "HOUSEHOLD"]
ADJECTIVES = ["blue", "old", "large", "hot", "cold", "small", "new", "red"]
NOUNS = ["widget", "gizmo", "ring", "gear", "bolt", "plate", "rod", "anvil"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "purchase", "error", "signup", "view"]
LANGS = ["en", "zh", "es", "de", "fr"]
LANG_P = [0.41, 0.15, 0.15, 0.145, 0.145]
WORDS = (
    "query row stream the spark line small fast group customer batch sort "
    "value hash filter big data part column order scan a slow agg key window "
    "table merge vector join"
).split()
DUP_FRAC = 0.05  # share of documents that are edited copies of another
EMB_DIM = 64
SEED = 42


def row_counts(sf: float) -> dict[str, int]:
    """Rows per table at scale factor ``sf`` (FIXTURES.md row counts)."""
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


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _pick(rng: np.random.Generator, values: list[str], n: int, p=None) -> pa.Array:
    return pa.array(np.asarray(values, dtype=object)[rng.choice(len(values), n, p=p)], pa.string())


def _days(rng: np.random.Generator, first: str, last: str, n: int) -> pa.Array:
    """Midnight timestamps drawn uniformly from ``[first, last]``."""
    lo = np.datetime64(first, "D")
    span = (np.datetime64(last, "D") - lo).astype(int) + 1
    days = lo + rng.integers(0, span, n).astype("timedelta64[D]")
    return pa.array(days.astype("datetime64[us]"), pa.timestamp("us"))


def _documents(rng: np.random.Generator, n: int) -> pa.Table:
    texts: list[str] = []
    dups = set(rng.choice(np.arange(1, n), int(n * DUP_FRAC), replace=False).tolist())
    for i in range(n):
        if i in dups:
            # near-duplicate: a copy of an earlier document with two
            # words swapped out and a marker word appended
            words = texts[rng.integers(0, i)].split()
            for pos in rng.integers(0, len(words), 2):
                words[pos] = WORDS[rng.integers(0, len(WORDS))]
            words.append("dup")
        else:
            words = [WORDS[j] for j in rng.integers(0, len(WORDS), rng.integers(10, 101))]
        texts.append(" ".join(words))
    ids = np.arange(n, dtype=np.int64)
    return pa.table({
        "doc_id": ids,
        "text": pa.array(texts, pa.string()),
        "lang": _pick(rng, LANGS, n, LANG_P),
        "source": pa.array([f"src{i % 20}" for i in range(n)], pa.string()),
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
    })


def _embeddings(rng: np.random.Generator, n: int) -> pa.Table:
    vecs = rng.standard_normal((n, EMB_DIM))
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
    flat = pa.array(vecs.reshape(-1), pa.float32())
    offsets = pa.array(np.arange(0, n * EMB_DIM + 1, EMB_DIM, dtype=np.int32))
    return pa.table({
        "vec_id": np.arange(n, dtype=np.int64),
        "embedding": pa.ListArray.from_arrays(offsets, flat),
        "label": rng.integers(0, 10, n).astype(np.int32),
    })


def _events(rng: np.random.Generator, n: int, n_users: int) -> pa.Table:
    # 30 days of events in timestamp order; event_id follows ts
    span_us = 30 * 86_400 * 1_000_000
    gaps = rng.exponential(span_us / (n + 1), n)
    offs = np.minimum(np.cumsum(gaps), span_us - 1).astype(np.int64)
    ts = np.datetime64(datetime(2024, 1, 1), "us") + offs.astype("timedelta64[us]")
    return pa.table({
        "event_id": np.arange(n, dtype=np.int64),
        "ts": pa.array(ts, pa.timestamp("us")),
        "user_id": rng.integers(0, n_users, n).astype(np.int64),
        "event_type": _pick(rng, EVENT_TYPES, n),
        "value": np.round(rng.exponential(50.0, n), 2),
        "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n)], pa.string()),
    })


def tables(sf: float, seed: int = SEED) -> dict[str, pa.Table]:
    """Build every table at scale factor ``sf`` from ``seed``."""
    rng = np.random.default_rng(seed)
    n = row_counts(sf)
    nc, ns, npart, no, nl = (n[t] for t in ("customer", "supplier", "part", "orders", "lineitem"))
    i32 = lambda a: a.astype(np.int32)  # noqa: E731
    out = {
        "region": pa.table({
            "r_regionkey": np.arange(5, dtype=np.int32),
            "r_name": pa.array(REGIONS, pa.string()),
        }),
        "nation": pa.table({
            "n_nationkey": np.arange(25, dtype=np.int32),
            "n_name": pa.array([f"NATION_{i}" for i in range(25)], pa.string()),
            "n_regionkey": np.arange(25, dtype=np.int32) % 5,
        }),
        "customer": pa.table({
            "c_custkey": np.arange(nc, dtype=np.int64),
            "c_name": pa.array([f"Customer#{i:09d}" for i in range(nc)], pa.string()),
            "c_nationkey": i32(rng.integers(0, 25, nc)),
            "c_acctbal": _money(rng, -999.99, 9999.99, nc),
            "c_mktsegment": _pick(rng, SEGMENTS, nc),
        }),
        "supplier": pa.table({
            "s_suppkey": np.arange(ns, dtype=np.int64),
            "s_name": pa.array([f"Supplier#{i:09d}" for i in range(ns)], pa.string()),
            "s_nationkey": i32(rng.integers(0, 25, ns)),
            "s_acctbal": _money(rng, -999.99, 9999.99, ns),
        }),
    }
    names = [f"{a} {b}" for a in ADJECTIVES for b in NOUNS]
    pk = np.arange(npart, dtype=np.int64)
    out["part"] = pa.table({
        "p_partkey": pk,
        "p_name": _pick(rng, names, npart),
        "p_brand": pa.array([f"Brand#{b}" for b in rng.integers(1, 26, npart)], pa.string()),
        "p_type": _pick(rng, PART_TYPES, npart),
        "p_size": i32(rng.integers(1, 51, npart)),
        "p_retailprice": np.round(900 + (pk % 1000) * 0.1, 2),
    })
    out["orders"] = pa.table({
        "o_orderkey": np.arange(no, dtype=np.int64),
        "o_custkey": rng.integers(0, nc, no).astype(np.int64),
        "o_orderstatus": _pick(rng, ["F", "O", "P"], no),
        "o_totalprice": _money(rng, 1000.0, 500_000.0, no),
        "o_orderdate": _days(rng, "1995-01-01", "2001-08-01", no),
        "o_orderpriority": _pick(rng, PRIORITIES, no),
    })
    out["lineitem"] = pa.table({
        "l_orderkey": rng.integers(0, no, nl).astype(np.int64),
        "l_partkey": rng.integers(0, npart, nl).astype(np.int64),
        "l_suppkey": rng.integers(0, ns, nl).astype(np.int64),
        "l_linenumber": i32(rng.integers(1, 8, nl)),
        "l_quantity": rng.integers(1, 51, nl).astype(np.float64),
        "l_extendedprice": _money(rng, 900.0, 105_000.0, nl),
        "l_discount": rng.integers(0, 11, nl) / 100,
        "l_tax": rng.integers(0, 9, nl) / 100,
        "l_returnflag": _pick(rng, ["A", "N", "R"], nl),
        "l_linestatus": _pick(rng, ["F", "O"], nl),
        "l_shipdate": _days(rng, "1995-01-02", "2001-11-04", nl),
    })
    out["events"] = _events(rng, n["events"], max(1, int(15_000 * sf)))
    out["documents"] = _documents(rng, n["documents"])
    out["embeddings"] = _embeddings(rng, n["embeddings"])
    return out


def _matches(path: str, marker: dict) -> bool:
    try:
        with open(os.path.join(path, "_rows.json")) as f:
            if json.load(f) != marker:
                return False
        return all(
            pq.ParquetFile(os.path.join(path, f"{t}.parquet")).metadata.num_rows == rows
            for t, rows in marker["rows"].items()
        )
    except (OSError, ValueError, pa.ArrowException):
        return False


def ensure(path: str, sf: float) -> bool:
    """Make ``path`` hold the tables at ``sf``; return True if they were
    generated now, False if reused."""
    marker = {"seed": SEED, "rows": row_counts(sf)}
    if _matches(path, marker):
        return False
    tmp = path + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    for name, table in tables(sf).items():
        pq.write_table(table, os.path.join(tmp, f"{name}.parquet"))
    with open(os.path.join(tmp, "_rows.json"), "w") as f:
        json.dump(marker, f)
    shutil.rmtree(path, ignore_errors=True)
    os.replace(tmp, path)
    return True
