"""Deterministic synthetic snapshot tables for the benchmark.

Writes the ten tables the registry reads (schemas as in FIXTURES.md) at a
given scale factor, from a fixed data seed, so every run and every commit
measures the same bytes. Every table is one ``<name>.parquet`` file, the
fixture layout; the ETL workload copies ``events`` into a directory of
part files so it can append a batch of new rows per sync cycle.
"""

from __future__ import annotations

import json
import os
import shutil

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

#: data seed: the base tables never vary with the run seed.
DATA_SEED = 42

_WORDS = (
    "a the data table row column key value part line query scan join agg "
    "group sort order filter merge hash batch stream window spark fast slow "
    "big small customer vector"
).split()
_COLORS = ("blue", "red", "cold", "hot", "small", "large", "new", "old")
_NOUNS = ("ring", "plate", "gear", "rod", "bolt", "anvil", "widget", "gizmo")
_SEGMENTS = ("MACHINERY", "AUTOMOBILE", "HOUSEHOLD", "FURNITURE", "BUILDING")
_TYPES = ("LARGE", "ECONOMY", "STANDARD", "SMALL", "MEDIUM", "PROMO")
_PRIORITIES = ("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
_EVENT_TYPES = ("signup", "click", "error", "view", "purchase")
_LANGS = ("en", "en", "en", "fr", "zh", "de", "es")

_EPOCH_2024 = np.datetime64("2024-01-01T00:00:00", "us")
#: base events span 30 days from 2024-01-01; appended batches start here
EVENTS_END_US = 30 * 86400 * 10**6


def row_counts(sf: float) -> dict[str, int]:
    """Rows per table at scale factor ``sf`` (TESTDATA.md proportions)."""
    return {
        "region": 5,
        "nation": 25,
        "customer": int(150_000 * sf),
        "supplier": int(10_000 * sf),
        "part": int(200_000 * sf),
        "orders": int(1_500_000 * sf),
        "lineitem": int(6_000_000 * sf),
        "events": int(1_000_000 * sf),
        "documents": int(50_000 * sf),
        "embeddings": max(200, int(20_000 * sf)),
    }


def _money(rng, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _days(rng, start: str, end: str, n: int) -> np.ndarray:
    lo = np.datetime64(start, "D")
    span = (np.datetime64(end, "D") - lo).astype(int)
    return (lo + rng.integers(0, span + 1, n)).astype("datetime64[us]")


def _texts(rng, n: int) -> list[str]:
    """Word-salad documents; every tenth one is a light edit of an
    earlier document, so the dedup family finds real near-duplicates."""
    out: list[str] = []
    for i in range(n):
        if i >= 10 and i % 10 == 0:
            words = out[int(rng.integers(0, i))].split()
            for _ in range(int(rng.integers(0, 3))):
                words[int(rng.integers(0, len(words)))] = _WORDS[
                    int(rng.integers(0, len(_WORDS)))
                ]
        else:
            idx = rng.integers(0, len(_WORDS), int(rng.integers(8, 90)))
            words = [_WORDS[j] for j in idx]
        out.append(" ".join(words))
    return out


def _embeddings(rng, n: int, dim: int = 64) -> tuple[list, np.ndarray]:
    labels = rng.integers(0, 10, n)
    centers = rng.normal(0.0, 1.0, (10, dim))
    vecs = centers[labels] + rng.normal(0.0, 0.8, (n, dim))
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    return [row.astype(np.float32) for row in vecs], labels.astype(np.int32)


def events_table(rng, first_id: int, n: int, t0_us: int, span_us: int) -> pa.Table:
    """``n`` events with ids from ``first_id`` and sorted timestamps in
    ``[t0_us, t0_us + span_us)`` microseconds after 2024-01-01."""
    ts = _EPOCH_2024 + np.sort(rng.integers(t0_us, t0_us + span_us, n)).astype(
        "timedelta64[us]"
    )
    return pa.table(
        {
            "event_id": pa.array(np.arange(first_id, first_id + n), pa.int64()),
            "ts": pa.array(ts, pa.timestamp("us")),
            "user_id": pa.array(rng.integers(0, 1500, n), pa.int64()),
            "event_type": pa.array(
                [_EVENT_TYPES[i] for i in rng.integers(0, 5, n)], pa.string()
            ),
            "value": pa.array(np.round(rng.exponential(60.0, n), 2), pa.float64()),
            "props": pa.array(
                [json.dumps({"k": int(k)}) for k in rng.integers(0, 100, n)],
                pa.string(),
            ),
        }
    )


def _tables(sf: float) -> dict[str, pa.Table]:
    rng = np.random.default_rng(DATA_SEED)
    n = row_counts(sf)
    nc, ns, np_, no, nl = (
        n["customer"], n["supplier"], n["part"], n["orders"], n["lineitem"]
    )
    t: dict[str, pa.Table] = {}
    t["region"] = pa.table(
        {
            "r_regionkey": pa.array(range(5), pa.int32()),
            "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"],
        }
    )
    t["nation"] = pa.table(
        {
            "n_nationkey": pa.array(range(25), pa.int32()),
            "n_name": [f"NATION_{i}" for i in range(25)],
            "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
        }
    )
    t["customer"] = pa.table(
        {
            "c_custkey": pa.array(np.arange(nc), pa.int64()),
            "c_name": [f"Customer#{i:09d}" for i in range(nc)],
            "c_nationkey": pa.array(rng.integers(0, 25, nc), pa.int32()),
            "c_acctbal": _money(rng, -999.99, 9999.99, nc),
            "c_mktsegment": [_SEGMENTS[i] for i in rng.integers(0, 5, nc)],
        }
    )
    t["supplier"] = pa.table(
        {
            "s_suppkey": pa.array(np.arange(ns), pa.int64()),
            "s_name": [f"Supplier#{i:09d}" for i in range(ns)],
            "s_nationkey": pa.array(rng.integers(0, 25, ns), pa.int32()),
            "s_acctbal": _money(rng, -999.99, 9999.99, ns),
        }
    )
    t["part"] = pa.table(
        {
            "p_partkey": pa.array(np.arange(np_), pa.int64()),
            "p_name": [
                f"{_COLORS[a]} {_NOUNS[b]}"
                for a, b in zip(rng.integers(0, 8, np_), rng.integers(0, 8, np_))
            ],
            "p_brand": [f"Brand#{i}" for i in rng.integers(1, 26, np_)],
            "p_type": [_TYPES[i] for i in rng.integers(0, 6, np_)],
            "p_size": pa.array(rng.integers(1, 51, np_), pa.int32()),
            "p_retailprice": np.round(900.0 + (np.arange(np_) % 1000) / 10.0, 2),
        }
    )
    t["orders"] = pa.table(
        {
            "o_orderkey": pa.array(np.arange(no), pa.int64()),
            "o_custkey": pa.array(rng.integers(0, nc, no), pa.int64()),
            "o_orderstatus": [("O", "P", "F")[i] for i in rng.integers(0, 3, no)],
            "o_totalprice": _money(rng, 1000.0, 500000.0, no),
            "o_orderdate": pa.array(
                _days(rng, "1995-01-01", "2001-08-01", no), pa.timestamp("us")
            ),
            "o_orderpriority": [_PRIORITIES[i] for i in rng.integers(0, 5, no)],
        }
    )
    t["lineitem"] = pa.table(
        {
            "l_orderkey": pa.array(rng.integers(0, no, nl), pa.int64()),
            "l_partkey": pa.array(rng.integers(0, np_, nl), pa.int64()),
            "l_suppkey": pa.array(rng.integers(0, ns, nl), pa.int64()),
            "l_linenumber": pa.array(rng.integers(1, 8, nl), pa.int32()),
            "l_quantity": rng.integers(1, 51, nl).astype(np.float64),
            "l_extendedprice": _money(rng, 900.0, 105000.0, nl),
            "l_discount": rng.integers(0, 11, nl) / 100.0,
            "l_tax": rng.integers(0, 9, nl) / 100.0,
            "l_returnflag": [("A", "N", "R")[i] for i in rng.integers(0, 3, nl)],
            "l_linestatus": [("O", "F")[i] for i in rng.integers(0, 2, nl)],
            "l_shipdate": pa.array(
                _days(rng, "1995-01-02", "2001-11-04", nl), pa.timestamp("us")
            ),
        }
    )
    t["events"] = events_table(rng, 0, n["events"], 0, EVENTS_END_US)
    nd = n["documents"]
    texts = _texts(rng, nd)
    t["documents"] = pa.table(
        {
            "doc_id": pa.array(np.arange(nd), pa.int64()),
            "text": texts,
            "lang": [_LANGS[i] for i in rng.integers(0, len(_LANGS), nd)],
            "source": [f"src{i % 20}" for i in range(nd)],
            "n_chars": pa.array([len(s) for s in texts], pa.int64()),
        }
    )
    ne = n["embeddings"]
    vecs, labels = _embeddings(rng, ne)
    t["embeddings"] = pa.table(
        {
            "vec_id": pa.array(np.arange(ne), pa.int64()),
            "embedding": pa.array(vecs, pa.list_(pa.float32())),
            "label": pa.array(labels, pa.int32()),
        }
    )
    return t


def ensure_dataset(root: str, sf: float) -> str:
    """Write the scale-``sf`` tables under ``root`` once; return the dir."""
    out = os.path.join(root, f"sf{sf:g}")
    if os.path.exists(os.path.join(out, "_DONE")):
        return out
    tmp = f"{out}.tmp-{os.getpid()}"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    for name, table in _tables(sf).items():
        pq.write_table(table, os.path.join(tmp, f"{name}.parquet"))
    open(os.path.join(tmp, "_DONE"), "w").close()
    try:
        os.replace(tmp, out)
    except OSError:  # a concurrent run published the same tables first
        shutil.rmtree(tmp, ignore_errors=True)
        if not os.path.exists(os.path.join(out, "_DONE")):
            raise
    return out
