"""Seeded input tables for the ``query_mix`` workload.

Writes ``documents``, ``embeddings``, ``lineitem`` and ``events`` parquet
files with the column names and types the query engine reads, at about
the size of the sf0.01 test data. Documents carry exact and near-duplicate
copies so the dedup spine has clusters to find; embeddings are drawn
around ten label centroids so the ANN queries have structure. The same
seed gives the same bytes.
"""

from __future__ import annotations

import datetime as dt
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

TABLES = ("documents", "embeddings", "lineitem", "events")

VOCAB = (
    "a the data table row column key value join scan filter sort merge hash "
    "agg group order line part customer query spark stream batch window "
    "fast slow big small vector index shard plan cache disk memory node "
    "block slot epoch fork chain proof"
).split()


def _documents(rng: np.random.Generator, n: int) -> pa.Table:
    lengths = rng.integers(12, 90, size=n)
    words = rng.integers(0, len(VOCAB), size=int(lengths.sum()))
    offs = np.concatenate(([0], np.cumsum(lengths)))
    toks = [[VOCAB[w] for w in words[offs[i]:offs[i + 1]]] for i in range(n)]
    # ~8% near-duplicates (one or two substituted tokens), ~1% exact copies
    src = rng.choice(n, size=n // 12, replace=False)
    dst = rng.choice(np.setdiff1d(np.arange(n), src), size=len(src), replace=False)
    for i, (a, b) in enumerate(zip(src, dst)):
        copy = list(toks[a])
        if i % 8:
            for _ in range(1 + i % 2):
                copy[int(rng.integers(0, len(copy)))] = VOCAB[int(rng.integers(0, len(VOCAB)))]
        toks[b] = copy
    texts = [" ".join(t) for t in toks]
    return pa.table({
        "doc_id": pa.array(np.arange(n), pa.int64()),
        "text": pa.array(texts),
        "lang": pa.array(rng.choice(["en", "de", "fr", "es"], size=n, p=[0.7, 0.1, 0.1, 0.1])),
        "source": pa.array([f"src{i}" for i in rng.integers(0, 5, size=n)]),
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })


def _embeddings(rng: np.random.Generator, n: int, dim: int = 64) -> pa.Table:
    labels = rng.integers(0, 10, size=n).astype(np.int32)
    centres = rng.normal(0.0, 1.0, size=(10, dim))
    vecs = (centres[labels] + rng.normal(0.0, 0.35, size=(n, dim))).astype(np.float32)
    return pa.table({
        "vec_id": pa.array(np.arange(n), pa.int64()),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "label": pa.array(labels, pa.int32()),
    })


def _lineitem(rng: np.random.Generator, n_orders: int, n_parts: int) -> pa.Table:
    lines = rng.integers(1, 8, size=n_orders)
    n = int(lines.sum())
    orderkey = np.repeat(np.arange(n_orders), lines)
    linenumber = np.concatenate([np.arange(1, k + 1) for k in lines]).astype(np.int32)
    qty = rng.integers(1, 51, size=n).astype(np.float64)
    price = np.round(qty * rng.uniform(900.0, 2000.0, size=n), 2)
    day0 = dt.datetime(1992, 1, 2)
    ship = [day0 + dt.timedelta(days=int(d)) for d in rng.integers(0, 2520, size=n)]
    return pa.table({
        "l_orderkey": pa.array(orderkey, pa.int64()),
        "l_partkey": pa.array(rng.integers(0, n_parts, size=n), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, 100, size=n), pa.int64()),
        "l_linenumber": pa.array(linenumber, pa.int32()),
        "l_quantity": pa.array(qty),
        "l_extendedprice": pa.array(price),
        "l_discount": pa.array(np.round(rng.integers(0, 11, size=n) / 100.0, 2)),
        "l_tax": pa.array(np.round(rng.integers(0, 9, size=n) / 100.0, 2)),
        "l_returnflag": pa.array(rng.choice(["A", "N", "R"], size=n)),
        "l_linestatus": pa.array(rng.choice(["O", "F"], size=n)),
        "l_shipdate": pa.array(ship, pa.timestamp("us")),
    })


def _events(rng: np.random.Generator, n: int, n_users: int) -> pa.Table:
    gaps = rng.exponential(240.0, size=n)
    t0 = dt.datetime(2024, 1, 1)
    ts = [t0 + dt.timedelta(seconds=float(s)) for s in np.cumsum(gaps)]
    return pa.table({
        "event_id": pa.array(np.arange(n), pa.int64()),
        "ts": pa.array(ts, pa.timestamp("us")),
        "user_id": pa.array(rng.integers(0, n_users, size=n), pa.int64()),
        "event_type": pa.array(rng.choice(["view", "click", "purchase", "signup", "error"], size=n)),
        "value": pa.array(np.round(rng.exponential(10.0, size=n), 2)),
        "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, size=n)]),
    })


def generate(seed: int, out_dir: str, scale: float = 1.0) -> dict[str, int]:
    """Write the four tables under ``out_dir``; returns their row counts."""
    rng = np.random.default_rng(seed)
    os.makedirs(out_dir, exist_ok=True)
    tables = {
        "documents": _documents(rng, int(800 * scale)),
        "embeddings": _embeddings(rng, int(800 * scale)),
        "lineitem": _lineitem(rng, int(6000 * scale), int(1500 * scale)),
        "events": _events(rng, int(10000 * scale), int(150 * scale)),
    }
    for name, t in tables.items():
        pq.write_table(t, os.path.join(out_dir, f"{name}.parquet"))
    return {name: t.num_rows for name, t in tables.items()}
