"""Seeded synthetic input tables for the benchmark workloads.

Every table is generated from ``numpy.random.default_rng(seed)`` and
written with pyarrow, so one seed always gives byte-identical parquet.
Schemas follow the TPC-H-like star schema plus the ``events``,
``documents`` and ``embeddings`` tables that the gate functions in
``__spark_entry__.py`` read (column names and types match what the
gates and their DuckDB oracles expect).

``documents`` carries planted near-duplicates (a copy of an earlier
original document with a few words replaced) so the dedup operators
find real pairs and components, not an empty result.
"""

from __future__ import annotations

import datetime as dt
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

_VOCAB = (
    "a the data row column table key value scan join sort hash merge group "
    "agg filter window order line part customer query spark stream batch "
    "vector fast slow big small"
).split()
_SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
_PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
_EVENT_TYPES = ["click", "view", "purchase", "signup", "error"]
_LANGS = ["en", "en", "en", "de", "fr", "es", "zh"]


def _write(out_dir: str, name: str, columns: dict) -> None:
    pq.write_table(pa.table(columns), os.path.join(out_dir, f"{name}.parquet"))


def _dates(rng, n: int, start: dt.date, days: int) -> pa.Array:
    offs = rng.integers(0, days, n)
    base = np.datetime64(start.isoformat(), "D")
    return pa.array(base + offs.astype("timedelta64[D]"), pa.date32())


def write_tpch(out_dir: str, seed: int, scale: float) -> dict[str, int]:
    """TPC-H-like tables at ``scale`` (1.0 ≈ sf0.1 row counts).
    Returns the row count per table."""
    rng = np.random.default_rng([seed, 1])
    os.makedirs(out_dir, exist_ok=True)
    n_cust = max(50, int(15000 * scale))
    n_supp = max(10, int(1000 * scale))
    n_part = max(50, int(20000 * scale))
    n_ord = max(100, int(150000 * scale))
    n_line = n_ord * 4
    n_ev = max(100, int(100000 * scale))

    _write(out_dir, "region", {
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"],
    })
    _write(out_dir, "nation", {
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
    })
    _write(out_dir, "customer", {
        "c_custkey": np.arange(n_cust, dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": rng.integers(0, 25, n_cust).astype(np.int32),
        "c_acctbal": np.round(rng.uniform(-999, 9999, n_cust), 2),
        "c_mktsegment": np.array(_SEGMENTS)[rng.integers(0, 5, n_cust)],
    })
    _write(out_dir, "supplier", {
        "s_suppkey": np.arange(n_supp, dtype=np.int64),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": rng.integers(0, 25, n_supp).astype(np.int32),
        "s_acctbal": np.round(rng.uniform(-999, 9999, n_supp), 2),
    })
    _write(out_dir, "part", {
        "p_partkey": np.arange(n_part, dtype=np.int64),
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_part)],
        "p_size": rng.integers(1, 51, n_part).astype(np.int32),
        "p_retailprice": np.round(900 + np.arange(n_part) % 1000 * 0.1, 2),
    })
    _write(out_dir, "orders", {
        "o_orderkey": np.arange(n_ord, dtype=np.int64),
        "o_custkey": rng.integers(0, n_cust, n_ord).astype(np.int64),
        "o_orderstatus": np.array(["F", "O", "P"])[rng.integers(0, 3, n_ord)],
        "o_totalprice": np.round(rng.uniform(1000, 500000, n_ord), 2),
        "o_orderdate": _dates(rng, n_ord, dt.date(1995, 1, 1), 2400),
        "o_orderpriority": np.array(_PRIORITIES)[rng.integers(0, 5, n_ord)],
    })
    _write(out_dir, "lineitem", {
        "l_orderkey": rng.integers(0, n_ord, n_line).astype(np.int64),
        "l_partkey": rng.integers(0, n_part, n_line).astype(np.int64),
        "l_suppkey": rng.integers(0, n_supp, n_line).astype(np.int64),
        "l_quantity": rng.integers(1, 51, n_line).astype(np.int64),
        "l_extendedprice": np.round(rng.uniform(900, 105000, n_line), 2),
        "l_discount": rng.integers(0, 11, n_line) / 100.0,
        "l_returnflag": np.array(["A", "N", "R"])[rng.integers(0, 3, n_line)],
        "l_linestatus": np.array(["F", "O"])[rng.integers(0, 2, n_line)],
        "l_shipdate": _dates(rng, n_line, dt.date(1995, 1, 2), 2500),
    })
    _write(out_dir, "events", {
        "event_id": np.arange(n_ev, dtype=np.int64),
        "user_id": rng.integers(0, max(10, n_ev // 60), n_ev).astype(np.int64),
        "event_type": np.array(_EVENT_TYPES)[rng.integers(0, 5, n_ev)],
        "value": np.round(rng.uniform(0, 50, n_ev), 2),
        "ev_date": _dates(rng, n_ev, dt.date(2024, 1, 1), 30),
    })
    return {"customer": n_cust, "supplier": n_supp, "part": n_part,
            "orders": n_ord, "lineitem": n_line, "events": n_ev}


def write_text(out_dir: str, seed: int, n_docs: int, n_vecs: int,
               dup_frac: float = 0.12) -> None:
    """``documents`` (word-salad text, every ``1/dup_frac``-th one a
    near-copy) and ``embeddings`` (64-dim float32, 10 Gaussian clusters)."""
    rng = np.random.default_rng([seed, 2])
    os.makedirs(out_dir, exist_ok=True)
    vocab = np.array(_VOCAB)
    texts: list[str] = []
    originals: list[int] = []
    every = round(1 / dup_frac)
    for i in range(n_docs):
        # a fixed share of copies, each of an original: every cluster is
        # a star, so the dedup work does not swing with the seed
        if i > 10 and i % every == every - 1:
            words = texts[originals[int(rng.integers(0, len(originals)))]].split()
            for j in rng.integers(0, len(words), max(1, len(words) // 25)):
                words[j] = vocab[rng.integers(0, len(vocab))]
        else:
            words = list(vocab[rng.integers(0, len(vocab), rng.integers(10, 90))])
            originals.append(i)
        texts.append(" ".join(words))
    _write(out_dir, "documents", {
        "doc_id": np.arange(n_docs, dtype=np.int64),
        "text": texts,
        "lang": np.array(_LANGS)[rng.integers(0, len(_LANGS), n_docs)],
        "source": [f"src{i % 20}" for i in range(n_docs)],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
    })
    centers = rng.normal(0, 1, (10, 64))
    labels = rng.integers(0, 10, n_vecs)
    vecs = centers[labels] + rng.normal(0, 0.6, (n_vecs, 64))
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    _write(out_dir, "embeddings", {
        "vec_id": np.arange(n_vecs, dtype=np.int64),
        "embedding": pa.array(list(vecs.astype(np.float32)),
                              pa.list_(pa.float32())),
        "label": labels.astype(np.int32),
    })
