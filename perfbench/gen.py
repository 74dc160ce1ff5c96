"""Seeded inputs. The same seed gives the same inputs, byte for byte.

Pipeline tables follow the schemas and value domains of the engine's
test corpus (documents, embeddings, events and the TPC-H-like orders,
lineitem and supplier), at the row counts of its sf0.01 tier, so the
registry entries and their DuckDB oracles run on them unchanged.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

VOCAB = (
    "spark window merge table column sort hash join group agg filter scan "
    "query value key order line part batch stream data vector big small "
    "fast slow the a customer index row"
).split()
LANGS = ["de", "en", "es", "fr", "zh"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
PIPELINE_ROWS = {
    "documents": 500,
    "embeddings": 500,
    "events": 10_000,
    "orders": 15_000,
    "lineitem": 60_000,
    "supplier": 100,
}


def vectors_table(ids: list[str], vectors: np.ndarray) -> pa.Table:
    flat = pa.array(vectors.astype(np.float64).ravel(), pa.float64())
    vec = pa.FixedSizeListArray.from_arrays(flat, vectors.shape[1])
    return pa.table({"id": ids, "vector": vec.cast(pa.list_(pa.float64()))})


def _documents(rng: np.random.Generator, n: int) -> pa.Table:
    texts = [
        " ".join(VOCAB[i] for i in rng.integers(0, len(VOCAB), ln))
        for ln in rng.integers(10, 101, n)
    ]
    return pa.table(
        {
            "doc_id": pa.array(np.arange(n), pa.int64()),
            "text": pa.array(texts, pa.string()),
            "lang": pa.array([LANGS[i] for i in rng.integers(0, 5, n)]),
            "source": pa.array([f"src{i}" for i in rng.integers(0, 20, n)]),
            "n_chars": pa.array([len(t) for t in texts], pa.int64()),
        }
    )


def _embeddings(rng: np.random.Generator, n: int, dim: int = 64) -> pa.Table:
    v = rng.standard_normal((n, dim))
    v /= np.linalg.norm(v, axis=1, keepdims=True)
    emb = pa.FixedSizeListArray.from_arrays(
        pa.array(v.astype(np.float32).ravel(), pa.float32()), dim
    ).cast(pa.list_(pa.float32()))
    return pa.table(
        {
            "vec_id": pa.array(np.arange(n), pa.int64()),
            "embedding": emb,
            "label": pa.array(rng.integers(0, 10, n), pa.int32()),
        }
    )


def _events(rng: np.random.Generator, n: int) -> pa.Table:
    t0 = np.datetime64("2024-01-01T00:00:00", "us").astype(np.int64)
    ts = np.sort(t0 + (rng.random(n) * 30 * 86400 * 10**6).astype(np.int64))
    return pa.table(
        {
            "event_id": pa.array(np.arange(n), pa.int64()),
            "ts": pa.array(ts, pa.timestamp("us")),
            "user_id": pa.array(rng.integers(0, n // 10, n), pa.int64()),
            "event_type": pa.array([EVENT_TYPES[i] for i in rng.integers(0, 5, n)]),
            "value": pa.array(np.round(np.abs(rng.standard_normal(n) * 50), 2) + 0.01),
            "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n)]),
        }
    )


def _tpch(rng: np.random.Generator) -> dict[str, pa.Table]:
    n_ord, n_li, n_sup = (PIPELINE_ROWS[t] for t in ("orders", "lineitem", "supplier"))
    day = 86400 * 10**6
    d0 = np.datetime64("1995-01-01T00:00:00", "us").astype(np.int64)
    odate = d0 + rng.integers(0, 2404, n_ord) * day
    li_order = rng.integers(0, n_ord, n_li)
    return {
        "supplier": pa.table(
            {
                "s_suppkey": pa.array(np.arange(n_sup), pa.int64()),
                "s_name": [f"Supplier#{i:09d}" for i in range(n_sup)],
                "s_nationkey": pa.array(rng.integers(0, 25, n_sup), pa.int32()),
                "s_acctbal": np.round(rng.uniform(-999, 9999, n_sup), 2),
            }
        ),
        "orders": pa.table(
            {
                "o_orderkey": pa.array(np.arange(n_ord), pa.int64()),
                "o_custkey": pa.array(rng.integers(0, 1500, n_ord), pa.int64()),
                "o_orderstatus": [("F", "O", "P")[i] for i in rng.integers(0, 3, n_ord)],
                "o_totalprice": np.round(rng.uniform(1000, 500000, n_ord), 2),
                "o_orderdate": pa.array(odate, pa.timestamp("us")),
                "o_orderpriority": [
                    ("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")[i]
                    for i in rng.integers(0, 5, n_ord)
                ],
            }
        ),
        "lineitem": pa.table(
            {
                "l_orderkey": pa.array(li_order, pa.int64()),
                "l_partkey": pa.array(rng.integers(0, 2000, n_li), pa.int64()),
                "l_suppkey": pa.array(rng.integers(0, n_sup, n_li), pa.int64()),
                "l_linenumber": pa.array(rng.integers(1, 8, n_li), pa.int32()),
                "l_quantity": rng.integers(1, 51, n_li).astype(np.float64),
                "l_extendedprice": np.round(rng.uniform(900, 105000, n_li), 2),
                "l_discount": rng.integers(0, 11, n_li) / 100.0,
                "l_tax": rng.integers(0, 9, n_li) / 100.0,
                "l_returnflag": [("A", "N", "R")[i] for i in rng.integers(0, 3, n_li)],
                "l_linestatus": [("F", "O")[i] for i in rng.integers(0, 2, n_li)],
                "l_shipdate": pa.array(
                    odate[li_order] + rng.integers(1, 122, n_li) * day,
                    pa.timestamp("us"),
                ),
            }
        ),
    }


def pipeline_tables(seed: int) -> dict[str, pa.Table]:
    rng = np.random.default_rng([seed, 3])
    tables = {
        "documents": _documents(rng, PIPELINE_ROWS["documents"]),
        "embeddings": _embeddings(rng, PIPELINE_ROWS["embeddings"]),
        "events": _events(rng, PIPELINE_ROWS["events"]),
    }
    tables.update(_tpch(rng))
    return tables


def write_tables(tables: dict[str, pa.Table], out_dir: str) -> None:
    os.makedirs(out_dir, exist_ok=True)
    for name, table in tables.items():
        pq.write_table(table, f"{out_dir}/{name}.parquet")
