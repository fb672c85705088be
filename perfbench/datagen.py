"""Seeded inputs for the catalog workload.

Writes the two tables the shared-leg queries read, ``documents`` and
``lineitem``, as single parquet files with the column names, types and
value domains of the engine's fixture tables (see FIXTURES.md). The
same ``(seed, scale)`` always gives the same rows; ``scale`` is
relative to the sf0.1 fixture (5,000 documents, 150,000 orders, about
600,000 line items).
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# the fixture corpus draws every word from this 30-word vocabulary
VOCAB = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream "
    "table the value vector window"
).split()
LANGS = ("en", "es", "zh", "de", "fr")
LANG_P = (0.41, 0.15, 0.15, 0.14, 0.15)
NEAR_DUP_SHARE = 0.05  # copies of another document plus one word
EXACT_DUP_SHARE = 0.002

_DAY_US = 86_400 * 1_000_000
_SHIP_FIRST_US = 788_313_600 * 1_000_000  # 1995-01-02
_SHIP_DAYS = 2_499


def make_documents(rng: np.random.Generator, n: int) -> pa.Table:
    lengths = rng.integers(10, 101, n)
    words = np.asarray(VOCAB)[rng.integers(0, len(VOCAB), int(lengths.sum()))]
    bounds = np.concatenate(([0], np.cumsum(lengths)))
    texts = [" ".join(words[bounds[i]:bounds[i + 1]]) for i in range(n)]
    ids = rng.permutation(n)
    n_near = int(n * NEAR_DUP_SHARE)
    n_exact = max(1, int(n * EXACT_DUP_SHARE))
    sources = rng.integers(0, n, n_near + n_exact)
    for k, (i, j) in enumerate(zip(ids[: n_near + n_exact], sources)):
        if i != j:
            texts[i] = texts[j] + " dup" if k < n_near else texts[j]
    return pa.table(
        {
            "doc_id": pa.array(np.arange(n, dtype=np.int64)),
            "text": pa.array(texts, pa.string()),
            "lang": pa.array(np.asarray(LANGS)[rng.choice(len(LANGS), n, p=LANG_P)]),
            "source": pa.array([f"src{i % 20}" for i in range(n)]),
            "n_chars": pa.array([len(t) for t in texts], pa.int64()),
        }
    )


def make_lineitem(rng: np.random.Generator, n_orders: int, n_parts: int, n_supp: int) -> pa.Table:
    per_order = rng.poisson(4.0, n_orders)
    n = int(per_order.sum())
    orderkey = np.repeat(np.arange(n_orders, dtype=np.int64), per_order)
    ship_us = _SHIP_FIRST_US + rng.integers(0, _SHIP_DAYS, n) * _DAY_US
    return pa.table(
        {
            "l_orderkey": orderkey,
            "l_partkey": rng.integers(0, n_parts, n, dtype=np.int64),
            "l_suppkey": rng.integers(0, n_supp, n, dtype=np.int64),
            "l_linenumber": rng.integers(1, 8, n, dtype=np.int32),
            "l_quantity": rng.integers(1, 51, n).astype(np.float64),
            "l_extendedprice": np.round(rng.uniform(900.0, 105_000.0, n), 2),
            "l_discount": rng.integers(0, 11, n) / 100.0,
            "l_tax": rng.integers(0, 9, n) / 100.0,
            "l_returnflag": pa.array(np.asarray(["A", "N", "R"])[rng.integers(0, 3, n)]),
            "l_linestatus": pa.array(np.asarray(["F", "O"])[rng.integers(0, 2, n)]),
            "l_shipdate": pa.array(ship_us, pa.timestamp("us")),
        }
    )


def write_catalog_tables(out_dir: str, seed: int, scale: float) -> dict[str, int]:
    """Write ``documents`` and ``lineitem`` under ``out_dir``; return
    their row counts."""
    os.makedirs(out_dir, exist_ok=True)
    rng = np.random.default_rng(seed)
    tables = {
        "documents": make_documents(rng, int(5_000 * scale)),
        "lineitem": make_lineitem(
            rng, int(150_000 * scale), int(20_000 * scale), int(1_000 * scale)
        ),
    }
    for name, table in tables.items():
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))
    return {name: table.num_rows for name, table in tables.items()}
