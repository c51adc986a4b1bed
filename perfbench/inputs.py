"""Seeded input tables for the benchmark workloads.

Both tables exist before any Spark session starts, and the oracle reads
the very same files.  The same arguments always yield the same rows.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq
from graphscope_spark.sources.synthetic import LANG_BODY, gen_code_table

ITEMS_PER_ORDER = 4  # line items per order, as in the repo's sf0.1 lineitem table
PAD_LINES = (25, 75)  # code lines appended to each file body, about 1-3 KB


def coorder_lineitem(path: str, seed: int, orders: int, parts: int) -> None:
    """``lineitem(l_orderkey, l_partkey)`` drawn like the repo's sf0.1
    lineitem table: ``ITEMS_PER_ORDER * orders`` rows, each with a
    uniform order key and a uniform part key (README, "Workloads").
    The structure comes from a fixed generator seed; ``seed`` only
    relabels the part keys by an order-preserving bijection onto a
    sparse id space, so it moves hash partition placement but not the
    graph: edge direction and CDLP tie-breaks follow id order and stay
    the same."""
    rng = np.random.default_rng(20_240_101)
    rows = ITEMS_PER_ORDER * orders
    orderkey = np.sort(rng.integers(0, orders, rows))
    part = rng.integers(0, parts, rows)
    ids = np.sort(_sparse_ids(np.random.default_rng(seed), parts))
    _write(path, {"l_orderkey": orderkey, "l_partkey": ids[part]})


def code_table(path: str, seed: int, repos: int, files_per_repo: int) -> None:
    """The repo's synthetic code table (``gen_code_table``: Zipf-linked
    imports between ``repos`` repositories), with every file body
    padded by seeded code lines so hashing and extraction do real
    work."""
    rows = gen_code_table(n_repos=repos, files_per_repo=files_per_repo, seed=seed)
    pads = np.random.default_rng(seed).integers(PAD_LINES[0], PAD_LINES[1] + 1, len(rows))
    for f, (row, n) in enumerate(zip(rows, pads)):
        body = LANG_BODY[row["lang"]]
        row["content"] += "".join(body.format(i=f * 100 + j) for j in range(n))
    _write(path, {k: [r[k] for r in rows] for k in rows[0]})


def _sparse_ids(rng: np.random.Generator, n: int) -> np.ndarray:
    """``n`` distinct ids spread over [0, 2**40), in random order."""
    ids = np.unique(rng.integers(0, 1 << 40, 2 * n + 16))
    rng.shuffle(ids)
    return ids[:n]


def _write(path: str, cols: dict) -> None:
    os.makedirs(os.path.dirname(path), exist_ok=True)
    tmp = path + ".tmp"
    pq.write_table(pa.table(cols), tmp)
    os.replace(tmp, path)
