"""The Spark-vs-DuckDB oracle compare, shared by ``tools/selfcheck.py``
and ``tests/test_registry_oracles.py``.

Each registry entry runs twice over the same sf dir: its Spark
callable (``entry.queries()``) and its DuckDB SQL
(``entry.oracle_sql()``).  The two results must agree on row count,
column names and an order-insensitive value hash.
"""

from __future__ import annotations

import hashlib
import time
from dataclasses import dataclass, field

import duckdb

from graphscope_spark import entry as E

#: rows of each side-only sample shown in a failure report
SAMPLE = 5


def duckdb_views(sf_dir: str) -> duckdb.DuckDBPyConnection:
    """A DuckDB connection with one view per ``entry.TABLES`` parquet
    file under ``sf_dir``."""
    con = duckdb.connect()
    for t in E.TABLES:
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")
    return con


def value_hash(rows, columns):
    """Order-insensitive but multiplicity-preserving: hash each row
    (columns sorted by name) and SUM mod 2^64.  XOR would cancel any
    row occurring an even number of times, letting duplicate-pair
    discrepancies slip through when the row counts coincide."""
    idx = sorted(range(len(columns)), key=lambda i: columns[i])
    acc = 0
    for row in rows:
        key = "|".join(repr(row[i]) for i in idx)
        acc = (acc + int.from_bytes(
            hashlib.sha256(key.encode()).digest()[:8], "big"
        )) % (1 << 64)
    return acc


def norm(v):
    if isinstance(v, float):
        return round(v, 9)
    return v


@dataclass
class Verdict:
    name: str
    spark_rows: int
    oracle_rows: int
    ok_cols: bool
    ok_hash: bool
    spark_s: float
    duck_s: float
    #: up to SAMPLE rows per side, as {column: value} dicts
    spark_only: list = field(default_factory=list)
    oracle_only: list = field(default_factory=list)

    @property
    def ok(self) -> bool:
        return (self.spark_rows == self.oracle_rows
                and self.ok_cols and self.ok_hash)

    def report(self) -> str:
        """The verdict line, then the side-only sample rows."""
        status = "OK " if self.ok else "FAIL"
        lines = [
            f"{self.name:24s} {status} "
            f"rows={self.spark_rows}/{self.oracle_rows} "
            f"cols={self.ok_cols} hash={self.ok_hash} "
            f"(spark {self.spark_s:5.1f}s duck {self.duck_s:5.1f}s)"
        ]
        for label, rows in (("spark-only", self.spark_only),
                            ("oracle-only", self.oracle_only)):
            lines += [f"    {label}: {r}" for r in rows]
        return "\n".join(lines)


def _sample(diff, cols):
    idx = sorted(range(len(cols)), key=lambda i: cols[i])
    return [{cols[i]: r[i] for i in idx} for r in list(diff)[:SAMPLE]]


def compare(spark, con, name: str, sf_dir: str) -> Verdict:
    """Run registry entry ``name`` on Spark and its oracle on ``con``
    (a connection from :func:`duckdb_views` over ``sf_dir``)."""
    t0 = time.time()
    sdf = E.queries()[name](spark, sf_dir)
    scols = sdf.columns
    srows = [tuple(norm(v) for v in r) for r in sdf.collect()]
    t1 = time.time()
    res = con.sql(E.oracle_sql()[name])
    ocols = [d[0] for d in res.description]
    orows = [tuple(norm(v) for v in r) for r in res.fetchall()]
    t2 = time.time()
    v = Verdict(
        name, len(srows), len(orows),
        sorted(scols) == sorted(ocols),
        value_hash(srows, scols) == value_hash(orows, ocols),
        t1 - t0, t2 - t1,
    )
    if not v.ok:
        sset, oset = set(srows), set(orows)
        v.spark_only = _sample(sset - oset, scols)
        v.oracle_only = _sample(oset - sset, ocols)
    return v
