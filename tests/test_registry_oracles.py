"""Every registry entry against its exact DuckDB oracle.

The Spark side of each ``entry.queries()`` entry and its
``entry.oracle_sql()`` text run over the same sf0.001 parquet tables;
``tools/oracle_compare.compare`` checks row count, column names and
the order-insensitive value hash (the same compare as
``tools/selfcheck.py``).
"""

from __future__ import annotations

import pytest

from graphscope_spark import entry as E
from tests.conftest import release_cached_blocks
from tools.oracle_compare import compare, duckdb_views

SF_DIR = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def con():
    c = duckdb_views(SF_DIR)
    yield c
    c.close()


@pytest.mark.parametrize("name", list(E.queries()))
def test_registry_oracle(spark, con, name):
    try:
        v = compare(spark, con, name, SF_DIR)
    finally:
        release_cached_blocks(spark)
    assert v.ok, v.report()
