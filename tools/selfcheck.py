"""Replicates the driver's correctness compare locally: run every
``queries()`` entry on Spark and its ``oracle_sql()`` on DuckDB over
the same sf dir through ``tools/oracle_compare.compare``.  Usage::

    python tools/selfcheck.py [sf_dir] [name ...]
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from graphscope_spark import entry as E  # noqa: E402
from graphscope_spark.session import get_spark  # noqa: E402
from tools.oracle_compare import compare, duckdb_views  # noqa: E402


def main():
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    only = set(sys.argv[2:])
    qs = E.queries()
    unknown = only - set(qs)
    if unknown:
        # a typo'd name previously skipped EVERYTHING and printed
        # "all OK" — a false-positive pass
        print(f"unknown queries: {sorted(unknown)}", file=sys.stderr)
        sys.exit(2)
    spark = get_spark("selfcheck")
    con = duckdb_views(sf_dir)
    failures = []
    for name in qs:
        if only and name not in only:
            continue
        v = compare(spark, con, name, sf_dir)
        print(v.report())
        if not v.ok:
            failures.append(name)
    spark.stop()
    if failures:
        print("FAILURES:", failures)
        sys.exit(1)
    print("all OK")


if __name__ == "__main__":
    main()
