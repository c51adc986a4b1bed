"""Per-superstep checkpoint / resume for iterative apps.

Replaces the reference's vineyard persistence + graph serialization
(``test/run_app.h:114-116, 162-166``) with table-format commits: every
superstep writes the full iteration state (ranks / labels / frontier),
per-partition lineage, and convergence metrics; a killed run resumes
from the latest *committed* superstep and produces results identical
to an uninterrupted run (tested in tests/test_checkpoint.py).

Layout (one directory per app run)::

    <base>/<run>/state/superstep=<k>/     state rows (+_SUCCESS)
    <base>/<run>/lineage/superstep=<k>/   (superstep, partition_id, rows)
    <base>/<run>/metrics/superstep=<k>/   (superstep, metric kv columns)

Format is parquet by default; the same layout maps 1:1 onto an Iceberg
table partitioned by ``superstep`` (``format="iceberg"`` +
``table_prefix`` when an Iceberg catalog is configured on the session —
the sandbox has no Iceberg runtime jars, so parquet is the tested
path; atomicity comes from parquet's ``_SUCCESS`` marker which we
treat as the commit point).
"""

from __future__ import annotations

import json
import os
import time

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


class CheckpointManager:
    def __init__(self, base_dir: str, run_name: str, fmt: str = "parquet"):
        self.base = os.path.join(base_dir, run_name)
        if fmt != "parquet":
            # honest gate, not a silent fallback: Iceberg commits need
            # the iceberg-spark-runtime jar + a catalog conf on the
            # session, neither obtainable in this sandbox (no network/
            # pip).  The layout above maps 1:1 onto an Iceberg table
            # partitioned by superstep; swapping the three .parquet()
            # writes for .writeTo(f"{prefix}.{kind}").overwritePartitions()
            # is the whole port.  Documented in BASELINE.md (round 4).
            raise NotImplementedError(
                f"checkpoint format {fmt!r}: only 'parquet' is runnable "
                "in this environment (no Iceberg runtime jars); see "
                "module docstring for the Iceberg mapping"
            )
        self.fmt = fmt

    # paths ----------------------------------------------------------
    def _p(self, kind: str, superstep: int) -> str:
        return os.path.join(self.base, kind, f"superstep={superstep}")

    def _committed(self, kind: str, superstep: int) -> bool:
        return os.path.exists(os.path.join(self._p(kind, superstep), "_SUCCESS"))

    # write ----------------------------------------------------------
    def save(self, superstep: int, state: DataFrame, metrics: dict) -> None:
        """Commit one superstep: state + per-partition lineage + metrics.

        State is written first; metrics last — a superstep counts as
        committed only when its *metrics* ``_SUCCESS`` exists, so a
        crash mid-write never yields a half-checkpoint.
        """
        state.write.mode("overwrite").parquet(self._p("state", superstep))
        # lineage from the JUST-WRITTEN files, not the original plan:
        # re-aggregating `state` would execute its whole upstream plan
        # a second time per superstep (cheap only when the caller
        # happened to persist); partition ids here describe the
        # written layout — the thing a resume actually reads
        written = state.sparkSession.read.parquet(
            self._p("state", superstep)
        )
        lineage = (
            written.withColumn("partition_id", F.spark_partition_id())
            .groupBy("partition_id")
            .agg(F.count(F.lit(1)).alias("rows"))
            .withColumn("superstep", F.lit(superstep))
        )
        lineage.coalesce(1).write.mode("overwrite").parquet(
            self._p("lineage", superstep)
        )
        spark = state.sparkSession
        # every metric is stored as a double: coerce NOW so a
        # non-numeric value fails loudly here instead of being
        # silently nulled by from_json against the double schema;
        # reserved keys would produce a duplicate DDL column
        for k in metrics:
            if k in ("superstep", "wall_ts"):
                raise ValueError(f"metric name {k!r} is reserved")
        metrics = {k: float(v) for k, v in metrics.items()}
        mrow = {"superstep": superstep, "wall_ts": time.time(), **metrics}
        # schema built without a trailing separator: an empty metrics
        # dict previously produced "..., " which Spark's DDL parser
        # rejects with a ParseException
        schema = ", ".join(
            ["superstep int", "wall_ts double"]
            + [f"`{k}` double" for k in metrics]
        )
        spark.createDataFrame([json.dumps(mrow)], "string").select(
            F.from_json("value", schema).alias("m")
        ).select("m.*").coalesce(1).write.mode("overwrite").parquet(
            self._p("metrics", superstep)
        )

    # read -----------------------------------------------------------
    def latest_superstep(self) -> int | None:
        mdir = os.path.join(self.base, "metrics")
        if not os.path.isdir(mdir):
            return None
        steps = [
            int(d.split("=", 1)[1])
            for d in os.listdir(mdir)
            if d.startswith("superstep=")
            and self._committed("metrics", int(d.split("=", 1)[1]))
            and self._committed("state", int(d.split("=", 1)[1]))
        ]
        return max(steps) if steps else None

    def load_state(self, spark: SparkSession, superstep: int) -> DataFrame:
        return spark.read.parquet(self._p("state", superstep))

    def load_metrics(self, spark: SparkSession) -> DataFrame | None:
        """Metrics of COMMITTED supersteps only — an uncommitted
        (crash-truncated, no ``_SUCCESS``) superstep dir must not
        contribute phantom rows (the same commit rule
        ``latest_superstep`` applies).  Returns ``None`` when no
        superstep has committed yet (mirrors ``latest_superstep`` —
        a crash before the first commit is an expected state for a
        resume/monitoring caller, not an exception)."""
        mdir = os.path.join(self.base, "metrics")
        if not os.path.isdir(mdir):
            return None
        paths = [
            os.path.join(mdir, d)
            for d in sorted(os.listdir(mdir))
            if d.startswith("superstep=")
            and self._committed("metrics", int(d.split("=", 1)[1]))
        ]
        if not paths:
            return None
        return spark.read.option("basePath", mdir).parquet(*paths)

