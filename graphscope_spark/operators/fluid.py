"""Fluid communities — deterministic synchronous variant.

Reference: ``apps/flash/clustering/fluid-community.h`` (Parés et al.,
"Fluid Communities: A Competitive, Scalable and Diverse Community
Detection Algorithm", 2017).  The reference app seeds ``s = 10``
communities with ``rand_r(time(NULL))`` and updates labels in a
``VertexMapSeq`` sweep whose community-size counters mutate *during*
the sweep — output depends on wall-clock seed and fragment visit
order, so it cannot be oracled (its own test only checks the app
runs).  This module keeps the fluid dynamics but makes every choice
deterministic and synchronous:

- seeds: the ``s`` vertices minimizing ``(h60('f:' || id), id)`` — a
  reproducible pseudo-random draw both engines can replay;
- per round, community sizes ``cnt[l]`` are frozen from the previous
  round's labels (synchronous, not mid-sweep);
- density at ``v`` of community ``l``: ``d[l] = k_l / cnt[l]`` where
  ``k_l`` counts ``v`` itself plus neighbors carrying ``l`` — ONE
  IEEE double division of two exact integers, so the value is
  bit-identical across engines (no order-dependent float summation);
- ``v`` switches to ``argmax_l (d[l], -l)`` (max density, min label
  on exact ties) only when strictly better than its current
  community's density by the reference's ``1e-10`` margin; unlabeled
  vertices adopt the argmax outright;
- period-2 damping: a vertex never switches BACK to the label it
  held two rounds ago (the reference tracks the same ``l1``/``l2``
  pair to detect these oscillations and stop; refusing the flip-back
  makes the synchronous dynamics settle instead of cycling, so a
  fixed round count is a true fixpoint).

Spark shape per round (same family as ``cdlp``): one edge⋈label join
feeding a ``groupBy(id, lab)`` count, a broadcast of the ≤ ``s``-row
size table, and one argmax aggregation — the label histogram shrinks
as communities stabilize, so AQE stays on like cdlp's.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.storagelevel import StorageLevel

from graphscope_spark.functions.text import h60
from graphscope_spark.graph import Graph
from graphscope_spark.plans import superstep


def fluid_community(
    graph: Graph,
    num_communities: int = 10,
    rounds: int = 20,
) -> DataFrame:
    """Returns ``(id long, community long)`` — the seed vertex id of
    the community after exactly ``rounds`` synchronous rounds, or
    ``-1`` for vertices no seed's fluid ever reached."""
    spark = graph.vertices.sparkSession
    n_part = int(spark.conf.get("spark.sql.shuffle.partitions"))

    seed_rows = (
        graph.vertices.select("id")
        .orderBy(h60(F.concat(F.lit("f:"), F.col("id").cast("string"))), "id")
        .limit(num_communities)
        .collect()
    )  # bounded: exactly num_communities rows
    seed_ids = [r["id"] for r in seed_rows]

    if graph.directed:
        edges = (
            graph.edges.select("src", "dst")
            .unionByName(graph.reversed_edges().select("src", "dst"))
            .distinct()
        )
    elif getattr(graph, "edges_symmetric", False):
        # .undirected() stores both directions — skip the dedup
        edges = graph.edges.select("src", "dst")
    else:
        # storage-agnostic: identical whether the undirected table
        # holds one direction or both (see operators/cdlp.py)
        edges = graph.symmetrized_edges().select("src", "dst")
    edges = edges.where(F.col("src") != F.col("dst"))
    if graph.num_partitions:
        edges = edges.repartition(graph.num_partitions, "src")
    edges = edges.persist(StorageLevel.MEMORY_AND_DISK)

    def step(state: DataFrame, rnd: int) -> DataFrame:
        labeled = state.where(F.col("lab").isNotNull())
        cnt = labeled.groupBy("lab").agg(F.count("*").alias("c"))
        incident = (
            edges.join(
                labeled.select(
                    F.col("id").alias("src"), F.col("lab")
                ),
                "src",
            )
            .select(F.col("dst").alias("id"), "lab")
            .unionByName(labeled.select("id", "lab"))
        )
        k = (
            incident.repartition(n_part, "id")
            .groupBy("id", "lab")
            .agg(F.count("*").alias("k"))
        )
        d = k.join(F.broadcast(cnt), "lab").select(
            "id",
            "lab",
            (F.col("k").cast("double") / F.col("c")).alias("d"),
        )
        # one co-partitioned join (d and state both hashed by id) +
        # ONE aggregation yields both the argmax candidate and the
        # current community's density — no separate best/cur joins
        scored = d.join(
            state.select("id", F.col("lab").alias("slab")), "id"
        )
        agg = scored.groupBy("id").agg(
            F.max(
                F.struct(F.col("d"), (-F.col("lab")).alias("nl"))
            ).alias("m"),
            F.max(
                F.when(F.col("lab") == F.col("slab"), F.col("d"))
            ).alias("cd"),
        )
        prop = (-F.col("m.nl")).cast("long")
        new_state = (
            state.join(agg, "id", "left")
            .select(
                "id",
                F.when(F.col("m").isNull(), F.col("lab"))
                .when(
                    (
                        F.col("lab").isNull()
                        | (F.col("m.d") > F.col("cd") + F.lit(1e-10))
                    )
                    & (F.col("plab").isNull() | (prop != F.col("plab"))),
                    prop,
                )
                .otherwise(F.col("lab"))
                .alias("lab"),
                F.col("lab").alias("plab"),
            )
        )
        return new_state

    zero_streak = [0]

    def action(new: DataFrame, old: DataFrame):
        # (lab, plab) -> next state is a deterministic map, so two
        # consecutive zero-change rounds mean the state is absorbing:
        # exiting early returns exactly what `rounds` rounds would
        changed = new.where(~F.col("lab").eqNullSafe(F.col("plab"))).count()
        zero_streak[0] = zero_streak[0] + 1 if changed == 0 else 0
        return {"changed": float(changed)}, zero_streak[0] >= 2

    state = superstep.run(
        spark, "fluid",
        lambda: graph.vertices.select(
            "id",
            F.when(F.col("id").isin(seed_ids), F.col("id"))
            .cast("long")
            .alias("lab"),
            F.lit(None).cast("long").alias("plab"),
        ),
        step, action, rounds,
        # a round reads the previous state five times: 20 rounds on a
        # 200-vertex graph took 7.2 s cut every round, 64.1 s every 5th
        every=1,
    )
    edges.unpersist()
    return state.select(
        "id", F.coalesce("lab", F.lit(-1)).cast("long").alias("community")
    )
