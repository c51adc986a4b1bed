"""A Gremlin-flavored fluent traversal surface compiling to DataFrame
plans — the user-facing API of the reference's interactive engine
(GIE; ``interactive_engine/``, queries like
``g.V().hasLabel(..).out().out().count()``).  SURVEY §2.5 maps GIE's
dataflow operators 1:1 onto Spark relational primitives; this module
gives those mappings the traversal SYNTAX a GIE user actually writes,
so their call sites port almost verbatim.

Semantics follow Gremlin's bag (multiset) model: ``out()`` from a
traverser multiset keeps duplicates (two paths into the same vertex =
two traversers) — hence plain joins, with ``dedup()`` as the explicit
set collapse.  Every step is lazy; the plan stays declarative until a
terminal (``count / toDF / values``), so Catalyst sees the whole
pipeline (filter pushdown through the hops, join reordering).

Supported steps: ``V, E, has, hasId, out, in_, both, outE, inE,
bothE, otherV, bothV, limit, dedup, values, valueMap, select, count,
where_, path, as_/select (tag steps), order_by, coin, shortestPath`` (enable path
tracking with ``V(..., track_path=True)`` — each hop then appends to
an array column, Gremlin's ``path()`` history).  Hops accept an
optional edge-label filter (``out("knows")``) when the edge table
carries a ``label`` column (property-graph projections keep it).
``coin(p)`` is a DETERMINISTIC pseudo-coin (md5-derived h60 on the
element id, same engine-portable trick as ``rel_sample``), not
``rand()`` — reruns agree.
"""
from __future__ import annotations

from pyspark.sql import Column, DataFrame, functions as F

from .graph import Graph


class Traversal:
    """A lazy traverser multiset: a DataFrame with the current element
    in column ``id`` (vertices) or ``src/dst`` (edges), plus any
    retained vertex property columns."""

    def __init__(
        self, graph: Graph, df: DataFrame, kind: str, anchor: str = "src"
    ):
        self._g = graph
        self._df = df
        self._kind = kind  # "v" | "e"
        # For edge traversals: which endpoint column the current
        # traverser vertex sits on ("src" after outE/bothE, "dst"
        # after inE) — otherV() steps to the opposite endpoint.
        self._anchor = anchor

    # ---------------------------------------------------------- filters
    def has(self, column: str, value=None) -> "Traversal":
        """``has('prop', v)`` — property equality (or non-null when
        ``value`` is None); accepts a Column predicate too.

        Vertex traversals carry only ``id`` (+ tags/path), so a vertex
        property is joined in from the vertex table on demand and
        dropped again after the filter — the canonical
        ``g.V().has('color', 'red').out()...`` works at any hop."""
        if isinstance(value, Column):
            pred = value
        elif value is None:
            pred = F.col(column).isNotNull()
        else:
            pred = F.col(column) == F.lit(value)
        df = self._df
        joined_prop = False
        if (
            self._kind == "v"
            and column not in df.columns
            and column in self._g.vertices.columns
        ):
            df = df.join(
                self._g.vertices.select("id", column), "id", "left"
            )
            joined_prop = True
        df = df.where(pred)
        if joined_prop:
            df = df.drop(column)
        return Traversal(self._g, df, self._kind, self._anchor)

    def hasId(self, *ids) -> "Traversal":
        key = "id" if self._kind == "v" else self._anchor
        return Traversal(
            self._g,
            self._df.where(F.col(key).isin(*ids)),
            self._kind,
            self._anchor,
        )

    def where_(self, pred: Column) -> "Traversal":
        return Traversal(
            self._g, self._df.where(pred), self._kind, self._anchor
        )

    # ------------------------------------------------------------- hops
    def _carry(self) -> list[str]:
        """Columns that ride along through hops: the path history and
        any ``as_()`` tags."""
        return [
            c for c in self._df.columns
            if c == "p" or c.startswith("_tag_")
        ]

    def _hop(self, edges: DataFrame, from_col: str, to_col: str,
             label: str | None = None):
        assert self._kind == "v", "hop from a vertex traversal"
        if label is not None:
            assert "label" in edges.columns, (
                "edge-label hop filter needs a 'label' edge column"
            )
            edges = edges.where(F.col("label") == F.lit(label))
        carry = self._carry()
        stepped = self._df.select(
            F.col("id").alias(from_col), *carry
        ).join(edges.select(from_col, to_col), from_col)
        cols = [F.col(to_col).alias("id")]
        for c in carry:
            if c == "p":
                cols.append(
                    F.concat(F.col("p"), F.array(F.col(to_col))).alias("p")
                )
            else:
                cols.append(F.col(c))
        return stepped.select(*cols)

    def out(self, label: str | None = None) -> "Traversal":
        return Traversal(
            self._g, self._hop(self._g.edges, "src", "dst", label), "v"
        )

    def in_(self, label: str | None = None) -> "Traversal":
        return Traversal(
            self._g, self._hop(self._g.edges, "dst", "src", label), "v"
        )

    def both(self, label: str | None = None) -> "Traversal":
        return Traversal(
            self._g,
            self._hop(self._both_edges(), "src", "dst", label),
            "v",
        )

    def _both_edges(self) -> DataFrame:
        """Both-direction edge multiset with BAG semantics — one row
        per INCIDENT EDGE per direction.  Directed: fwd+rev without
        dedup, so reciprocal edges (u→v AND v→u) stay two incident
        edges (dedup collapsed them, under-counting traversers).
        Undirected: dedup'd symmetrization — storage-agnostic (one or
        both directions on disk), each unordered edge once per side.
        Self-loops (dropped by symmetrized_edges) are traversed twice,
        once per loop end (TinkerPop)."""
        if self._g.directed:
            e = self._g.symmetrized_edges(dedup=False)
        else:
            e = self._g.symmetrized_edges()
        loops = self._g.edges.where(F.col("src") == F.col("dst"))
        if not self._g.directed:
            loops = loops.dropDuplicates(["src", "dst"])
        loops = loops.select(*e.columns)
        return e.unionByName(loops).unionByName(loops)

    def outE(self) -> "Traversal":
        assert self._kind == "v"
        e = self._df.select(
            F.col("id").alias("src"), *self._carry()
        ).join(self._g.edges, "src")
        return Traversal(self._g, e, "e", anchor="src")

    def inE(self) -> "Traversal":
        assert self._kind == "v"
        e = self._df.select(
            F.col("id").alias("dst"), *self._carry()
        ).join(self._g.edges, "dst")
        return Traversal(self._g, e, "e", anchor="dst")

    def bothE(self) -> "Traversal":
        assert self._kind == "v"
        e = self._df.select(
            F.col("id").alias("src"), *self._carry()
        ).join(self._both_edges(), "src")
        return Traversal(self._g, e, "e", anchor="src")

    def _land(self, endpoint: str) -> list:
        """Projection landing a vertex traversal on ``endpoint`` of an
        edge DF: tags ride through unchanged; the path history (vertex
        ids — edges are not recorded in it) appends the landed id."""
        cols = [F.col(endpoint).alias("id")]
        for c in self._carry():
            if c == "p":
                cols.append(
                    F.concat(F.col("p"), F.array(F.col(endpoint)))
                    .alias("p")
                )
            else:
                cols.append(F.col(c))
        return cols

    def otherV(self) -> "Traversal":
        """Step to the endpoint OPPOSITE the anchored one: after
        ``inE()`` the traverser sits on ``dst``, so otherV is the
        incoming edge's ``src``; after ``outE()``/``bothE()`` it's
        ``dst``."""
        assert self._kind == "e", "otherV steps off an edge traversal"
        other = "src" if self._anchor == "dst" else "dst"
        return Traversal(self._g, self._df.select(*self._land(other)), "v")

    def bothV(self) -> "Traversal":
        """Both endpoints of each edge traverser (bag: one traverser
        per endpoint, Gremlin ``bothV()``)."""
        assert self._kind == "e", "bothV steps off an edge traversal"
        ends = self._df.select(*self._land("src")).unionByName(
            self._df.select(*self._land("dst"))
        )
        return Traversal(self._g, ends, "v")

    # -------------------------------------------------------- tag steps
    def as_(self, name: str) -> "Traversal":
        """Gremlin ``as('a')``: tag the current element; the tag rides
        through later hops for ``select_``."""
        key = "id" if self._kind == "v" else self._anchor
        return Traversal(
            self._g,
            self._df.withColumn(f"_tag_{name}", F.col(key)),
            self._kind,
            self._anchor,
        )

    def select_(self, *names: str) -> DataFrame:
        """Gremlin ``select('a', 'b')``: project the tagged elements
        (columns named after the tags)."""
        missing = [n for n in names
                   if f"_tag_{n}" not in self._df.columns]
        assert not missing, f"unknown tags {missing}; use as_() first"
        return self._df.select(
            *[F.col(f"_tag_{n}").alias(n) for n in names]
        )

    def order_by(self, prop: str | None = None) -> "Traversal":
        """Gremlin ``order()[.by('prop')]``: order traversers by a
        vertex property (joins the vertex table) or by element key.
        Ordering is a presentation step — Spark does not guarantee it
        survives further shuffling, so put it last (as Gremlin users
        do)."""
        key = "id" if self._kind == "v" else self._anchor
        if prop is None:
            return Traversal(
                self._g, self._df.orderBy(key), self._kind, self._anchor
            )
        assert self._kind == "v", "order().by(prop) on vertices"
        joined = (
            self._df.join(
                self._g.vertices.select("id", prop), "id", "left"
            )
            .orderBy(F.col(prop), F.col("id"))
            .drop(prop)
        )
        return Traversal(self._g, joined, "v")

    def coin(self, p: float) -> "Traversal":
        """Gremlin ``coin(p)`` — DETERMINISTIC: keeps elements whose
        md5-derived ``h60(id)`` falls under ``p`` (engine-portable,
        rerun-stable; same device as the ``rel_sample`` demo), not a
        ``rand()`` draw."""
        from .functions.text import h60

        if self._kind == "v":
            key = F.col("id").cast("string")
        else:
            # hash the EDGE, not the anchored endpoint: anchoring
            # would keep/drop a vertex's whole incident-edge block
            # together (wildly off-p on hub-skewed graphs)
            key = F.concat_ws(
                ":", F.col("src").cast("string"),
                F.col("dst").cast("string"),
            )
        keep = h60(
            F.concat(F.lit("coin:"), key)
        ) < F.lit(int(p * float(1 << 60)))
        return Traversal(
            self._g, self._df.where(keep), self._kind, self._anchor
        )

    # ----------------------------------------------------------- shape
    def dedup(self) -> "Traversal":
        """Gremlin ``dedup()``: one traverser per CURRENT element —
        with path tracking or tags active, dedup still collapses by
        the element (an arbitrary surviving traverser keeps its
        path/tags, as in TinkerPop); without carry columns it is a
        plain distinct."""
        key = ["id"] if self._kind == "v" else ["src", "dst"]
        extra = [c for c in self._df.columns if c not in key]
        df = (
            self._df.dropDuplicates(key) if extra else self._df.distinct()
        )
        return Traversal(self._g, df, self._kind, self._anchor)

    def limit(self, n: int) -> "Traversal":
        # deterministic: Gremlin's limit is arbitrary-order; ours
        # orders by element key so reruns agree
        key = "id" if self._kind == "v" else self._anchor
        return Traversal(
            self._g,
            self._df.orderBy(key).limit(n),
            self._kind,
            self._anchor,
        )

    def repeat(self, step: str, times: int,
               emit: bool = False) -> "Traversal":
        """Gremlin ``repeat(out()).times(k)``: apply ``step`` ("out",
        "in_", "both") ``times`` times — the plan stays one lazy
        chain of joins, so Catalyst optimizes the whole unrolled
        pipeline.  With ``emit=True`` (Gremlin
        ``repeat(out()).emit().times(k)`` — emit-after placement) the
        result is the bag union of every intermediate level 1..k, as
        one DataFrame union of the unrolled branches."""
        if emit and times < 1:
            raise ValueError("repeat(..., emit=True) needs times >= 1")
        t = self
        levels = []
        for _ in range(times):
            t = getattr(t, step)()
            if emit:
                levels.append(t)
        if not emit:
            return t
        df = levels[0]._df
        for lv in levels[1:]:
            df = df.unionByName(lv._df)
        return Traversal(self._g, df, t._kind, t._anchor)

    def simplePath(self) -> "Traversal":
        """Gremlin ``simplePath()``: keep only traversers whose path
        history has no repeated vertex (requires
        ``V(..., track_path=True)``) — a JVM-side array predicate, no
        per-row Python."""
        assert "p" in self._df.columns, (
            "start the traversal with track_path=True to use "
            "simplePath()"
        )
        df = self._df.where(
            F.size(F.array_distinct(F.col("p"))) == F.size(F.col("p"))
        )
        return Traversal(self._g, df, self._kind, self._anchor)

    def shortestPath(
        self,
        target: int | None = None,
        max_hops: int = 15,
        all_shortest: bool = False,
        symmetrize: bool | None = None,
    ) -> DataFrame:
        """GIE PathExpand shortest-path variants
        (``executor/ir/proto/physical.proto:213-260``:
        ``ANY_SHORTEST`` / ``ALL_SHORTEST``) as a traversal step,
        delegating to the BFS frontier machinery
        (``operators/traversal.bfs``) plus deterministic path
        reconstruction.

        ``g.V(src).shortestPath()`` → one row per reached vertex
        ``(id, hops, path array<long>)`` carrying THE shortest path
        chosen by the min-id predecessor convention (the same
        determinism device as ``sssp_path`` / ``bfs_tree``);
        ``shortestPath(target=t)`` filters to one endpoint;
        ``all_shortest=True`` (requires ``target``) enumerates EVERY
        shortest path source→target: ``(path, hops)`` rows, unfolded
        backwards from the target over the full predecessor multiset
        so the work is bounded by the actual path count, never an
        exponential expansion of non-shortest walks.

        Edge direction follows the graph: out-edges for directed
        graphs (GIE's default expand direction), the symmetrized set
        for undirected — override with ``symmetrize``."""
        from .operators.traversal import bfs
        from .plans.superstep import LineageCuts

        assert self._kind == "v", "shortestPath starts from vertices"
        rows = self._df.select("id").distinct().limit(2).collect()
        if len(rows) != 1:
            raise ValueError(
                "shortestPath() needs exactly one source vertex — "
                "start the traversal g.V(<id>).shortestPath(...)"
            )
        src = int(rows[0]["id"])
        g = self._g
        if symmetrize is None:
            symmetrize = not g.directed
        spark = self._df.sparkSession
        # localCheckpoint, not persist: the reconstruction loop below
        # re-embeds this plan every round — persist() keeps the blocks
        # but NOT the truncated plan, and the D-fold re-embedded BFS
        # lineage OOMs the driver inside explainString (the repo's
        # known lineage cliff)
        depth = bfs(g, src, depth_limit=max_hops,
                    symmetrize=symmetrize).localCheckpoint(eager=True)
        dmax = depth.agg(F.max("depth")).collect()[0][0]
        dmax = int(dmax or 0)
        edges = (g.symmetrized_edges() if symmetrize
                 else g.edges).select("src", "dst")
        du = depth.select(F.col("id").alias("src"),
                          F.col("depth").alias("du"))
        # predecessor multiset: u→v on a shortest path iff
        # depth(u) + 1 == depth(v)
        preds_all = (
            edges.join(du, "src")
            .join(depth.withColumnRenamed("id", "dst"), "dst")
            .where(F.col("du") + 1 == F.col("depth"))
            .select(F.col("dst").alias("id"), F.col("src").alias("pred"))
            .localCheckpoint(eager=True)
        )
        if all_shortest:
            if target is None:
                raise ValueError("all_shortest=True requires a target")
            state = spark.createDataFrame(
                [([int(target)], int(target))], "path array<long>, head long"
            )
            done = state.where(F.col("head") == src).select("path")
            with LineageCuts(spark, "gie_paths") as cuts:
                for i in range(dmax):
                    state = (
                        state.where(F.col("head") != src)
                        .join(preds_all.withColumnRenamed("id", "head"), "head")
                        .select(
                            F.concat(F.array(F.col("pred")), F.col("path"))
                            .alias("path"),
                            F.col("pred").alias("head"),
                        )
                    )
                    state = cuts.maybe(state, i)
                    done = done.unionByName(
                        state.where(F.col("head") == src).select("path")
                    )
                return cuts.keep(done.select(
                    "path", (F.size("path") - 1).cast("int").alias("hops")
                ))
        tree = (
            preds_all.groupBy("id").agg(F.min("pred").alias("pred"))
            .localCheckpoint(eager=True)
        )
        state = depth.select(
            "id", F.array(F.col("id")).alias("path"),
            F.col("id").alias("head"),
        )
        with LineageCuts(spark, "gie_paths") as cuts:
            for i in range(dmax):
                state = (
                    state.join(tree.withColumnRenamed("id", "head"),
                               "head", "left")
                    .select(
                        "id",
                        F.when(F.col("pred").isNotNull(),
                               F.concat(F.array(F.col("pred")), F.col("path")))
                        .otherwise(F.col("path")).alias("path"),
                        F.coalesce("pred", "head").alias("head"),
                    )
                )
                state = cuts.maybe(state, i)
            out = state.join(depth.withColumnRenamed("depth", "hops"), "id")
            if target is not None:
                out = out.where(F.col("id") == int(target))
            return cuts.keep(out.select("id", F.col("hops").cast("int"), "path"))

    # -------------------------------------------------------- terminals
    def groupCount(self) -> DataFrame:
        """Gremlin ``groupCount()``: traverser multiplicity per
        element — ``(id, n)``."""
        key = "id" if self._kind == "v" else self._anchor
        return self._df.groupBy(key).agg(
            F.count(F.lit(1)).cast("long").alias("n")
        )

    def values(self, *columns: str) -> DataFrame:
        """Project vertex properties (joins the vertex table)."""
        assert self._kind == "v"
        return self._df.join(self._g.vertices, "id").select(
            "id", *columns
        )

    def valueMap(self, *columns: str) -> DataFrame:
        """Gremlin ``valueMap('p1', 'p2')`` — all vertex properties
        when called with no args."""
        assert self._kind == "v"
        cols = list(columns) or [
            c for c in self._g.vertices.columns if c != "id"
        ]
        return self.values(*cols)

    def select(self, *columns: str) -> DataFrame:
        return self._df.select(*columns)

    def count(self) -> int:
        return self._df.count()

    def toDF(self) -> DataFrame:
        return self._df

    def toList(self) -> list:
        key = "id" if self._kind == "v" else self._anchor
        return [r[0] for r in self._df.orderBy(key).collect()]

    def path(self) -> DataFrame:
        """Gremlin ``path()``: the full hop history of each traverser
        as an array column (requires ``V(..., track_path=True)``)."""
        assert "p" in self._df.columns, (
            "start the traversal with track_path=True to record paths"
        )
        return self._df.select(F.col("p").alias("path"))


class GraphTraversalSource:
    """``g = traversal(graph); g.V()...`` — the GIE entry object."""

    def __init__(self, graph: Graph):
        self._g = graph

    def V(self, *ids, track_path: bool = False) -> Traversal:
        df = self._g.vertices.select("id")
        if ids:
            df = df.where(F.col("id").isin(*ids))
        if track_path:
            df = df.withColumn("p", F.array(F.col("id")))
        return Traversal(self._g, df, "v")

    def E(self, track_path: bool = False) -> Traversal:
        """All-edge source.  With ``track_path``, the history starts
        at the anchored endpoint (``src``) — paths record VERTEX ids
        (edges are not path elements in this engine), so
        ``E().otherV().path()`` yields ``[src, dst]`` per edge."""
        df = self._g.edges
        if track_path:
            df = df.withColumn("p", F.array(F.col("src")))
        return Traversal(self._g, df, "e", anchor="src")


def traversal(graph: Graph) -> GraphTraversalSource:
    return GraphTraversalSource(graph)
