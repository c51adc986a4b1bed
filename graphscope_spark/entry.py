"""Driver-facing query registry: Spark queries + DuckDB oracle SQL.

Every implemented operator (SURVEY.md §2) is exposed twice, in
lockstep:

- a Spark callable ``(spark, sf_dir) -> DataFrame`` running the real
  engine code;
- an equivalent ANSI-SQL string for DuckDB over the same parquet
  tables — for the iterative graph apps the fixed number of supersteps
  is *unrolled* into chained CTEs by a generator function, so the
  oracle is the exact same algorithm executed by a completely
  independent engine.

The canonical graph for the graph queries is the **co-order part
graph** derived from ``lineitem``: vertices = part keys, a directed
edge ``a→b`` iff parts a<b appear in the same order (and the
symmetrized view of it for the undirected apps).  It is deterministic,
derivable identically in SQL, and skewed enough (hot parts) to
exercise the hub paths.

Float columns are rounded in BOTH engines before comparison so that
summation-order differences (Spark partial aggregation vs DuckDB
sequential) cannot flip the value hash; rounding precision is chosen
per column so the fp error (≤1e-9 relative) sits far below the
rounding boundary.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from graphscope_spark.graph import Graph
from graphscope_spark.operators.cdlp import cdlp
from graphscope_spark.operators.centrality import degree_centrality
from graphscope_spark.operators.clustering import lcc
from graphscope_spark.operators.pagerank import pagerank
from graphscope_spark.operators.traversal import bfs
from graphscope_spark.operators.triangles import triangle_list, triangles
from graphscope_spark.operators.wcc import wcc

TABLES = [
    "region", "nation", "customer", "supplier", "part", "orders",
    "lineitem", "events", "documents", "embeddings",
]


def load(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/{name}.parquet")


# --------------------------------------------------------------------
# canonical graph: co-order part graph from lineitem
# --------------------------------------------------------------------

def _coorder_pairs(li: DataFrame) -> DataFrame:
    """All ``src < dst`` co-order part pairs, one row PER CO-ORDER
    (not deduped) — the single shared expansion under part_edges /
    part_graph_min2 / q_prop_project, which respectively dedupe,
    threshold, and weight it.  ONE shuffle (group per order) then
    in-line pair expansion beats the two-shuffle self-join ~20% at
    sf0.1; per-order group size is bounded (≤7 lineitems) so the
    quadratic expansion cannot skew."""
    lists = li.groupBy("l_orderkey").agg(
        F.collect_set("l_partkey").alias("ps")
    )
    return (
        lists.select(
            F.explode(
                F.expr(
                    "filter(flatten(transform(ps,"
                    " x -> transform(ps, y -> struct(x as src, y as dst)))),"
                    " p -> p.src < p.dst)"
                )
            ).alias("p")
        )
        .select("p.src", "p.dst")
    )


def part_edges(spark: SparkSession, sf_dir: str) -> tuple[DataFrame, DataFrame]:
    """(vertices(id), directed edges(src,dst)) of the co-order graph.

    Directed convention: src < dst (part-key order), distinct pairs.
    """
    li = load(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey")
    verts = li.select(F.col("l_partkey").alias("id")).distinct()
    dedges = _coorder_pairs(li).distinct()
    return verts, dedges


def part_graph(spark: SparkSession, sf_dir: str) -> Graph:
    verts, dedges = part_edges(spark, sf_dir)
    return Graph.from_edges(dedges, directed=True, vertices=verts)


def part_graph_undirected(spark: SparkSession, sf_dir: str) -> Graph:
    return part_graph(spark, sf_dir).undirected()


def part_graph_min2(spark: SparkSession, sf_dir: str) -> Graph:
    """Thresholded co-order graph: pairs co-ordered in ≥ 2 DISTINCT
    orders, undirected.  The full co-order graph is one dense
    biconnected blob (0 bridges / 0 articulation points at every SF);
    this thresholded variant keeps the realistic sparse backbone —
    8 components, hundreds of bridges and cut vertices at sf0.01 — so
    the connectivity-structure queries have non-trivial answers."""
    li = load(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey")
    dedges = (
        _coorder_pairs(li)
        .groupBy("src", "dst")
        .agg(F.count(F.lit(1)).alias("c"))
        .where(F.col("c") >= 2)
        .select("src", "dst")
    )
    verts = (
        dedges.select(F.col("src").alias("id"))
        .unionByName(dedges.select(F.col("dst").alias("id")))
        .distinct()
    )
    return Graph.from_edges(dedges, directed=False, vertices=verts)


# SQL prelude defining the same graph for DuckDB (views pre-registered)
_G = """\
li AS (SELECT l_orderkey, l_partkey FROM lineitem),
verts AS (SELECT DISTINCT l_partkey AS id FROM li),
dedges AS (SELECT DISTINCT a.l_partkey AS src, b.l_partkey AS dst
           FROM li a JOIN li b
           ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey),
sym AS (SELECT src, dst FROM dedges
        UNION ALL SELECT dst AS src, src AS dst FROM dedges)"""

# min2 variant: pairs co-ordered in >= 2 distinct orders (sparse
# backbone with real bridge/articulation structure; the full co-order
# graph is one biconnected blob)
_G2 = """\
li AS (SELECT l_orderkey, l_partkey FROM lineitem),
pair1 AS (SELECT DISTINCT a.l_orderkey AS ok, a.l_partkey AS src,
                 b.l_partkey AS dst
          FROM li a JOIN li b
          ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey),
dedges AS (SELECT src, dst FROM (
           SELECT src, dst, count(*) AS c FROM pair1 GROUP BY src, dst)
           WHERE c >= 2),
verts AS (SELECT src AS id FROM dedges UNION SELECT dst FROM dedges),
sym AS (SELECT src, dst FROM dedges
        UNION ALL SELECT dst AS src, src AS dst FROM dedges)"""

_TRI = """\
udeg AS (SELECT v.id, count(e.src) AS d
         FROM verts v LEFT JOIN sym e ON e.src = v.id GROUP BY v.id),
o AS (SELECT e.src, e.dst FROM sym e
      JOIN udeg da ON da.id = e.src JOIN udeg db ON db.id = e.dst
      WHERE (da.d < db.d) OR (da.d = db.d AND e.src < e.dst)),
t AS (SELECT e1.src AS a, e1.dst AS b, e2.dst AS c
      FROM o e1 JOIN o e2 ON e1.dst = e2.src
      JOIN o e3 ON e3.src = e1.src AND e3.dst = e2.dst),
tric AS (SELECT id, count(*) AS cnt FROM (
           SELECT a AS id FROM t UNION ALL SELECT b FROM t
           UNION ALL SELECT c FROM t) GROUP BY id)"""


def _pagerank_sql(rounds: int = 10, alpha: float = 0.85) -> str:
    parts = [
        _G,
        "deg AS (SELECT v.id, count(e.src) AS outdeg\n"
        "        FROM verts v LEFT JOIN dedges e ON e.src = v.id GROUP BY v.id)",
        "nn AS (SELECT count(*)::DOUBLE AS n FROM verts)",
        "r0 AS (SELECT id, 1.0/(SELECT n FROM nn) AS rank FROM verts)",
    ]
    for k in range(rounds):
        parts.append(
            f"d{k} AS (SELECT coalesce(sum(r.rank), 0)*{alpha!r} AS ds\n"
            f"        FROM r{k} r JOIN deg ON deg.id = r.id WHERE deg.outdeg = 0)"
        )
        parts.append(
            f"m{k} AS (SELECT e.dst AS id, sum(r.rank / deg.outdeg) AS s\n"
            f"        FROM dedges e JOIN r{k} r ON e.src = r.id\n"
            f"        JOIN deg ON deg.id = r.id GROUP BY e.dst)"
        )
        parts.append(
            f"r{k + 1} AS (SELECT v.id,\n"
            f"        {alpha!r}*coalesce(m.s, 0.0)"
            f" + ({1.0 - alpha!r} + (SELECT ds FROM d{k}))/(SELECT n FROM nn)"
            f" AS rank\n"
            f"        FROM verts v LEFT JOIN m{k} m ON m.id = v.id)"
        )
    return (
        "WITH " + ",\n".join(parts)
        + f"\nSELECT id, round(rank, 6) AS rank FROM r{rounds}"
    )


def _wcc_sql(rounds: int = 8) -> str:
    parts = [_G, "s0 AS (SELECT id, id AS comp FROM verts)"]
    for k in range(rounds):
        parts.append(
            f"s{k + 1} AS (SELECT s.id,"
            f" least(s.comp, coalesce(m.mn, s.comp)) AS comp\n"
            f"        FROM s{k} s LEFT JOIN (\n"
            f"          SELECT e.dst AS id, min(s2.comp) AS mn\n"
            f"          FROM sym e JOIN s{k} s2 ON e.src = s2.id GROUP BY e.dst\n"
            f"        ) m ON m.id = s.id)"
        )
    return "WITH " + ",\n".join(parts) + f"\nSELECT id, comp FROM s{rounds}"


def _cdlp_sql(rounds: int = 10) -> str:
    parts = [_G, "l0 AS (SELECT id, id AS label FROM verts)"]
    for k in range(rounds):
        parts.append(
            f"w{k} AS (SELECT id, label AS lbl FROM (\n"
            f"          SELECT e.dst AS id, s.label, count(*) AS cnt\n"
            f"          FROM sym e JOIN l{k} s ON e.src = s.id\n"
            f"          GROUP BY e.dst, s.label)\n"
            f"        QUALIFY row_number() OVER"
            f" (PARTITION BY id ORDER BY cnt DESC, label ASC) = 1)"
        )
        parts.append(
            f"l{k + 1} AS (SELECT s.id, coalesce(w.lbl, s.label) AS label\n"
            f"        FROM l{k} s LEFT JOIN w{k} w ON w.id = s.id)"
        )
    return "WITH " + ",\n".join(parts) + f"\nSELECT id, label FROM l{rounds}"


def _bfs_sql(rounds: int = 6) -> str:
    parts = [
        _G,
        "b0 AS (SELECT (SELECT min(id) FROM verts) AS id, 0 AS depth)",
    ]
    for k in range(rounds):
        parts.append(
            f"b{k + 1} AS (SELECT id, min(depth) AS depth FROM (\n"
            f"          SELECT id, depth FROM b{k}\n"
            f"          UNION ALL\n"
            f"          SELECT e.dst AS id, b.depth + 1 AS depth\n"
            f"          FROM b{k} b JOIN sym e ON e.src = b.id) GROUP BY id)"
        )
    return (
        "WITH " + ",\n".join(parts)
        + f"\nSELECT id, depth::BIGINT AS depth FROM b{rounds}"
    )


# --------------------------------------------------------------------
# query callables (Spark side)
# --------------------------------------------------------------------

def q_pagerank(spark, sf_dir):
    g = part_graph(spark, sf_dir)
    r = pagerank(g, alpha=0.85, max_iter=10, tol=0.0)
    return r.select("id", F.round("rank", 6).alias("rank"))


def q_wcc(spark, sf_dir):
    return wcc(part_graph(spark, sf_dir)).select("id", "comp")


def q_cdlp(spark, sf_dir):
    g = part_graph_undirected(spark, sf_dir)
    return cdlp(g, max_round=10).select("id", "label")


def q_triangles(spark, sf_dir):
    return triangles(part_graph(spark, sf_dir)).select("id", "tricnt")


def q_tri_count(spark, sf_dir):
    return triangle_list(part_graph(spark, sf_dir)).agg(
        F.count(F.lit(1)).alias("tri_count")
    )


def q_lcc(spark, sf_dir):
    return lcc(part_graph(spark, sf_dir)).select(
        "id", F.round("lcc", 6).alias("lcc")
    )


def q_degree_centrality(spark, sf_dir):
    g = part_graph(spark, sf_dir)
    return degree_centrality(g, "both").select(
        "id", F.round("dc", 6).alias("dc")
    )


def q_bfs(spark, sf_dir):
    g = part_graph(spark, sf_dir)
    source = g.vertices.agg(F.min("id")).collect()[0][0]
    return bfs(g, int(source), symmetrize=True).select("id", "depth")


def q_cypher_with(spark, sf_dir):
    """WITH pipeline through the driver protocol: aggregate out-degree
    per part, filter (the HAVING analog), pipe the survivors into a
    second MATCH over in-edges, and re-aggregate — two grouping
    stages in ONE lazy plan (``graphscope_spark.cypher``)."""
    from graphscope_spark.cypher import cypher

    verts, dedges = part_edges(spark, sf_dir)
    g = Graph.from_edges(dedges, directed=True, vertices=verts)
    return cypher(
        g,
        "MATCH (a)-->(b) WITH a, count(b) AS n WHERE n >= 5 "
        "MATCH (c)-->(a) RETURN a, n, count(c) AS m "
        "ORDER BY m DESC, a ASC LIMIT 20",
    )


_CYPHER_WITH_SQL = (
    "WITH " + _G + """,
deg AS (SELECT src AS a, count(*) AS n FROM dedges
        GROUP BY src HAVING count(*) >= 5)
SELECT d.a, d.n, count(*) AS m
FROM deg d JOIN dedges e ON e.dst = d.a
GROUP BY d.a, d.n
ORDER BY m DESC, a ASC LIMIT 20"""
)


def q_random_multi_bfs(spark, sf_dir):
    """FLASH random multi-source BFS (registry algo
    ``flash_random_multi_bfs``, ``random-multi-bfs.h:34``) on the
    directed co-order graph: 8 h60-picked sources, per-vertex MAX
    over the per-source hop distances, -1 when unreached."""
    from graphscope_spark.operators.traversal import random_multi_bfs

    return random_multi_bfs(part_graph(spark, sf_dir), k=8)


def _random_multi_bfs_sql(k: int = 8, rounds: int = 8) -> str:
    hp = _H60.format("'rmb:' || id::VARCHAR")
    parts = [
        _G,
        f"hp AS (SELECT id, {hp} AS hp FROM verts)",
        f"s AS (SELECT id AS source FROM hp ORDER BY hp, id LIMIT {k})",
        "m0 AS (SELECT source, source AS id, 0 AS d FROM s)",
    ]
    for r in range(rounds):
        parts.append(
            f"m{r + 1} AS (SELECT source, id, min(d) AS d FROM (\n"
            f"          SELECT source, id, d FROM m{r}\n"
            f"          UNION ALL\n"
            f"          SELECT m.source, e.dst AS id, m.d + 1 AS d\n"
            f"          FROM m{r} m JOIN dedges e ON e.src = m.id)\n"
            f"          GROUP BY source, id)"
        )
    return (
        "WITH " + ",\n".join(parts)
        + f""",
mx AS (SELECT id, max(d) AS res FROM m{rounds} GROUP BY id)
SELECT v.id, coalesce(mx.res, -1)::BIGINT AS res
FROM verts v LEFT JOIN mx ON mx.id = v.id"""
    )


def q_rel_group_agg(spark, sf_dir):
    li = load(spark, sf_dir, "lineitem")
    return (
        li.groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.round(F.sum("l_quantity"), 1).alias("sum_qty"),
            F.round(F.sum("l_extendedprice"), 1).alias("sum_base_price"),
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 1
            ).alias("sum_disc_price"),
            F.round(F.avg("l_quantity"), 4).alias("avg_qty"),
            F.count(F.lit(1)).alias("count_order"),
        )
    )


def q_rel_join_topk(spark, sf_dir):
    o = load(spark, sf_dir, "orders")
    c = load(spark, sf_dir, "customer")
    n = load(spark, sf_dir, "nation")
    return (
        o.join(c, o.o_custkey == c.c_custkey)
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .select("o_orderkey", "c_name", "n_name", "o_totalprice")
        .orderBy(F.desc("o_totalprice"), F.asc("o_orderkey"))
        .limit(10)
    )


def q_rel_dedup(spark, sf_dir):
    c = load(spark, sf_dir, "customer")
    n = load(spark, sf_dir, "nation")
    return (
        c.join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .select("c_mktsegment", "n_name")
        .distinct()
    )


def q_rel_antijoin(spark, sf_dir):
    # customers with no high-value order (anti join on a filtered side)
    c = load(spark, sf_dir, "customer")
    o = load(spark, sf_dir, "orders")
    big = o.where(F.col("o_totalprice") > 150000).withColumnRenamed(
        "o_custkey", "c_custkey"
    )
    return c.join(big, "c_custkey", "left_anti").select("c_custkey", "c_name")


def q_rel_window_topk(spark, sf_dir):
    from pyspark.sql import Window

    e = load(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy(
        F.desc("value"), F.asc("event_id")
    )
    return (
        e.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") == 1)
        .select("user_id", "event_id", F.round("value", 6).alias("value"))
    )


def q_rel_semijoin(spark, sf_dir):
    p = load(spark, sf_dir, "part")
    li = load(spark, sf_dir, "lineitem")
    return (
        p.where(F.col("p_size") > 40)
        .join(
            li.withColumnRenamed("l_partkey", "p_partkey"),
            "p_partkey",
            "left_semi",
        )
        .select("p_partkey", "p_name")
    )


# --------------------------------------------------------------------
# training-data pipeline queries (documents / embeddings tables)
# --------------------------------------------------------------------

# SQL mirrors of the text helpers (functions.text): h60 / norm / tokens
_H60 = "('0x' || substr(md5({0}), 1, 15))::BIGINT"
_NORM = "lower(regexp_replace(trim(text), '\\s+', ' ', 'g'))"
_TOKS = (
    "CASE WHEN len(trim(text)) = 0 THEN [] "
    f"ELSE string_split({_NORM}, ' ') END"
)

_DOC = f"""\
toks AS (SELECT doc_id, text, {_TOKS} AS t FROM documents),
sh AS (SELECT doc_id, unnest(list_distinct(
         CASE WHEN len(t) >= 3
              THEN list_transform(range(1, len(t) - 1),
                                  i -> array_to_string(t[i:i+2], ' '))
              ELSE [] END)) AS shingle
       FROM toks),
shsz AS (SELECT doc_id, count(*) AS sz FROM sh GROUP BY doc_id)"""


def q_dedup_exact(spark, sf_dir):
    from graphscope_spark.functions.dedup import exact_dedup_groups

    return exact_dedup_groups(load(spark, sf_dir, "documents"))


def q_line_dedup(spark, sf_dir):
    """CCNet-style duplicated-line removal
    (``functions/dedup.remove_duplicated_lines``): the synthetic
    documents are single-line, so the query first derives a
    deterministic multi-line corpus — a per-source header (shared by
    every doc of that source → boilerplate, removed), a short ``----``
    separator (shared but under ``min_chars`` → kept, proving the
    guard), the original text, and a per-doc unique footer (kept) —
    then strips every line of ≥10 trimmed chars appearing in ≥2
    distinct docs and reassembles in order."""
    from graphscope_spark.functions.dedup import remove_duplicated_lines

    docs = load(spark, sf_dir, "documents")
    corpus = docs.select(
        "doc_id",
        F.concat_ws(
            "\n",
            F.concat(F.lit("== source: "), F.col("source"),
                     F.lit(" ==")),
            F.lit("----"),
            F.col("text"),
            F.concat(F.lit("doc "), F.col("doc_id").cast("string"),
                     F.lit(" len "), F.col("n_chars").cast("string")),
        ).alias("text"),
    )
    return remove_duplicated_lines(corpus, min_docs=2, min_chars=10)


_LINE_DEDUP_SQL = """
WITH corpus AS (
  SELECT doc_id,
         '== source: ' || source || ' ==' || chr(10) ||
         '----' || chr(10) ||
         text || chr(10) ||
         'doc ' || doc_id || ' len ' || n_chars AS text
  FROM documents),
lines AS (
  SELECT doc_id, i AS pos, ln[i+1] AS line
  FROM (SELECT doc_id, string_split(text, chr(10)) AS ln FROM corpus),
       unnest(range(length(ln))) AS u(i)),
dup AS (
  SELECT line FROM lines WHERE length(trim(line)) >= 10
  GROUP BY line HAVING count(DISTINCT doc_id) >= 2),
marked AS (
  SELECT l.doc_id, l.pos, l.line, d.line IS NOT NULL AS isdup
  FROM lines l LEFT JOIN dup d ON d.line = l.line)
SELECT doc_id,
       coalesce(string_agg(CASE WHEN NOT isdup THEN line END,
                           chr(10) ORDER BY pos), '') AS text,
       CAST(sum(CASE WHEN isdup THEN 1 ELSE 0 END) AS BIGINT)
         AS n_removed
FROM marked GROUP BY doc_id
"""


def q_gopher_quality(spark, sf_dir):
    """Gopher rule-based quality filter (Rae et al. 2021, Appendix
    A1.1; ``functions/quality.gopher_rules``).  The synthetic docs are
    single-line and nearly stop-word-free, so the query derives a
    deterministic corpus that exercises every rule: even doc_ids gain
    a stop-word-rich clause (trips the ≥2-stop-words rule the rest
    fail), ``doc_id % 7`` docs gain a ``###`` run (symbol-ratio +
    alpha-fraction trips), ``doc_id % 11`` docs gain a second line
    ending in an ellipsis (ellipsis-fraction trip)."""
    from graphscope_spark.functions.quality import gopher_rules

    docs = load(spark, sf_dir, "documents")
    corpus = docs.select(
        "doc_id",
        F.concat(
            F.col("text"),
            F.when(
                F.col("doc_id") % 2 == 0,
                F.lit(" to be of and that have with more words."),
            ).otherwise(F.lit("")),
            F.when(
                F.col("doc_id") % 7 == 0,
                F.lit(" ### ### ### ### ### ### ###"),
            ).otherwise(F.lit("")),
            F.when(
                F.col("doc_id") % 11 == 0,
                F.lit("\nto be continued..."),
            ).otherwise(F.lit("")),
        ).alias("text"),
    )
    return gopher_rules(corpus)


_GOPHER_CORPUS_SQL = """\
corpus AS (
  SELECT doc_id,
         text
         || CASE WHEN doc_id % 2 = 0
                 THEN ' to be of and that have with more words.'
                 ELSE '' END
         || CASE WHEN doc_id % 7 = 0
                 THEN ' ### ### ### ### ### ### ###' ELSE '' END
         || CASE WHEN doc_id % 11 = 0
                 THEN chr(10) || 'to be continued...' ELSE '' END
           AS text
  FROM documents)"""


def _gopher_quality_sql() -> str:
    from graphscope_spark.functions.quality import GOPHER_STOP_WORDS

    stops = ", ".join(f"'{w}'" for w in GOPHER_STOP_WORDS)
    return f"""\
WITH {_GOPHER_CORPUS_SQL},
t1 AS (SELECT doc_id, text, {_TOKS} AS t,
              string_split(text, chr(10)) AS ln
       FROM corpus),
m AS (SELECT doc_id,
        len(t)::BIGINT AS n_words,
        CASE WHEN len(t) > 0 THEN
          list_aggregate(list_transform(t, x -> len(x)::DOUBLE), 'sum')
            / len(t) ELSE 0.0 END AS mwl,
        CASE WHEN len(t) > 0 THEN
          ((length(text) - length(replace(text, '#', '')))
           + (length(text) - length(replace(text, '...', ''))) / 3
          )::DOUBLE / len(t)
        ELSE 0.0 END AS sym,
        CASE WHEN len(ln) > 0 THEN
          len(list_filter(ln, x -> regexp_matches(x, '^\\s*[•*-]')))::DOUBLE
            / len(ln) ELSE 0.0 END AS bf,
        CASE WHEN len(ln) > 0 THEN
          len(list_filter(ln,
              x -> regexp_matches(x, '(\\.\\.\\.|…)\\s*$')))::DOUBLE
            / len(ln) ELSE 0.0 END AS ef,
        CASE WHEN len(t) > 0 THEN
          len(list_filter(t, x -> regexp_matches(x, '[a-z]')))::DOUBLE
            / len(t) ELSE 0.0 END AS af,
        len(list_intersect(list_distinct(t), [{stops}]))::BIGINT
          AS stop_hits
      FROM t1)
SELECT doc_id, n_words,
       round(mwl, 6) AS mean_word_len,
       round(sym, 6) AS symbol_ratio,
       round(bf, 6) AS bullet_frac,
       round(ef, 6) AS ellipsis_frac,
       round(af, 6) AS alpha_frac,
       stop_hits,
       ((n_words BETWEEN 50 AND 100000)
        AND (mwl BETWEEN 3.0 AND 10.0) AND sym <= 0.1
        AND bf < 0.9 AND ef < 0.3 AND af >= 0.8
        AND stop_hits >= 2) AS keep
FROM m"""


def q_c4_clean(spark, sf_dir):
    """C4 line/page cleaning (Raffel et al. 2020, §2.2;
    ``functions/quality.c4_clean``) over a derived multi-line corpus:
    base text + '.', a too-short line (always dropped), a filler
    sentence whose terminal '.' exists only for even doc_ids, a
    unique per-doc tail, and two page-level poison variants —
    ``doc_id % 13`` docs gain a curly brace, ``doc_id % 17`` docs a
    ``Lorem Ipsum`` line — which drop the whole page."""
    from graphscope_spark.functions.quality import c4_clean

    docs = load(spark, sf_dir, "documents")
    corpus = docs.select(
        "doc_id",
        F.concat_ws(
            "\n",
            F.concat(F.col("text"), F.lit(".")),
            F.lit("too short line"),
            F.concat(
                F.lit("this filler line carries exactly seven words"),
                F.when(F.col("doc_id") % 2 == 0, F.lit(".")).otherwise(
                    F.lit("")
                ),
            ),
            F.concat(
                F.lit("document "),
                F.col("doc_id").cast("string"),
                F.lit(" closes with a unique tail here."),
            ),
            F.when(
                F.col("doc_id") % 13 == 0, F.lit("config = { nested }")
            ).otherwise(F.lit("no braces on this line either.")),
            F.when(
                F.col("doc_id") % 17 == 0,
                F.lit("Lorem Ipsum dolor sit amet filler."),
            ).otherwise(F.lit("regular closing sentence with five words.")),
        ).alias("text"),
    )
    return c4_clean(corpus)


_C4_CLEAN_SQL = """\
WITH corpus AS (
  SELECT doc_id,
         text || '.' || chr(10)
         || 'too short line' || chr(10)
         || 'this filler line carries exactly seven words'
         || CASE WHEN doc_id % 2 = 0 THEN '.' ELSE '' END || chr(10)
         || 'document ' || doc_id || ' closes with a unique tail here.'
         || chr(10)
         || CASE WHEN doc_id % 13 = 0 THEN 'config = { nested }'
                 ELSE 'no braces on this line either.' END || chr(10)
         || CASE WHEN doc_id % 17 = 0
                 THEN 'Lorem Ipsum dolor sit amet filler.'
                 ELSE 'regular closing sentence with five words.' END
           AS text
  FROM documents),
ok AS (SELECT doc_id, text FROM corpus
       WHERE lower(text) NOT LIKE '%lorem ipsum%'
         AND text NOT LIKE '%{%'),
lines AS (
  SELECT doc_id, i AS pos, ln[i+1] AS line
  FROM (SELECT doc_id, string_split(text, chr(10)) AS ln FROM ok),
       unnest(range(length(ln))) AS u(i)),
kept AS (
  SELECT doc_id, pos, line FROM lines
  WHERE regexp_matches(line, '[.!?"]\\s*$')
    AND len(string_split(
          regexp_replace(trim(line), '\\s+', ' ', 'g'), ' ')) >= 5),
agg AS (
  SELECT doc_id, string_agg(line, chr(10) ORDER BY pos) AS text,
         count(*)::BIGINT AS n_lines
  FROM kept GROUP BY doc_id)
SELECT doc_id, text, n_lines FROM agg WHERE n_lines >= 3
"""


def q_span_dedup(spark, sf_dir):
    """Duplicate-span removal (Lee et al. 2021 exact-substring dedup,
    rolling 5-token-window approximation;
    ``functions/dedup.remove_duplicated_spans``).  Every third doc is
    prefixed with a shared 8-token boilerplate header: the lowest-id
    doc carrying each duplicated window keeps its text, every other
    doc loses the covered tokens (plus whatever 5-gram collisions the
    31-word synthetic vocabulary produces naturally)."""
    from graphscope_spark.functions.dedup import remove_duplicated_spans

    docs = load(spark, sf_dir, "documents")
    corpus = docs.select(
        "doc_id",
        F.when(
            F.col("doc_id") % 3 == 0,
            F.concat(
                F.lit(
                    "shared boilerplate header alpha beta gamma "
                    "delta epsilon "
                ),
                F.col("text"),
            ),
        )
        .otherwise(F.col("text"))
        .alias("text"),
    )
    return remove_duplicated_spans(corpus, n=5, min_docs=2)


_SPAN_DEDUP_SQL = f"""\
WITH corpus AS (
  SELECT doc_id,
         CASE WHEN doc_id % 3 = 0
              THEN 'shared boilerplate header alpha beta gamma '
                   || 'delta epsilon ' || text
              ELSE text END AS text
  FROM documents),
toks AS (SELECT doc_id, {_TOKS} AS t FROM corpus),
spans AS (
  SELECT doc_id, i - 1 AS start, array_to_string(t[i:i+4], ' ') AS span
  FROM (SELECT * FROM toks WHERE len(t) >= 5),
       unnest(range(1, len(t) - 3)) AS u(i)),
dup AS (
  SELECT span, min(doc_id) AS owner FROM spans
  GROUP BY span HAVING count(DISTINCT doc_id) >= 2),
victims AS (
  SELECT DISTINCT s.doc_id, s.start + j AS pos
  FROM spans s JOIN dup d ON d.span = s.span AND s.doc_id <> d.owner,
       unnest(range(5)) AS v(j)),
tokpos AS (
  SELECT doc_id, i AS pos, t[i+1] AS tok
  FROM toks, unnest(range(len(t))) AS w(i)),
kept AS (
  SELECT tp.doc_id, tp.pos, tp.tok
  FROM tokpos tp LEFT JOIN victims v
    ON v.doc_id = tp.doc_id AND v.pos = tp.pos
  WHERE v.pos IS NULL),
agg AS (
  SELECT doc_id, string_agg(tok, ' ' ORDER BY pos) AS text,
         count(*)::BIGINT AS n_kept
  FROM kept GROUP BY doc_id),
sizes AS (SELECT doc_id, len(t)::BIGINT AS n_toks FROM toks)
SELECT s.doc_id, coalesce(a.text, '') AS text,
       (s.n_toks - coalesce(a.n_kept, 0))::BIGINT AS n_removed
FROM sizes s LEFT JOIN agg a USING (doc_id)
"""


def q_lm_score(spark, sf_dir):
    """CCNet-style LM quality score
    (``functions/quality.bigram_lm_logprob``): an add-0.5 smoothed
    bigram model trained on the EVEN-doc_id half of the corpus scores
    every document (odd docs hit unseen transitions → the smoothing
    fallback is exercised, like scoring web text with a Wikipedia
    model in CCNet)."""
    from graphscope_spark.functions.quality import bigram_lm_logprob

    docs = load(spark, sf_dir, "documents")
    return bigram_lm_logprob(
        docs, train_df=docs.where(F.col("doc_id") % 2 == 0)
    )


_LM_SCORE_SQL = f"""\
WITH toks AS (SELECT doc_id, {_TOKS} AS t FROM documents),
tr AS (SELECT * FROM toks WHERE doc_id % 2 = 0),
uni AS (SELECT w1, count(*) AS cw
        FROM (SELECT unnest(t) AS w1 FROM tr) GROUP BY w1),
v AS (SELECT count(*) AS vs FROM uni),
bgtr AS (SELECT t[i] AS w1, t[i+1] AS w2
         FROM (SELECT * FROM tr WHERE len(t) >= 2),
              unnest(range(1, len(t))) AS u(i)),
big AS (SELECT w1, w2, count(*) AS cwb FROM bgtr GROUP BY w1, w2),
bg AS (SELECT doc_id, t[i] AS w1, t[i+1] AS w2
       FROM (SELECT * FROM toks WHERE len(t) >= 2),
            unnest(range(1, len(t))) AS u(i)),
sc AS (SELECT g.doc_id,
              ln((coalesce(b.cwb, 0) + 0.5)
                 / (coalesce(u.cw, 0) + 0.5 * v.vs)) AS lp
       FROM bg g
       LEFT JOIN big b ON b.w1 = g.w1 AND b.w2 = g.w2
       LEFT JOIN uni u ON u.w1 = g.w1, v),
agg AS (SELECT doc_id, count(*)::BIGINT AS n_bigrams,
               round(avg(lp), 6) AS avg_logp
        FROM sc GROUP BY doc_id)
SELECT d.doc_id,
       coalesce(a.n_bigrams, 0)::BIGINT AS n_bigrams,
       coalesce(a.avg_logp, 0.0) AS avg_logp
FROM documents d LEFT JOIN agg a USING (doc_id)
"""


def q_dsir_weights(spark, sf_dir):
    """DSIR importance weights (``functions/quality.dsir_logweights``)
    with the English documents as the target domain and the full
    corpus as raw — English-looking docs should surface with the
    highest log-weights, non-English with the lowest."""
    from graphscope_spark.functions.quality import dsir_logweights

    docs = load(spark, sf_dir, "documents")
    return dsir_logweights(
        docs, target_df=docs.where(F.col("lang") == "en")
    )


def _dsir_weights_sql(num_buckets: int = 64, a: float = 0.5) -> str:
    h = _H60.format("gram")
    grams = f"""\
  SELECT doc_id, ({h}) % {num_buckets} AS bucket
  FROM (
    SELECT doc_id, unnest(
      CASE WHEN len(t) >= 2
           THEN list_concat(t,
                list_transform(range(1, len(t)),
                               i -> t[i] || ' ' || t[i+1]))
           ELSE t END) AS gram
    FROM toks)"""
    return f"""\
WITH toks AS (SELECT doc_id, lang, {_TOKS} AS t FROM documents),
feats AS (
{grams}),
tfeats AS (
  SELECT f.bucket FROM feats f
  JOIN documents d ON d.doc_id = f.doc_id AND d.lang = 'en'),
tc AS (SELECT bucket, count(*) AS ct FROM tfeats GROUP BY bucket),
rc AS (SELECT bucket, count(*) AS cr FROM feats GROUP BY bucket),
nt AS (SELECT count(*) AS n FROM tfeats),
nr AS (SELECT count(*) AS n FROM feats),
sc AS (
  SELECT f.doc_id,
         ln((coalesce(tc.ct, 0) + {a}) / (nt.n + {a} * {num_buckets}))
         - ln((coalesce(rc.cr, 0) + {a}) / (nr.n + {a} * {num_buckets}))
           AS lw
  FROM feats f
  LEFT JOIN tc ON tc.bucket = f.bucket
  LEFT JOIN rc ON rc.bucket = f.bucket, nt, nr),
agg AS (SELECT doc_id, count(*)::BIGINT AS n_feats,
               round(sum(lw), 6) AS log_weight
        FROM sc GROUP BY doc_id)
SELECT d.doc_id,
       coalesce(a.n_feats, 0)::BIGINT AS n_feats,
       coalesce(a.log_weight, 0.0) AS log_weight
FROM documents d LEFT JOIN agg a USING (doc_id)
"""


def q_dsir_select(spark, sf_dir):
    """DSIR importance RESAMPLING through the driver protocol
    (``functions/quality.dsir_resample``): Gumbel-top-100 draw over
    the English-target importance weights — seeded h60 noise, so the
    draw is deterministic and the DuckDB oracle reproduces it
    bit-for-bit (keys rounded to 6 dp, doc_id tie-break)."""
    from graphscope_spark.functions.quality import (
        dsir_logweights,
        dsir_resample,
    )

    docs = load(spark, sf_dir, "documents")
    w = dsir_logweights(docs, target_df=docs.where(F.col("lang") == "en"))
    return dsir_resample(w, k=100)


def _gumbel_sql(h: str) -> str:
    """SQL twin of ``functions.quality.gumbel_noise`` (2^60 + 2^8 =
    1152921504606847232, its ``_U_DENOM``)."""
    return f"(-ln(-ln((({h}) + 1.0) / 1152921504606847232.0)))"


def _dsir_select_sql(k: int = 100) -> str:
    h = _H60.format("'dsir' || doc_id")
    return f"""\
SELECT doc_id, log_weight,
       round(log_weight
             + {_gumbel_sql(h)},
             6) AS key
FROM ({_dsir_weights_sql()}) w
ORDER BY key DESC, doc_id LIMIT {k}
"""


def q_vocab_topk(spark, sf_dir):
    """Top-20 corpus vocabulary by frequency
    (``functions/quality.vocab_topk``).  k=20 < the 31-word synthetic
    vocabulary, so the cut is real and the (cnt desc, word asc)
    tie-break is exercised at the boundary in both engines."""
    from graphscope_spark.functions.quality import vocab_topk

    return vocab_topk(load(spark, sf_dir, "documents"), k=20)


_VOCAB_TOPK_SQL = f"""\
WITH toks AS (SELECT {_TOKS} AS t FROM documents),
w AS (SELECT unnest(t) AS word FROM toks),
c AS (SELECT word, count(*)::BIGINT AS cnt FROM w GROUP BY word)
SELECT word, cnt FROM c ORDER BY cnt DESC, word LIMIT 20
"""


def q_text_stats(spark, sf_dir):
    from graphscope_spark.functions.text import text_stats

    return text_stats(load(spark, sf_dir, "documents"))


def q_lang_id(spark, sf_dir):
    from graphscope_spark.functions.text import lang_id

    return lang_id(load(spark, sf_dir, "documents"))


def q_doc_fingerprint(spark, sf_dir):
    from graphscope_spark.functions.text import fingerprint

    return fingerprint(load(spark, sf_dir, "documents"))


#: stop-shingle document-frequency cap for the registered Jaccard
#: query — one shingle shared by d docs creates d² candidate pairs, so
#: an unguarded run lets a single stop-phrase blow the pair join up at
#: scale.  The oracle applies the identical cap in SQL.
NGRAM_MAX_SHINGLE_DF = 50


def q_ngram_jaccard(spark, sf_dir):
    from graphscope_spark.functions.dedup import ngram_jaccard_pairs

    return ngram_jaccard_pairs(
        load(spark, sf_dir, "documents"), n=3, threshold=0.05,
        max_shingle_df=NGRAM_MAX_SHINGLE_DF,
    )


#: sources held out as the "evaluation benchmark" for the registered
#: decontamination query — everything else is the training corpus.
DECON_BENCH_SOURCES = ("src0", "src1")

#: per-language keep-rates for the registered stratified sample:
#: downsample the English majority, keep most of the rest.
STRAT_RATES = {"en": 0.3, "de": 0.8, "es": 0.8, "fr": 0.8, "zh": 0.8}


def q_decontaminate(spark, sf_dir):
    from graphscope_spark.functions.curation import decontaminate

    docs = load(spark, sf_dir, "documents")
    bench = docs.where(F.col("source").isin(*DECON_BENCH_SOURCES))
    train = docs.where(~F.col("source").isin(*DECON_BENCH_SOURCES))
    return decontaminate(train, bench, n=3, min_ratio=0.2)


def q_stratified_sample(spark, sf_dir):
    from graphscope_spark.functions.curation import stratified_sample

    docs = load(spark, sf_dir, "documents").select(
        "doc_id", "lang", "source", "n_chars"
    )
    return stratified_sample(docs, "lang", STRAT_RATES)


def _decontaminate_sql() -> str:
    bset = ", ".join(f"'{s}'" for s in DECON_BENCH_SOURCES)
    shingles = (
        "unnest(list_distinct(CASE WHEN len(t) >= 3"
        " THEN list_transform(range(1, len(t) - 1),"
        " i -> array_to_string(t[i:i+2], ' '))"
        " ELSE [] END)) AS shingle"
    )
    return f"""\
WITH btoks AS (SELECT doc_id, {_TOKS} AS t FROM documents
               WHERE source IN ({bset})),
bsh AS (SELECT DISTINCT {shingles} FROM btoks),
ttoks AS (SELECT doc_id, {_TOKS} AS t FROM documents
          WHERE source NOT IN ({bset})),
tsh AS (SELECT doc_id, {shingles} FROM ttoks),
cnt AS (SELECT t.doc_id, count(*) AS total, count(b.shingle) AS matched,
               floor(count(b.shingle) * 1000000.0 / count(*) + 0.5)::BIGINT
                 AS r6
        FROM tsh t LEFT JOIN bsh b ON b.shingle = t.shingle
        GROUP BY t.doc_id)
SELECT d.doc_id,
       coalesce(c.matched, 0) AS matched,
       coalesce(c.total, 0) AS total,
       coalesce(c.r6 / 1000000.0, 0.0)::DOUBLE AS overlap_ratio,
       coalesce(c.r6 >= 200000, false) AS contaminated
FROM documents d LEFT JOIN cnt c ON c.doc_id = d.doc_id
WHERE d.source NOT IN ({bset})"""


def _stratified_sample_sql() -> str:
    cases = " ".join(
        f"WHEN '{k}' THEN {int(round(v * 10000))}"
        for k, v in sorted(STRAT_RATES.items())
    )
    bucket = _H60.format("'samp:' || doc_id")
    return (
        "SELECT doc_id, lang, source, n_chars FROM documents "
        f"WHERE {bucket} % 10000 < CASE lang {cases} ELSE 0 END"
    )


def q_repetition_stats(spark, sf_dir):
    from graphscope_spark.functions.text import repetition_stats

    return repetition_stats(load(spark, sf_dir, "documents"))


def _repetition_stats_sql() -> str:
    # the oracle finds the max-multiplicity bigram via explode +
    # group-by (value-equal to the engine's per-row sorted-run scan)
    return f"""\
WITH toks AS (SELECT doc_id, {_TOKS} AS t FROM documents),
cnt AS (SELECT doc_id, len(t)::BIGINT AS n_tokens,
               len(list_distinct(t))::BIGINT AS n_distinct FROM toks),
bg AS (SELECT doc_id, unnest(CASE WHEN len(t) >= 2
         THEN list_transform(range(1, len(t)),
                             i -> array_to_string(t[i:i+1], ' '))
         ELSE [] END) AS b
       FROM toks),
top AS (SELECT doc_id, max(c) AS top_cnt FROM
          (SELECT doc_id, b, count(*) AS c FROM bg GROUP BY doc_id, b)
        GROUP BY doc_id)
SELECT c.doc_id, c.n_tokens, c.n_distinct,
       (CASE WHEN c.n_tokens > 0
             THEN floor(c.n_distinct * 1000000.0 / c.n_tokens + 0.5)
                  / 1000000.0
             ELSE 0.0 END)::DOUBLE AS distinct_ratio,
       coalesce(t.top_cnt, 0) AS top_bigram_cnt,
       (CASE WHEN c.n_tokens >= 2
             THEN floor(coalesce(t.top_cnt, 0) * 1000000.0
                        / (c.n_tokens - 1) + 0.5) / 1000000.0
             ELSE 0.0 END)::DOUBLE AS top_bigram_frac
FROM cnt c LEFT JOIN top t ON t.doc_id = c.doc_id"""


#: context-window size for the registered packing query — small enough
#: that sf0.01's ~25k-token stream spans dozens of bins.
PACK_WINDOW = 512


def q_pack_sequences(spark, sf_dir):
    from graphscope_spark.functions.curation import pack_sequences

    return pack_sequences(
        load(spark, sf_dir, "documents"), window=PACK_WINDOW
    )


def _pack_sequences_sql() -> str:
    return f"""\
WITH toks AS (SELECT doc_id, len({_TOKS})::BIGINT AS n FROM documents),
c AS (SELECT doc_id, n,
             (sum(n) OVER (ORDER BY doc_id ROWS BETWEEN UNBOUNDED
                           PRECEDING AND CURRENT ROW) - n)::BIGINT AS off
      FROM toks)
SELECT doc_id, n AS n_tokens, off AS token_offset,
       (off // {PACK_WINDOW})::BIGINT AS bin_id
FROM c"""


def q_sample_neighbors(spark, sf_dir):
    from graphscope_spark.operators.walks import sample_neighbors

    return sample_neighbors(
        part_graph_undirected(spark, sf_dir), k=3, strategy="hash"
    )


def _sample_neighbors_sql(k: int = 3) -> str:
    h = _H60.format("'nbr:' || src || ':' || dst")
    return (
        "WITH " + _G + ",\n"
        f"h AS (SELECT src, dst, {h} AS hh FROM sym),\n"
        "r AS (SELECT src, dst, row_number() OVER"
        " (PARTITION BY src ORDER BY hh, dst) AS rn FROM h)\n"
        f"SELECT src, dst AS nbr FROM r WHERE rn <= {k}"
    )


def q_negative_sampling(spark, sf_dir):
    """GLE-style deterministic negative edge sampling on the co-order
    graph: ≤3 non-neighbor candidates per vertex, h60-addressed by
    dense rank, rejection via anti-join (``operators/walks.py``)."""
    from graphscope_spark.operators.walks import negative_sampling

    return negative_sampling(part_graph_undirected(spark, sf_dir), k=3)


def _negative_sampling_sql(k: int = 3) -> str:
    h = _H60.format("'neg:' || v.id || ':' || j.j")
    return (
        "WITH " + _G + ",\n"
        "nn AS (SELECT count(*) AS n FROM verts),\n"
        "ranked AS (SELECT id, row_number() OVER (ORDER BY id) - 1"
        " AS rk FROM verts),\n"
        f"j AS (SELECT unnest(range({k})) AS j),\n"
        f"cand AS (SELECT v.id AS src, {h} % (SELECT n FROM nn) AS rk\n"
        "         FROM verts v CROSS JOIN j),\n"
        "neg AS (SELECT DISTINCT c.src, r.id AS neg_dst\n"
        "        FROM cand c JOIN ranked r ON r.rk = c.rk\n"
        "        WHERE c.src <> r.id)\n"
        "SELECT n.src, n.neg_dst FROM neg n\n"
        "LEFT JOIN sym e ON e.src = n.src AND e.dst = n.neg_dst\n"
        "WHERE e.src IS NULL"
    )


def q_pii_scrub(spark, sf_dir):
    from graphscope_spark.functions.text import pii_scrub

    return pii_scrub(load(spark, sf_dir, "documents"))


def _pii_scrub_sql() -> str:
    from graphscope_spark.functions.text import PII_PATTERNS

    clean = "text"
    counts = []
    for name, pat, repl in PII_PATTERNS:
        # DuckDB regexp_replace is first-match unless 'g'; Spark
        # replaces all occurrences by default — mirror with the flag
        clean = f"regexp_replace({clean}, '{pat}', '{repl}', 'g')"
        counts.append(
            f"len(regexp_extract_all(text, '{pat}'))::BIGINT AS n_{name}"
        )
    return (
        f"SELECT doc_id, {clean} AS text_clean, "
        + ", ".join(counts)
        + " FROM documents"
    )


def q_random_walks(spark, sf_dir):
    from graphscope_spark.operators.walks import random_walks

    return random_walks(
        part_graph_undirected(spark, sf_dir), length=4, seed_mod=10
    )


def _random_walks_sql(length: int = 4, seed_mod: int = 10) -> str:
    ctes = [
        "adj AS (SELECT src, list(dst ORDER BY dst) AS nl,"
        " count(*)::BIGINT AS deg FROM sym GROUP BY src)",
        f"w0 AS (SELECT id AS walk_id, id AS v FROM verts"
        f" WHERE id % {seed_mod} = 0)",
    ]
    selects = ["SELECT walk_id, 0 AS step, v FROM w0"]
    for s in range(1, length + 1):
        pick = _H60.format(
            f"'walk:' || w.walk_id || ':{s}:' || w.v"
        )
        ctes.append(
            f"w{s} AS (SELECT w.walk_id,"
            f" list_extract(a.nl, ({pick} % a.deg + 1)::INT) AS v"
            f" FROM w{s - 1} w JOIN adj a ON a.src = w.v)"
        )
        selects.append(f"SELECT walk_id, {s} AS step, v FROM w{s}")
    return (
        "WITH " + _G + ",\n" + ",\n".join(ctes) + "\n"
        + "\nUNION ALL ".join(selects)
    )


def q_node2vec(spark, sf_dir):
    from graphscope_spark.operators.walks import node2vec_walks

    return node2vec_walks(
        part_graph_undirected(spark, sf_dir),
        length=4, seed_mod=10, p_inv=2, q_inv=3,
    )


def _node2vec_sql(
    length: int = 4, seed_mod: int = 10,
    p_inv: int = 2, q_inv: int = 3,
) -> str:
    """Exact mirror of the integer-replication biased draw: candidate
    d of walk w at step s enters the argmin race once per replica
    r < weight(prev, v, d) with key h60(n2v:w:s:v:d:r); weight is
    p_inv on a return move, 1 on a common neighbor of (prev, v)
    (LEFT JOIN sym on (prev, d) — NULL prev at step 1 matches nothing,
    so the first step is uniformly weighted q_inv), else q_inv."""
    max_w = max(p_inv, q_inv, 1)
    ctes = [
        "adj AS (SELECT src, list(dst ORDER BY dst) AS nl"
        " FROM sym GROUP BY src)",
        f"reps AS (SELECT unnest(range({max_w})) AS r)",
        f"w0 AS (SELECT id AS walk_id, NULL::BIGINT AS prev,"
        f" id AS v FROM verts WHERE id % {seed_mod} = 0)",
    ]
    selects = ["SELECT walk_id, 0 AS step, v FROM w0"]
    for s in range(1, length + 1):
        h = _H60.format(
            f"'n2v:' || x.walk_id || ':{s}:' || x.v"
            f" || ':' || x.d || ':' || r.r"
        )
        ctes.append(
            f"c{s} AS (SELECT q.walk_id, q.v, q.d,\n"
            f"          CASE WHEN q.d = q.prev THEN {p_inv}\n"
            f"               WHEN pe.src IS NOT NULL THEN 1\n"
            f"               ELSE {q_inv} END AS wt\n"
            f"        FROM (SELECT w.walk_id, w.prev, w.v,"
            f" unnest(a.nl) AS d\n"
            f"              FROM w{s - 1} w JOIN adj a ON a.src = w.v) q\n"
            f"        LEFT JOIN sym pe ON pe.src = q.prev"
            f" AND pe.dst = q.d)"
        )
        ctes.append(
            f"x{s} AS (SELECT x.walk_id, x.v, x.d, {h} AS h\n"
            f"        FROM c{s} x JOIN reps r ON r.r < x.wt)"
        )
        ctes.append(
            f"w{s} AS (SELECT walk_id, v AS prev, d AS v FROM (\n"
            f"          SELECT walk_id, v, d, row_number() OVER"
            f" (PARTITION BY walk_id ORDER BY h, d) AS rn"
            f" FROM x{s}) WHERE rn = 1)"
        )
        selects.append(f"SELECT walk_id, {s} AS step, v FROM w{s}")
    return (
        "WITH " + _G + ",\n" + ",\n".join(ctes) + "\n"
        + "\nUNION ALL ".join(selects)
    )


def q_skipgram(spark, sf_dir):
    from graphscope_spark.operators.walks import (
        random_walks, skipgram_pairs,
    )

    return skipgram_pairs(
        random_walks(
            part_graph_undirected(spark, sf_dir), length=4, seed_mod=10
        ),
        window=2,
    )


def _skipgram_sql(window: int = 2) -> str:
    walks = _random_walks_sql()
    return (
        f"WITH walks AS ({walks})\n"
        "SELECT a.v AS center, b.v AS context,"
        " count(*) AS pair_count\n"
        "FROM walks a JOIN walks b ON a.walk_id = b.walk_id\n"
        f" AND a.step <> b.step"
        f" AND abs(a.step - b.step) <= {window}\n"
        "GROUP BY a.v, b.v"
    )


def q_gremlin_2hop_bag(spark, sf_dir):
    """The Gremlin STRING front-end through the driver protocol: bag
    (traverser-multiplicity) 2-hop counts — ``g.V().both().both().
    groupCount()`` parsed by :func:`graphscope_spark.gremlin.gremlin`
    onto the fluent GIE surface.  Distinct from ``khop2``, which
    dedups (PathExpand + GetV distinct semantics); here every 2-walk
    is its own traverser, per Gremlin bag semantics."""
    from graphscope_spark.gremlin import gremlin

    return gremlin(
        part_graph(spark, sf_dir), "g.V().both().both().groupCount()"
    )


_GREMLIN_2HOP_SQL = (
    "WITH " + _G + """
SELECT b.dst AS id, count(*) AS n
FROM sym a JOIN sym b ON b.src = a.dst
GROUP BY b.dst"""
)


def q_minhash_lsh(spark, sf_dir):
    from graphscope_spark.functions.dedup import minhash_dedup_pairs

    return minhash_dedup_pairs(
        load(spark, sf_dir, "documents"),
        num_hashes=12, bands=4, n=3, threshold=0.05,
    )


def q_minhash_groups(spark, sf_dir):
    """Near-duplicate GROUPS: verified MinHash-LSH pairs → connected
    components → canonical min-id representative per doc — the keep
    decision a dedup pipeline actually makes."""
    from graphscope_spark.functions.dedup import minhash_dedup_groups

    return minhash_dedup_groups(
        load(spark, sf_dir, "documents"),
        num_hashes=12, bands=4, n=3, threshold=0.05,
    )


def _minhash_groups_sql(rounds: int = 8) -> str:
    """Pairs oracle nested as a CTE, then min-label components over
    the (tiny) pair graph, unrolled ``rounds`` times."""
    pairs_q = _minhash_lsh_sql(12, 4)
    parts = [
        f"pairs AS ({pairs_q})",
        "pe AS (SELECT id_a AS src, id_b AS dst FROM pairs)",
        "pm AS (SELECT DISTINCT id FROM ("
        "SELECT src AS id FROM pe UNION ALL SELECT dst FROM pe))",
        "psym AS (SELECT src, dst FROM pe"
        " UNION ALL SELECT dst, src FROM pe)",
        "c0 AS (SELECT id, id AS comp FROM pm)",
    ]
    for k in range(rounds):
        parts.append(
            f"c{k + 1} AS (SELECT c.id,"
            f" least(c.comp, coalesce(m.mn, c.comp)) AS comp\n"
            f"        FROM c{k} c LEFT JOIN (\n"
            f"          SELECT e.dst AS id, min(c2.comp) AS mn\n"
            f"          FROM psym e JOIN c{k} c2 ON e.src = c2.id"
            f" GROUP BY e.dst\n"
            f"        ) m ON m.id = c.id)"
        )
    return (
        "WITH " + ",\n".join(parts)
        + f"""
SELECT d.doc_id, coalesce(c.comp, d.doc_id) AS group_id
FROM documents d LEFT JOIN c{rounds} c ON c.id = d.doc_id"""
    )


def q_simhash(spark, sf_dir):
    from graphscope_spark.functions.dedup import simhash

    return simhash(load(spark, sf_dir, "documents"))


def q_embedding_topk(spark, sf_dir):
    from graphscope_spark.functions.similarity import cosine_topk

    emb = load(spark, sf_dir, "embeddings")
    qv = emb.where(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    return cosine_topk(emb, qv, k=10)


#: LSH shape for the registered near-dup query: 12 hyperplanes in 4
#: bands of 3 bits.  Candidates come from band-bucket equality joins —
#: NO cross join anywhere in the plan (asserted by
#: ``tools/explain_audit.py``).  Recall < 1 by construction; the
#: oracle reproduces the identical buckets, so the compare is exact.
NEAR_DUP_PLANES, NEAR_DUP_BANDS, NEAR_DUP_DIM = 12, 4, 64


def q_embedding_near_dup(spark, sf_dir):
    from graphscope_spark.functions.similarity import cosine_lsh_pairs

    return cosine_lsh_pairs(
        load(spark, sf_dir, "embeddings"), threshold=0.4,
        num_planes=NEAR_DUP_PLANES, bands=NEAR_DUP_BANDS, dim=NEAR_DUP_DIM,
    )


def _text_stats_sql() -> str:
    return f"""\
WITH toks AS (SELECT doc_id, text, {_TOKS} AS t FROM documents)
SELECT doc_id,
       len(t)::BIGINT AS n_tokens,
       len(regexp_extract_all(text,
           '[A-Za-z0-9]+|[^A-Za-z0-9\\s]'))::BIGINT AS n_bpe,
       len(regexp_extract_all(text, '[^A-Za-z0-9\\s]'))::BIGINT AS n_punct,
       round(CASE WHEN len(t) > 0 THEN
           list_aggregate(list_transform(t, x -> len(x)::DOUBLE), 'sum')
             / len(t) ELSE 0.0 END, 6) AS mean_word_len,
       round(CASE WHEN len(text) > 0 THEN
           len(regexp_extract_all(text, '[^A-Za-z0-9\\s]'))::DOUBLE
             / len(text) ELSE 0.0 END, 6) AS punct_ratio,
       round(
         (CASE WHEN len(t) BETWEEN 5 AND 100000 THEN 0.5 ELSE 0.0 END)
         + (CASE WHEN len(t) > 0 AND
              list_aggregate(list_transform(t, x -> len(x)::DOUBLE), 'sum')
                / len(t) BETWEEN 2.0 AND 12.0 THEN 0.3 ELSE 0.0 END)
         + (CASE WHEN (CASE WHEN len(text) > 0 THEN
              len(regexp_extract_all(text, '[^A-Za-z0-9\\s]'))::DOUBLE
                / len(text) ELSE 0.0 END) <= 0.2
            THEN 0.2 ELSE 0.0 END)::DOUBLE, 2) AS quality
FROM toks"""


def _lang_id_sql() -> str:
    from graphscope_spark.functions.text import LANG_MARKERS

    hit_cols = []
    for lang in sorted(LANG_MARKERS):
        words = ", ".join(f"'{w}'" for w in LANG_MARKERS[lang])
        hit_cols.append(
            f"len(list_filter(t, x -> x IN ({words}))) AS n_{lang}"
        )
    langs = sorted(LANG_MARKERS)
    g = "greatest(" + ", ".join(f"n_{k}" for k in langs) + ")"
    case = f"CASE WHEN {g} = 0 THEN 'und' "
    for lang in langs:
        case += f"WHEN n_{lang} = {g} THEN '{lang}' "
    case += "END"
    return (
        f"WITH toks AS (SELECT doc_id, {_TOKS} AS t FROM documents),\n"
        f"hits AS (SELECT doc_id, " + ", ".join(hit_cols) + " FROM toks)\n"
        f"SELECT doc_id, {case} AS lang_pred FROM hits"
    )


def _jaccard_tail(cand: str, sh: str = "sh", shsz: str = "shsz") -> str:
    """Shared verify step: candidate pairs -> true jaccard >= 0.05."""
    return f"""\
inter AS (SELECT c.id_a, c.id_b, count(*) AS i
          FROM {cand} c
          JOIN {sh} a ON a.doc_id = c.id_a
          JOIN {sh} b ON b.doc_id = c.id_b AND b.shingle = a.shingle
          GROUP BY c.id_a, c.id_b)
SELECT i.id_a, i.id_b,
       round(i.i / (sa.sz + sb.sz - i.i), 6) AS jaccard
FROM inter i JOIN {shsz} sa ON sa.doc_id = i.id_a
JOIN {shsz} sb ON sb.doc_id = i.id_b
WHERE i.i / (sa.sz + sb.sz - i.i) >= 0.05"""


def _ngram_jaccard_sql(max_df: int = NGRAM_MAX_SHINGLE_DF) -> str:
    # mirrors the Spark-side skew guard: shingles with document
    # frequency above max_df are dropped BEFORE sizes/candidates
    return (
        "WITH " + _DOC + ",\n"
        f"keep AS (SELECT shingle FROM sh GROUP BY shingle"
        f" HAVING count(*) <= {max_df}),\n"
        "shf AS (SELECT s.doc_id, s.shingle FROM sh s"
        " JOIN keep k ON k.shingle = s.shingle),\n"
        "shfsz AS (SELECT doc_id, count(*) AS sz FROM shf GROUP BY doc_id),\n"
        "cand AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b\n"
        "         FROM shf a JOIN shf b ON a.shingle = b.shingle\n"
        "              AND a.doc_id < b.doc_id\n"
        "         GROUP BY a.doc_id, b.doc_id),\n"
        + _jaccard_tail("cand", sh="shf", shsz="shfsz")
    )


def _minhash_lsh_sql(num_hashes: int = 12, bands: int = 4) -> str:
    rows = num_hashes // bands
    mins = ",\n         ".join(
        "min(" + _H60.format(f"'{i}:' || shingle") + f") AS h{i}"
        for i in range(num_hashes)
    )
    sent = ", ".join(
        _H60.format(f"'{i}:\u2205'") + f" AS h{i}" for i in range(num_hashes)
    )
    band_selects = []
    for b in range(bands):
        cat = " || ',' || ".join(
            f"h{b * rows + r}::VARCHAR" for r in range(rows)
        )
        band_selects.append(
            f"SELECT doc_id, {b} AS band, "
            + _H60.format(f"({cat})")
            + " AS bucket FROM sigf"
        )
    buckets = "\n         UNION ALL ".join(band_selects)
    return (
        "WITH " + _DOC + ",\n"
        f"sig AS (SELECT doc_id,\n         {mins}\n        FROM sh GROUP BY doc_id),\n"
        f"sent AS (SELECT {sent}),\n"
        "sigf AS (SELECT d.doc_id, "
        + ", ".join(
            f"coalesce(sig.h{i}, sent.h{i}) AS h{i}"
            for i in range(num_hashes)
        )
        + "\n         FROM documents d LEFT JOIN sig ON sig.doc_id = d.doc_id"
          " CROSS JOIN sent),\n"
        f"buckets AS ({buckets}),\n"
        "cand AS (SELECT DISTINCT x.doc_id AS id_a, y.doc_id AS id_b\n"
        "         FROM buckets x JOIN buckets y ON x.band = y.band\n"
        "              AND x.bucket = y.bucket AND x.doc_id < y.doc_id),\n"
        + _jaccard_tail("cand")
    )


def _simhash_sql(bits: int = 60) -> str:
    bit_cols = ",\n         ".join(
        f"sum(CASE WHEN (th >> {j}) & 1 = 1 THEN 1 ELSE -1 END) AS b{j}"
        for j in range(bits)
    )
    fp = " + ".join(
        f"(CASE WHEN b{j} > 0 THEN (1::BIGINT << {j}) ELSE 0::BIGINT END)"
        for j in range(bits)
    )
    return f"""\
WITH toks AS (SELECT doc_id, {_TOKS} AS t FROM documents),
tok AS (SELECT doc_id, unnest(t) AS tk FROM toks),
th AS (SELECT doc_id, {_H60.format('tk')} AS th FROM tok),
bits AS (SELECT doc_id,
         {bit_cols}
        FROM th GROUP BY doc_id),
fp AS (SELECT doc_id, ({fp})::BIGINT AS simhash FROM bits)
SELECT d.doc_id, coalesce(fp.simhash, 0)::BIGINT AS simhash
FROM documents d LEFT JOIN fp ON fp.doc_id = d.doc_id"""


_EMB = """\
e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
en AS (SELECT vec_id, v, sqrt(list_dot_product(v, v)) AS n FROM e)"""


def _embedding_topk_sql(k: int = 10) -> str:
    return f"""\
WITH {_EMB},
q AS (SELECT vec_id AS query_id, v AS qv, n AS qn FROM en
      WHERE vec_id < 5),
s AS (SELECT q.query_id, en.vec_id,
             round(list_dot_product(en.v, q.qv) / (en.n * q.qn), 6) AS cos
      FROM en CROSS JOIN q WHERE en.vec_id <> q.query_id)
SELECT query_id, vec_id, cos FROM s
QUALIFY row_number() OVER (PARTITION BY query_id
                           ORDER BY cos DESC, vec_id ASC) <= {k}"""


def q_ann_ivf(spark, sf_dir):
    """IVF-flat approximate nearest neighbor: h60-seeded coarse
    quantizer, per-query 2-of-8 posting-list probe, exact 6-dp rerank
    within the probed lists (``similarity.ivf_topk``) — the IVF scale
    path next to the hyperplane-LSH one."""
    from graphscope_spark.functions.similarity import ivf_topk

    emb = load(spark, sf_dir, "embeddings")
    qv = emb.where(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    return ivf_topk(emb, qv, k=10, n_centroids=8, n_probe=2)


def _ann_ivf_sql(k: int = 10, n_centroids: int = 8,
                 n_probe: int = 2) -> str:
    """Mirrors ``similarity.ivf_topk`` list-for-list: same h60 seed
    pick, same 6-dp rounded centroid/probe/rerank cosines, same
    (cos DESC, id ASC) tie-breaks — every distance is a fold over the
    original float vectors, so the compare is exact."""
    hp = _H60.format("'c:' || vec_id::VARCHAR")
    return f"""\
WITH {_EMB},
hp AS (SELECT vec_id, v, n, {hp} AS hp FROM en),
cent AS (SELECT row_number() OVER (ORDER BY hp, vec_id) - 1 AS cid,
                v AS cv, n AS cn
         FROM hp ORDER BY hp, vec_id LIMIT {n_centroids}),
assign AS (SELECT vec_id, cid, v, n FROM (
           SELECT en.vec_id, c.cid, en.v, en.n,
                  row_number() OVER (PARTITION BY en.vec_id
                      ORDER BY round(list_dot_product(en.v, c.cv)
                                     / (en.n * c.cn), 6) DESC,
                               c.cid ASC) AS rn
           FROM en CROSS JOIN cent c) WHERE rn = 1),
q AS (SELECT vec_id AS query_id, v AS qv, n AS qn FROM en
      WHERE vec_id < 5),
probes AS (SELECT query_id, cid, qv, qn FROM (
           SELECT q.query_id, c.cid, q.qv, q.qn,
                  row_number() OVER (PARTITION BY q.query_id
                      ORDER BY round(list_dot_product(q.qv, c.cv)
                                     / (q.qn * c.cn), 6) DESC,
                               c.cid ASC) AS rn
           FROM q CROSS JOIN cent c) WHERE rn <= {n_probe}),
cand AS (SELECT p.query_id, a.vec_id,
                round(list_dot_product(a.v, p.qv)
                      / (a.n * p.qn), 6) AS cos
         FROM probes p JOIN assign a ON a.cid = p.cid
         WHERE a.vec_id <> p.query_id)
SELECT query_id, vec_id, cos FROM cand
QUALIFY row_number() OVER (PARTITION BY query_id
                           ORDER BY cos DESC, vec_id ASC) <= {k}"""


def _embedding_near_dup_sql(threshold: float = 0.4) -> str:
    """Mirrors ``similarity.cosine_lsh_pairs`` bucket-for-bucket: the
    ±1 plane coefficients are the same driver-derived literals, and the
    projection is the same left-to-right fold (``list_reduce``) so the
    sign bits are bit-identical across engines."""
    from graphscope_spark.functions.similarity import plane_coefs

    coefs = plane_coefs(NEAR_DUP_PLANES, NEAR_DUP_DIM)
    width = NEAR_DUP_PLANES // NEAR_DUP_BANDS
    plane_cols = ", ".join(
        "[" + ", ".join(str(c) for c in coefs[p]) + f"]::DOUBLE[] AS c{p}"
        for p in range(NEAR_DUP_PLANES)
    )
    sig_terms = []
    for p in range(NEAR_DUP_PLANES):
        sig_terms.append(
            f"(CASE WHEN list_reduce(list_transform(range(1, {NEAR_DUP_DIM + 1}),"
            f" i -> v[i] * c{p}[i]), (a, b) -> a + b) > 0"
            f" THEN (1::BIGINT << {p}) ELSE 0::BIGINT END)"
        )
    sig = " + ".join(sig_terms)
    band_selects = "\n         UNION ALL ".join(
        f"SELECT vec_id, {b} AS band,"
        f" (sig >> {b * width}) & {(1 << width) - 1} AS bucket FROM sig"
        for b in range(NEAR_DUP_BANDS)
    )
    return f"""\
WITH {_EMB},
pl AS (SELECT {plane_cols}),
sig AS (SELECT vec_id, ({sig})::BIGINT AS sig FROM e CROSS JOIN pl),
buckets AS ({band_selects}),
cand AS (SELECT DISTINCT x.vec_id AS id_a, y.vec_id AS id_b
         FROM buckets x JOIN buckets y ON x.band = y.band
              AND x.bucket = y.bucket AND x.vec_id < y.vec_id)
SELECT c.id_a, c.id_b,
       round(list_dot_product(a.v, b.v) / (a.n * b.n), 6) AS cos
FROM cand c JOIN en a ON a.vec_id = c.id_a
JOIN en b ON b.vec_id = c.id_b
WHERE list_dot_product(a.v, b.v) / (a.n * b.n) >= {threshold!r}"""


def q_semantic_dedup(spark, sf_dir):
    """SemDeDup-style semantic deduplication (Abbas et al. 2023,
    arXiv:2303.09540) over the embeddings table: IVF coarse-quantizer
    clusters (same deterministic h60 seeding as ``ann_ivf``), then
    within each cluster a vector is dropped (``keep = false``) when a
    lower-id cluster-mate has cosine ≥ 0.4.  The per-cluster pair
    compare is the method's scale contract — n_centroids grows with
    the corpus so the quadratic stays bounded."""
    from graphscope_spark.functions.similarity import semantic_dedup

    emb = load(spark, sf_dir, "embeddings")
    return semantic_dedup(emb, threshold=0.4, n_centroids=8).select(
        "vec_id", F.col("cid").cast("long").alias("cid"), "keep"
    )


def _semantic_dedup_sql(threshold: float = 0.4,
                        n_centroids: int = 8) -> str:
    """Mirrors ``similarity.semantic_dedup`` cluster-for-cluster: the
    ``cent``/``assign`` CTEs are the exact ``_ann_ivf_sql`` quantizer
    (same h60 seed pick, same 6-dp rounded assignment cosines, same
    ties-to-smallest-cid), and the drop rule is the same 6-dp rounded
    intra-cluster compare, so the decision table is bit-identical."""
    hp = _H60.format("'c:' || vec_id::VARCHAR")
    return f"""\
WITH {_EMB},
hp AS (SELECT vec_id, v, n, {hp} AS hp FROM en),
cent AS (SELECT row_number() OVER (ORDER BY hp, vec_id) - 1 AS cid,
                v AS cv, n AS cn
         FROM hp ORDER BY hp, vec_id LIMIT {n_centroids}),
assign AS (SELECT vec_id, cid, v, n FROM (
           SELECT en.vec_id, c.cid, en.v, en.n,
                  row_number() OVER (PARTITION BY en.vec_id
                      ORDER BY round(list_dot_product(en.v, c.cv)
                                     / (en.n * c.cn), 6) DESC,
                               c.cid ASC) AS rn
           FROM en CROSS JOIN cent c) WHERE rn = 1),
dropped AS (SELECT DISTINCT b.vec_id
            FROM assign a JOIN assign b
              ON a.cid = b.cid AND a.vec_id < b.vec_id
            WHERE round(list_dot_product(a.v, b.v)
                        / (a.n * b.n), 6) >= {threshold!r})
SELECT a.vec_id, a.cid, (d.vec_id IS NULL) AS keep
FROM assign a LEFT JOIN dropped d ON d.vec_id = a.vec_id"""


def q_sssp(spark, sf_dir):
    """Weighted SSSP from the min part key over the symmetrized
    co-order graph; deterministic weight w(u,v) = (u+v) % 7 + 1."""
    from graphscope_spark.operators.traversal import sssp

    g = _weighted_sym_graph(spark, sf_dir)
    source = g.vertices.agg(F.min("id")).collect()[0][0]
    return sssp(g, int(source)).select("id", "dist")


def _sssp_sql(rounds: int = 8) -> str:
    parts = [
        _G,
        "w AS (SELECT src, dst, ((src + dst) % 7 + 1)::DOUBLE AS w FROM sym)",
        "t0 AS (SELECT (SELECT min(id) FROM verts) AS id, 0.0::DOUBLE AS dist)",
    ]
    for k in range(rounds):
        parts.append(
            f"t{k + 1} AS (SELECT id, min(dist) AS dist FROM (\n"
            f"          SELECT id, dist FROM t{k}\n"
            f"          UNION ALL\n"
            f"          SELECT w.dst AS id, t.dist + w.w AS dist\n"
            f"          FROM t{k} t JOIN w ON w.src = t.id) GROUP BY id)"
        )
    return "WITH " + ",\n".join(parts) + f"\nSELECT id, dist FROM t{rounds}"


def _weighted_sym_graph(spark, sf_dir) -> Graph:
    """Symmetrized co-order graph with the deterministic weight
    w(u,v) = (u+v) % 7 + 1 (same construction as ``q_sssp``)."""
    verts, dedges = part_edges(spark, sf_dir)
    sym = dedges.unionByName(
        dedges.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    ).withColumn(
        "weight",
        (F.pmod(F.col("src") + F.col("dst"), F.lit(7)) + 1).cast("double"),
    )
    return Graph.from_edges(sym, directed=True, vertices=verts)


def q_sssp_path(spark, sf_dir):
    """Shortest-path tree (id, pred, dist) from the min part key —
    reference ``apps/sssp/sssp_path.h`` row convention."""
    from graphscope_spark.operators.traversal import sssp_path

    g = _weighted_sym_graph(spark, sf_dir)
    source = g.vertices.agg(F.min("id")).collect()[0][0]
    return sssp_path(g, int(source)).select("id", "pred", "dist")


def _sssp_path_sql(rounds: int = 8) -> str:
    base = _sssp_sql(rounds)  # ends with "SELECT id, dist FROM t{rounds}"
    prefix = base.rsplit("\nSELECT", 1)[0]
    return (
        prefix
        + f""",
pred AS (SELECT w.dst AS id, min(w.src) AS pred
         FROM w JOIN t{rounds} a ON a.id = w.src
         JOIN t{rounds} b ON b.id = w.dst
         WHERE a.dist + w.w = b.dist GROUP BY w.dst)
SELECT t.id,
       CASE WHEN t.id = (SELECT min(id) FROM verts) THEN NULL
            ELSE p.pred END AS pred,
       t.dist
FROM t{rounds} t LEFT JOIN pred p ON p.id = t.id"""
    )


def q_sssp_has_path(spark, sf_dir):
    """Reachability probe on the DIRECTED co-order graph: min→max
    (expected reachable — edges point low→high) and max→min (expected
    not).  Two rows (src, dst, has_path)."""
    from graphscope_spark.operators.traversal import sssp_has_path

    g = part_graph(spark, sf_dir)
    lo, hi = g.vertices.agg(F.min("id"), F.max("id")).collect()[0]
    rows = [
        (int(lo), int(hi), bool(sssp_has_path(g, int(lo), int(hi)))),
        (int(hi), int(lo), bool(sssp_has_path(g, int(hi), int(lo)))),
    ]
    return spark.createDataFrame(
        rows, "src long, dst long, has_path boolean"
    )


def _sssp_has_path_sql(rounds: int = 10) -> str:
    parts = [
        _G,
        "lo AS (SELECT min(id) AS v FROM verts)",
        "hi AS (SELECT max(id) AS v FROM verts)",
        "f0 AS (SELECT v AS id FROM lo)",
        "g0 AS (SELECT v AS id FROM hi)",
    ]
    for k in range(rounds):
        parts.append(
            f"f{k + 1} AS (SELECT DISTINCT id FROM (\n"
            f"          SELECT id FROM f{k}\n"
            f"          UNION ALL\n"
            f"          SELECT e.dst AS id FROM f{k} r"
            f" JOIN dedges e ON e.src = r.id))"
        )
        parts.append(
            f"g{k + 1} AS (SELECT DISTINCT id FROM (\n"
            f"          SELECT id FROM g{k}\n"
            f"          UNION ALL\n"
            f"          SELECT e.dst AS id FROM g{k} r"
            f" JOIN dedges e ON e.src = r.id))"
        )
    return (
        "WITH " + ",\n".join(parts)
        + f"""
SELECT (SELECT v FROM lo) AS src, (SELECT v FROM hi) AS dst,
       EXISTS (SELECT 1 FROM f{rounds}
               WHERE id = (SELECT v FROM hi)) AS has_path
UNION ALL
SELECT (SELECT v FROM hi), (SELECT v FROM lo),
       EXISTS (SELECT 1 FROM g{rounds}
               WHERE id = (SELECT v FROM lo))"""
    )


def q_apsp_sample(spark, sf_dir):
    """Unweighted all-pairs shortest path lengths restricted to the
    source sample id % 31 == 0 (exact per source) — reference
    ``apps/apsp/all_pairs_shortest_path_length.h``."""
    from graphscope_spark.operators.traversal import apsp_lengths

    g = part_graph_undirected(spark, sf_dir)
    srcs = g.vertices.where(F.col("id") % 31 == 0)
    return apsp_lengths(g, sources=srcs).select("source", "id", "dist")


def _apsp_sample_sql(rounds: int = 5) -> str:
    parts = [
        _G,
        "srcs AS (SELECT id FROM verts WHERE id % 31 = 0)",
        "f0 AS (SELECT id AS source, id, 0 AS dist FROM srcs)",
    ]
    for k in range(rounds):
        parts.append(
            f"f{k + 1} AS (SELECT source, id, min(dist) AS dist FROM (\n"
            f"          SELECT source, id, dist FROM f{k}\n"
            f"          UNION ALL\n"
            f"          SELECT f.source, e.dst AS id, f.dist + 1 AS dist\n"
            f"          FROM f{k} f JOIN sym e ON e.src = f.id)"
            f" GROUP BY source, id)"
        )
    return (
        "WITH " + ",\n".join(parts)
        + f"\nSELECT source, id, dist::BIGINT AS dist FROM f{rounds}"
    )


def q_apsp_full(spark, sf_dir):
    """EXACT all-pairs shortest path lengths over EVERY source of its
    input graph — un-sampled
    ``apps/apsp/all_pairs_shortest_path_length.h:144`` semantics — run
    in landmark batches (``batch_count=4`` here to exercise the
    batching; batching never changes results).  The input graph is the
    ``id % 3 == 0`` induced subgraph of the co-order graph: APSP is
    |V|²-output by definition, so the driver-compared instance is kept
    at a size whose unrolled SQL oracle stays tractable — the
    ALL-sources semantics (the thing ``apsp_sample`` lacks) is what's
    under test, and full-graph pair-level parity is pytest-covered in
    ``tests/test_round4_ops.py``.  Output is the per-source rollup
    ``(source, reached, sum_dist, ecc)``."""
    from graphscope_spark.operators.traversal import apsp_full_lengths

    g = part_graph_undirected(spark, sf_dir)
    sub = g.induce_subgraph(g.vertices.where(F.col("id") % 3 == 0))
    # edge table is already symmetric (part_graph_undirected)
    d = apsp_full_lengths(sub, batch_count=4, symmetrize=False)
    return d.groupBy("source").agg(
        F.count(F.lit(1)).cast("long").alias("reached"),
        F.sum("dist").cast("long").alias("sum_dist"),
        F.max("dist").cast("long").alias("ecc"),
    )


def _apsp_full_sql(rounds: int = 10) -> str:
    parts = [
        _G,
        "subv AS (SELECT id FROM verts WHERE id % 3 = 0)",
        "subsym AS (SELECT e.src, e.dst FROM sym e\n"
        "           JOIN subv a ON a.id = e.src"
        " JOIN subv b ON b.id = e.dst)",
        "f0 AS (SELECT id AS source, id, 0 AS dist FROM subv)",
    ]
    for k in range(rounds):
        parts.append(
            f"f{k + 1} AS (SELECT source, id, min(dist) AS dist FROM (\n"
            f"          SELECT source, id, dist FROM f{k}\n"
            f"          UNION ALL\n"
            f"          SELECT f.source, e.dst AS id, f.dist + 1 AS dist\n"
            f"          FROM f{k} f JOIN subsym e ON e.src = f.id)"
            f" GROUP BY source, id)"
        )
    return (
        "WITH " + ",\n".join(parts)
        + f"\nSELECT source, count(*)::BIGINT AS reached,"
        f" sum(dist)::BIGINT AS sum_dist, max(dist)::BIGINT AS ecc\n"
        f"FROM f{rounds} GROUP BY source"
    )


def q_sssp_avg_length(spark, sf_dir):
    """Mean weighted shortest-path length over the source sample
    id % 31 == 0 (self-pairs excluded) — reference
    ``apps/sssp/sssp_average_length.h`` semantics on a sample."""
    from graphscope_spark.operators.traversal import sssp_average_length

    g = _weighted_sym_graph(spark, sf_dir)
    srcs = g.vertices.where(F.col("id") % 31 == 0)
    v = sssp_average_length(g, sources=srcs)
    return spark.createDataFrame([(round(v, 6),)], "avg_length double")


def _sssp_avg_length_sql(rounds: int = 8) -> str:
    parts = [
        _G,
        "w AS (SELECT src, dst, ((src + dst) % 7 + 1)::DOUBLE AS w FROM sym)",
        "srcs AS (SELECT id FROM verts WHERE id % 31 = 0)",
        "t0 AS (SELECT id AS source, id, 0.0::DOUBLE AS dist FROM srcs)",
    ]
    for k in range(rounds):
        parts.append(
            f"t{k + 1} AS (SELECT source, id, min(dist) AS dist FROM (\n"
            f"          SELECT source, id, dist FROM t{k}\n"
            f"          UNION ALL\n"
            f"          SELECT t.source, w.dst AS id, t.dist + w.w AS dist\n"
            f"          FROM t{k} t JOIN w ON w.src = t.id)"
            f" GROUP BY source, id)"
        )
    return (
        "WITH " + ",\n".join(parts)
        + f"\nSELECT round(avg(dist), 6) AS avg_length FROM t{rounds}"
        f" WHERE source <> id"
    )


def q_hits(spark, sf_dir):
    from graphscope_spark.operators.centrality import hits

    g = part_graph(spark, sf_dir)
    return hits(g, max_iter=10, tol=0.0).select(
        "id", F.round("hub", 6).alias("hub"), F.round("auth", 6).alias("auth")
    )


def _hits_sql(rounds: int = 10) -> str:
    parts = [
        _G,
        "nn AS (SELECT count(*)::DOUBLE AS n FROM verts)",
        "h0 AS (SELECT id, 1.0/(SELECT n FROM nn) AS hub FROM verts)",
    ]
    for k in range(rounds):
        parts.append(
            f"ar{k} AS (SELECT v.id, coalesce(m.s, 0.0) AS auth\n"
            f"        FROM verts v LEFT JOIN (\n"
            f"          SELECT e.dst AS id, sum(h.hub) AS s\n"
            f"          FROM dedges e JOIN h{k} h ON e.src = h.id"
            f" GROUP BY e.dst) m ON m.id = v.id)"
        )
        parts.append(
            f"a{k} AS (SELECT id, auth / (SELECT CASE WHEN max(auth) = 0"
            f" THEN 1.0 ELSE max(auth) END FROM ar{k}) AS auth FROM ar{k})"
        )
        parts.append(
            f"hr{k} AS (SELECT v.id, coalesce(m.s, 0.0) AS hub\n"
            f"        FROM verts v LEFT JOIN (\n"
            f"          SELECT e.src AS id, sum(a.auth) AS s\n"
            f"          FROM dedges e JOIN a{k} a ON e.dst = a.id"
            f" GROUP BY e.src) m ON m.id = v.id)"
        )
        parts.append(
            f"h{k + 1} AS (SELECT id, hub / (SELECT CASE WHEN max(hub) = 0"
            f" THEN 1.0 ELSE max(hub) END FROM hr{k}) AS hub FROM hr{k})"
        )
    last_a = f"a{rounds - 1}"
    return (
        "WITH " + ",\n".join(parts)
        + f",\nhs AS (SELECT sum(hub) AS s FROM h{rounds}),\n"
        f"asum AS (SELECT sum(auth) AS s FROM {last_a})\n"
        f"SELECT h.id, round(h.hub / (SELECT s FROM hs), 6) AS hub,\n"
        f"       round(a.auth / (SELECT s FROM asum), 6) AS auth\n"
        f"FROM h{rounds} h JOIN {last_a} a ON a.id = h.id"
    )


def q_kcore(spark, sf_dir):
    from graphscope_spark.operators.clustering import kcore

    return kcore(part_graph(spark, sf_dir), k=80).select("id", "in_kcore")


def _kcore_sql(k: int = 80, rounds: int = 20) -> str:
    parts = [_G, "al0 AS (SELECT src, dst FROM sym)"]
    for r in range(rounds):
        parts.append(
            f"kp{r} AS (SELECT src AS id FROM al{r}"
            f" GROUP BY src HAVING count(*) >= {k})"
        )
        parts.append(
            f"al{r + 1} AS (SELECT a.src, a.dst FROM al{r} a\n"
            f"        JOIN kp{r} x ON x.id = a.src"
            f" JOIN kp{r} y ON y.id = a.dst)"
        )
    return (
        "WITH " + ",\n".join(parts)
        + f"\nSELECT v.id, CASE WHEN c.id IS NULL THEN 0 ELSE 1 END"
        f" AS in_kcore\n"
        f"FROM verts v LEFT JOIN (SELECT DISTINCT src AS id FROM al{rounds})"
        f" c ON c.id = v.id"
    )


def q_prop_project(spark, sf_dir):
    """Labeled property-graph projection (reference
    ``arrow_projected_fragment.h:696-744`` /
    ``framework/graph.py:254-308``): vertex label ``part`` with
    property ``p_retailprice``, edge label ``co2`` (co-order pairs in
    ≥2 distinct orders) with the co-order count as edge property →
    ``project('part', 'co2', vprop, eprop)`` → weighted simple graph;
    output = weighted degree (strength) per part plus the carried
    vertex property.  Exercises that apps consume projections, not the
    label catalog."""
    from graphscope_spark.property_graph import PropertyGraph

    part = load(spark, sf_dir, "part").select(
        F.col("p_partkey").alias("id"), "p_retailprice"
    )
    li = load(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey")
    pairs = _coorder_pairs(li)
    wedges = (
        pairs.groupBy("src", "dst")
        .agg(F.count(F.lit(1)).alias("c"))
        .where(F.col("c") >= 2)
    )
    pg = PropertyGraph(directed=False)
    pg.add_vertices(part, "part")
    pg.add_edges(wedges, "co2", "part", "part")
    g = pg.project("part", "co2", vprop="p_retailprice", eprop="c")
    strength = g.symmetrized_edges().groupBy(
        F.col("src").alias("id")
    ).agg(F.sum("weight").alias("s"))
    return (
        g.vertices.join(strength, "id", "left")
        .select(
            "id",
            F.coalesce("s", F.lit(0.0)).cast("long").alias("strength"),
            F.round("p_retailprice", 2).alias("price"),
        )
    )


def _prop_project_sql() -> str:
    return """\
WITH li AS (SELECT l_orderkey, l_partkey FROM lineitem),
pair1 AS (SELECT DISTINCT a.l_orderkey AS ok, a.l_partkey AS src,
                 b.l_partkey AS dst
          FROM li a JOIN li b
          ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey),
wedges AS (SELECT src, dst, c FROM (
           SELECT src, dst, count(*) AS c FROM pair1 GROUP BY src, dst)
           WHERE c >= 2),
wsym AS (SELECT src, dst, c FROM wedges
         UNION ALL SELECT dst AS src, src AS dst, c FROM wedges),
st AS (SELECT src AS id, sum(c) AS s FROM wsym GROUP BY src)
SELECT p.p_partkey AS id, coalesce(st.s, 0)::BIGINT AS strength,
       round(p.p_retailprice, 2) AS price
FROM part p LEFT JOIN st ON st.id = p.p_partkey"""


def q_khop2(spark, sf_dir):
    """GIE PathExpand(2)/EdgeExpand demo: distinct 2-hop neighborhood
    size per vertex over the symmetrized graph, self excluded."""
    verts, dedges = part_edges(spark, sf_dir)
    sym = dedges.unionByName(
        dedges.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    )
    two = (
        sym.alias("a")
        .join(sym.alias("b"), F.col("a.dst") == F.col("b.src"))
        .where(F.col("a.src") != F.col("b.dst"))
        .select(F.col("a.src").alias("id"), F.col("b.dst").alias("w"))
        .distinct()
    )
    return two.groupBy("id").agg(F.count(F.lit(1)).cast("long").alias("n2"))


_KHOP2_SQL = """\
WITH li AS (SELECT l_orderkey, l_partkey FROM lineitem),
dedges AS (SELECT DISTINCT a.l_partkey AS src, b.l_partkey AS dst
           FROM li a JOIN li b
           ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey),
sym AS (SELECT src, dst FROM dedges
        UNION ALL SELECT dst AS src, src AS dst FROM dedges),
two AS (SELECT DISTINCT a.src AS id, b.dst AS w
        FROM sym a JOIN sym b ON a.dst = b.src AND a.src <> b.dst)
SELECT id, count(*) AS n2 FROM two GROUP BY id"""


def q_clustering_directed(spark, sf_dir):
    """Directed clustering coefficient (Fagiolo) on the co-order graph
    augmented with reversed arcs for pairs with (src+dst) % 3 == 0 —
    the reversals create reciprocal pairs so the d_rec / w=2 terms of
    ``apps/clustering/clustering.h`` are actually exercised."""
    from graphscope_spark.operators.clustering import directed_clustering

    verts, dedges = part_edges(spark, sf_dir)
    rev = dedges.where((F.col("src") + F.col("dst")) % 3 == 0).select(
        F.col("dst").alias("src"), F.col("src").alias("dst")
    )
    g = Graph.from_edges(dedges.unionByName(rev), directed=True,
                         vertices=verts)
    return directed_clustering(g).select(
        "id", F.round("cc", 6).alias("cc")
    )


_CLUSTERING_DIRECTED_SQL = (
    "WITH " + _G + """,
rev AS (SELECT dst AS src, src AS dst FROM dedges WHERE (src + dst) % 3 = 0),
arcs AS (SELECT src, dst FROM dedges UNION ALL SELECT src, dst FROM rev),
und2 AS (SELECT src, dst FROM arcs UNION ALL SELECT dst, src FROM arcs),
wt AS (SELECT src, dst, count(*) AS w FROM und2 GROUP BY src, dst),
dtot AS (SELECT src AS id, count(*) AS dtot FROM und2 GROUP BY src),
recd AS (SELECT src AS id, count(*) AS rec FROM wt WHERE w = 2 GROUP BY src),
sdeg AS (SELECT src AS id, count(*) AS sd FROM wt GROUP BY src),
o AS (SELECT wt.src, wt.dst, wt.w FROM wt
      JOIN sdeg a ON a.id = wt.src JOIN sdeg b ON b.id = wt.dst
      WHERE a.sd < b.sd OR (a.sd = b.sd AND wt.src < wt.dst)),
t AS (SELECT e1.src AS a, e1.dst AS b, e2.dst AS c,
             e1.w * e2.w * e3.w AS p
      FROM o e1 JOIN o e2 ON e2.src = e1.dst
      JOIN o e3 ON e3.src = e1.src AND e3.dst = e2.dst),
tc AS (SELECT id, sum(p) AS t FROM (
         SELECT a AS id, p FROM t UNION ALL SELECT b, p FROM t
         UNION ALL SELECT c, p FROM t) GROUP BY id)
SELECT v.id, round(CASE WHEN coalesce(d.dtot, 0) >= 2
         AND (d.dtot * (d.dtot - 1) - 2 * coalesce(r.rec, 0)) > 0
       THEN coalesce(tc.t, 0)::DOUBLE
            / (d.dtot * (d.dtot - 1) - 2 * coalesce(r.rec, 0))
       ELSE 0.0 END, 6) AS cc
FROM verts v LEFT JOIN dtot d ON d.id = v.id
LEFT JOIN recd r ON r.id = v.id LEFT JOIN tc ON tc.id = v.id"""
)


def q_avg_clustering(spark, sf_dir):
    from graphscope_spark.operators.clustering import avg_clustering

    v = avg_clustering(part_graph(spark, sf_dir))
    return spark.createDataFrame(
        [(round(v, 6),)], "avg_clustering double"
    )


def q_transitivity(spark, sf_dir):
    from graphscope_spark.operators.clustering import transitivity

    v = transitivity(part_graph(spark, sf_dir))
    return spark.createDataFrame([(round(v, 6),)], "transitivity double")


def q_assortativity(spark, sf_dir):
    from graphscope_spark.operators.misc import degree_assortativity

    v = degree_assortativity(part_graph(spark, sf_dir))
    return spark.createDataFrame([(round(v, 6),)], "assortativity double")


def q_attr_assortativity(spark, sf_dir):
    """Categorical (attribute) assortativity of ``p_brand`` on the
    directed co-order graph (reference
    ``apps/assortativity/attribute_assortativity.h``, registry algo
    ``attribute_assortativity_coefficient`` in ``.gs_conf.yaml``):
    do same-brand parts co-order together more than chance?"""
    from graphscope_spark.operators.misc import attribute_assortativity

    verts, dedges = part_edges(spark, sf_dir)
    attrs = load(spark, sf_dir, "part").select(
        F.col("p_partkey").alias("id"), F.col("p_brand").alias("brand")
    )
    g = Graph.from_edges(
        dedges, directed=True, vertices=verts.join(attrs, "id")
    )
    v = attribute_assortativity(g, "brand")
    return spark.createDataFrame(
        [(round(v, 6),)], "attr_assortativity double"
    )


_ATTR_ASSORT_SQL = (
    "WITH " + _G + """,
att AS (SELECT p_partkey AS id, p_brand AS att FROM part),
mix AS (SELECT sa.att AS xs, da.att AS xd, count(*)::BIGINT AS cnt
        FROM dedges e JOIN att sa ON sa.id = e.src
        JOIN att da ON da.id = e.dst
        GROUP BY sa.att, da.att),
aa AS (SELECT xs, sum(cnt)::BIGINT AS a FROM mix GROUP BY xs),
bb AS (SELECT xd, sum(cnt)::BIGINT AS b FROM mix GROUP BY xd),
tot AS (SELECT sum(cnt)::BIGINT AS m,
               sum(CASE WHEN xs = xd THEN cnt ELSE 0 END)::BIGINT AS tr
        FROM mix),
sab AS (SELECT sum(a*b)::BIGINT AS s FROM aa JOIN bb ON bb.xd = aa.xs)
SELECT round(((SELECT tr FROM tot) * (SELECT m FROM tot)
              - (SELECT s FROM sab))::DOUBLE
       / ((SELECT m FROM tot) * (SELECT m FROM tot)
          - (SELECT s FROM sab))::DOUBLE, 6) AS attr_assortativity"""
)


def q_numeric_assortativity(spark, sf_dir):
    """Numeric assortativity of ``p_size`` on the directed co-order
    graph (reference ``attribute_assortativity.h`` with
    ``numeric=true`` → ``utils.h`` ``ProcessMatrix`` = Pearson corr of
    endpoint values; nx ``numeric_assortativity_coefficient``)."""
    from graphscope_spark.operators.misc import numeric_assortativity

    verts, dedges = part_edges(spark, sf_dir)
    attrs = load(spark, sf_dir, "part").select(
        F.col("p_partkey").alias("id"), F.col("p_size").alias("size")
    )
    g = Graph.from_edges(
        dedges, directed=True, vertices=verts.join(attrs, "id")
    )
    v = numeric_assortativity(g, "size")
    return spark.createDataFrame(
        [(round(v, 6),)], "numeric_assortativity double"
    )


_NUMERIC_ASSORT_SQL = (
    "WITH " + _G + """,
att AS (SELECT p_partkey AS id, p_size::DOUBLE AS att FROM part)
SELECT round(corr(sa.att, da.att), 6) AS numeric_assortativity
FROM dedges e JOIN att sa ON sa.id = e.src
JOIN att da ON da.id = e.dst"""
)


def q_edge_boundary(spark, sf_dir):
    """Edge boundary of S = {parts with id % 17 == 0} on the directed
    co-order graph (reference ``apps/boundary/edge_boundary.h``; same
    S as the ``boundary`` node-boundary query): out-edges of S landing
    outside S."""
    from graphscope_spark.operators.misc import edge_boundary

    g = part_graph(spark, sf_dir)
    sset = g.vertices.where(F.col("id") % 17 == 0)
    return edge_boundary(g, sset)


_EDGE_BOUNDARY_SQL = (
    "WITH " + _G + "\n"
    + "SELECT DISTINCT src, dst FROM dedges\n"
      "WHERE src % 17 = 0 AND dst % 17 <> 0"
)


def q_gie_shortest_path(spark, sf_dir):
    """``g.V(min_id).shortestPath()`` on the GIE traversal surface
    (PathExpand ANY_SHORTEST, ``physical.proto:213-260``): one
    deterministic (min-pred) shortest path per reached vertex on the
    symmetrized co-order graph, path rendered as a '-'-joined id
    string."""
    from graphscope_spark.gie import traversal

    g = part_graph(spark, sf_dir)
    s = int(g.vertices.agg(F.min("id")).collect()[0][0])
    df = traversal(g).V(s).shortestPath(symmetrize=True, max_hops=6)
    return df.select(
        "id", "hops",
        F.concat_ws("-", F.col("path").cast("array<string>"))
        .alias("path"),
    )


def _gie_shortest_path_sql(rounds: int = 6) -> str:
    parts = [
        _G,
        "b0 AS (SELECT (SELECT min(id) FROM verts) AS id, 0 AS depth)",
    ]
    for k in range(rounds):
        parts.append(
            f"b{k + 1} AS (SELECT id, min(depth) AS depth FROM (\n"
            f"          SELECT id, depth FROM b{k}\n"
            f"          UNION ALL\n"
            f"          SELECT e.dst AS id, b.depth + 1 AS depth\n"
            f"          FROM b{k} b JOIN sym e ON e.src = b.id) GROUP BY id)"
        )
    parts.append(
        f"tree AS (SELECT b.id, min(e.src) AS pred\n"
        f"         FROM b{rounds} b JOIN sym e ON e.dst = b.id\n"
        f"         JOIN b{rounds} p ON p.id = e.src"
        f" AND p.depth + 1 = b.depth\n"
        f"         WHERE b.depth > 0 GROUP BY b.id)"
    )
    parts.append(
        f"p0 AS (SELECT id, id::VARCHAR AS path, id AS head"
        f" FROM b{rounds})"
    )
    for k in range(rounds):
        parts.append(
            f"p{k + 1} AS (SELECT p.id,\n"
            f"          CASE WHEN t.pred IS NULL THEN p.path\n"
            f"               ELSE t.pred::VARCHAR || '-' || p.path END"
            f" AS path,\n"
            f"          coalesce(t.pred, p.head) AS head\n"
            f"          FROM p{k} p LEFT JOIN tree t ON t.id = p.head)"
        )
    return (
        "WITH " + ",\n".join(parts)
        + f"\nSELECT b.id, b.depth::INT AS hops, p.path\n"
        f"FROM b{rounds} b JOIN p{rounds} p ON p.id = b.id"
    )


def q_cypher_shortest(spark, sf_dir):
    """The Cypher ``shortestPath()`` pattern function (reference
    grammar ``CypherGS.g4``; GIE PathExpand ANY_SHORTEST,
    ``physical.proto:213-260``) through the driver protocol: one
    deterministic (min-pred) shortest path per vertex reached within
    6 undirected hops of the min-id part on the co-order graph —
    compiled by :func:`graphscope_spark.cypher.cypher` onto the same
    BFS-frontier machinery as ``q_gie_shortest_path``.  openCypher
    excludes the zero-length self-path, so the oracle filters
    ``hops >= 1``."""
    from graphscope_spark.cypher import cypher

    g = part_graph(spark, sf_dir)
    s = int(g.vertices.agg(F.min("id")).collect()[0][0])
    df = cypher(
        g,
        f"MATCH p = shortestPath((a {{id: {s}}})-[*..6]-(b)) "
        "RETURN b AS id, length(p) AS hops, nodes(p) AS path",
    )
    return df.select(
        "id", "hops",
        F.concat_ws("-", F.col("path").cast("array<string>"))
        .alias("path"),
    )


def _cypher_shortest_sql() -> str:
    # same BFS + min-pred reconstruction as the GIE twin, minus the
    # hops=0 source row (openCypher shortestPath semantics)
    return (
        "SELECT id, hops, path FROM ("
        + _gie_shortest_path_sql(6)
        + ") WHERE hops >= 1"
    )


def q_cypher_topdeg(spark, sf_dir):
    """The Cypher STRING front-end through the driver protocol
    (reference grammar ``CypherGS.g4``): top-20 parts by out-degree
    restricted to co-order partners of size > 25 — pattern + property
    WHERE + implicit-group aggregate + ORDER BY/LIMIT, all compiled to
    one lazy DataFrame plan by :func:`graphscope_spark.cypher.cypher`."""
    from graphscope_spark.cypher import cypher

    verts, dedges = part_edges(spark, sf_dir)
    attrs = load(spark, sf_dir, "part").select(
        F.col("p_partkey").alias("id"), F.col("p_size").alias("size")
    )
    g = Graph.from_edges(
        dedges, directed=True, vertices=verts.join(attrs, "id")
    )
    return cypher(
        g,
        "MATCH (a)-[r]->(b) WHERE b.size > 25 "
        "RETURN a, count(*) AS deg ORDER BY deg DESC, a ASC LIMIT 20",
    )


_CYPHER_TOPDEG_SQL = (
    "WITH " + _G + """,
att AS (SELECT p_partkey AS id, p_size FROM part)
SELECT e.src AS a, count(*) AS deg
FROM dedges e JOIN att b ON b.id = e.dst
WHERE b.p_size > 25
GROUP BY e.src ORDER BY deg DESC, a ASC LIMIT 20"""
)


def q_cypher_case(spark, sf_dir):
    """Cypher searched-CASE + arithmetic through the driver protocol
    (``CypherGS.g4`` caseExpression): bucket co-order partners by
    size band, with a modulo WHERE filter and an arithmetic aggregate
    argument — grouping on a computed CASE key, one lazy plan."""
    from graphscope_spark.cypher import cypher

    verts, dedges = part_edges(spark, sf_dir)
    attrs = load(spark, sf_dir, "part").select(
        F.col("p_partkey").alias("id"), F.col("p_size").alias("size")
    )
    g = Graph.from_edges(
        dedges, directed=True, vertices=verts.join(attrs, "id")
    )
    return cypher(
        g,
        "MATCH (a)-[r]->(b) WHERE a.size % 2 = 0 "
        "RETURN CASE WHEN b.size > 35 THEN 'big' "
        "WHEN b.size > 15 THEN 'mid' ELSE 'small' END AS bucket, "
        "count(*) AS n, sum(b.size * 2 + 1) AS wsum",
    )


_CYPHER_CASE_SQL = (
    "WITH " + _G + """,
att AS (SELECT p_partkey AS id, p_size FROM part)
SELECT CASE WHEN b.p_size > 35 THEN 'big'
            WHEN b.p_size > 15 THEN 'mid'
            ELSE 'small' END AS bucket,
       count(*) AS n,
       sum(b.p_size * 2 + 1)::BIGINT AS wsum
FROM dedges e
JOIN att a ON a.id = e.src
JOIN att b ON b.id = e.dst
WHERE a.p_size % 2 = 0
GROUP BY 1"""
)


def q_cypher_varlen(spark, sf_dir):
    """Variable-length Cypher pattern (GIE PathExpand,
    ``physical.proto:213-260``) through the driver protocol: bag count
    of 1..2-hop directed co-order paths out of size-1 parts — inline
    property map + ``-[*1..2]->`` + implicit-group aggregate, one lazy
    plan (the hop union stays a DataFrame union of joins; nothing
    collects)."""
    from graphscope_spark.cypher import cypher

    verts, dedges = part_edges(spark, sf_dir)
    attrs = load(spark, sf_dir, "part").select(
        F.col("p_partkey").alias("id"), F.col("p_size").alias("size")
    )
    g = Graph.from_edges(
        dedges, directed=True, vertices=verts.join(attrs, "id")
    )
    return cypher(
        g,
        "MATCH (a {size: 1})-[*1..2]->(b) "
        "RETURN b, count(*) AS paths ORDER BY paths DESC, b ASC LIMIT 20",
    )


_CYPHER_VARLEN_SQL = (
    "WITH " + _G + """,
att AS (SELECT p_partkey AS id, p_size FROM part),
srcs AS (SELECT v.id FROM verts v JOIN att ON att.id = v.id
         WHERE att.p_size = 1),
p1 AS (SELECT s.id AS a, e.dst AS b
       FROM srcs s JOIN dedges e ON e.src = s.id),
p2 AS (SELECT p1.a, e.dst AS b
       FROM p1 JOIN dedges e ON e.src = p1.b),
u AS (SELECT b FROM p1 UNION ALL SELECT b FROM p2)
SELECT b, count(*) AS paths FROM u
GROUP BY b ORDER BY paths DESC, b ASC LIMIT 20"""
)


def q_cypher_optional(spark, sf_dir):
    """OPTIONAL MATCH through the driver protocol: per-part count of
    co-order partners of size > 45, with zero-partner parts SURVIVING
    the optional pattern as count 0 — the left-join extension
    semantics the reference's Cypher compiler lowers to an optional
    EdgeExpand."""
    from graphscope_spark.cypher import cypher

    verts, dedges = part_edges(spark, sf_dir)
    attrs = load(spark, sf_dir, "part").select(
        F.col("p_partkey").alias("id"), F.col("p_size").alias("size")
    )
    g = Graph.from_edges(
        dedges, directed=True, vertices=verts.join(attrs, "id")
    )
    return cypher(
        g,
        "MATCH (a) OPTIONAL MATCH (a)-->(b) WHERE b.size > 45 "
        "RETURN a, count(b) AS n",
    )


_CYPHER_OPTIONAL_SQL = (
    "WITH " + _G + """,
att AS (SELECT p_partkey AS id, p_size FROM part),
big AS (SELECT e.src, e.dst FROM dedges e
        JOIN att b ON b.id = e.dst WHERE b.p_size > 45)
SELECT v.id AS a, count(big.dst) AS n
FROM verts v LEFT JOIN big ON big.src = v.id
GROUP BY v.id"""
)


def q_boundary(spark, sf_dir):
    from graphscope_spark.operators.misc import node_boundary

    g = part_graph(spark, sf_dir)
    sset = g.vertices.where(F.col("id") % 17 == 0)
    return node_boundary(g, sset).select("id")


def q_core_numbers_k3(spark, sf_dir):
    """Core decomposition capped at k=3: ``(id, core)`` with core =
    min(core number, 3) — registers the full peeling decomposition
    (``operators/clustering.core_numbers``) at an oracle-tractable
    depth; the uncapped variant is pytest-covered."""
    from graphscope_spark.operators.clustering import core_numbers

    return core_numbers(part_graph(spark, sf_dir), max_k=3).select(
        "id", "core"
    )


def _core_numbers_k3_sql(rounds: int = 5) -> str:
    """Three independent k-core membership chains (k = 1, 2, 3);
    core = highest k whose core contains the vertex."""
    parts = [_G]
    for k in (1, 2, 3):
        parts.append(f"c{k}l0 AS (SELECT src, dst FROM sym)")
        for r in range(rounds):
            parts.append(
                f"c{k}p{r} AS (SELECT src AS id FROM c{k}l{r}"
                f" GROUP BY src HAVING count(*) >= {k})"
            )
            parts.append(
                f"c{k}l{r + 1} AS (SELECT a.src, a.dst FROM c{k}l{r} a\n"
                f"        JOIN c{k}p{r} x ON x.id = a.src"
                f" JOIN c{k}p{r} y ON y.id = a.dst)"
            )
        parts.append(
            f"core{k} AS (SELECT DISTINCT src AS id FROM c{k}l{rounds})"
        )
    return (
        "WITH " + ",\n".join(parts)
        + """
SELECT v.id, CASE WHEN c3.id IS NOT NULL THEN 3
                  WHEN c2.id IS NOT NULL THEN 2
                  WHEN c1.id IS NOT NULL THEN 1
                  ELSE 0 END::BIGINT AS core
FROM verts v LEFT JOIN core3 c3 ON c3.id = v.id
LEFT JOIN core2 c2 ON c2.id = v.id
LEFT JOIN core1 c1 ON c1.id = v.id"""
    )


def q_kshell(spark, sf_dir):
    from graphscope_spark.operators.clustering import kshell

    return kshell(part_graph(spark, sf_dir), k=80).select("id", "in_kshell")


def q_lpa_u2i(spark, sf_dir):
    from graphscope_spark.operators.lpa_u2i import lpa_u2i

    o = load(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    li = load(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_partkey", "l_quantity"
    )
    be = (
        o.join(li, o.o_orderkey == li.l_orderkey)
        .groupBy(
            F.col("o_custkey").alias("user"),
            F.col("l_partkey").alias("item"),
        )
        .agg(F.sum("l_quantity").alias("weight"))
    )
    ulab, ilab = lpa_u2i(be, max_round=5)
    return ulab.select(F.col("user").alias("id"), "label")


def _kshell_sql(k: int = 80, rounds: int = 20) -> str:
    parts = [_G]
    for tag, kk in (("a", k), ("b", k + 1)):
        parts.append(f"{tag}l0 AS (SELECT src, dst FROM sym)")
        for r in range(rounds):
            parts.append(
                f"{tag}kp{r} AS (SELECT src AS id FROM {tag}l{r}"
                f" GROUP BY src HAVING count(*) >= {kk})"
            )
            parts.append(
                f"{tag}l{r + 1} AS (SELECT x.src, x.dst FROM {tag}l{r} x\n"
                f"        JOIN {tag}kp{r} p ON p.id = x.src"
                f" JOIN {tag}kp{r} q ON q.id = x.dst)"
            )
        parts.append(
            f"{tag}core AS (SELECT DISTINCT src AS id FROM {tag}l{rounds})"
        )
    return (
        "WITH " + ",\n".join(parts)
        + "\nSELECT v.id, CASE WHEN ac.id IS NOT NULL AND bc.id IS NULL"
        " THEN 1 ELSE 0 END AS in_kshell\n"
        "FROM verts v LEFT JOIN acore ac ON ac.id = v.id"
        " LEFT JOIN bcore bc ON bc.id = v.id"
    )


def _lpa_u2i_sql(rounds: int = 5) -> str:
    parts = [
        "be AS (SELECT o_custkey AS usr, l_partkey AS item,\n"
        "        sum(l_quantity) AS w\n"
        "        FROM orders JOIN lineitem ON l_orderkey = o_orderkey\n"
        "        GROUP BY o_custkey, l_partkey)",
        "us AS (SELECT DISTINCT usr FROM be)",
        "its AS (SELECT DISTINCT item FROM be)",
        "u0 AS (SELECT usr, usr AS label FROM us)",
        "i0 AS (SELECT item, item AS label FROM its)",
    ]
    for r in range(rounds):
        parts.append(
            f"iw{r} AS (SELECT item, label FROM (\n"
            f"          SELECT be.item, u.label, sum(be.w) AS tw\n"
            f"          FROM be JOIN u{r} u ON be.usr = u.usr\n"
            f"          GROUP BY be.item, u.label)\n"
            f"        QUALIFY row_number() OVER (PARTITION BY item"
            f" ORDER BY tw DESC, label ASC) = 1)"
        )
        parts.append(
            f"i{r + 1} AS (SELECT i.item,"
            f" coalesce(w.label, i.label) AS label\n"
            f"        FROM i{r} i LEFT JOIN iw{r} w ON w.item = i.item)"
        )
        parts.append(
            f"uw{r} AS (SELECT usr, label FROM (\n"
            f"          SELECT be.usr, il.label, sum(be.w) AS tw\n"
            f"          FROM be JOIN i{r + 1} il ON be.item = il.item\n"
            f"          GROUP BY be.usr, il.label)\n"
            f"        QUALIFY row_number() OVER (PARTITION BY usr"
            f" ORDER BY tw DESC, label ASC) = 1)"
        )
        parts.append(
            f"u{r + 1} AS (SELECT u.usr,"
            f" coalesce(w.label, u.label) AS label\n"
            f"        FROM u{r} u LEFT JOIN uw{r} w ON w.usr = u.usr)"
        )
    return (
        "WITH " + ",\n".join(parts)
        + f"\nSELECT usr AS id, label FROM u{rounds}"
    )


def q_eigenvector10(spark, sf_dir):
    """Fixed 10 power-iteration rounds (x' = x + A^T x, L2 norm/round)
    on the directed co-order graph."""
    from graphscope_spark.operators.centrality import eigenvector_centrality

    g = part_graph(spark, sf_dir)
    r = eigenvector_centrality(g, max_iter=10, tol=0.0)
    return r.select("id", F.round("ec", 6).alias("ec"))


def _eigenvector_sql(rounds: int = 10) -> str:
    parts = [
        _G,
        "nn AS (SELECT count(*)::DOUBLE AS n FROM verts)",
        "x0 AS (SELECT id, 1.0/(SELECT n FROM nn) AS x FROM verts)",
    ]
    for k in range(rounds):
        parts.append(
            f"r{k} AS (SELECT v.id, x.x + coalesce(m.s, 0.0) AS x\n"
            f"        FROM verts v JOIN x{k} x ON x.id = v.id\n"
            f"        LEFT JOIN (SELECT e.dst AS id, sum(x2.x) AS s\n"
            f"          FROM dedges e JOIN x{k} x2 ON e.src = x2.id"
            f" GROUP BY e.dst) m ON m.id = v.id)"
        )
        parts.append(
            f"x{k + 1} AS (SELECT id, x / (SELECT sqrt(sum(x*x))"
            f" FROM r{k}) AS x FROM r{k})"
        )
    return (
        "WITH " + ",\n".join(parts)
        + f"\nSELECT id, round(x, 6) AS ec FROM x{rounds}"
    )


def q_katz10(spark, sf_dir):
    from graphscope_spark.operators.centrality import katz_centrality

    g = part_graph(spark, sf_dir)
    r = katz_centrality(g, alpha=0.005, beta=1.0, max_iter=10, tol=0.0)
    return r.select("id", F.round("kc", 6).alias("kc"))


def _katz_sql(rounds: int = 10, alpha: float = 0.005, beta: float = 1.0) -> str:
    parts = [_G, "x0 AS (SELECT id, 0.0::DOUBLE AS x FROM verts)"]
    for k in range(rounds):
        parts.append(
            f"x{k + 1} AS (SELECT v.id,"
            f" {alpha!r}*coalesce(m.s, 0.0) + {beta!r} AS x\n"
            f"        FROM verts v LEFT JOIN (\n"
            f"          SELECT e.dst AS id, sum(x2.x) AS s\n"
            f"          FROM dedges e JOIN x{k} x2 ON e.src = x2.id"
            f" GROUP BY e.dst) m ON m.id = v.id)"
        )
    return (
        "WITH " + ",\n".join(parts)
        + f"\nSELECT id, round(x / (SELECT sqrt(sum(x*x)) FROM x{rounds}),"
        f" 6) AS kc FROM x{rounds}"
    )


def q_closeness_sample(spark, sf_dir):
    """Wasserman-Faust closeness for a source sample (id % 31 == 0) —
    the APSP fan-out restricted so the SQL oracle stays tractable."""
    from graphscope_spark.operators.centrality import closeness_centrality

    g = part_graph(spark, sf_dir)
    srcs = g.vertices.where(F.col("id") % 31 == 0)
    r = closeness_centrality(g.undirected(), sources=srcs)
    return r.select("id", F.round("cc", 6).alias("cc"))


def _closeness_sample_sql(rounds: int = 5) -> str:
    parts = [
        _G,
        "nn AS (SELECT count(*)::DOUBLE AS n FROM verts)",
        "srcs AS (SELECT id FROM verts WHERE id % 31 = 0)",
        "f0 AS (SELECT id AS source, id, 0 AS dist FROM srcs)",
    ]
    for k in range(rounds):
        parts.append(
            f"f{k + 1} AS (SELECT source, id, min(dist) AS dist FROM (\n"
            f"          SELECT source, id, dist FROM f{k}\n"
            f"          UNION ALL\n"
            f"          SELECT f.source, e.dst AS id, f.dist + 1 AS dist\n"
            f"          FROM f{k} f JOIN sym e ON e.src = f.id)"
            f" GROUP BY source, id)"
        )
    return (
        "WITH " + ",\n".join(parts)
        + f""",\nagg AS (SELECT source AS id, count(*) AS r,
         sum(dist)::DOUBLE AS total FROM f{rounds} GROUP BY source)
SELECT id, round(CASE WHEN total > 0 THEN
         ((r - 1) / total) * ((r - 1) / ((SELECT n FROM nn) - 1.0))
       ELSE 0.0 END, 6) AS cc FROM agg"""
    )


def _scc_test_graph(spark, sf_dir) -> Graph:
    """Deterministic cyclic digraph for SCC: co-order pairs restricted
    to id % 4 == 0 endpoints, thinned to ~20% by a keep-hash and
    oriented by an independent direction-hash — yields a giant SCC
    plus a singleton periphery (non-trivial both ways)."""
    verts, dedges = part_edges(spark, sf_dir)
    sub = verts.where(F.col("id") % 4 == 0)
    p = dedges.where((F.col("src") % 4 == 0) & (F.col("dst") % 4 == 0))
    from graphscope_spark.functions.text import h60

    key = F.concat(F.col("src").cast("string"), F.lit(":"),
                   F.col("dst").cast("string"))
    keep_h = h60(F.concat(F.lit("k:"), key))
    dir_h = h60(F.concat(F.lit("d:"), key))
    e = (
        p.where(keep_h % 10 < 2)
        .select(
            F.when(dir_h % 2 == 0, F.col("src")).otherwise(F.col("dst"))
            .alias("s2"),
            F.when(dir_h % 2 == 0, F.col("dst")).otherwise(F.col("src"))
            .alias("d2"),
        )
        .select(F.col("s2").alias("src"), F.col("d2").alias("dst"))
    )
    return Graph.from_edges(e, directed=True, vertices=sub)


def q_scc(spark, sf_dir):
    """Strongly connected components (label = min member id) on the
    hash-directed co-order subgraph — reference
    ``apps/flash/connectivity/scc.h``."""
    from graphscope_spark.operators.connectivity import scc

    return scc(_scc_test_graph(spark, sf_dir)).select("id", "scc")


def _scc_sql(rounds: int = 16) -> str:
    """Transitive-closure oracle: R = reach pairs after ``rounds``
    single-step relaxations (covers eccentricity ≤ rounds; convergence
    asserted by tests/test_oracle_convergence.py), then
    scc(v) = least(v, min{u : (v,u) ∈ R ∧ (u,v) ∈ R})."""
    h = "('0x' || substr(md5({0}), 1, 15))::BIGINT"
    key = "src::VARCHAR || ':' || dst::VARCHAR"
    parts = [
        _G,
        "subv AS (SELECT id FROM verts WHERE id % 4 = 0)",
        "p AS (SELECT src, dst FROM dedges"
        " WHERE src % 4 = 0 AND dst % 4 = 0)",
        "de AS (SELECT CASE WHEN " + h.format(f"'d:' || {key}")
        + " % 2 = 0 THEN src ELSE dst END AS src,\n"
        "        CASE WHEN " + h.format(f"'d:' || {key}")
        + " % 2 = 0 THEN dst ELSE src END AS dst\n"
        "        FROM p WHERE " + h.format(f"'k:' || {key}") + " % 10 < 2)",
        "r0 AS (SELECT src AS a, dst AS b FROM de)",
    ]
    for k in range(rounds):
        parts.append(
            f"r{k + 1} AS (SELECT DISTINCT a, b FROM (\n"
            f"          SELECT a, b FROM r{k}\n"
            f"          UNION ALL\n"
            f"          SELECT r.a, e.dst AS b FROM r{k} r"
            f" JOIN de e ON e.src = r.b))"
        )
    return (
        "WITH " + ",\n".join(parts)
        + f""",
mut AS (SELECT r1.a AS id, min(r1.b) AS mn
        FROM r{rounds} r1 JOIN r{rounds} r2
        ON r2.a = r1.b AND r2.b = r1.a GROUP BY r1.a)
SELECT v.id, least(v.id, coalesce(m.mn, v.id)) AS scc
FROM subv v LEFT JOIN mut m ON m.id = v.id"""
    )


def q_ppr(spark, sf_dir):
    """Personalized PageRank from the min part key, 10 fixed rounds
    (reference ``apps/flash/ranking/ppr.h``)."""
    from graphscope_spark.operators.pagerank import personalized_pagerank

    g = part_graph(spark, sf_dir)
    src = int(g.vertices.agg(F.min("id")).collect()[0][0])
    r = personalized_pagerank(g, src, alpha=0.85, max_iter=10, tol=0.0)
    return r.select("id", F.round("rank", 6).alias("rank"))


def _ppr_sql(rounds: int = 10, alpha: float = 0.85) -> str:
    parts = [
        _G,
        "deg AS (SELECT v.id, count(e.src) AS outdeg\n"
        "        FROM verts v LEFT JOIN dedges e ON e.src = v.id"
        " GROUP BY v.id)",
        "s0v AS (SELECT min(id) AS v FROM verts)",
        "r0 AS (SELECT id, CASE WHEN id = (SELECT v FROM s0v)"
        " THEN 1.0::DOUBLE ELSE 0.0::DOUBLE END AS rank FROM verts)",
    ]
    for k in range(rounds):
        parts.append(
            f"d{k} AS (SELECT coalesce(sum(r.rank), 0)*{alpha!r} AS ds\n"
            f"        FROM r{k} r JOIN deg ON deg.id = r.id"
            f" WHERE deg.outdeg = 0)"
        )
        parts.append(
            f"m{k} AS (SELECT e.dst AS id, sum(r.rank / deg.outdeg) AS s\n"
            f"        FROM dedges e JOIN r{k} r ON e.src = r.id\n"
            f"        JOIN deg ON deg.id = r.id GROUP BY e.dst)"
        )
        parts.append(
            f"r{k + 1} AS (SELECT v.id,\n"
            f"        {alpha!r}*coalesce(m.s, 0.0)"
            f" + CASE WHEN v.id = (SELECT v FROM s0v)"
            f" THEN {1.0 - alpha!r} + (SELECT ds FROM d{k})"
            f" ELSE 0.0 END AS rank\n"
            f"        FROM verts v LEFT JOIN m{k} m ON m.id = v.id)"
        )
    return (
        "WITH " + ",\n".join(parts)
        + f"\nSELECT id, round(rank, 6) AS rank FROM r{rounds}"
    )


def q_harmonic_sample(spark, sf_dir):
    """Harmonic centrality for the source sample id % 31 == 0 on the
    undirected co-order graph (reference
    ``apps/flash/centrality/harmonic.h``)."""
    from graphscope_spark.operators.centrality import harmonic_centrality

    g = part_graph_undirected(spark, sf_dir)
    srcs = g.vertices.where(F.col("id") % 31 == 0)
    return harmonic_centrality(g, sources=srcs).select(
        "id", F.round("hc", 6).alias("hc")
    )


def _harmonic_sample_sql(rounds: int = 5) -> str:
    base = _apsp_sample_sql(rounds)
    prefix = base.rsplit("\nSELECT", 1)[0]
    # LEFT JOIN from the source sample: every requested vertex gets a
    # row, hc = 0.0 when it reaches nothing (operator convention)
    return (
        prefix
        + f",\nhc AS (SELECT source AS id, round(sum(1.0/dist), 6) AS hc"
        f" FROM f{rounds} WHERE dist > 0 GROUP BY source)"
        "\nSELECT v.id, coalesce(h.hc, 0.0) AS hc"
        "\nFROM (SELECT id FROM verts WHERE id % 31 = 0) v"
        "\nLEFT JOIN hc h ON h.id = v.id"
    )


def q_diameter_approx(spark, sf_dir):
    """Double-sweep diameter lower bound on the undirected co-order
    graph (reference ``apps/flash/measurement/diameter-approx.h``)."""
    from graphscope_spark.operators.misc import diameter_approx

    g = part_graph(spark, sf_dir)
    lb, far, ecc1 = diameter_approx(g)
    return spark.createDataFrame(
        [(lb, far, ecc1)],
        "diameter_lb long, far_vertex long, ecc1 long",
    )


def _diameter_approx_sql(rounds: int = 6) -> str:
    parts = [
        _G,
        "b0 AS (SELECT (SELECT min(id) FROM verts) AS id, 0 AS depth)",
    ]
    for k in range(rounds):
        parts.append(
            f"b{k + 1} AS (SELECT id, min(depth) AS depth FROM (\n"
            f"          SELECT id, depth FROM b{k}\n"
            f"          UNION ALL\n"
            f"          SELECT e.dst AS id, b.depth + 1 AS depth\n"
            f"          FROM b{k} b JOIN sym e ON e.src = b.id) GROUP BY id)"
        )
    parts.append(
        f"far AS (SELECT id, depth FROM b{rounds}"
        f" ORDER BY depth DESC, id ASC LIMIT 1)"
    )
    parts.append("c0 AS (SELECT (SELECT id FROM far) AS id, 0 AS depth)")
    for k in range(rounds):
        parts.append(
            f"c{k + 1} AS (SELECT id, min(depth) AS depth FROM (\n"
            f"          SELECT id, depth FROM c{k}\n"
            f"          UNION ALL\n"
            f"          SELECT e.dst AS id, c.depth + 1 AS depth\n"
            f"          FROM c{k} c JOIN sym e ON e.src = c.id) GROUP BY id)"
        )
    return (
        "WITH " + ",\n".join(parts)
        + f"""
SELECT (SELECT max(depth) FROM c{rounds})::BIGINT AS diameter_lb,
       (SELECT id FROM far)::BIGINT AS far_vertex,
       (SELECT depth FROM far)::BIGINT AS ecc1"""
    )


def q_mis(spark, sf_dir):
    """Deterministic Luby maximal independent set on the undirected
    co-order graph (reference ``apps/flash/matching/mis.h``); h60
    priorities make the set engine-reproducible."""
    from graphscope_spark.operators.misc import maximal_independent_set

    return maximal_independent_set(part_graph(spark, sf_dir)).select(
        "id", "in_mis"
    )


def _mis_sql(rounds: int = 8) -> str:
    pri = _H60.format("'m:' || id::VARCHAR")
    parts = [
        _G,
        f"pv AS (SELECT id, {pri} AS pri FROM verts)",
        "a0 AS (SELECT id, pri FROM pv)",
        "e0 AS (SELECT src, dst FROM sym)",
    ]
    for k in range(rounds):
        parts.append(
            f"nm{k} AS (SELECT e.src AS id, min(ROW(a.pri, a.id)) AS m\n"
            f"        FROM e{k} e JOIN a{k} a ON a.id = e.dst"
            f" GROUP BY e.src)"
        )
        parts.append(
            f"w{k} AS (SELECT a.id FROM a{k} a LEFT JOIN nm{k} n"
            f" ON n.id = a.id\n"
            f"        WHERE n.m IS NULL OR ROW(a.pri, a.id) < n.m)"
        )
        parts.append(
            f"rm{k} AS (SELECT id FROM w{k} UNION\n"
            f"        SELECT e.dst AS id FROM e{k} e"
            f" JOIN w{k} w ON w.id = e.src)"
        )
        parts.append(
            f"a{k + 1} AS (SELECT a.id, a.pri FROM a{k} a"
            f" LEFT JOIN rm{k} r ON r.id = a.id WHERE r.id IS NULL)"
        )
        parts.append(
            f"e{k + 1} AS (SELECT e.src, e.dst FROM e{k} e\n"
            f"        JOIN a{k + 1} x ON x.id = e.src"
            f" JOIN a{k + 1} y ON y.id = e.dst)"
        )
    mis_union = "\n        UNION ALL ".join(
        f"SELECT id FROM w{k}" for k in range(rounds)
    )
    return (
        "WITH " + ",\n".join(parts)
        + f",\nmis AS ({mis_union})\n"
        "SELECT v.id, CASE WHEN m.id IS NULL THEN 0 ELSE 1 END AS in_mis\n"
        "FROM verts v LEFT JOIN mis m ON m.id = v.id"
    )


def q_articlerank(spark, sf_dir):
    """ArticleRank, 10 fixed rounds, reference flash protocol."""
    from graphscope_spark.operators.pagerank import articlerank

    r = articlerank(part_graph(spark, sf_dir), damping=0.85, max_iter=10)
    return r.select("id", F.round("rank", 6).alias("rank"))


def _articlerank_sql(rounds: int = 10, damping: float = 0.85) -> str:
    parts = [
        _G,
        "deg AS (SELECT v.id, count(e.src) AS outdeg\n"
        "        FROM verts v LEFT JOIN dedges e ON e.src = v.id"
        " GROUP BY v.id)",
        "avgd AS (SELECT sum(outdeg)::DOUBLE / count(*) AS a FROM deg)",
        "r0 AS (SELECT id, 0.0::DOUBLE AS rank FROM verts)",
    ]
    for k in range(rounds):
        parts.append(
            f"m{k} AS (SELECT e.dst AS id,\n"
            f"          sum(r.rank / (deg.outdeg + (SELECT a FROM avgd)))"
            f" AS s\n"
            f"        FROM dedges e JOIN r{k} r ON e.src = r.id\n"
            f"        JOIN deg ON deg.id = r.id GROUP BY e.dst)"
        )
        parts.append(
            f"r{k + 1} AS (SELECT v.id,"
            f" {1.0 - damping!r} + {damping!r}*coalesce(m.s, 0.0) AS rank\n"
            f"        FROM verts v LEFT JOIN m{k} m ON m.id = v.id)"
        )
    return (
        "WITH " + ",\n".join(parts)
        + f"\nSELECT id, round(rank, 6) AS rank FROM r{rounds}"
    )


def q_matching(spark, sf_dir):
    """Deterministic greedy maximal matching on the undirected
    co-order graph (reference ``apps/flash/matching/mm.h`` family)."""
    from graphscope_spark.operators.misc import maximal_matching

    return maximal_matching(part_graph(spark, sf_dir)).select("src", "dst")


def _matching_sql(rounds: int = 12) -> str:
    pri = _H60.format("'e:' || src::VARCHAR || ':' || dst::VARCHAR")
    parts = [
        _G,
        f"e0 AS (SELECT src, dst, {pri} AS pri FROM ("
        "SELECT DISTINCT src, dst FROM sym WHERE src < dst))",
    ]
    for k in range(rounds):
        parts.append(
            f"vm{k} AS (SELECT v, min(m) AS m FROM (\n"
            f"          SELECT src AS v, ROW(pri, src, dst) AS m FROM e{k}\n"
            f"          UNION ALL\n"
            f"          SELECT dst AS v, ROW(pri, src, dst) AS m FROM e{k})"
            f" GROUP BY v)"
        )
        parts.append(
            f"w{k} AS (SELECT e.src, e.dst FROM e{k} e\n"
            f"        JOIN vm{k} a ON a.v = e.src"
            f" JOIN vm{k} b ON b.v = e.dst\n"
            f"        WHERE ROW(e.pri, e.src, e.dst) = a.m"
            f" AND ROW(e.pri, e.src, e.dst) = b.m)"
        )
        parts.append(
            f"mv{k} AS (SELECT src AS v FROM w{k}"
            f" UNION SELECT dst FROM w{k})"
        )
        parts.append(
            f"e{k + 1} AS (SELECT e.src, e.dst, e.pri FROM e{k} e\n"
            f"        LEFT JOIN mv{k} x ON x.v = e.src"
            f" LEFT JOIN mv{k} y ON y.v = e.dst\n"
            f"        WHERE x.v IS NULL AND y.v IS NULL)"
        )
    final = "\nUNION ALL ".join(
        f"SELECT src, dst FROM w{k}" for k in range(rounds)
    )
    return "WITH " + ",\n".join(parts) + f"\nSELECT src, dst FROM ({final})"


def q_rect_count(spark, sf_dir):
    """Global rectangle (4-cycle) count (reference
    ``apps/flash/subgraph/rectangle.h``)."""
    from graphscope_spark.operators.triangles import rectangle_count

    v = rectangle_count(part_graph(spark, sf_dir))
    return spark.createDataFrame([(int(v),)], "rect_count long")


_RECT_COUNT_SQL = (
    "WITH " + _G + """,
wedges AS (SELECT x.src AS a, y.dst AS c
           FROM sym x JOIN sym y ON x.dst = y.src WHERE x.src < y.dst),
pc AS (SELECT a, c, count(*) AS w FROM wedges GROUP BY a, c)
SELECT (coalesce(sum(w*(w-1)), 0) / 4)::BIGINT AS rect_count FROM pc"""
)


def q_k4_count(spark, sf_dir):
    """Global 4-clique count (reference flash k-clique, k=4)."""
    from graphscope_spark.operators.triangles import k4_count

    v = k4_count(part_graph(spark, sf_dir))
    return spark.createDataFrame([(int(v),)], "k4_count long")


_K4_COUNT_SQL = (
    "WITH " + _G + ",\n" + _TRI + """,
k4 AS (SELECT 1 FROM t
       JOIN o da ON da.src = t.a
       JOIN o db ON db.src = t.b AND db.dst = da.dst
       JOIN o dc ON dc.src = t.c AND dc.dst = da.dst)
SELECT count(*)::BIGINT AS k4_count FROM k4"""
)


def q_k5_count(spark, sf_dir):
    """Global 5-clique count via the generic oriented k-clique
    extension (reference ``apps/flash/subgraph/k-clique.h``)."""
    from graphscope_spark.operators.triangles import k_clique_count

    v = k_clique_count(part_graph(spark, sf_dir), 5)
    return spark.createDataFrame([(int(v),)], "k5_count long")


_K5_COUNT_SQL = (
    "WITH " + _G + ",\n" + _TRI + """,
k5 AS (SELECT 1 FROM t
       JOIN o da ON da.src = t.a
       JOIN o db ON db.src = t.b AND db.dst = da.dst
       JOIN o dc ON dc.src = t.c AND dc.dst = da.dst
       JOIN o ea ON ea.src = t.a
       JOIN o eb ON eb.src = t.b AND eb.dst = ea.dst
       JOIN o ec ON ec.src = t.c AND ec.dst = ea.dst
       JOIN o ed ON ed.src = da.dst AND ed.dst = ea.dst)
SELECT count(*)::BIGINT AS k5_count FROM k5"""
)


_ETRI = """\
etri AS (SELECT u, v, count(*)::BIGINT AS tc FROM (
   SELECT least(a, b) AS u, greatest(a, b) AS v FROM t
   UNION ALL SELECT least(b, c), greatest(b, c) FROM t
   UNION ALL SELECT least(a, c), greatest(a, c) FROM t) GROUP BY u, v)"""


def q_three_path(spark, sf_dir):
    """Global simple 3-edge-path count (reference
    ``apps/flash/subgraph/3-path.h``)."""
    from graphscope_spark.operators.triangles import three_path_count

    v = three_path_count(part_graph(spark, sf_dir))
    return spark.createDataFrame([(int(v),)], "three_path long")


_THREE_PATH_SQL = (
    "WITH " + _G + ",\n" + _TRI + """
SELECT ((SELECT sum((du.d - 1)*(dv.d - 1)) FROM dedges e
         JOIN udeg du ON du.id = e.src JOIN udeg dv ON dv.id = e.dst)
        - 3*(SELECT count(*) FROM t))::BIGINT AS three_path"""
)


def q_tailed_tri(spark, sf_dir):
    """Global tailed-triangle count (reference
    ``apps/flash/subgraph/tailed-triangle.h``)."""
    from graphscope_spark.operators.triangles import tailed_triangle_count

    v = tailed_triangle_count(part_graph(spark, sf_dir))
    return spark.createDataFrame([(int(v),)], "tailed_tri long")


_TAILED_TRI_SQL = (
    "WITH " + _G + ",\n" + _TRI + ",\n" + _ETRI + """
SELECT (coalesce(sum(tc*(du.d + dv.d - 4)), 0) // 2)::BIGINT AS tailed_tri
FROM etri JOIN udeg du ON du.id = etri.u
JOIN udeg dv ON dv.id = etri.v"""
)


def q_diamond(spark, sf_dir):
    """Global diamond (two triangles sharing an edge) count
    (reference ``apps/flash/subgraph/diamond.h``)."""
    from graphscope_spark.operators.triangles import diamond_count

    v = diamond_count(part_graph(spark, sf_dir))
    return spark.createDataFrame([(int(v),)], "diamond long")


_DIAMOND_SQL = (
    "WITH " + _G + ",\n" + _TRI + ",\n" + _ETRI + """
SELECT coalesce(sum(tc*(tc - 1) // 2), 0)::BIGINT AS diamond FROM etri"""
)


def q_k_center(spark, sf_dir):
    """Greedy farthest-first 3-center hop distances (reference
    ``apps/flash/measurement/k-center.h``; max-(dis,id) tie-break)."""
    from graphscope_spark.operators.misc import k_center

    return k_center(part_graph(spark, sf_dir), k=3).select("id", "dis")


def _k_center_sql(k: int = 3, depth: int = 8) -> str:
    """Unrolled greedy: first center = max (degree, id); per round one
    BFS flood folded into the running min distance; next center =
    max (dis, id)."""
    inf = 2_147_483_647
    parts = [
        _G,
        "udeg AS (SELECT v.id, count(e.src) AS d\n"
        "        FROM verts v LEFT JOIN sym e ON e.src = v.id"
        " GROUP BY v.id)",
        f"d0 AS (SELECT id, {inf}::BIGINT AS dis FROM verts)",
    ]
    for i in range(k):
        if i == 0:
            parts.append(
                "ctr0 AS (SELECT id FROM udeg"
                " ORDER BY d DESC, id DESC LIMIT 1)"
            )
        else:
            parts.append(
                f"ctr{i} AS (SELECT id FROM d{i}"
                f" ORDER BY dis DESC, id DESC LIMIT 1)"
            )
        parts.append(
            f"t{i}_0 AS (SELECT id, 0::BIGINT AS h FROM ctr{i})"
        )
        for j in range(depth):
            parts.append(
                f"t{i}_{j + 1} AS (SELECT id, min(h) AS h FROM (\n"
                f"          SELECT id, h FROM t{i}_{j}\n"
                f"          UNION ALL\n"
                f"          SELECT e.dst AS id, x.h + 1 AS h\n"
                f"          FROM t{i}_{j} x JOIN sym e ON e.src = x.id)"
                f" GROUP BY id)"
            )
        parts.append(
            f"d{i + 1} AS (SELECT d.id,"
            f" least(d.dis, coalesce(t.h, {inf})) AS dis\n"
            f"        FROM d{i} d LEFT JOIN t{i}_{depth} t"
            f" ON t.id = d.id)"
        )
    return (
        "WITH " + ",\n".join(parts)
        + f"\nSELECT id, dis FROM d{k}"
    )


def q_is_simple_path(spark, sf_dir):
    """is_simple_path demo (reference
    ``apps/simple_path/is_simple_path.h``): checks the 3 smallest
    vertex ids of the min2 graph as a candidate path."""
    from graphscope_spark.operators.paths import is_simple_path

    g = part_graph_min2(spark, sf_dir)
    nodes = [r["id"] for r in
             g.vertices.orderBy("id").limit(3).collect()]
    v = int(is_simple_path(g, nodes))
    return spark.createDataFrame([(v,)], "is_simple int")


_IS_SIMPLE_PATH_SQL = (
    "WITH " + _G2 + """,
nds AS (SELECT id, row_number() OVER (ORDER BY id) AS rn
        FROM verts ORDER BY id LIMIT 3),
need AS (SELECT a.id AS src, b.id AS dst FROM nds a JOIN nds b
         ON b.rn = a.rn + 1),
miss AS (SELECT n.src FROM need n LEFT JOIN sym e
         ON e.src = n.src AND e.dst = n.dst WHERE e.src IS NULL)
SELECT CASE WHEN (SELECT count(*) FROM miss) = 0 THEN 1 ELSE 0 END
       AS is_simple"""
)


def q_path_sample(spark, sf_dir):
    """Deterministic sample of 3-edge paths over the canonical
    (ascending) min2 edge orientation (reference
    ``apps/sampling_path/sampling_path.h``; the reference truncates in
    arrival order — here the lexicographically smallest 100)."""
    from graphscope_spark.operators.paths import sample_paths

    return sample_paths(part_graph_min2(spark, sf_dir),
                        length=3, limit=100)


_PATH_SAMPLE_SQL = (
    "WITH " + _G2 + """
SELECT e1.src AS v0, e1.dst AS v1, e2.dst AS v2, e3.dst AS v3
FROM dedges e1 JOIN dedges e2 ON e2.src = e1.dst
JOIN dedges e3 ON e3.src = e2.dst
WHERE e2.dst <> e1.src AND e3.dst <> e1.src AND e3.dst <> e1.dst
ORDER BY v0, v1, v2, v3 LIMIT 100"""
)


def q_simple_paths(spark, sf_dir):
    """All simple paths (≤ 3 hops) from the min vertex id to its
    max-id neighbor on the co-order graph (reference
    ``apps/simple_path/all_simple_paths.h``), path rendered as a
    '-'-joined id string.  Source/target chosen so the answer is
    non-trivial (888 paths at sf0.01)."""
    from graphscope_spark.operators.paths import all_simple_paths

    g = part_graph(spark, sf_dir)
    s = int(g.vertices.agg(F.min("id")).collect()[0][0])
    e = g.symmetrized_edges()
    t = int(e.where(F.col("src") == s).agg(F.max("dst"))
            .collect()[0][0])
    r = all_simple_paths(g, s, t, cutoff=3, symmetrize=True)
    return r.select(
        F.concat_ws("-", F.col("path").cast("array<string>"))
        .alias("path"),
        "hops",
    )


def _simple_paths_sql(cutoff: int = 3) -> str:
    parts = [
        _G,
        "st AS (SELECT min(id) AS s FROM verts)",
        "tg AS (SELECT max(dst) AS t FROM sym"
        " WHERE src = (SELECT s FROM st))",
        "f0 AS (SELECT [s]::BIGINT[] AS path, s AS last FROM st)",
    ]
    for j in range(1, cutoff + 1):
        parts.append(
            f"x{j} AS (SELECT list_append(f.path, e.dst) AS path,"
            f" e.dst AS last\n"
            f"        FROM f{j - 1} f JOIN sym e ON e.src = f.last\n"
            f"        WHERE NOT list_contains(f.path, e.dst))"
        )
        parts.append(
            f"d{j} AS (SELECT path FROM x{j}"
            f" WHERE last = (SELECT t FROM tg))"
        )
        parts.append(
            f"f{j} AS (SELECT path, last FROM x{j}"
            f" WHERE last <> (SELECT t FROM tg))"
        )
    union = "\n        UNION ALL ".join(
        f"SELECT path FROM d{j}" for j in range(1, cutoff + 1)
    )
    return (
        "WITH " + ",\n".join(parts)
        + f",\nallp AS ({union})\n"
        "SELECT array_to_string(path, '-') AS path,"
        " (len(path) - 1)::INT AS hops FROM allp"
    )


def q_coloring(spark, sf_dir):
    """Deterministic greedy coloring — Jones-Plassmann mex fixpoint
    along (degree, id) priority (reference
    ``apps/flash/clustering/color.h``), on the min2 backbone."""
    from graphscope_spark.operators.coloring import greedy_coloring

    return greedy_coloring(part_graph_min2(spark, sf_dir)).select(
        "id", "color"
    )


def _coloring_sql(rounds: int = 12) -> str:
    """Unrolled mex fixpoint: each round every vertex recolors to the
    minimum value excluded from its dominating neighbors' colors."""
    parts = [
        _G2,
        "udeg AS (SELECT v.id, count(e.src) AS d\n"
        "        FROM verts v LEFT JOIN sym e ON e.src = v.id"
        " GROUP BY v.id)",
        "dom AS (SELECT e.src, e.dst FROM sym e\n"
        "        JOIN udeg a ON a.id = e.src JOIN udeg b ON b.id = e.dst\n"
        "        WHERE a.d > b.d OR (a.d = b.d AND e.src > e.dst))",
        "c0 AS (SELECT id, 0 AS c FROM verts)",
    ]
    for k in range(rounds):
        parts.append(
            f"u{k} AS (SELECT e.dst AS id,"
            f" list(DISTINCT s.c ORDER BY s.c) AS used\n"
            f"        FROM dom e JOIN c{k} s ON s.id = e.src"
            f" GROUP BY e.dst)"
        )
        parts.append(
            f"c{k + 1} AS (SELECT v.id, coalesce(\n"
            f"          list_filter(range(0, len(u.used) + 2),\n"
            f"              x -> NOT list_contains(u.used, x))[1], 0) AS c\n"
            f"        FROM verts v LEFT JOIN u{k} u ON u.id = v.id)"
        )
    return (
        "WITH " + ",\n".join(parts)
        + f"\nSELECT id, c::INT AS color FROM c{rounds}"
    )


def q_onion(spark, sf_dir):
    """Onion-layer ordering (reference
    ``apps/flash/core/onion-layer-ordering.h``) on the min2 backbone:
    core decomposition + peel-round layer index."""
    from graphscope_spark.operators.clustering import onion_layers

    return onion_layers(part_graph_min2(spark, sf_dir)).select(
        "id", "core", "layer"
    )


def q_louvain(spark, sf_dir):
    """Deterministic synchronous Louvain phase-1 (fixed 4 rounds,
    checkerboard guard) on the min2 backbone."""
    from graphscope_spark.operators.louvain import louvain_one_level

    return louvain_one_level(part_graph_min2(spark, sf_dir), rounds=4)


def _louvain_sql(rounds: int = 4) -> str:
    parts = [
        _G2,
        "tm AS (SELECT count(*)::BIGINT AS m2 FROM sym)",
        "deg AS (SELECT src AS id, count(*)::BIGINT AS k"
        " FROM sym GROUP BY src)",
        "s0 AS (SELECT v.id, v.id AS comm, coalesce(d.k, 0)::BIGINT AS k"
        " FROM verts v LEFT JOIN deg d ON d.id = v.id)",
    ]
    for r in range(rounds):
        parts += [
            f"sig{r} AS (SELECT comm, sum(k)::BIGINT AS sig"
            f" FROM s{r} GROUP BY comm)",
            f"cand{r} AS (SELECT id, c, sum(cnt)::BIGINT AS cnt FROM (\n"
            f"  SELECT e.src AS id, s2.comm AS c, count(*)::BIGINT AS cnt\n"
            f"  FROM sym e JOIN s{r} s2 ON s2.id = e.dst"
            f" GROUP BY e.src, s2.comm\n"
            f"  UNION ALL SELECT id, comm AS c, 0 FROM s{r}"
            f") GROUP BY id, c)",
            # identical float expression shape to the engine:
            # cnt - (k * sig_excl) / two_m, int64 product then one
            # double division — bit-equal across engines
            f"sc{r} AS (SELECT cd.id, cd.c,\n"
            f"  cd.cnt - (s.k * (g.sig - CASE WHEN cd.c = s.comm"
            f" THEN s.k ELSE 0 END)) / (SELECT m2 FROM tm) AS score\n"
            f"  FROM cand{r} cd JOIN sig{r} g ON g.comm = cd.c\n"
            f"  JOIN s{r} s ON s.id = cd.id)",
            f"best{r} AS (SELECT id, max(ROW(score, -c)) AS m"
            f" FROM sc{r} GROUP BY id)",
            f"pick{r} AS (SELECT b.id, sc.c FROM best{r} b"
            f" JOIN sc{r} sc ON sc.id = b.id"
            f" AND ROW(sc.score, -sc.c) = b.m)",
            f"s{r + 1} AS (SELECT s.id,"
            f" CASE WHEN p.c {'>' if r % 2 == 0 else '<'} s.comm"
            f" THEN p.c ELSE s.comm END"
            f" AS comm, s.k FROM s{r} s JOIN pick{r} p ON p.id = s.id)",
        ]
    return (
        "WITH " + ",\n".join(parts)
        + f"\nSELECT id, comm AS community FROM s{rounds}"
    )


def q_modularity(spark, sf_dir):
    """Newman modularity of the registered louvain communities."""
    from graphscope_spark.operators.louvain import (
        louvain_one_level,
        modularity,
    )

    g = part_graph_min2(spark, sf_dir)
    return modularity(g, louvain_one_level(g, rounds=4))


def _modularity_sql(rounds: int = 4) -> str:
    return f"""\
WITH asg AS ({_louvain_sql(rounds)}),
tm AS (SELECT count(*)::BIGINT AS m2 FROM
        (WITH {_G2} SELECT * FROM sym)),
lab AS (WITH {_G2}
        SELECT a.community AS ca, b.community AS cb
        FROM sym e JOIN asg a ON a.id = e.src
        JOIN asg b ON b.id = e.dst),
deg AS (SELECT ca AS c, count(*)::BIGINT AS d FROM lab GROUP BY ca),
intra AS (SELECT ca AS c, count(*)::BIGINT AS e2 FROM lab
          WHERE ca = cb GROUP BY ca)
SELECT round(sum(coalesce(i.e2, 0) / (SELECT m2 FROM tm)
       - (g.d / (SELECT m2 FROM tm)) * (g.d / (SELECT m2 FROM tm))), 6)
       AS modularity
FROM deg g LEFT JOIN intra i ON i.c = g.c"""


def q_link_jaccard(spark, sf_dir):
    """NetworkX jaccard_coefficient parity over the sparse candidate
    set (non-adjacent pairs with ≥1 common neighbor) on the min2
    backbone."""
    from graphscope_spark.operators.linkpred import jaccard_coefficient

    return jaccard_coefficient(part_graph_min2(spark, sf_dir))


def q_link_pa(spark, sf_dir):
    """NetworkX preferential_attachment parity over the same sparse
    candidate set."""
    from graphscope_spark.operators.linkpred import (
        preferential_attachment,
    )

    return preferential_attachment(part_graph_min2(spark, sf_dir))


_LINK_CAND = """\
deg AS (SELECT src AS id, count(*)::BIGINT AS k FROM sym GROUP BY src),
w AS (SELECT a.dst AS u, b.dst AS v
      FROM sym a JOIN sym b ON a.src = b.src AND a.dst < b.dst),
inter AS (SELECT u, v, count(*)::BIGINT AS i FROM w GROUP BY u, v),
cand AS (SELECT i.u, i.v, i.i FROM inter i
         LEFT JOIN sym e ON e.src = i.u AND e.dst = i.v
         WHERE e.src IS NULL)"""


def _link_jaccard_sql() -> str:
    return (
        "WITH " + _G2 + ",\n" + _LINK_CAND + "\n"
        "SELECT c.u, c.v,\n"
        "  floor(c.i * 1000000.0 / (du.k + dv.k - c.i) + 0.5)"
        " / 1000000.0 AS jaccard\n"
        "FROM cand c JOIN deg du ON du.id = c.u"
        " JOIN deg dv ON dv.id = c.v"
    )


def _link_pa_sql() -> str:
    return (
        "WITH " + _G2 + ",\n" + _LINK_CAND + "\n"
        "SELECT c.u, c.v, (du.k * dv.k)::BIGINT AS pa\n"
        "FROM cand c JOIN deg du ON du.id = c.u"
        " JOIN deg dv ON dv.id = c.v"
    )


def q_degeneracy(spark, sf_dir):
    """Deterministic degeneracy ordering (reference
    ``apps/flash/core/degeneracy-ordering.h``; layer-relaxed, id
    tie-break) on the min2 backbone."""
    from graphscope_spark.operators.clustering import degeneracy_ordering

    return degeneracy_ordering(part_graph_min2(spark, sf_dir))


def _degeneracy_sql(core_rounds: int = 24, layer_rounds: int = 28) -> str:
    return (
        f"WITH o AS ({_onion_sql(core_rounds, layer_rounds)})\n"
        "SELECT id, (row_number() OVER (ORDER BY layer, id) - 1)::BIGINT"
        " AS pos FROM o"
    )


def _onion_sql(core_rounds: int = 14, layer_rounds: int = 14) -> str:
    """Phase A: h-index core fixpoint (unrolled); phase B: per round,
    rank unranked vertices with same-or-higher-core degree ≤ core,
    then decrement unranked same-core neighbors of the ranked set."""
    parts = [
        _G2,
        "h0 AS (SELECT v.id, count(e.src)::BIGINT AS h\n"
        "        FROM verts v LEFT JOIN sym e ON e.src = v.id"
        " GROUP BY v.id)",
    ]
    for k in range(core_rounds):
        parts.append(
            f"nbh{k} AS (SELECT e.src AS id, h.h\n"
            f"        FROM sym e JOIN h{k} h ON h.id = e.dst)"
        )
        parts.append(
            f"hx{k} AS (SELECT id, max(least(r, h)) AS h FROM (\n"
            f"          SELECT id, h, row_number() OVER"
            f" (PARTITION BY id ORDER BY h DESC) AS r FROM nbh{k})"
            f" GROUP BY id)"
        )
        parts.append(
            f"h{k + 1} AS (SELECT v.id, coalesce(x.h, 0)::BIGINT AS h\n"
            f"        FROM h0 v LEFT JOIN hx{k} x ON x.id = v.id)"
        )
    R = core_rounds
    parts.append(
        f"dd0 AS (SELECT e.src AS id, count(*)::BIGINT AS n\n"
        f"        FROM sym e JOIN h{R} a ON a.id = e.src\n"
        f"        JOIN h{R} b ON b.id = e.dst WHERE b.h >= a.h"
        f" GROUP BY e.src)"
    )
    parts.append(
        f"o0 AS (SELECT h.id, h.h AS core, coalesce(n.n, 0)::BIGINT AS d,"
        f" (-1)::BIGINT AS layer\n"
        f"        FROM h{R} h LEFT JOIN dd0 n ON n.id = h.id)"
    )
    for i in range(layer_rounds):
        parts.append(
            f"r{i} AS (SELECT id, core, d,\n"
            f"        CASE WHEN layer = -1 AND d <= core"
            f" THEN {i}::BIGINT ELSE layer END AS layer,\n"
            f"        CASE WHEN layer = -1 AND d <= core"
            f" THEN 1 ELSE 0 END AS new FROM o{i})"
        )
        parts.append(
            f"dc{i} AS (SELECT e.dst AS id, count(*)::BIGINT AS dc\n"
            f"        FROM sym e JOIN r{i} s ON s.id = e.src"
            f" AND s.new = 1\n"
            f"        JOIN r{i} t ON t.id = e.dst AND t.core = s.core"
            f" GROUP BY e.dst)"
        )
        parts.append(
            f"o{i + 1} AS (SELECT r.id, r.core,\n"
            f"        CASE WHEN r.layer != -1 THEN r.d"
            f" ELSE r.d - coalesce(c.dc, 0) END AS d, r.layer\n"
            f"        FROM r{i} r LEFT JOIN dc{i} c ON c.id = r.id)"
        )
    return (
        "WITH " + ",\n".join(parts)
        + f"\nSELECT id, core, layer FROM o{layer_rounds}"
    )


def q_min_edge_cover(spark, sf_dir):
    """Greedy minimum edge cover size via the h60 edge-local-dominance
    maximal matching (reference ``apps/flash/matching/
    min-edge-cover.h``) on the min2 backbone:
    ``cover_size = matched/2 + |unmatched, deg>0|``."""
    from graphscope_spark.operators.misc import min_edge_cover

    st = min_edge_cover(part_graph_min2(spark, sf_dir))
    return st.agg(
        (
            (F.sum(F.when(F.col("partner") >= 0, 1).otherwise(0)) / 2)
            + F.sum(
                F.when((F.col("partner") == -1) & (F.col("d") > 0), 1)
                .otherwise(0)
            )
        ).cast("long").alias("cover_size"),
        (F.sum(F.when(F.col("partner") >= 0, 1).otherwise(0)) / 2)
        .cast("long").alias("matched_pairs"),
    )


def _min_edge_cover_sql(rounds: int = 12) -> str:
    """Unrolled h60 edge-local-dominance maximal matching (identical
    chain to ``_matching_sql`` but over the min2 backbone), then
    ``cover = matched_pairs + |unmatched, deg>0|``."""
    pri = _H60.format("'e:' || src::VARCHAR || ':' || dst::VARCHAR")
    parts = [
        _G2,
        "udeg AS (SELECT v.id, count(e.src)::BIGINT AS d\n"
        "        FROM verts v LEFT JOIN sym e ON e.src = v.id"
        " GROUP BY v.id)",
        f"e0 AS (SELECT src, dst, {pri} AS pri FROM ("
        "SELECT DISTINCT src, dst FROM sym WHERE src < dst))",
    ]
    for k in range(rounds):
        parts.append(
            f"vm{k} AS (SELECT v, min(m) AS m FROM (\n"
            f"          SELECT src AS v, ROW(pri, src, dst) AS m FROM e{k}\n"
            f"          UNION ALL\n"
            f"          SELECT dst AS v, ROW(pri, src, dst) AS m FROM e{k})"
            f" GROUP BY v)"
        )
        parts.append(
            f"w{k} AS (SELECT e.src, e.dst FROM e{k} e\n"
            f"        JOIN vm{k} a ON a.v = e.src"
            f" JOIN vm{k} b ON b.v = e.dst\n"
            f"        WHERE ROW(e.pri, e.src, e.dst) = a.m"
            f" AND ROW(e.pri, e.src, e.dst) = b.m)"
        )
        parts.append(
            f"mv{k} AS (SELECT src AS v FROM w{k}"
            f" UNION SELECT dst FROM w{k})"
        )
        parts.append(
            f"e{k + 1} AS (SELECT e.src, e.dst, e.pri FROM e{k} e\n"
            f"        LEFT JOIN mv{k} x ON x.v = e.src"
            f" LEFT JOIN mv{k} y ON y.v = e.dst\n"
            f"        WHERE x.v IS NULL AND y.v IS NULL)"
        )
    allw = "\nUNION ALL ".join(
        f"SELECT src, dst FROM w{k}" for k in range(rounds)
    )
    return (
        "WITH " + ",\n".join(parts)
        + f",\nmm AS ({allw}),\n"
        + "mmv AS (SELECT src AS id FROM mm UNION SELECT dst FROM mm)"
        + """
SELECT ((SELECT count(*) FROM mm)
        + (SELECT count(*) FROM udeg u
           WHERE u.d > 0 AND u.id NOT IN (SELECT id FROM mmv))
       )::BIGINT AS cover_size,
       ((SELECT count(*) FROM mm))::BIGINT AS matched_pairs"""
    )


def _mixed_digraph(spark, sf_dir):
    """Deterministic directed graph WITH reciprocal pairs for the
    directed-triangle variants: each co-order pair oriented by a
    direction hash, plus the reverse edge for the ~1/3 of pairs whose
    reciprocity hash selects it (both hashes SQL-reproducible h60)."""
    from graphscope_spark.functions.text import h60
    from graphscope_spark.graph import Graph

    verts, dedges = part_edges(spark, sf_dir)
    key = F.concat(
        F.col("src").cast("string"), F.lit(":"), F.col("dst").cast("string")
    )
    dir_h = h60(F.concat(F.lit("d:"), key))
    rec_h = h60(F.concat(F.lit("r:"), key))
    mx = dedges.select(
        F.when(dir_h % 2 == 0, F.col("src")).otherwise(F.col("dst"))
        .alias("s2"),
        F.when(dir_h % 2 == 0, F.col("dst")).otherwise(F.col("src"))
        .alias("d2"),
        (rec_h % 3 == 0).alias("rec"),
    )
    e = mx.select(F.col("s2").alias("src"), F.col("d2").alias("dst")).unionByName(
        mx.where("rec").select(
            F.col("d2").alias("src"), F.col("s2").alias("dst")
        )
    )
    return Graph.from_edges(e, directed=True, vertices=verts)


_GM = (
    _G
    + """,
mx AS (SELECT CASE WHEN dh % 2 = 0 THEN src ELSE dst END AS s2,
              CASE WHEN dh % 2 = 0 THEN dst ELSE src END AS d2,
              (rh % 3 = 0) AS rec
       FROM (SELECT src, dst,
                ('0x' || substr(md5('d:' || src::VARCHAR || ':'
                     || dst::VARCHAR), 1, 15))::BIGINT AS dh,
                ('0x' || substr(md5('r:' || src::VARCHAR || ':'
                     || dst::VARCHAR), 1, 15))::BIGINT AS rh
             FROM dedges)),
de AS (SELECT s2 AS src, d2 AS dst FROM mx
       UNION ALL SELECT d2 AS src, s2 AS dst FROM mx WHERE rec)"""
)


def q_tri_variants(spark, sf_dir):
    """FLASH directed-triangle variant counts — acyclic / in+ / out+ /
    cycle+ (reference ``apps/flash/subgraph/*-triangle.h``) on the
    hash-mixed digraph (one row, four counts)."""
    from graphscope_spark.operators.triangles import (
        directed_triangle_variants,
    )

    ac, inp, outp, cyc = directed_triangle_variants(
        _mixed_digraph(spark, sf_dir)
    )
    return spark.createDataFrame(
        [(int(ac), int(inp), int(outp), int(cyc))],
        "acyclic long, in_plus long, out_plus long, cycle_plus long",
    )


_TRI_VARIANTS_SQL = (
    "WITH "
    + _GM
    + """,
rc AS (SELECT a.src AS u, a.dst AS v FROM de a
       JOIN de b ON b.src = a.dst AND b.dst = a.src)
SELECT
  (SELECT count(*) FROM de p
   JOIN de e1 ON e1.src = p.src
   JOIN de e2 ON e2.src = p.dst AND e2.dst = e1.dst)::BIGINT AS acyclic,
  (SELECT count(*) FROM rc
   JOIN de e1 ON e1.src = rc.u
   JOIN de e2 ON e2.src = rc.v AND e2.dst = e1.dst
   WHERE rc.u < rc.v)::BIGINT AS in_plus,
  (SELECT count(*) FROM rc
   JOIN de e1 ON e1.dst = rc.u
   JOIN de e2 ON e2.dst = rc.v AND e2.src = e1.src
   WHERE rc.u < rc.v)::BIGINT AS out_plus,
  (SELECT count(*) FROM rc
   JOIN de e1 ON e1.dst = rc.u
   JOIN de e2 ON e2.src = rc.v AND e2.dst = e1.src)::BIGINT AS cycle_plus"""
)


def q_bfs_pred(spark, sf_dir):
    """BFS predecessor tree from the min part key (reference
    ``apps/bfs/bfs_generic.h`` ``output_format="predecessors"``),
    min-id parent tie-break for determinism."""
    from graphscope_spark.operators.traversal import bfs_tree

    g = part_graph(spark, sf_dir)
    source = g.vertices.agg(F.min("id")).collect()[0][0]
    return bfs_tree(g, int(source), "predecessors", symmetrize=True)


def _bfs_pred_sql(rounds: int = 6) -> str:
    parts = [
        _G,
        "b0 AS (SELECT (SELECT min(id) FROM verts) AS id, 0 AS depth)",
    ]
    for k in range(rounds):
        parts.append(
            f"b{k + 1} AS (SELECT id, min(depth) AS depth FROM (\n"
            f"          SELECT id, depth FROM b{k}\n"
            f"          UNION ALL\n"
            f"          SELECT e.dst AS id, b.depth + 1 AS depth\n"
            f"          FROM b{k} b JOIN sym e ON e.src = b.id) GROUP BY id)"
        )
    return (
        "WITH " + ",\n".join(parts)
        + f"\nSELECT b.id, min(e.src) AS pred\n"
        f"FROM b{rounds} b JOIN sym e ON e.dst = b.id\n"
        f"JOIN b{rounds} p ON p.id = e.src AND p.depth + 1 = b.depth\n"
        f"WHERE b.depth > 0 GROUP BY b.id"
    )


def q_bfs_succ(spark, sf_dir):
    """Successor (parent→child) rows of the same BFS tree —
    ``bfs_generic.h`` ``output_format="successors"`` parity."""
    from graphscope_spark.operators.traversal import bfs_tree

    g = part_graph(spark, sf_dir)
    source = g.vertices.agg(F.min("id")).collect()[0][0]
    return bfs_tree(g, int(source), "successors", symmetrize=True)


def _bfs_succ_sql(rounds: int = 6) -> str:
    # identical tree to bfs_pred, pivoted to (src=parent, dst=child)
    pred = _bfs_pred_sql(rounds)
    return (
        f"WITH t AS ({pred})\n"
        "SELECT pred AS src, id AS dst FROM t"
    )


def q_dfs(spark, sf_dir):
    """DFS preorder ranks from the min part key (reference
    ``apps/dfs/dfs.h`` default output) over the undirected co-order
    graph — the one inherently-sequential app, run driver-side behind
    its scale gate (see ``operators/dfs.py`` module docstring)."""
    from graphscope_spark.operators.dfs import dfs

    return dfs(part_graph_undirected(spark, sf_dir))


def _dfs_sql() -> str:
    # Exact sequential-cursor oracle: a SINGLE-ROW linear recursive
    # CTE advances the walk one cursor move per iteration (visit the
    # min unvisited neighbor of the stack top, else backtrack —
    # identical to the reference's token loop; scanning a sorted
    # neighbor list skipping visited vertices IS "min unvisited").
    # The adjacency is carried as a MAP in the recursion state so the
    # recursive term touches NO table CTE: DuckDB re-evaluates
    # (inlines) plain CTEs inside the recursive term on every
    # iteration (~80 ms/step for the co-order self-join → minutes),
    # and a MATERIALIZED CTE referenced from a recursive term
    # silently yields NULL (walk stalls after the anchor) — hence
    # also the WITH RECURSIVE exemption in ``_materialize_ctes``.
    return (
        "WITH RECURSIVE " + _G + """,
adjm AS (SELECT map(list(src), list(ns)) AS m FROM
         (SELECT src, list(dst ORDER BY dst) AS ns FROM sym GROUP BY src)),
walk(stack, ord, adj) AS (
  SELECT [s], [s], (SELECT m FROM adjm) FROM (SELECT min(id) AS s FROM verts)
  UNION ALL
  SELECT
    CASE WHEN nxt IS NULL THEN stack[1:len(stack)-1]
         ELSE list_append(stack, nxt) END,
    CASE WHEN nxt IS NULL THEN ord ELSE list_append(ord, nxt) END,
    adj
  FROM (
    SELECT w.stack, w.ord, w.adj,
      list_min(list_filter(flatten(element_at(w.adj, w.stack[len(w.stack)])),
                           x -> NOT list_contains(w.ord, x))) AS nxt
    FROM walk w WHERE len(w.stack) > 0
  )
),
fin AS (SELECT ord FROM walk WHERE len(stack) = 0),
ranks AS (SELECT unnest(ord) AS id, unnest(range(len(ord))) AS rank FROM fin)
SELECT v.id, COALESCE(r.rank, -1)::INT AS rank
FROM verts v LEFT JOIN ranks r ON r.id = v.id"""
    )


def _forest_sql_parts(wrounds: int, depth: int) -> list[str]:
    """Shared oracle prelude: BFS forest over the undirected co-order
    graph — ``comp`` (min-label wcc, ``wrounds`` unroll), roots,
    ``bf{depth}`` (id, depth) multi-source BFS, ``par`` (min-id
    parent), ``treeb`` (tree edges, both orientations), ``nt``
    (non-tree edges, symmetric).  Runs on the min2 thresholded
    graph (``_G2``) — the variant with non-trivial bridge structure."""
    parts = [_G2, "s0 AS (SELECT id, id AS comp FROM verts)"]
    for k in range(wrounds):
        parts.append(
            f"s{k + 1} AS (SELECT s.id,"
            f" least(s.comp, coalesce(m.mn, s.comp)) AS comp\n"
            f"        FROM s{k} s LEFT JOIN (\n"
            f"          SELECT e.dst AS id, min(s2.comp) AS mn\n"
            f"          FROM sym e JOIN s{k} s2 ON e.src = s2.id"
            f" GROUP BY e.dst\n"
            f"        ) m ON m.id = s.id)"
        )
    parts.append(
        f"bf0 AS (SELECT DISTINCT comp AS id, 0 AS depth FROM s{wrounds})"
    )
    for k in range(depth):
        parts.append(
            f"bf{k + 1} AS (SELECT id, min(depth) AS depth FROM (\n"
            f"          SELECT id, depth FROM bf{k}\n"
            f"          UNION ALL\n"
            f"          SELECT e.dst AS id, b.depth + 1 AS depth\n"
            f"          FROM bf{k} b JOIN sym e ON e.src = b.id)"
            f" GROUP BY id)"
        )
    parts.append(
        f"par AS (SELECT b.id, min(e.src) AS pred, min(b.depth) AS depth\n"
        f"        FROM bf{depth} b JOIN sym e ON e.dst = b.id\n"
        f"        JOIN bf{depth} p ON p.id = e.src"
        f" AND p.depth + 1 = b.depth\n"
        f"        WHERE b.depth > 0 GROUP BY b.id)"
    )
    parts.append(
        "treeb AS (SELECT pred AS src, id AS dst FROM par\n"
        "        UNION ALL SELECT id AS src, pred AS dst FROM par)"
    )
    parts.append(
        "nt AS (SELECT e.src, e.dst FROM sym e LEFT JOIN treeb t\n"
        "        ON t.src = e.src AND t.dst = e.dst WHERE t.src IS NULL)"
    )
    return parts


def q_bridges(spark, sf_dir):
    """Bridge edges of the min2-thresholded co-order graph (reference
    ``apps/flash/connectivity/bridge.h`` semantics; computed by the
    Tarjan-Vishkin preorder-interval test, see ``operators/bcc.py``)."""
    from graphscope_spark.operators.bcc import bridges

    return bridges(part_graph_min2(spark, sf_dir)).select("src", "dst")


def _bridges_sql(wrounds: int = 8, depth: int = 6) -> str:
    """INDEPENDENT oracle: the random-XOR cut test.  Every non-tree
    edge gets a deterministic 60-bit value (h60 of its canonical
    pair), placed at both endpoints; a bottom-up per-level XOR gives
    S(v) = XOR of values of the non-tree edges crossing the
    (p(v), v) cut — the tree edge is a bridge iff S(v) = 0 (no
    crossing edges; a false zero needs distinct edge values XORing to
    0 — the same astronomically unlikely collision in BOTH engines
    since values are shared).  Different algorithm than the Spark
    side's interval test, so agreement checks the semantics, not the
    implementation."""
    val = _H60.format(
        "'x:' || least(src, dst)::VARCHAR || ':' || greatest(src, dst)::VARCHAR"
    )
    parts = _forest_sql_parts(wrounds, depth)
    parts.append(
        f"ntv AS (SELECT src, dst, {val} AS val FROM nt)"
    )
    parts.append(
        "plc AS (SELECT src AS id, bit_xor(val) AS pl FROM ntv"
        " GROUP BY src)"
    )
    # bottom-up XOR by level (levels depth..1; roots excluded)
    parts.append(
        f"sx{depth} AS (SELECT b.id, coalesce(p.pl, 0) AS s\n"
        f"        FROM bf{depth} b LEFT JOIN plc p ON p.id = b.id\n"
        f"        WHERE b.depth = {depth})"
    )
    for d in range(depth - 1, 0, -1):
        parts.append(
            f"cx{d} AS (SELECT pr.pred AS id, bit_xor(s.s) AS cx\n"
            f"        FROM sx{d + 1} s JOIN par pr ON pr.id = s.id"
            f" GROUP BY pr.pred)"
        )
        parts.append(
            f"sx{d} AS (SELECT b.id,"
            f" xor(coalesce(p.pl, 0), coalesce(c.cx, 0)) AS s\n"
            f"        FROM bf{depth} b LEFT JOIN plc p ON p.id = b.id\n"
            f"        LEFT JOIN cx{d} c ON c.id = b.id\n"
            f"        WHERE b.depth = {d})"
        )
    alls = "\n        UNION ALL ".join(
        f"SELECT id, s FROM sx{d}" for d in range(1, depth + 1)
    )
    return (
        "WITH " + ",\n".join(parts)
        + f",\nsall AS ({alls})\n"
        "SELECT least(p.pred, p.id) AS src, greatest(p.pred, p.id) AS dst\n"
        "FROM par p JOIN sall s ON s.id = p.id WHERE s.s = 0"
    )


def q_cut_points(spark, sf_dir):
    """Articulation points of the min2-thresholded co-order graph
    (reference ``apps/flash/connectivity/cut-point.h`` semantics via
    Tarjan-Vishkin biconnected components)."""
    from graphscope_spark.operators.bcc import articulation_points

    return articulation_points(part_graph_min2(spark, sf_dir)).select(
        "id", "is_cut"
    )


def _tv_sql_parts(wrounds: int = 8, depth: int = 6,
                  arounds: int = 8) -> list[str]:
    """Tarjan-Vishkin unroll shared by the ``cut_points`` and ``bcc``
    oracles: subtree sizes (bottom-up), preorder (top-down window
    prefix-sums), low/high (bottom-up), auxiliary graph (rules 1+2),
    min-label components with pointer jumping (``arounds``).  Ends
    with ``blks(id, blk)`` — every non-root vertex (≡ its parent
    tree edge) labeled with its biconnected block's min member id."""
    parts = _forest_sql_parts(wrounds, depth)
    # subtree sizes, bottom-up
    parts.append(
        f"z{depth} AS (SELECT id, 1::BIGINT AS sz FROM bf{depth}"
        f" WHERE depth = {depth})"
    )
    for d in range(depth - 1, -1, -1):
        parts.append(
            f"zc{d} AS (SELECT pr.pred AS id, sum(z.sz) AS cs\n"
            f"        FROM z{d + 1} z JOIN par pr ON pr.id = z.id"
            f" GROUP BY pr.pred)"
        )
        parts.append(
            f"z{d} AS (SELECT b.id,"
            f" (1 + coalesce(c.cs, 0))::BIGINT AS sz\n"
            f"        FROM bf{depth} b LEFT JOIN zc{d} c ON c.id = b.id\n"
            f"        WHERE b.depth = {d})"
        )
    allz = "\n        UNION ALL ".join(
        f"SELECT id, sz FROM z{d}" for d in range(depth + 1)
    )
    parts.append(f"zall AS ({allz})")
    # preorder, top-down
    parts.append(
        "pr0 AS (SELECT b.id, coalesce(sum(z.sz) OVER (ORDER BY b.id\n"
        "        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),"
        " 0)::BIGINT AS pre\n"
        f"        FROM bf{depth} b JOIN zall z ON z.id = b.id"
        " WHERE b.depth = 0)"
    )
    for d in range(1, depth + 1):
        parts.append(
            f"pr{d} AS (SELECT c.id, (p.pre + 1 +"
            f" coalesce(sum(c.sz) OVER (PARTITION BY c.pred ORDER BY c.id\n"
            f"        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),"
            f" 0))::BIGINT AS pre FROM (\n"
            f"          SELECT pa.id, pa.pred, z.sz FROM par pa\n"
            f"          JOIN zall z ON z.id = pa.id WHERE pa.depth = {d})"
            f" c JOIN pr{d - 1} p ON p.id = c.pred)"
        )
    allp = "\n        UNION ALL ".join(
        f"SELECT id, pre FROM pr{d}" for d in range(depth + 1)
    )
    parts.append(f"pall AS ({allp})")
    # low/high, bottom-up (self = own pre + non-tree neighbor pres)
    parts.append(
        "ntp AS (SELECT n.src AS id, min(p.pre) AS ntlo,"
        " max(p.pre) AS nthi\n"
        "        FROM nt n JOIN pall p ON p.id = n.dst GROUP BY n.src)"
    )
    parts.append(
        f"sb AS (SELECT b.id, b.depth, p.pre,\n"
        f"        least(p.pre, coalesce(n.ntlo, p.pre)) AS slo,\n"
        f"        greatest(p.pre, coalesce(n.nthi, p.pre)) AS shi\n"
        f"        FROM bf{depth} b JOIN pall p ON p.id = b.id\n"
        f"        LEFT JOIN ntp n ON n.id = b.id)"
    )
    parts.append(
        f"lh{depth} AS (SELECT id, slo AS low, shi AS high FROM sb"
        f" WHERE depth = {depth})"
    )
    for d in range(depth - 1, -1, -1):
        parts.append(
            f"lhc{d} AS (SELECT pr.pred AS id, min(l.low) AS clo,"
            f" max(l.high) AS chi\n"
            f"        FROM lh{d + 1} l JOIN par pr ON pr.id = l.id"
            f" GROUP BY pr.pred)"
        )
        parts.append(
            f"lh{d} AS (SELECT s.id,\n"
            f"        least(s.slo, coalesce(c.clo, s.slo)) AS low,\n"
            f"        greatest(s.shi, coalesce(c.chi, s.shi)) AS high\n"
            f"        FROM sb s LEFT JOIN lhc{d} c ON c.id = s.id\n"
            f"        WHERE s.depth = {d})"
        )
    alll = "\n        UNION ALL ".join(
        f"SELECT id, low, high FROM lh{d}" for d in range(depth + 1)
    )
    parts.append(f"lall AS ({alll})")
    parts.append(
        "iv AS (SELECT b.id, pa.pred, p.pre, z.sz, l.low, l.high\n"
        f"        FROM bf{depth} b LEFT JOIN par pa ON pa.id = b.id\n"
        "        JOIN pall p ON p.id = b.id JOIN zall z ON z.id = b.id\n"
        "        JOIN lall l ON l.id = b.id)"
    )
    # auxiliary graph (rules 1+2), symmetric edge list
    parts.append(
        "aux1 AS (SELECT n.src AS a, n.dst AS b FROM nt n\n"
        "        JOIN iv u ON u.id = n.src JOIN iv w ON w.id = n.dst\n"
        "        WHERE n.src < n.dst\n"
        "          AND NOT (w.pre >= u.pre AND w.pre < u.pre + u.sz)\n"
        "          AND NOT (u.pre >= w.pre AND u.pre < w.pre + w.sz))"
    )
    parts.append(
        "aux2 AS (SELECT w.pred AS a, w.id AS b FROM iv w\n"
        "        JOIN iv v ON v.id = w.pred\n"
        "        WHERE w.pred IS NOT NULL AND v.pred IS NOT NULL\n"
        "          AND (w.low < v.pre OR w.high >= v.pre + v.sz))"
    )
    parts.append(
        "auxe AS (SELECT a, b FROM aux1 UNION ALL SELECT b, a FROM aux1\n"
        "        UNION ALL SELECT a, b FROM aux2"
        " UNION ALL SELECT b, a FROM aux2)"
    )
    # min-label components over non-root vertices, with pointer jumping
    parts.append(
        "a0 AS (SELECT id, id AS blk FROM iv WHERE pred IS NOT NULL)"
    )
    for k in range(arounds):
        parts.append(
            f"a{k + 1} AS (SELECT a.id, least(a.blk,"
            f" coalesce(m.mn, a.blk), coalesce(j.blk, a.blk)) AS blk\n"
            f"        FROM a{k} a LEFT JOIN (\n"
            f"          SELECT e.b AS id, min(x.blk) AS mn\n"
            f"          FROM auxe e JOIN a{k} x ON x.id = e.a"
            f" GROUP BY e.b\n"
            f"        ) m ON m.id = a.id\n"
            f"        LEFT JOIN a{k} j ON j.id = a.blk)"
        )
    parts.append(
        f"blks AS (SELECT id, blk FROM a{arounds})"
    )
    return parts


def _cut_points_sql(wrounds: int = 8, depth: int = 6,
                    arounds: int = 8) -> str:
    """Tarjan-Vishkin blocks (``_tv_sql_parts``) followed by the
    ≥2-distinct-blocks incidence test."""
    parts = _tv_sql_parts(wrounds, depth, arounds)
    parts.append(
        "vb AS (SELECT p.pred AS id, b.blk FROM par p"
        " JOIN blks b ON b.id = p.id\n"
        "        UNION ALL SELECT p.id, b.blk FROM par p"
        " JOIN blks b ON b.id = p.id)"
    )
    return (
        "WITH " + ",\n".join(parts)
        + """,
cnt AS (SELECT id, count(DISTINCT blk) AS nb FROM vb GROUP BY id)
SELECT v.id, CASE WHEN coalesce(c.nb, 0) >= 2 THEN 1 ELSE 0 END AS is_cut
FROM verts v LEFT JOIN cnt c ON c.id = v.id"""
    )


def q_bcc(spark, sf_dir):
    """Biconnected components of the min2-thresholded co-order graph:
    every canonical tree edge labeled with its block's min non-root
    member id (reference ``apps/flash/connectivity/bcc.h`` labels the
    same decomposition; see ``operators/bcc.py``)."""
    from graphscope_spark.operators.bcc import biconnected_edge_labels

    return biconnected_edge_labels(part_graph_min2(spark, sf_dir)).select(
        "src", "dst", "block"
    )


def _bcc_sql(wrounds: int = 8, depth: int = 6, arounds: int = 8) -> str:
    """Tarjan-Vishkin blocks (``_tv_sql_parts``); each tree edge is
    represented by its child endpoint, so the per-edge block label is
    a join of ``par`` against ``blks``."""
    parts = _tv_sql_parts(wrounds, depth, arounds)
    return (
        "WITH " + ",\n".join(parts)
        + "\nSELECT least(p.pred, p.id) AS src,"
          " greatest(p.pred, p.id) AS dst, b.blk AS block\n"
          "FROM par p JOIN blks b ON b.id = p.id\n"
          "UNION ALL\n"
          "SELECT n.src, n.dst, b.blk AS block\n"
          "FROM nt n JOIN blks b ON b.id = n.src WHERE n.src < n.dst"
    )


def q_fluid(spark, sf_dir):
    """Deterministic synchronous fluid communities on the co-order
    graph (reference ``apps/flash/clustering/fluid-community.h``; see
    ``operators/fluid.py`` for the determinization)."""
    from graphscope_spark.operators.fluid import fluid_community

    g = part_graph_undirected(spark, sf_dir)
    return fluid_community(g, num_communities=10, rounds=20).select(
        "id", "community"
    )


def _fluid_sql(rounds: int = 12, s: int = 10) -> str:
    """Unrolled synchronous fluid rounds.  Density ``k/cnt`` is one
    double division of two exact integers in both engines; argmax is
    a lexicographic ``max({'d': d, 'nl': -lab})`` (max density, min
    label on ties); a vertex switches only on a strict ``1e-10``
    improvement over its current community's density, and never flips
    back to its label of two rounds ago (period-2 damping — see
    ``operators/fluid.py``)."""
    seed_h = _H60.format("'f:' || id::VARCHAR")
    parts = [
        _G,
        f"fse AS (SELECT id FROM verts ORDER BY {seed_h}, id LIMIT {s})",
        "l0 AS (SELECT v.id, f.id AS lab, NULL::BIGINT AS plab"
        " FROM verts v LEFT JOIN fse f ON f.id = v.id)",
    ]
    for r in range(rounds):
        parts.append(
            f"cnt{r} AS (SELECT lab, count(*) AS c FROM l{r}\n"
            f"        WHERE lab IS NOT NULL GROUP BY lab)"
        )
        parts.append(
            f"kk{r} AS (SELECT x.id, x.lab, count(*) AS k FROM (\n"
            f"          SELECT e.dst AS id, l.lab FROM sym e\n"
            f"          JOIN l{r} l ON l.id = e.src"
            f" WHERE l.lab IS NOT NULL\n"
            f"          UNION ALL SELECT id, lab FROM l{r}"
            f" WHERE lab IS NOT NULL) x GROUP BY x.id, x.lab)"
        )
        parts.append(
            f"dd{r} AS (SELECT kk.id, kk.lab, kk.k::DOUBLE / c.c AS d\n"
            f"        FROM kk{r} kk JOIN cnt{r} c ON c.lab = kk.lab)"
        )
        parts.append(
            f"bb{r} AS (SELECT id, max({{'d': d, 'nl': -lab}}) AS m"
            f" FROM dd{r} GROUP BY id)"
        )
        parts.append(
            f"cd{r} AS (SELECT d.id, d.d FROM dd{r} d\n"
            f"        JOIN l{r} l ON l.id = d.id AND l.lab = d.lab)"
        )
        parts.append(
            f"l{r + 1} AS (SELECT l.id, CASE\n"
            f"          WHEN b.id IS NULL THEN l.lab\n"
            f"          WHEN (l.lab IS NULL OR (b.m).d > c.d + 1e-10)\n"
            f"           AND (l.plab IS NULL OR -(b.m).nl <> l.plab)"
            f" THEN -(b.m).nl\n"
            f"          ELSE l.lab END AS lab,\n"
            f"        l.lab AS plab\n"
            f"        FROM l{r} l LEFT JOIN bb{r} b ON b.id = l.id\n"
            f"        LEFT JOIN cd{r} c ON c.id = l.id)"
        )
    return (
        "WITH " + ",\n".join(parts)
        + f"\nSELECT id, coalesce(lab, -1) AS community FROM l{rounds}"
    )


def q_msf(spark, sf_dir):
    """Minimum spanning forest of the weighted co-order graph
    (reference ``apps/flash/measurement/msf.h``; lexicographic
    (weight, src, dst) comparator makes the forest unique)."""
    from graphscope_spark.operators.msf import minimum_spanning_forest

    g = _weighted_sym_graph(spark, sf_dir)
    return minimum_spanning_forest(g).select("src", "dst", "weight")


def _msf_sql(rounds: int = 12, jumps: int = 6) -> str:
    """Unrolled Borůvka: per round each component's min (w, u, v)
    incident edge is picked, 2-cycles flatten to the min endpoint,
    ``jumps`` pointer-jump steps contract each hooking tree, labels
    relabel.  ``rounds``/``jumps`` sufficiency is proven by the
    convergence guard (oracle(k) == oracle(k+1) at compare scale)."""
    st = "{'w': w, 'u': u, 'v': v, 'cu': cu, 'cv': cv}"
    parts = [
        _G,
        "ew AS (SELECT src AS u, dst AS v,"
        " ((src + dst) % 7 + 1)::DOUBLE AS w FROM dedges)",
        "c0 AS (SELECT id, id AS comp FROM verts)",
    ]
    sel_edges = []
    for k in range(rounds):
        parts.append(
            f"ec{k} AS (SELECT e.u, e.v, e.w, a.comp AS cu, b.comp AS cv\n"
            f"        FROM ew e JOIN c{k} a ON a.id = e.u"
            f" JOIN c{k} b ON b.id = e.v\n"
            f"        WHERE a.comp <> b.comp)"
        )
        parts.append(
            f"sel{k} AS (SELECT c, min({st}) AS m FROM (\n"
            f"          SELECT cu AS c, w, u, v, cu, cv FROM ec{k}\n"
            f"          UNION ALL SELECT cv, w, u, v, cu, cv FROM ec{k})"
            f" GROUP BY c)"
        )
        sel_edges.append(
            f"SELECT DISTINCT struct_extract(m, 'u') AS u,"
            f" struct_extract(m, 'v') AS v,"
            f" struct_extract(m, 'w') AS w FROM sel{k}"
        )
        parts.append(
            f"pj{k}_x AS (SELECT c, CASE WHEN c = struct_extract(m, 'cu')"
            f" THEN struct_extract(m, 'cv')"
            f" ELSE struct_extract(m, 'cu') END AS p FROM sel{k})"
        )
        parts.append(
            f"pj{k}_0 AS (SELECT a.c, CASE WHEN b.p = a.c"
            f" THEN least(a.c, a.p) ELSE a.p END AS p\n"
            f"        FROM pj{k}_x a LEFT JOIN pj{k}_x b ON b.c = a.p)"
        )
        for j in range(jumps):
            parts.append(
                f"pj{k}_{j + 1} AS (SELECT a.c, coalesce(b.p, a.p) AS p\n"
                f"        FROM pj{k}_{j} a LEFT JOIN pj{k}_{j} b"
                f" ON b.c = a.p)"
            )
        parts.append(
            f"c{k + 1} AS (SELECT c.id, coalesce(p.p, c.comp) AS comp\n"
            f"        FROM c{k} c LEFT JOIN pj{k}_{jumps} p"
            f" ON p.c = c.comp)"
        )
    union = "\n        UNION ALL ".join(sel_edges)
    return (
        "WITH " + ",\n".join(parts)
        + f",\nmsf AS ({union})\n"
        "SELECT DISTINCT u AS src, v AS dst, w AS weight FROM msf"
    )


def q_core_numbers(spark, sf_dir):
    """Full core decomposition via the h-index fixpoint (single
    superstep loop; replaces the per-k sequential peel)."""
    from graphscope_spark.operators.clustering import core_numbers_hindex

    return core_numbers_hindex(part_graph(spark, sf_dir)).select(
        "id", "core"
    )


def _core_numbers_sql(rounds: int = 20) -> str:
    """Unrolled h-operator iteration (Lü et al. 2016): h0 = degree,
    h ← h-index of neighbor values; fixpoint = coreness."""
    parts = [
        _G,
        "h0 AS (SELECT v.id, count(e.src)::BIGINT AS h\n"
        "        FROM verts v LEFT JOIN sym e ON e.src = v.id"
        " GROUP BY v.id)",
    ]
    for k in range(rounds):
        parts.append(
            f"nbh{k} AS (SELECT e.src AS id, h.h\n"
            f"        FROM sym e JOIN h{k} h ON h.id = e.dst)"
        )
        parts.append(
            f"hx{k} AS (SELECT id, max(least(r, h)) AS h FROM (\n"
            f"          SELECT id, h, row_number() OVER"
            f" (PARTITION BY id ORDER BY h DESC) AS r FROM nbh{k})"
            f" GROUP BY id)"
        )
        parts.append(
            f"h{k + 1} AS (SELECT v.id, coalesce(x.h, 0)::BIGINT AS h\n"
            f"        FROM h0 v LEFT JOIN hx{k} x ON x.id = v.id)"
        )
    return (
        "WITH " + ",\n".join(parts)
        + f"\nSELECT id, h AS core FROM h{rounds}"
    )


def q_min_cover(spark, sf_dir):
    """FLASH parallel greedy vertex cover (reference
    ``apps/flash/matching/min-cover-greedy.h``)."""
    from graphscope_spark.operators.misc import min_vertex_cover_greedy

    return min_vertex_cover_greedy(part_graph_min2(spark, sf_dir)).select(
        "id", "in_cover"
    )


def _min_cover_sql(rounds: int = 12) -> str:
    """Unrolled reference protocol: local (residual-degree, id) maxima
    among uncovered neighbors join the cover each round; larger wins.
    Runs on the min2 graph (sparse backbone: ~9 greedy rounds at
    compare scale vs 165 on the dense co-order blob)."""
    parts = [
        _G2,
        "s0 AS (SELECT v.id, count(e.src)::BIGINT AS d, 0 AS c, 1 AS a\n"
        "        FROM verts v LEFT JOIN sym e ON e.src = v.id"
        " GROUP BY v.id)",
    ]
    for k in range(rounds):
        parts.append(
            f"nm{k} AS (SELECT e.src AS id, max(ROW(s.d, s.id)) AS m\n"
            f"        FROM sym e JOIN s{k} s ON s.id = e.dst AND s.c = 0\n"
            f"        GROUP BY e.src)"
        )
        parts.append(
            f"w{k} AS (SELECT s.id FROM s{k} s LEFT JOIN nm{k} n"
            f" ON n.id = s.id\n"
            f"        WHERE s.a = 1 AND (n.m IS NULL"
            f" OR n.m < ROW(s.d, s.id)))"
        )
        parts.append(
            f"dc{k} AS (SELECT e.dst AS id, count(*)::BIGINT AS tmp\n"
            f"        FROM sym e JOIN w{k} w ON w.id = e.src"
            f" GROUP BY e.dst)"
        )
        parts.append(
            f"s{k + 1} AS (SELECT id, d, c,"
            f" CASE WHEN a = 1 AND c = 0 AND d > 0 THEN 1 ELSE 0 END AS a"
            f" FROM (\n"
            f"          SELECT s.id,\n"
            f"            CASE WHEN w.id IS NULL AND s.c = 0\n"
            f"                 THEN s.d - coalesce(t.tmp, 0::BIGINT)\n"
            f"                 ELSE s.d END AS d,\n"
            f"            CASE WHEN w.id IS NOT NULL THEN 1 ELSE s.c END"
            f" AS c,\n"
            f"            s.a AS a\n"
            f"          FROM s{k} s LEFT JOIN w{k} w ON w.id = s.id\n"
            f"          LEFT JOIN dc{k} t ON t.id = s.id))"
        )
    return (
        "WITH " + ",\n".join(parts)
        + f"\nSELECT id, c AS in_cover FROM s{rounds}"
    )


def q_min_dominating(spark, sf_dir):
    """FLASH parallel greedy dominating set (reference
    ``apps/flash/matching/min-dominating-set.h``)."""
    from graphscope_spark.operators.misc import min_dominating_set_greedy

    return min_dominating_set_greedy(part_graph_min2(spark, sf_dir)).select(
        "id", "in_dom_set"
    )


def _min_dominating_sql(rounds: int = 15) -> str:
    """Unrolled reference protocol: two (count, id) max-propagation
    steps over non-dominated neighborhoods per round; 2-hop local
    maxima join the set and dominate their closed neighborhood.
    Runs on the min2 graph (see ``_min_cover_sql``)."""
    st = "{'mc': s.mc, 'mi': s.mi}"

    def prop(src: str, out: str) -> list[str]:
        return [
            f"{out}m AS (SELECT e.src AS id, max({{'mc': s.mc,"
            f" 'mi': s.mi}}) AS m\n"
            f"        FROM sym e JOIN {src} s ON s.id = e.dst"
            f" AND s.dom = 0 GROUP BY e.src)",
            f"{out} AS (SELECT s.id,\n"
            f"          CASE WHEN s.dom = 0 AND m.m IS NOT NULL"
            f" AND m.m > {st}\n"
            f"               THEN struct_extract(m.m, 'mc')"
            f" ELSE s.mc END AS mc,\n"
            f"          CASE WHEN s.dom = 0 AND m.m IS NOT NULL"
            f" AND m.m > {st}\n"
            f"               THEN struct_extract(m.m, 'mi')"
            f" ELSE s.mi END AS mi,\n"
            f"          s.dom, s.b\n"
            f"        FROM {src} s LEFT JOIN {out}m m ON m.id = s.id)",
        ]
    parts = [
        _G2,
        "s0 AS (SELECT v.id, count(e.src)::BIGINT AS mc, v.id AS mi,"
        " 0 AS dom, 0 AS b\n"
        "        FROM verts v LEFT JOIN sym e ON e.src = v.id"
        " GROUP BY v.id)",
    ]
    for k in range(rounds):
        parts.extend(prop(f"s{k}", f"p1_{k}"))
        parts.extend(prop(f"p1_{k}", f"p2_{k}"))
        parts.append(
            f"w{k} AS (SELECT id FROM p2_{k} WHERE dom = 0 AND mi = id)"
        )
        parts.append(
            f"nd{k} AS (SELECT id FROM w{k} UNION\n"
            f"        SELECT e.dst AS id FROM sym e JOIN w{k} w"
            f" ON w.id = e.src)"
        )
        parts.append(
            f"sh{k} AS (SELECT p.id, p.mc, p.mi,\n"
            f"          CASE WHEN n.id IS NOT NULL THEN 1 ELSE p.dom END"
            f" AS dom,\n"
            f"          CASE WHEN w.id IS NOT NULL THEN 1 ELSE p.b END"
            f" AS b\n"
            f"        FROM p2_{k} p LEFT JOIN nd{k} n ON n.id = p.id\n"
            f"        LEFT JOIN w{k} w ON w.id = p.id)"
        )
        parts.append(
            f"rc{k} AS (SELECT e.src AS id, count(*)::BIGINT AS rc\n"
            f"        FROM sym e JOIN sh{k} t ON t.id = e.dst"
            f" AND t.dom = 0 GROUP BY e.src)"
        )
        parts.append(
            f"s{k + 1} AS (SELECT s.id,\n"
            f"          CASE WHEN s.dom = 0 THEN coalesce(r.rc, 0::BIGINT)"
            f" ELSE s.mc END AS mc,\n"
            f"          CASE WHEN s.dom = 0 THEN s.id ELSE s.mi END AS mi,\n"
            f"          s.dom, s.b\n"
            f"        FROM sh{k} s LEFT JOIN rc{k} r ON r.id = s.id)"
        )
    return (
        "WITH " + ",\n".join(parts)
        + f"\nSELECT id, b AS in_dom_set FROM s{rounds}"
    )


def q_tri_census(spark, sf_dir):
    """Directed triangle census (cyclic vs transitive) on the
    hash-directed co-order graph — every pair carries one arc whose
    direction is h60 parity, so both types occur (reference
    ``apps/flash/subgraph/cyclic-triangle.h`` / ``acyclic-triangle.h``)."""
    from graphscope_spark.functions.text import h60
    from graphscope_spark.operators.triangles import (
        directed_triangle_census,
    )

    verts, dedges = part_edges(spark, sf_dir)
    key = F.concat(F.lit("d:"), F.col("src").cast("string"),
                   F.lit(":"), F.col("dst").cast("string"))
    h = h60(key)
    e = dedges.select(
        F.when(h % 2 == 0, F.col("src")).otherwise(F.col("dst")).alias("s2"),
        F.when(h % 2 == 0, F.col("dst")).otherwise(F.col("src")).alias("d2"),
    ).select(F.col("s2").alias("src"), F.col("d2").alias("dst"))
    g = Graph.from_edges(e, directed=True, vertices=verts)
    cyc, tr = directed_triangle_census(g)
    return spark.createDataFrame(
        [(cyc, tr)], "cyclic long, transitive long"
    )


_TRI_CENSUS_SQL = (
    "WITH " + _G + """,
h4 AS (SELECT src, dst,
       ('0x' || substr(md5('d:' || src::VARCHAR || ':' || dst::VARCHAR),
        1, 15))::BIGINT AS h FROM dedges),
de4 AS (SELECT CASE WHEN h % 2 = 0 THEN src ELSE dst END AS src,
               CASE WHEN h % 2 = 0 THEN dst ELSE src END AS dst FROM h4),
und4 AS (SELECT DISTINCT src, dst FROM (
          SELECT src, dst FROM de4 UNION ALL SELECT dst, src FROM de4)),
sdeg AS (SELECT src AS id, count(*) AS d FROM und4 GROUP BY src),
o AS (SELECT u.src, u.dst FROM und4 u
      JOIN sdeg a ON a.id = u.src JOIN sdeg b ON b.id = u.dst
      WHERE a.d < b.d OR (a.d = b.d AND u.src < u.dst)),
t AS (SELECT e1.src AS a, e1.dst AS b, e2.dst AS c
      FROM o e1 JOIN o e2 ON e2.src = e1.dst
      JOIN o e3 ON e3.src = e1.src AND e3.dst = e2.dst),
fl AS (SELECT t.a, t.b, t.c,
       CASE WHEN ab.src IS NULL THEN 0 ELSE 1 END AS ab,
       CASE WHEN ba.src IS NULL THEN 0 ELSE 1 END AS ba,
       CASE WHEN bc.src IS NULL THEN 0 ELSE 1 END AS bc,
       CASE WHEN cb.src IS NULL THEN 0 ELSE 1 END AS cb,
       CASE WHEN ac.src IS NULL THEN 0 ELSE 1 END AS ac,
       CASE WHEN ca.src IS NULL THEN 0 ELSE 1 END AS ca
       FROM t
       LEFT JOIN de4 ab ON ab.src = t.a AND ab.dst = t.b
       LEFT JOIN de4 ba ON ba.src = t.b AND ba.dst = t.a
       LEFT JOIN de4 bc ON bc.src = t.b AND bc.dst = t.c
       LEFT JOIN de4 cb ON cb.src = t.c AND cb.dst = t.b
       LEFT JOIN de4 ac ON ac.src = t.a AND ac.dst = t.c
       LEFT JOIN de4 ca ON ca.src = t.c AND ca.dst = t.a)
SELECT coalesce(sum(CASE WHEN (ab = 1 AND bc = 1 AND ca = 1)
                      OR (ba = 1 AND cb = 1 AND ac = 1)
                    THEN 1 ELSE 0 END), 0)::BIGINT AS cyclic,
       coalesce(sum(CASE WHEN NOT ((ab = 1 AND bc = 1 AND ca = 1)
                      OR (ba = 1 AND cb = 1 AND ac = 1))
                    THEN 1 ELSE 0 END), 0)::BIGINT AS transitive
FROM fl
WHERE ab + ba = 1 AND bc + cb = 1 AND ac + ca = 1"""
)


def q_densest_sub(spark, sf_dir):
    """Densest-subgraph 2(1+ε) approximation (reference
    ``apps/flash/subgraph/densest-sub-2-approx.h``) on a thinned
    co-order graph with a planted clique on id % 83 == 0 — the peel
    must discard the sparse bulk and return the planted core (at
    sf0.01 it lands exactly on the 25-clique).  Emits the best-round
    member ids."""
    from graphscope_spark.functions.text import h60
    from graphscope_spark.operators.clustering import densest_subgraph_approx

    verts, dedges = part_edges(spark, sf_dir)
    key = F.concat(F.lit("ds:"), F.col("src").cast("string"),
                   F.lit(":"), F.col("dst").cast("string"))
    thin = dedges.where(h60(key) % 10 < 2)
    cv = verts.where(F.col("id") % 83 == 0)
    clique = (
        cv.alias("a").join(cv.alias("b"),
                           F.col("a.id") < F.col("b.id"))
        .select(F.col("a.id").alias("src"), F.col("b.id").alias("dst"))
    )
    g = Graph.from_edges(thin.unionByName(clique).distinct(),
                         directed=True, vertices=verts)
    _density, _rnd, members = densest_subgraph_approx(g, eps=0.5)
    return members.select("id")


def _densest_sub_sql(rounds: int = 6, eps: float = 0.5) -> str:
    h = _H60.format("'ds:' || src::VARCHAR || ':' || dst::VARCHAR")
    factor = 2.0 * (1.0 + eps)
    parts = [
        _G,
        f"thin AS (SELECT src, dst FROM dedges WHERE {h} % 10 < 2)",
        "cv AS (SELECT id FROM verts WHERE id % 83 = 0)",
        "cj AS (SELECT a.id AS src, b.id AS dst FROM cv a"
        " JOIN cv b ON a.id < b.id)",
        "de2 AS (SELECT DISTINCT src, dst FROM"
        " (SELECT src, dst FROM thin UNION ALL SELECT src, dst FROM cj))",
        "sym3 AS (SELECT src, dst FROM de2"
        " UNION ALL SELECT dst, src FROM de2)",
        "s0 AS (SELECT id FROM verts)",
        "e0 AS (SELECT src, dst FROM sym3)",
    ]
    dens_rows = []
    for k in range(rounds):
        parts.append(
            f"nn{k} AS (SELECT count(*)::DOUBLE AS n FROM s{k})"
        )
        parts.append(
            f"mm{k} AS (SELECT count(*)/2.0 AS m FROM e{k})"
        )
        parts.append(
            f"rho{k} AS (SELECT CASE WHEN (SELECT n FROM nn{k}) > 0"
            f" THEN (SELECT m FROM mm{k}) / (SELECT n FROM nn{k})"
            f" END AS r)"
        )
        dens_rows.append(f"SELECT {k} AS k, (SELECT r FROM rho{k}) AS rho")
        parts.append(
            f"dd{k} AS (SELECT src AS id, count(*) AS d FROM e{k}"
            f" GROUP BY src)"
        )
        parts.append(
            f"s{k + 1} AS (SELECT s.id FROM s{k} s"
            f" LEFT JOIN dd{k} d ON d.id = s.id\n"
            f"        WHERE coalesce(d.d, 0) >"
            f" {factor!r} * (SELECT r FROM rho{k}))"
        )
        parts.append(
            f"e{k + 1} AS (SELECT e.src, e.dst FROM e{k} e\n"
            f"        JOIN s{k + 1} x ON x.id = e.src"
            f" JOIN s{k + 1} y ON y.id = e.dst)"
        )
    dens = "\n        UNION ALL ".join(dens_rows)
    members = "\n        UNION ALL ".join(
        f"SELECT {k} AS k, id FROM s{k}" for k in range(rounds)
    )
    return (
        "WITH " + ",\n".join(parts)
        + f""",
dens AS ({dens}),
best AS (SELECT k FROM dens WHERE rho IS NOT NULL
         ORDER BY rho DESC, k ASC LIMIT 1),
mem AS ({members})
SELECT id FROM mem WHERE k = (SELECT k FROM best)"""
    )


def q_closeness_full(spark, sf_dir):
    """ALL-SOURCES Wasserman-Faust closeness (reference
    ``apps/centrality/closeness/`` runs every vertex) on the id % 4
    induced subgraph — full semantics at a size where the O(n·m) SQL
    oracle stays tractable; `closeness_sample` covers the sampled
    scale path on the full graph."""
    from graphscope_spark.operators.centrality import closeness_centrality

    g = part_graph(spark, sf_dir)
    gi = g.induce_subgraph(g.vertices.where(F.col("id") % 4 == 0))
    r = closeness_centrality(gi.undirected())
    return r.select("id", F.round("cc", 6).alias("cc"))


def _closeness_full_sql(rounds: int = 5) -> str:
    parts = [
        _G,
        "subv AS (SELECT id FROM verts WHERE id % 4 = 0)",
        "sym2 AS (SELECT src, dst FROM sym"
        " WHERE src % 4 = 0 AND dst % 4 = 0)",
        "nn2 AS (SELECT count(*)::DOUBLE AS n FROM subv)",
        "f0 AS (SELECT id AS source, id, 0 AS dist FROM subv)",
    ]
    for k in range(rounds):
        parts.append(
            f"f{k + 1} AS (SELECT source, id, min(dist) AS dist FROM (\n"
            f"          SELECT source, id, dist FROM f{k}\n"
            f"          UNION ALL\n"
            f"          SELECT f.source, e.dst AS id, f.dist + 1 AS dist\n"
            f"          FROM f{k} f JOIN sym2 e ON e.src = f.id)"
            f" GROUP BY source, id)"
        )
    return (
        "WITH " + ",\n".join(parts)
        + f""",\nagg AS (SELECT source AS id, count(*) AS r,
         sum(dist)::DOUBLE AS total FROM f{rounds} GROUP BY source)
SELECT id, round(CASE WHEN total > 0 THEN
         ((r - 1) / total) * ((r - 1) / ((SELECT n FROM nn2) - 1.0))
       ELSE 0.0 END, 6) AS cc FROM agg"""
    )


def q_betweenness_sample(spark, sf_dir):
    """Brandes betweenness over the undirected co-order graph for the
    source sample id % 97 == 0 (exact per source, unnormalized,
    undirected double-count halved)."""
    from graphscope_spark.operators.betweenness import betweenness_centrality

    g = part_graph_undirected(spark, sf_dir)
    srcs = g.vertices.where(F.col("id") % 97 == 0)
    r = betweenness_centrality(g, sources=srcs, normalized=False)
    return r.select("id", F.round("bc", 6).alias("bc"))


def _betweenness_sample_sql(levels: int = 6) -> str:
    """Unrolled Brandes: forward BFS levels with sigma, then backward
    dependency accumulation over the same level tables.  ``levels``
    must cover the eccentricity of every sampled source (convergence
    asserted by tests/test_oracle_convergence.py)."""
    parts = [
        _G,
        "srcs AS (SELECT id FROM verts WHERE id % 97 = 0)",
        "lv0 AS (SELECT id AS source, id, 1.0::DOUBLE AS sigma FROM srcs)",
        "vis0 AS (SELECT source, id FROM lv0)",
    ]
    for k in range(1, levels + 1):
        parts.append(
            f"cv{k} AS (SELECT f.source, e.dst AS id, sum(f.sigma)"
            f" AS sigma\n"
            f"        FROM lv{k - 1} f JOIN sym e ON e.src = f.id\n"
            f"        GROUP BY f.source, e.dst)"
        )
        parts.append(
            f"lv{k} AS (SELECT c.source, c.id, c.sigma FROM cv{k} c\n"
            f"        LEFT JOIN vis{k - 1} v ON v.source = c.source"
            f" AND v.id = c.id\n"
            f"        WHERE v.id IS NULL)"
        )
        parts.append(
            f"vis{k} AS (SELECT source, id FROM vis{k - 1}\n"
            f"        UNION ALL SELECT source, id FROM lv{k})"
        )
    parts.append(
        f"d{levels} AS (SELECT source, id, sigma, 0.0::DOUBLE AS delta"
        f" FROM lv{levels})"
    )
    for k in range(levels, 0, -1):
        parts.append(
            f"ct{k} AS (SELECT w.source, p.id,\n"
            f"          sum(p.sigma / w.sigma * (1.0 + w.delta)) AS contrib\n"
            f"        FROM d{k} w JOIN sym e ON e.dst = w.id\n"
            f"        JOIN lv{k - 1} p ON p.source = w.source"
            f" AND p.id = e.src\n"
            f"        GROUP BY w.source, p.id)"
        )
        parts.append(
            f"d{k - 1} AS (SELECT p.source, p.id, p.sigma,\n"
            f"          coalesce(c.contrib, 0.0) AS delta\n"
            f"        FROM lv{k - 1} p LEFT JOIN ct{k} c"
            f" ON c.source = p.source AND c.id = p.id)"
        )
    alld = "\n        UNION ALL ".join(
        f"SELECT id, delta FROM d{k}" for k in range(1, levels + 1)
    )
    return (
        "WITH " + ",\n".join(parts)
        + f",\nalld AS ({alld})\n"
        "SELECT v.id, round(coalesce(s.b, 0.0) / 2.0, 6) AS bc\n"
        "FROM verts v LEFT JOIN (SELECT id, sum(delta) AS b FROM alld"
        " GROUP BY id) s ON s.id = v.id"
    )


def q_edge_betweenness_sample(spark, sf_dir):
    """Brandes EDGE betweenness over the undirected co-order graph
    for the source sample id % 97 == 0 (unnormalized, per-edge
    double-count halved, src < dst canonical)."""
    from graphscope_spark.operators.betweenness import (
        edge_betweenness_centrality,
    )

    g = part_graph_undirected(spark, sf_dir)
    srcs = g.vertices.where(F.col("id") % 97 == 0)
    r = edge_betweenness_centrality(g, sources=srcs, normalized=False)
    return r.select("src", "dst", F.round("eb", 6).alias("eb"))


def _edge_betweenness_sample_sql(levels: int = 6) -> str:
    """Same forward/backward unroll as the vertex oracle, emitting the
    per-level per-edge dependency terms before vertex aggregation."""
    parts = [
        _G,
        "srcs AS (SELECT id FROM verts WHERE id % 97 = 0)",
        "lv0 AS (SELECT id AS source, id, 1.0::DOUBLE AS sigma FROM srcs)",
        "vis0 AS (SELECT source, id FROM lv0)",
    ]
    for k in range(1, levels + 1):
        parts.append(
            f"cv{k} AS (SELECT f.source, e.dst AS id, sum(f.sigma)"
            f" AS sigma\n"
            f"        FROM lv{k - 1} f JOIN sym e ON e.src = f.id\n"
            f"        GROUP BY f.source, e.dst)"
        )
        parts.append(
            f"lv{k} AS (SELECT c.source, c.id, c.sigma FROM cv{k} c\n"
            f"        LEFT JOIN vis{k - 1} v ON v.source = c.source"
            f" AND v.id = c.id\n"
            f"        WHERE v.id IS NULL)"
        )
        parts.append(
            f"vis{k} AS (SELECT source, id FROM vis{k - 1}\n"
            f"        UNION ALL SELECT source, id FROM lv{k})"
        )
    parts.append(
        f"d{levels} AS (SELECT source, id, sigma, 0.0::DOUBLE AS delta"
        f" FROM lv{levels})"
    )
    for k in range(levels, 0, -1):
        parts.append(
            f"ec{k} AS (SELECT w.source, p.id AS v, w.id AS wv,\n"
            f"          p.sigma / w.sigma * (1.0 + w.delta) AS c\n"
            f"        FROM d{k} w JOIN sym e ON e.dst = w.id\n"
            f"        JOIN lv{k - 1} p ON p.source = w.source"
            f" AND p.id = e.src)"
        )
        parts.append(
            f"ct{k} AS (SELECT source, v AS id, sum(c) AS contrib"
            f" FROM ec{k} GROUP BY source, v)"
        )
        parts.append(
            f"d{k - 1} AS (SELECT p.source, p.id, p.sigma,\n"
            f"          coalesce(c.contrib, 0.0) AS delta\n"
            f"        FROM lv{k - 1} p LEFT JOIN ct{k} c"
            f" ON c.source = p.source AND c.id = p.id)"
        )
    alle = "\n        UNION ALL ".join(
        f"SELECT v, wv, c FROM ec{k}" for k in range(1, levels + 1)
    )
    return (
        "WITH " + ",\n".join(parts)
        + f",\nalle AS ({alle}),\n"
        "eb AS (SELECT least(v, wv) AS src, greatest(v, wv) AS dst,\n"
        "       sum(c) / 2.0 AS eb\n"
        "       FROM alle GROUP BY least(v, wv), greatest(v, wv))\n"
        "SELECT e.src, e.dst, round(coalesce(x.eb, 0.0), 6) AS eb\n"
        "FROM dedges e LEFT JOIN eb x ON x.src = e.src AND x.dst = e.dst"
    )


def q_voterank(spark, sf_dir):
    """Top-10 VoteRank seeds.  Elections are sequential, but each one
    is deterministic: the winner is the max floor(score*1e6+0.5)
    quantized score with a min-id tie-break — one IEEE expression both
    engines evaluate identically — so the unrolled SQL oracle
    reproduces the exact election sequence."""
    from graphscope_spark.operators.misc import voterank

    return voterank(part_graph(spark, sf_dir), num_seeds=10)


def _voterank_sql(num_seeds: int = 10) -> str:
    """Unrolled sequential elections on the directed co-order graph.
    ``dampen = n/(2m)`` (NetworkX ⟨k⟩ counts both endpoints), ability
    floored at 0, winner = argmax(floor(score*1e6+0.5)) then min id."""
    parts = [
        _G,
        "nn AS (SELECT count(*)::DOUBLE AS n FROM verts)",
        "mm AS (SELECT count(*)::DOUBLE AS m FROM dedges)",
        "dk AS (SELECT (SELECT n FROM nn) / (2.0 * (SELECT m FROM mm))"
        " AS dampen)",
        "a0 AS (SELECT id, 1.0::DOUBLE AS va FROM verts)",
    ]
    for r in range(num_seeds):
        # NetworkX direction: score(n) = Σ ability of OUT-neighbors
        parts.append(
            f"s{r} AS (SELECT e.src AS id, sum(a.va) AS score\n"
            f"        FROM dedges e JOIN a{r} a ON a.id = e.dst"
            f" GROUP BY e.src)"
        )
        excl = " AND ".join(
            f"s.id NOT IN (SELECT id FROM w{i})" for i in range(r)
        )
        cond = (excl + " AND " if excl else "") + "s.score > 0"
        parts.append(
            f"w{r} AS (SELECT s.id FROM s{r} s WHERE {cond}\n"
            f"        ORDER BY floor(s.score*1e6 + 0.5)::BIGINT DESC,"
            f" s.id ASC LIMIT 1)"
        )
        parts.append(
            f"a{r + 1} AS (SELECT a.id, CASE\n"
            f"          WHEN a.id = (SELECT id FROM w{r}) THEN 0.0\n"
            f"          WHEN EXISTS (SELECT 1 FROM dedges e\n"
            f"               WHERE e.src = (SELECT id FROM w{r})"
            f" AND e.dst = a.id)\n"
            f"          THEN greatest(a.va - (SELECT dampen FROM dk), 0.0)\n"
            f"          ELSE a.va END AS va FROM a{r} a)"
        )
    final = "\nUNION ALL ".join(
        f"SELECT id, {r} AS rank FROM w{r}" for r in range(num_seeds)
    )
    return "WITH " + ",\n".join(parts) + f"\nSELECT id, rank::INT AS rank FROM ({final})"


def q_avg_degree_connectivity(spark, sf_dir):
    from graphscope_spark.operators.misc import average_degree_connectivity

    g = part_graph(spark, sf_dir)
    return average_degree_connectivity(g).select(
        "degree", F.round("avg_nbr_degree", 6).alias("avg_nbr_degree")
    )


def q_rel_apply(spark, sf_dir):
    """GIE Apply demo (correlated subplan, reference
    ``interactive_engine/executor/ir/proto/physical.proto:125-135``):
    customers whose balance beats their nation's average.  Expressed as
    the decorrelated plan Catalyst produces for a correlated scalar
    subquery: per-key aggregate + broadcast join + filter."""
    c = load(spark, sf_dir, "customer")
    avgs = c.groupBy("c_nationkey").agg(F.avg("c_acctbal").alias("nav"))
    return (
        c.join(F.broadcast(avgs), "c_nationkey")
        .where(F.col("c_acctbal") > F.col("nav"))
        .select("c_custkey", "c_name",
                F.round("c_acctbal", 2).alias("acctbal"))
    )


def q_rel_sample(spark, sf_dir):
    """GIE Sample demo (reference ``algebra.proto:428``): seeded,
    engine-reproducible 10% sample — h60('s:' || key) % 10 == 0 — so
    the oracle draws the identical rows (no rand())."""
    from graphscope_spark.functions.text import h60

    o = load(spark, sf_dir, "orders")
    keep = h60(F.concat(F.lit("s:"), F.col("o_orderkey").cast("string")))
    return (
        o.where(keep % 10 == 0)
        .select("o_orderkey", "o_custkey",
                F.round("o_totalprice", 2).alias("totalprice"))
    )


def q_rel_union_intersect(spark, sf_dir):
    """GIE Union/Intersect demo: parts sold cheap UNION parts sold in
    quantity, INTERSECT parts above a size."""
    li = load(spark, sf_dir, "lineitem")
    p = load(spark, sf_dir, "part")
    cheap = li.where(F.col("l_extendedprice") < 1000).select(
        F.col("l_partkey").alias("p_partkey")
    )
    bulk = li.where(F.col("l_quantity") >= 45).select(
        F.col("l_partkey").alias("p_partkey")
    )
    big = p.where(F.col("p_size") >= 25).select("p_partkey")
    return cheap.union(bulk).distinct().intersect(big)


# --------------------------------------------------------------------
# registry: name -> (callable, oracle sql)
# --------------------------------------------------------------------

def registry() -> dict[str, tuple[Callable, str]]:
    # Written order is registry order.  The one rule: ``pagerank``
    # stays first, because ``__spark_entry__.entry()`` smokes it.
    return {
        "pagerank": (q_pagerank, _pagerank_sql(10)),
        "wcc": (q_wcc, _wcc_sql(8)),
        "cdlp": (q_cdlp, _cdlp_sql(10)),
        "triangles": (
            q_triangles,
            "WITH " + _G + ",\n" + _TRI
            + "\nSELECT v.id, coalesce(tric.cnt, 0) AS tricnt\n"
              "FROM verts v LEFT JOIN tric ON tric.id = v.id",
        ),
        "tri_count": (
            q_tri_count,
            "WITH " + _G + ",\n" + _TRI
            + "\nSELECT count(*) AS tri_count FROM t",
        ),
        "lcc": (
            q_lcc,
            "WITH " + _G + ",\n" + _TRI
            + "\nSELECT v.id, round(CASE WHEN udeg.d >= 2 THEN"
              " 2.0*coalesce(tric.cnt, 0)/(udeg.d*(udeg.d - 1))"
              " ELSE 0.0 END, 6) AS lcc\n"
              "FROM verts v JOIN udeg ON udeg.id = v.id"
              " LEFT JOIN tric ON tric.id = v.id",
        ),
        "degree_centrality": (
            q_degree_centrality,
            "WITH " + _G + ",\n"
            + "udeg AS (SELECT v.id, count(e.src) AS d\n"
              "         FROM verts v LEFT JOIN sym e ON e.src = v.id"
              " GROUP BY v.id)\n"
              "SELECT id, round(d / ((SELECT count(*) FROM verts) - 1.0), 6)"
              " AS dc FROM udeg",
        ),
        "bfs": (q_bfs, _bfs_sql(6)),
        "rel_group_agg": (
            q_rel_group_agg,
            """SELECT l_returnflag, l_linestatus,
                      round(sum(l_quantity), 1) AS sum_qty,
                      round(sum(l_extendedprice), 1) AS sum_base_price,
                      round(sum(l_extendedprice*(1 - l_discount)), 1)
                        AS sum_disc_price,
                      round(avg(l_quantity), 4) AS avg_qty,
                      count(*) AS count_order
               FROM lineitem GROUP BY l_returnflag, l_linestatus""",
        ),
        "rel_join_topk": (
            q_rel_join_topk,
            """SELECT o_orderkey, c_name, n_name, o_totalprice
               FROM orders JOIN customer ON o_custkey = c_custkey
               JOIN nation ON c_nationkey = n_nationkey
               ORDER BY o_totalprice DESC, o_orderkey ASC LIMIT 10""",
        ),
        "rel_dedup": (
            q_rel_dedup,
            """SELECT DISTINCT c_mktsegment, n_name
               FROM customer JOIN nation ON c_nationkey = n_nationkey""",
        ),
        "rel_antijoin": (
            q_rel_antijoin,
            """SELECT c_custkey, c_name FROM customer
               WHERE NOT EXISTS (SELECT 1 FROM orders
                                 WHERE o_custkey = c_custkey
                                   AND o_totalprice > 150000)""",
        ),
        "rel_window_topk": (
            q_rel_window_topk,
            """SELECT user_id, event_id, round(value, 6) AS value FROM events
               QUALIFY row_number() OVER (PARTITION BY user_id
                 ORDER BY value DESC, event_id ASC) = 1""",
        ),
        "eigenvector10": (q_eigenvector10, _eigenvector_sql(10)),
        "katz10": (q_katz10, _katz_sql(10)),
        "closeness_sample": (
            q_closeness_sample, _closeness_sample_sql(5)
        ),
        "betweenness_sample": (
            q_betweenness_sample, _betweenness_sample_sql(6)
        ),
        "edge_betweenness_sample": (
            q_edge_betweenness_sample, _edge_betweenness_sample_sql(6)
        ),
        "closeness_full": (q_closeness_full, _closeness_full_sql(5)),
        "ppr": (q_ppr, _ppr_sql(10)),
        "articlerank": (q_articlerank, _articlerank_sql(10)),
        "matching": (q_matching, _matching_sql(12)),
        "rect_count": (q_rect_count, _RECT_COUNT_SQL),
        "densest_sub": (q_densest_sub, _densest_sub_sql(6)),
        "tri_census": (q_tri_census, _TRI_CENSUS_SQL),
        "k4_count": (q_k4_count, _K4_COUNT_SQL),
        "harmonic_sample": (q_harmonic_sample, _harmonic_sample_sql(5)),
        "diameter_approx": (q_diameter_approx, _diameter_approx_sql(6)),
        "mis": (q_mis, _mis_sql(8)),
        "voterank": (q_voterank, _voterank_sql(10)),
        "avg_degree_connectivity": (
            q_avg_degree_connectivity,
            "WITH " + _G + ",\n"
            + "udeg AS (SELECT v.id, count(e.src) AS d\n"
              "         FROM verts v LEFT JOIN sym e ON e.src = v.id"
              " GROUP BY v.id)\n"
              "SELECT ds.d AS degree, round(avg(dd.d), 6)"
              " AS avg_nbr_degree\n"
              "FROM sym e JOIN udeg ds ON ds.id = e.src"
              " JOIN udeg dd ON dd.id = e.dst GROUP BY ds.d",
        ),
        "rel_apply": (
            q_rel_apply,
            """SELECT c_custkey, c_name, round(c_acctbal, 2) AS acctbal
               FROM customer c
               WHERE c_acctbal > (SELECT avg(c2.c_acctbal) FROM customer c2
                                  WHERE c2.c_nationkey = c.c_nationkey)""",
        ),
        "rel_sample": (
            q_rel_sample,
            "SELECT o_orderkey, o_custkey,"
            " round(o_totalprice, 2) AS totalprice FROM orders\n"
            "WHERE " + _H60.format("'s:' || o_orderkey::VARCHAR")
            + " % 10 = 0",
        ),
        "rel_union_intersect": (
            q_rel_union_intersect,
            """SELECT DISTINCT p_partkey FROM (
                 SELECT l_partkey AS p_partkey FROM lineitem
                 WHERE l_extendedprice < 1000
                 UNION
                 SELECT l_partkey FROM lineitem WHERE l_quantity >= 45)
               INTERSECT
               SELECT p_partkey FROM part WHERE p_size >= 25""",
        ),
        "clustering_directed": (
            q_clustering_directed, _CLUSTERING_DIRECTED_SQL
        ),
        "avg_clustering": (
            q_avg_clustering,
            "WITH " + _G + ",\n" + _TRI
            + "\nSELECT round(avg(CASE WHEN udeg.d >= 2 THEN"
              " 2.0*coalesce(tric.cnt, 0)/(udeg.d*(udeg.d - 1))"
              " ELSE 0.0 END), 6) AS avg_clustering\n"
              "FROM verts v JOIN udeg ON udeg.id = v.id"
              " LEFT JOIN tric ON tric.id = v.id",
        ),
        "transitivity": (
            q_transitivity,
            "WITH " + _G + ",\n" + _TRI
            + "\nSELECT round(2.0*(SELECT sum(cnt) FROM tric)"
              " / (SELECT sum(d*(d - 1)) FROM udeg), 6)"
              " AS transitivity",
        ),
        "attr_assortativity": (q_attr_assortativity, _ATTR_ASSORT_SQL),
        "numeric_assortativity": (
            q_numeric_assortativity, _NUMERIC_ASSORT_SQL
        ),
        "edge_boundary": (q_edge_boundary, _EDGE_BOUNDARY_SQL),
        "gie_shortest_path": (
            q_gie_shortest_path, _gie_shortest_path_sql(6)
        ),
        "cypher_topdeg": (q_cypher_topdeg, _CYPHER_TOPDEG_SQL),
        "cypher_varlen": (q_cypher_varlen, _CYPHER_VARLEN_SQL),
        "cypher_optional": (q_cypher_optional, _CYPHER_OPTIONAL_SQL),
        "random_multi_bfs": (q_random_multi_bfs, _random_multi_bfs_sql()),
        "cypher_with": (q_cypher_with, _CYPHER_WITH_SQL),
        "cypher_shortest": (q_cypher_shortest, _cypher_shortest_sql()),
        "cypher_case": (q_cypher_case, _CYPHER_CASE_SQL),
        "line_dedup": (q_line_dedup, _LINE_DEDUP_SQL),
        "gopher_quality": (q_gopher_quality, _gopher_quality_sql()),
        "c4_clean": (q_c4_clean, _C4_CLEAN_SQL),
        "span_dedup": (q_span_dedup, _SPAN_DEDUP_SQL),
        "vocab_topk": (q_vocab_topk, _VOCAB_TOPK_SQL),
        "lm_score": (q_lm_score, _LM_SCORE_SQL),
        "dsir_weights": (q_dsir_weights, _dsir_weights_sql()),
        "dsir_select": (q_dsir_select, _dsir_select_sql()),
        "assortativity": (
            q_assortativity,
            "WITH " + _G + ",\n"
            + "outd AS (SELECT src AS id, count(*) AS c FROM dedges"
              " GROUP BY src),\n"
              "ind AS (SELECT dst AS id, count(*) AS c FROM dedges"
              " GROUP BY dst)\n"
              "SELECT round(corr(o.c, i.c), 6) AS assortativity\n"
              "FROM dedges e JOIN outd o ON o.id = e.src"
              " JOIN ind i ON i.id = e.dst",
        ),
        "boundary": (
            q_boundary,
            "WITH " + _G + "\n"
            + "SELECT DISTINCT e.dst AS id FROM sym e\n"
              "WHERE e.src % 17 = 0 AND e.dst % 17 <> 0",
        ),
        "kshell": (q_kshell, _kshell_sql(80, 20)),
        "core_numbers_k3": (
            q_core_numbers_k3, _core_numbers_k3_sql(5)
        ),
        "scc": (q_scc, _scc_sql(16)),
        "lpa_u2i": (q_lpa_u2i, _lpa_u2i_sql(5)),
        "sssp": (q_sssp, _sssp_sql(8)),
        "sssp_path": (q_sssp_path, _sssp_path_sql(8)),
        "sssp_has_path": (q_sssp_has_path, _sssp_has_path_sql(10)),
        "sssp_avg_length": (q_sssp_avg_length, _sssp_avg_length_sql(8)),
        "apsp_sample": (q_apsp_sample, _apsp_sample_sql(5)),
        "apsp_full": (q_apsp_full, _apsp_full_sql(10)),
        "prop_project": (q_prop_project, _prop_project_sql()),
        "negative_sampling": (
            q_negative_sampling, _negative_sampling_sql(3)
        ),
        "hits": (q_hits, _hits_sql(10)),
        "kcore": (q_kcore, _kcore_sql(80, 20)),
        "khop2": (q_khop2, _KHOP2_SQL),
        "gremlin_2hop_bag": (q_gremlin_2hop_bag, _GREMLIN_2HOP_SQL),
        "dedup_exact": (
            q_dedup_exact,
            "SELECT min(doc_id) AS doc_id, count(*) AS dup_count FROM ("
            f"SELECT doc_id, sha256({_NORM}) AS h FROM documents"
            ") GROUP BY h",
        ),
        "text_stats": (q_text_stats, _text_stats_sql()),
        "lang_id": (q_lang_id, _lang_id_sql()),
        "doc_fingerprint": (
            q_doc_fingerprint,
            f"SELECT doc_id, {_H60.format(_NORM)} AS fp FROM documents",
        ),
        "ngram_jaccard": (q_ngram_jaccard, _ngram_jaccard_sql()),
        "decontaminate": (q_decontaminate, _decontaminate_sql()),
        "repetition_stats": (
            q_repetition_stats, _repetition_stats_sql()
        ),
        "pack_sequences": (q_pack_sequences, _pack_sequences_sql()),
        "random_walks": (q_random_walks, _random_walks_sql()),
        "node2vec_walks": (q_node2vec, _node2vec_sql()),
        "skipgram_pairs": (q_skipgram, _skipgram_sql()),
        "pii_scrub": (q_pii_scrub, _pii_scrub_sql()),
        "sample_neighbors": (
            q_sample_neighbors, _sample_neighbors_sql()
        ),
        "stratified_sample": (
            q_stratified_sample, _stratified_sample_sql()
        ),
        "minhash_lsh": (q_minhash_lsh, _minhash_lsh_sql()),
        "minhash_groups": (q_minhash_groups, _minhash_groups_sql(8)),
        "simhash": (q_simhash, _simhash_sql()),
        "embedding_topk": (q_embedding_topk, _embedding_topk_sql()),
        "embedding_near_dup": (
            q_embedding_near_dup, _embedding_near_dup_sql()
        ),
        "semantic_dedup": (q_semantic_dedup, _semantic_dedup_sql()),
        "rel_semijoin": (
            q_rel_semijoin,
            """SELECT p_partkey, p_name FROM part
               WHERE p_size > 40 AND EXISTS (SELECT 1 FROM lineitem
                                             WHERE l_partkey = p_partkey)""",
        ),
        "k5_count": (q_k5_count, _K5_COUNT_SQL),
        "bridges": (q_bridges, _bridges_sql(14, 12)),
        "cut_points": (q_cut_points, _cut_points_sql(14, 12, 10)),
        "bcc": (q_bcc, _bcc_sql(14, 12, 10)),
        "fluid": (q_fluid, _fluid_sql(20, 10)),
        "bfs_pred": (q_bfs_pred, _bfs_pred_sql(6)),
        "bfs_succ": (q_bfs_succ, _bfs_succ_sql(6)),
        "dfs": (q_dfs, _dfs_sql()),
        "msf": (q_msf, _msf_sql(12, 6)),
        "core_numbers": (q_core_numbers, _core_numbers_sql(20)),
        # 45 rounds: the greedy serializes on dense tied neighborhoods
        # (sf0.001's min2 graph needs 40; sf0.01 converges by 14) —
        # extra rounds of a converged fixpoint are no-ops, so the
        # larger unroll is safe at every scale
        "min_cover": (q_min_cover, _min_cover_sql(45)),
        "min_dominating": (q_min_dominating, _min_dominating_sql(14)),
        "three_path": (q_three_path, _THREE_PATH_SQL),
        "tailed_tri": (q_tailed_tri, _TAILED_TRI_SQL),
        "diamond": (q_diamond, _DIAMOND_SQL),
        "k_center": (q_k_center, _k_center_sql(3, 8)),
        "is_simple_path": (q_is_simple_path, _IS_SIMPLE_PATH_SQL),
        "path_sample": (q_path_sample, _PATH_SAMPLE_SQL),
        "simple_paths": (q_simple_paths, _simple_paths_sql(3)),
        "coloring": (q_coloring, _coloring_sql(20)),
        "onion_layers": (q_onion, _onion_sql(24, 28)),
        "degeneracy": (q_degeneracy, _degeneracy_sql()),
        "louvain": (q_louvain, _louvain_sql(4)),
        "modularity": (q_modularity, _modularity_sql(4)),
        "link_jaccard": (q_link_jaccard, _link_jaccard_sql()),
        "link_pa": (q_link_pa, _link_pa_sql()),
        "min_edge_cover": (q_min_edge_cover, _min_edge_cover_sql(12)),
        "tri_variants": (q_tri_variants, _TRI_VARIANTS_SQL),
        "ann_ivf": (q_ann_ivf, _ann_ivf_sql(10, 8, 2)),
    }


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return {name: fn for name, (fn, _) in registry().items()}


def _materialize_ctes(sql: str) -> str:
    """DuckDB inlines CTEs by default; the unrolled superstep chains
    reference each round's CTE twice, which inlines to an exponential
    plan.  ``AS MATERIALIZED`` evaluates each round once.

    Recursive oracles are exempt: DuckDB 1.0 silently returns NULL
    from a MATERIALIZED CTE referenced inside a recursive term (the
    dfs walk stalls after its anchor row), so they are written to
    carry all per-iteration state in the recursion itself (no CTE
    reference in the recursive term → nothing to blow up either)."""
    import re

    if re.match(r"\s*WITH RECURSIVE\b", sql):
        return sql
    return re.sub(r"\bAS \(", "AS MATERIALIZED (", sql)


def oracle_sql() -> dict[str, str]:
    return {
        name: _materialize_ctes(sql)
        for name, (_, sql) in registry().items()
    }
