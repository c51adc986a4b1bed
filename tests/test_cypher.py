"""Cypher string front-end: each statement is checked against an
equivalent hand-built DataFrame/fluent-GIE twin on the same graph
(the reference compiles Cypher and Gremlin onto the same dataflow —
``CypherGS.g4`` — so equivalence with the fluent surface is exactly
the parity that matters)."""
import pytest
from pyspark.sql import functions as F

from graphscope_spark.cypher import cypher
from graphscope_spark.graph import Graph

VERTS = [
    (0, "a", 1), (1, "a", 2), (2, "b", 3), (3, "b", 4),
    (4, "c", 5), (5, "a", 2), (6, "b", 3), (7, "c", 1),
]
EDGES = [
    (0, 1), (0, 2), (1, 2), (2, 3), (3, 4), (4, 5),
    (5, 0), (5, 6), (6, 7), (7, 0), (1, 3), (2, 6),
]


@pytest.fixture(scope="module")
def g(spark):
    v = spark.createDataFrame(VERTS, "id long, cat string, num long")
    e = spark.createDataFrame(EDGES, "src long, dst long")
    return Graph.from_edges(e, directed=True, vertices=v,
                            num_partitions=4)


def rows(df, *cols):
    return sorted(tuple(r[c] for c in cols) for r in df.collect())


def test_match_out(spark, g):
    got = rows(cypher(g, "MATCH (a)-->(b) RETURN a, b"), "a", "b")
    assert got == sorted(EDGES)


def test_match_in(spark, g):
    got = rows(cypher(g, "MATCH (a)<--(b) RETURN a, b"), "a", "b")
    assert got == sorted((b, a) for a, b in EDGES)


def test_match_undirected_bag(spark, g):
    got = rows(cypher(g, "MATCH (a)--(b) RETURN a, b"), "a", "b")
    want = sorted(EDGES + [(b, a) for a, b in EDGES])
    assert got == want


def test_where_property(spark, g):
    q = "MATCH (a)-[r]->(b) WHERE a.num > 2 RETURN a, b"
    got = rows(cypher(g, q), "a", "b")
    big = {i for i, _, n in VERTS if n > 2}
    assert got == sorted((a, b) for a, b in EDGES if a in big)


def test_aggregate_order_limit(spark, g):
    q = ("MATCH (a)-->(b) RETURN a, count(*) AS deg "
         "ORDER BY deg DESC, a ASC LIMIT 3")
    got = [(r["a"], r["deg"]) for r in cypher(g, q).collect()]
    from collections import Counter

    deg = Counter(a for a, _ in EDGES)
    want = sorted(deg.items(), key=lambda kv: (-kv[1], kv[0]))[:3]
    assert got == want


def test_two_hop_distinct(spark, g):
    q = "MATCH (a)-->(b)-->(c) WHERE a <> c RETURN DISTINCT a, c"
    got = rows(cypher(g, q), "a", "c")
    want = sorted({(a, c) for a, b in EDGES for b2, c in EDGES
                   if b == b2 and a != c})
    assert got == want


def test_property_projection_aliases(spark, g):
    q = "MATCH (a)-->(b) RETURN DISTINCT a.cat AS ca, b.cat AS cb"
    got = rows(cypher(g, q), "ca", "cb")
    cat = {i: c for i, c, _ in VERTS}
    assert got == sorted({(cat[a], cat[b]) for a, b in EDGES})


def test_vertex_only_match(spark, g):
    q = "MATCH (a) WHERE a.num >= 3 RETURN a ORDER BY a"
    got = [r["a"] for r in cypher(g, q).collect()]
    assert got == sorted(i for i, _, n in VERTS if n >= 3)


def test_boolean_operators(spark, g):
    q = "MATCH (a) WHERE NOT (a.cat = 'a' OR a.num > 3) RETURN a"
    got = rows(cypher(g, q), "a")
    want = sorted((i,) for i, c, n in VERTS
                  if not (c == "a" or n > 3))
    assert got == want


def test_id_function_and_anon_node(spark, g):
    q = "MATCH (a)-->() WHERE id(a) = 5 RETURN a"
    # bag semantics: one row per out-edge of 5
    assert rows(cypher(g, q), "a") == [(5,), (5,)]


def test_count_without_keys(spark, g):
    q = "MATCH (a)-->(b)-->(c) RETURN count(*) AS n"
    n2 = sum(1 for a, b in EDGES for b2, c in EDGES if b == b2)
    assert cypher(g, q).collect()[0]["n"] == n2


def test_cycle_closure(spark, g):
    # close the pattern back on a: directed 3-cycles through vertex ids
    q = "MATCH (a)-->(b)-->(c)-->(a) RETURN DISTINCT a, b, c"
    got = rows(cypher(g, q), "a", "b", "c")
    es = set(EDGES)
    want = sorted({(a, b, c) for a, b in EDGES for b2, c in EDGES
                   if b == b2 and (c, a) in es})
    assert got == want


def test_equivalence_with_fluent_gie(spark, g):
    """The statement compiles to the same result the fluent chain
    produces (same multiset)."""
    from graphscope_spark.gie import traversal

    got = rows(cypher(g, "MATCH (a)-->(b)-->(c) RETURN c"), "c")
    fluent = sorted(
        (r["id"],)
        for r in traversal(g).V().out().out().toDF().collect()
    )
    assert got == fluent


def test_unbound_variable_raises(spark, g):
    with pytest.raises(ValueError, match="unbound"):
        cypher(g, "MATCH (a)-->(b) RETURN z")


def test_trailing_garbage_raises(spark, g):
    with pytest.raises(ValueError):
        cypher(g, "MATCH (a) RETURN a LIMIT 3 banana")


# ---------------------------------------------------------------- r5
# extensions: variable-length hops, property maps, conjunctive
# patterns, sum/min/max/avg/collect, SKIP

def _khop(k):
    """Bag of (a, c) pairs reachable in exactly k directed hops."""
    pairs = [(a, b) for a, b in EDGES]
    for _ in range(k - 1):
        pairs = [(a, c) for a, b in pairs for b2, c in EDGES if b == b2]
    return pairs


def test_varlen_exact(spark, g):
    got = rows(cypher(g, "MATCH (a)-[*2]->(b) RETURN a, b"), "a", "b")
    assert got == sorted(_khop(2))


def test_varlen_range_union(spark, g):
    got = rows(cypher(g, "MATCH (a)-[*1..3]->(b) RETURN a, b"), "a", "b")
    assert got == sorted(_khop(1) + _khop(2) + _khop(3))


def test_varlen_open_low_and_label_direction(spark, g):
    got = rows(cypher(g, "MATCH (a)<-[*..2]-(b) RETURN a, b"), "a", "b")
    want = sorted((c, a) for a, c in _khop(1) + _khop(2))
    assert got == want


def test_varlen_closes_cycles(spark, g):
    q = "MATCH (a)-[*3]->(a) RETURN DISTINCT a"
    got = rows(cypher(g, q), "a")
    assert got == sorted({(a,) for a, c in _khop(3) if a == c})


def test_varlen_unbounded_rejected(spark, g):
    with pytest.raises(ValueError, match="unbounded"):
        cypher(g, "MATCH (a)-[*]->(b) RETURN a, b")


def test_property_map_filter(spark, g):
    q = "MATCH (a {cat: 'b'})-->(b {num: 2}) RETURN a, b"
    got = rows(cypher(g, q), "a", "b")
    cat = {i: c for i, c, _ in VERTS}
    num = {i: n for i, _, n in VERTS}
    want = sorted((a, b) for a, b in EDGES
                  if cat[a] == "b" and num[b] == 2)
    assert got == want


def test_conjunctive_patterns_share_vars(spark, g):
    # same result as the chained two-hop written as two patterns
    q = "MATCH (a)-->(b), (b)-->(c) RETURN a, b, c"
    got = rows(cypher(g, q), "a", "b", "c")
    want = sorted((a, b, c) for a, b in EDGES
                  for b2, c in EDGES if b == b2)
    assert got == want


def test_conjunctive_disjoint_rejected(spark, g):
    with pytest.raises(ValueError, match="share"):
        cypher(g, "MATCH (a)-->(b), (x)-->(y) RETURN a, x")


def test_sum_avg_min_max_grouped(spark, g):
    q = ("MATCH (a)-->(b) RETURN a, sum(b.num) AS s, min(b.num) AS lo, "
         "max(b.num) AS hi, avg(b.num) AS m ORDER BY a")
    num = {i: n for i, _, n in VERTS}
    import statistics
    got = [(r["a"], r["s"], r["lo"], r["hi"], r["m"])
           for r in cypher(g, q).collect()]
    want = []
    for a in sorted({x for x, _ in EDGES}):
        ns = [num[b] for x, b in EDGES if x == a]
        want.append((a, sum(ns), min(ns), max(ns),
                     statistics.mean(ns)))
    assert [w[:4] for w in want] == [gt[:4] for gt in got]
    assert all(abs(w[4] - gt[4]) < 1e-9 for w, gt in zip(want, got))


def test_collect_sorted_bag(spark, g):
    q = "MATCH (a)-->(b) RETURN a, collect(b) AS ns ORDER BY a"
    got = {r["a"]: list(r["ns"]) for r in cypher(g, q).collect()}
    want = {}
    for a, b in EDGES:
        want.setdefault(a, []).append(b)
    assert got == {a: sorted(v) for a, v in want.items()}


def test_skip_limit_pagination(spark, g):
    base = "MATCH (a) RETURN a ORDER BY a"
    all_ids = [r["a"] for r in cypher(g, base).collect()]
    page = [r["a"] for r in
            cypher(g, base + " SKIP 3 LIMIT 2").collect()]
    assert page == all_ids[3:5]


def test_optional_match_null_extension(spark, g):
    # vertex 4 has out-degree 1 (4->5); every vertex has some out-edge
    # in EDGES... construct via label filter instead: optional partner
    # with num > 4 — only vertex 4 qualifies as b
    q = ("MATCH (a) OPTIONAL MATCH (a)-->(b) WHERE b.num > 4 "
         "RETURN a, b ORDER BY a, b")
    got = [(r["a"], r["b"]) for r in cypher(g, q).collect()]
    num = {i: n for i, _, n in VERTS}
    want = []
    for a, _, _ in VERTS:
        matches = [b for x, b in EDGES if x == a and num[b] > 4]
        if matches:
            want.extend((a, b) for b in sorted(matches))
        else:
            want.append((a, None))
    assert got == sorted(want, key=lambda t: (t[0], (t[1] is not None, t[1])))


def test_optional_match_count_zero(spark, g):
    q = ("MATCH (a) OPTIONAL MATCH (a)-->(b) WHERE b.num > 4 "
         "RETURN a, count(b) AS n ORDER BY a")
    got = {r["a"]: r["n"] for r in cypher(g, q).collect()}
    num = {i: n for i, _, n in VERTS}
    want = {a: sum(1 for x, b in EDGES if x == a and num[b] > 4)
            for a, _, _ in VERTS}
    assert got == want


def test_optional_match_disjoint_rejected(spark, g):
    with pytest.raises(ValueError, match="share"):
        cypher(g, "MATCH (a) OPTIONAL MATCH (x)-->(y) RETURN a, y")


def test_optional_where_foreign_var_rejected(spark, g):
    with pytest.raises(ValueError, match="OPTIONAL MATCH WHERE"):
        cypher(g, "MATCH (a)-->(c) OPTIONAL MATCH (a)-->(b) "
                  "WHERE c.num > 2 RETURN a, b")


def test_optional_where_shared_prop_with_mandatory_where(spark, g):
    # a.num referenced in BOTH the mandatory and the optional WHERE:
    # the optional side must still see the property column
    q = ("MATCH (a)-->(c) WHERE a.num > 1 "
         "OPTIONAL MATCH (a)-->(b) WHERE a.num > 3 AND b.num > 3 "
         "RETURN a, c, b ORDER BY a, c, b")
    num = {i: n for i, _, n in VERTS}
    got = [(r["a"], r["c"], r["b"]) for r in cypher(g, q).collect()]
    want = []
    for a, c in EDGES:
        if num[a] <= 1:
            continue
        matches = sorted(b for x, b in EDGES
                         if x == a and num[a] > 3 and num[b] > 3)
        if matches:
            want.extend((a, c, b) for b in matches)
        else:
            want.append((a, c, None))
    key = lambda t: (t[0], t[1], (t[2] is not None, t[2]))
    assert sorted(got, key=key) == sorted(want, key=key)


def test_return_order_preserved_agg_first(spark, g):
    # review fix: RETURN count(*) AS n, a must keep (n, a) order
    df = cypher(g, "MATCH (a)-->(b) RETURN count(*) AS n, a ORDER BY a")
    assert df.columns == ["n", "a"]


def test_optional_where_bare_foreign_var_rejected(spark, g):
    # review fix: a bare mandatory-only variable in the optional WHERE
    # raises the documented error, not a Spark AnalysisException
    with pytest.raises(ValueError, match="OPTIONAL MATCH WHERE"):
        cypher(g, "MATCH (a)-->(c) OPTIONAL MATCH (a)-->(b) "
                  "WHERE b <> c RETURN a, b")


# ------------------------------------------------------------- WITH

def test_with_aggregate_then_filter(spark, g):
    # the HAVING shape: out-degree > 1
    q = ("MATCH (a)-->(b) WITH a, count(b) AS n WHERE n > 1 "
         "RETURN a, n ORDER BY a")
    from collections import Counter
    deg = Counter(x for x, _ in EDGES)
    want = sorted((a, n) for a, n in deg.items() if n > 1)
    got = [(r["a"], r["n"]) for r in cypher(g, q).collect()]
    assert got == want


def test_with_pipe_into_second_match(spark, g):
    # vertices with out-degree >= 2, then expand their in-neighbors
    q = ("MATCH (a)-->(b) WITH a, count(b) AS n WHERE n >= 2 "
         "MATCH (c)-->(a) RETURN a, c ORDER BY a, c")
    from collections import Counter
    deg = Counter(x for x, _ in EDGES)
    hubs = {a for a, n in deg.items() if n >= 2}
    want = sorted((a, c) for c, a in EDGES if a in hubs)
    got = [(r["a"], r["c"]) for r in cypher(g, q).collect()]
    assert got == want


def test_with_scope_drops_unlisted_vars(spark, g):
    # b is not carried through the WITH — referencing it later errors
    with pytest.raises(ValueError, match="unbound"):
        cypher(g, "MATCH (a)-->(b) WITH a RETURN a, b")


def test_with_distinct_projection(spark, g):
    q = ("MATCH (a)-->(b) WITH DISTINCT b MATCH (b)-->(c) "
         "RETURN b, c ORDER BY b, c")
    dsts = {b for _, b in EDGES}
    want = sorted((b, c) for b, c in EDGES if b in dsts)
    got = [(r["b"], r["c"]) for r in cypher(g, q).collect()]
    assert got == want


def test_with_property_projection_and_rename(spark, g):
    q = ("MATCH (a)-->(b) WITH a.cat AS k, b WHERE k = 'a' "
         "RETURN k, count(b) AS n")
    cat = {i: c for i, c, _ in VERTS}
    n = sum(1 for a, _ in EDGES if cat[a] == "a")
    rows = cypher(g, q).collect()
    assert [(r["k"], r["n"]) for r in rows] == [("a", n)]


def test_with_requires_shared_var_for_next_match(spark, g):
    with pytest.raises(ValueError, match="share"):
        cypher(g, "MATCH (a)-->(b) WITH a MATCH (x)-->(y) RETURN a, x")


# ----------------------------------------------------------- UNWIND

def test_unwind_literal_list(spark, g):
    q = "UNWIND [3, 1, 2] AS x RETURN x ORDER BY x"
    assert [r["x"] for r in cypher(g, q).collect()] == [1, 2, 3]


def test_unwind_seeds_a_match(spark, g):
    # parameter seeding: expand only from the listed vertices
    q = "UNWIND [0, 5] AS a MATCH (a)-->(b) RETURN a, b ORDER BY a, b"
    want = sorted((a, b) for a, b in EDGES if a in (0, 5))
    got = [(r["a"], r["b"]) for r in cypher(g, q).collect()]
    assert got == want


def test_unwind_collect_roundtrip(spark, g):
    q = ("MATCH (a)-->(b) WITH a, collect(b) AS ns "
         "UNWIND ns AS x RETURN a, x ORDER BY a, x")
    got = [(r["a"], r["x"]) for r in cypher(g, q).collect()]
    assert got == sorted(EDGES)


def test_consecutive_match_clauses(spark, g):
    # Cypher allows MATCH ... MATCH ... without WITH; the second
    # clause joins on shared variables
    q = "MATCH (a)-->(b) MATCH (b)-->(c) RETURN a, b, c"
    got = rows(cypher(g, q), "a", "b", "c")
    want = sorted((a, b, c) for a, b in EDGES
                  for b2, c in EDGES if b == b2)
    assert got == want


def test_unwind_alias_collision_rejected(spark, g):
    with pytest.raises(ValueError, match="already bound"):
        cypher(g, "MATCH (a)-->(b) UNWIND [99] AS a RETURN a, b")


def test_return_without_row_source_rejected(spark, g):
    with pytest.raises(ValueError, match="row source"):
        cypher(g, "RETURN 1")


def test_with_where_does_not_leak_prop_columns(spark, g):
    # the filter prop column must not survive the WITH scope boundary
    q = ("MATCH (a)-->(b) WITH a WHERE a.cat = 'a' "
         "MATCH (a)-->(c) RETURN a, c ORDER BY a, c")
    df = cypher(g, q)
    assert df.columns == ["a", "c"]
    cat = {i: c for i, c, _ in VERTS}
    want = sorted((a, c) for a, _ in EDGES for a2, c in EDGES
                  if a == a2 and cat[a] == "a")
    # WITH a (no DISTINCT) keeps bag cardinality: one pipe row per
    # out-edge, each re-expanded
    got = [(r["a"], r["c"]) for r in cypher(g, q).collect()]
    assert got == want


# ---------------------------------------------- shortestPath patterns

def _bfs_depths(undirected: bool):
    """Driver-side BFS over the module's EDGES literal."""
    adj: dict[int, list[int]] = {}
    for a, b in EDGES:
        adj.setdefault(a, []).append(b)
        if undirected:
            adj.setdefault(b, []).append(a)
    depth = {0: 0}
    frontier = [0]
    while frontier:
        nxt = []
        for u in frontier:
            for v in adj.get(u, []):
                if v not in depth:
                    depth[v] = depth[u] + 1
                    nxt.append(v)
        frontier = nxt
    return depth


def test_shortest_path_directed(spark, g):
    q = ("MATCH p = shortestPath((a {id: 0})-[*..6]->(b)) "
         "RETURN b, length(p) AS hops ORDER BY b")
    got = [(r["b"], r["hops"]) for r in cypher(g, q).collect()]
    want = sorted((v, d) for v, d in _bfs_depths(False).items() if d >= 1)
    assert got == want


def test_shortest_path_undirected_nodes_fn(spark, g):
    q = ("MATCH p = shortestPath((a {id: 0})-[*..6]-(b)) "
         "RETURN b, length(p) AS hops, nodes(p) AS path ORDER BY b")
    out = cypher(g, q).collect()
    depths = _bfs_depths(True)
    assert [(r["b"], r["hops"]) for r in out] == sorted(
        (v, d) for v, d in depths.items() if d >= 1)
    for r in out:  # each path is a real walk of the right length
        assert r["path"][0] == 0 and r["path"][-1] == r["b"]
        assert len(r["path"]) == r["hops"] + 1


def test_shortest_path_where_and_agg(spark, g):
    q = ("MATCH p = shortestPath((a {id: 0})-[*..6]->(b)) "
         "WHERE b <> 3 RETURN max(length(p)) AS ecc")
    [row] = cypher(g, q).collect()
    want = max(d for v, d in _bfs_depths(False).items()
               if d >= 1 and v != 3)
    assert row["ecc"] == want


def test_all_shortest_paths(spark, g):
    q = ("MATCH p = allShortestPaths((a {id: 0})-[*..6]->(b {id: 4})) "
         "RETURN nodes(p) AS path, length(p) AS hops")
    got = sorted((tuple(r["path"]), r["hops"])
                 for r in cypher(g, q).collect())
    # the two distinct shortest 0->4 walks in EDGES
    assert got == [((0, 1, 3, 4), 3), ((0, 2, 3, 4), 3)]


def test_shortest_path_fluent_twin(spark, g):
    from graphscope_spark.gie import traversal
    q = ("MATCH p = shortestPath((a {id: 0})-[*..6]->(b)) "
         "RETURN b, length(p) AS hops ORDER BY b")
    got = [(r["b"], r["hops"]) for r in cypher(g, q).collect()]
    twin = traversal(g).V(0).shortestPath(max_hops=6, symmetrize=False)
    want = sorted((r["id"], r["hops"]) for r in twin.collect()
                  if r["hops"] >= 1)
    assert got == want


def test_shortest_path_rejections(spark, g):
    cases = [
        ("MATCH p = shortestPath((a)-[*..6]->(b)) RETURN b",
         "must be pinned"),
        ("MATCH p = shortestPath((a {id: 0})-->(b)) RETURN b",
         "finite hop bound"),
        ("MATCH p = shortestPath((a {id: 0})<-[*..4]-(b)) RETURN b",
         "rewrite"),
        ("MATCH p = allShortestPaths((a {id: 0})-[*..4]->(b)) RETURN b",
         "right endpoint"),
        ("MATCH p = shortestPath((a {id: 0})-[*2..4]->(b)) RETURN b",
         "lower bound 1"),
        ("MATCH p = shortestPath((a {id: 0})-[*..4]->(b)) RETURN p",
         "length\\(\\) / nodes\\(\\)"),
        ("MATCH p = shortestPath((a {id: 0})-[*..4]->(b)) "
         "RETURN length(b)", "not one"),
    ]
    for q, pat in cases:
        with pytest.raises(ValueError, match=pat):
            cypher(g, q)


def test_aggregate_distinct(spark, g):
    q = ("MATCH (a)-->(b)-->(c) "
         "RETURN a, count(DISTINCT c) AS n ORDER BY a")
    got = [(r["a"], r["n"]) for r in cypher(g, q).collect()]
    want = []
    for a in sorted({x for x, _ in EDGES}):
        cs = {c for a2, b in EDGES if a2 == a
              for b2, c in EDGES if b2 == b}
        if cs:
            want.append((a, len(cs)))
    assert got == want


def test_collect_distinct_sorted(spark, g):
    q = "MATCH (a)-->(b) RETURN a, collect(DISTINCT b) AS bs ORDER BY a"
    got = {r["a"]: r["bs"] for r in cypher(g, q).collect()}
    for a, bs in got.items():
        assert bs == sorted(set(bs))


def test_sum_distinct(spark, g):
    # vertex 0,5,7 all point somewhere; sum of DISTINCT target nums
    q = ("MATCH (a)-->(b) WHERE a = 0 "
         "RETURN sum(DISTINCT b.num) AS s")
    [row] = cypher(g, q).collect()
    num = {i: n for i, _, n in VERTS}
    want = sum({num[b] for a, b in EDGES if a == 0})
    assert row["s"] == want


def test_avg_distinct_rejected(spark, g):
    with pytest.raises(ValueError, match="avg\\(DISTINCT"):
        cypher(g, "MATCH (a)-->(b) RETURN avg(DISTINCT b.num) AS s")


def test_where_string_predicates(spark, g):
    cat = {i: c for i, c, _ in VERTS}
    q = "MATCH (a)-->(b) WHERE a.cat STARTS WITH 'a' RETURN a, b"
    got = rows(cypher(g, q), "a", "b")
    assert got == sorted((a, b) for a, b in EDGES if cat[a].startswith("a"))
    q = "MATCH (a)-->(b) WHERE b.cat ENDS WITH 'b' RETURN a, b"
    got = rows(cypher(g, q), "a", "b")
    assert got == sorted((a, b) for a, b in EDGES if cat[b].endswith("b"))
    q = "MATCH (a)-->(b) WHERE a.cat CONTAINS 'c' RETURN a, b"
    got = rows(cypher(g, q), "a", "b")
    assert got == sorted((a, b) for a, b in EDGES if "c" in cat[a])


def test_where_in_list(spark, g):
    q = "MATCH (a)-->(b) WHERE a IN [0, 5, 7] RETURN a, b"
    got = rows(cypher(g, q), "a", "b")
    assert got == sorted((a, b) for a, b in EDGES if a in (0, 5, 7))
    # empty list matches nothing; NOT ... IN inverts
    assert cypher(g, "MATCH (a)-->(b) WHERE a IN [] RETURN a").count() == 0
    q = "MATCH (a)-->(b) WHERE NOT a IN [0, 5, 7] RETURN a, b"
    got = rows(cypher(g, q), "a", "b")
    assert got == sorted((a, b) for a, b in EDGES if a not in (0, 5, 7))


def test_is_null_after_optional(spark, g):
    # anti-join idiom: keep (a, b) whose b has NO out-neighbor with
    # num > 4 (only vertex 4 has num 5, so only b=3 is excluded)
    q = ("MATCH (a)-->(b) OPTIONAL MATCH (b)-->(c) WHERE c.num > 4 "
         "WITH a, b, c WHERE c IS NULL RETURN a, b ORDER BY a, b")
    got = rows(cypher(g, q), "a", "b")
    num = {i: n for i, _, n in VERTS}
    haves = {b for b, c in EDGES if num[c] > 4}
    want = sorted((a, b) for a, b in EDGES if b not in haves)
    assert got == want
    # IS NOT NULL selects exactly the complement
    q2 = ("MATCH (a)-->(b) OPTIONAL MATCH (b)-->(c) WHERE c.num > 4 "
          "WITH a, b, c WHERE c IS NOT NULL RETURN a, b ORDER BY a, b")
    got2 = rows(cypher(g, q2), "a", "b")
    assert got2 == sorted((a, b) for a, b in EDGES if b in haves)


def test_arithmetic_in_return_and_where(spark, g):
    num = {i: n for i, _, n in VERTS}
    q = "MATCH (a)-->(b) WHERE a.num + b.num > 5 RETURN a, b"
    got = rows(cypher(g, q), "a", "b")
    assert got == sorted(
        (a, b) for a, b in EDGES if num[a] + num[b] > 5
    )
    q = "MATCH (a)-->(b) RETURN a, a.num * 2 - 1 AS score"
    got = rows(cypher(g, q), "a", "score")
    assert got == sorted((a, num[a] * 2 - 1) for a, _ in EDGES)
    # precedence: * binds tighter than +
    q = "MATCH (a)-->(b) WHERE a.num + b.num * 0 = 1 RETURN a, b"
    got = rows(cypher(g, q), "a", "b")
    assert got == sorted((a, b) for a, b in EDGES if num[a] == 1)


def test_unary_minus_and_negative_literals(spark, g):
    q = "MATCH (a)-->(b) WHERE a.num > -1 RETURN a, b"
    assert cypher(g, q).count() == len(EDGES)
    q = "MATCH (a)-->(b) WHERE -a.num < -4 RETURN a, b"
    num = {i: n for i, _, n in VERTS}
    got = rows(cypher(g, q), "a", "b")
    assert got == sorted((a, b) for a, b in EDGES if num[a] > 4)
    # negative literal inside an IN list and a property map
    q = "MATCH (a)-->(b) WHERE a IN [-1, 0, 5] RETURN a, b"
    got = rows(cypher(g, q), "a", "b")
    assert got == sorted((a, b) for a, b in EDGES if a in (0, 5))


def test_case_expression(spark, g):
    num = {i: n for i, _, n in VERTS}
    q = ("MATCH (a)-->(b) RETURN a, "
         "CASE WHEN a.num > 3 THEN 'big' WHEN a.num > 1 THEN 'mid' "
         "ELSE 'small' END AS bucket")
    got = rows(cypher(g, q), "a", "bucket")
    want = sorted(
        (a, "big" if num[a] > 3 else "mid" if num[a] > 1 else "small")
        for a, _ in EDGES
    )
    assert got == want
    # no ELSE -> NULL for unmatched rows; CASE value can be arithmetic
    q = ("MATCH (a)-->(b) RETURN a, "
         "CASE WHEN a.num > 3 THEN a.num * 10 END AS boosted")
    got = rows(cypher(g, q), "a", "boosted")
    want = sorted(
        (a, num[a] * 10 if num[a] > 3 else None) for a, _ in EDGES
    )
    assert got == want


def test_case_in_aggregate(spark, g):
    num = {i: n for i, _, n in VERTS}
    q = ("MATCH (a)-->(b) RETURN sum(CASE WHEN b.num > 2 THEN 1 "
         "ELSE 0 END) AS n_big")
    got = cypher(g, q).collect()[0]["n_big"]
    assert got == sum(1 for _, b in EDGES if num[b] > 2)


def test_paren_arithmetic_on_where_lhs(spark, g):
    num = {i: n for i, _, n in VERTS}
    q = "MATCH (a)-->(b) WHERE (a.num + b.num) * 2 > 10 RETURN a, b"
    got = rows(cypher(g, q), "a", "b")
    assert got == sorted(
        (a, b) for a, b in EDGES if (num[a] + num[b]) * 2 > 10
    )
    # boolean grouping still wins when it parses
    q = "MATCH (a)-->(b) WHERE (a.num > 4 OR b.num > 4) RETURN a, b"
    got = rows(cypher(g, q), "a", "b")
    assert got == sorted(
        (a, b) for a, b in EDGES if num[a] > 4 or num[b] > 4
    )


def test_unary_minus_gets_fresh_column_name(spark, g):
    df = cypher(g, "MATCH (a)-->(b) RETURN -a.num AS neg, a.num AS pos")
    r = df.where("pos = 5").first()
    assert r["neg"] == -5
    # default name must not clash with the bare operand's
    df2 = cypher(g, "MATCH (a)-->(b) RETURN -a.num, a.num")
    assert df2.columns == ["expr", "a_num"]


def test_with_order_limit_topk_then_rematch(spark, g):
    # top-2 out-degree vertices, then expand one more hop from them
    deg = {}
    for a, _ in EDGES:
        deg[a] = deg.get(a, 0) + 1
    top2 = sorted(deg, key=lambda v: (-deg[v], v))[:2]
    q = ("MATCH (a)-->(b) WITH a, count(*) AS n "
         "ORDER BY n DESC, a ASC LIMIT 2 "
         "MATCH (a)-->(c) RETURN a, c")
    got = rows(cypher(g, q), "a", "c")
    want = sorted((a, c) for a, c in EDGES if a in top2)
    assert got == want


def test_with_order_skip(spark, g):
    q = ("MATCH (a)-->(b) WITH a, count(*) AS n "
         "ORDER BY n DESC, a ASC SKIP 1 LIMIT 2 WHERE n > 0 "
         "RETURN a, n")
    got = rows(cypher(g, q), "a", "n")
    deg = {}
    for a, _ in EDGES:
        deg[a] = deg.get(a, 0) + 1
    ranked = sorted(deg.items(), key=lambda kv: (-kv[1], kv[0]))
    assert got == sorted(ranked[1:3])


def test_with_order_by_unknown_column_raises(spark, g):
    # the sort is elided without SKIP/LIMIT, but the column is still
    # checked against the WITH items
    for tail in ("", " LIMIT 2"):
        q = ("MATCH (a)-->(b) WITH a, count(*) AS n ORDER BY nn DESC"
             + tail + " MATCH (a)-->(c) RETURN a, c")
        with pytest.raises(ValueError, match="not a WITH item"):
            cypher(g, q)


def test_duplicate_default_item_names_raise(spark, g):
    # both unaliased compound items would be named `expr`
    for q in ("MATCH (a)-->(b) RETURN a.num + 1, b.num + 2",
              "MATCH (a)-->(b) WITH a.num * 2, b.num - 1 RETURN 1"):
        with pytest.raises(ValueError, match="AS"):
            cypher(g, q)
    got = cypher(g, "MATCH (a)-->(b) RETURN a.num + 1 AS x, b.num + 2 AS y")
    assert got.columns == ["x", "y"]


def test_with_order_without_limit_is_elided_not_wrong(spark, g):
    # ORDER BY alone on a non-terminal WITH has no observable effect
    # (downstream joins discard order) — the sort is skipped, but the
    # row set must be identical to the unordered pipeline
    q = ("MATCH (a)-->(b) WITH a, count(*) AS n ORDER BY n DESC "
         "MATCH (a)-->(c) RETURN a, c")
    got = rows(cypher(g, q), "a", "c")
    assert got == sorted(EDGES)
