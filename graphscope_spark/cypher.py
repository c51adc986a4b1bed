"""Cypher string front-end (subset) — the reference compiles Cypher
queries alongside Gremlin (grammar
``interactive_engine/compiler/src/main/antlr4/CypherGS.g4``:
``MATCH pattern (WHERE)? RETURN (DISTINCT)? items (ORDER BY)?
(LIMIT)?``) down to the same GIE dataflow; here the same statement
shape compiles onto the same lazy DataFrame plans the fluent
:mod:`graphscope_spark.gie` chains build — Catalyst sees one
declarative plan per statement (filter pushdown through the hops,
join reordering), nothing is executed until the caller acts on the
returned DataFrame.

Same safety posture as :mod:`graphscope_spark.gremlin`: a regex
tokenizer plus ``ast.literal_eval`` for literals — never ``eval``.

Supported subset::

    MATCH (a)-[r:label]->(b)-->(c) ...   linear path patterns; hop
                                         directions ``->``, ``<-`` and
                                         undirected ``-`` (both
                                         orientations); ``-->``/``<--``/
                                         ``--`` shorthand; repeated node
                                         variables close cycles
    MATCH (a)-->(b), (b)-->(c)           comma-separated conjunctive
                                         patterns joined on shared
                                         variables
    MATCH (a)-[*1..3]->(b)               variable-length hops (GIE
                                         PathExpand): ``*n`` exactly n,
                                         ``*lo..hi`` / ``*..hi`` ranges
                                         (a finite upper bound is
                                         required — the unbounded ``*``
                                         is rejected, the scale-honest
                                         choice); works with ``<-`` /
                                         ``-`` and edge labels
    MATCH (a:L {prop: 3})                inline property-map filters
    OPTIONAL MATCH (a)-->(x) WHERE ...   left-join extension: rows of
                                         the mandatory match survive
                                         with NULL-bound new variables
                                         when the optional pattern
                                         (after its own WHERE, which
                                         may only reference variables
                                         bound in the optional
                                         pattern) finds no match;
                                         ``count(x)`` then counts 0,
                                         per Cypher semantics
    WHERE a.prop > 5 AND (b <> c OR NOT a.prop = 'x')
                                         comparisons over node vars
                                         (= their ids), ``var.prop``
                                         vertex properties, ``id(var)``;
                                         AND / OR / NOT, parens;
                                         string predicates
                                         ``STARTS WITH`` /
                                         ``ENDS WITH`` / ``CONTAINS``
                                         and literal-list membership
                                         ``a IN [1, 2, 3]``
                                         (``ExprGS.g4:65``);
                                         ``x IS [NOT] NULL`` for
                                         OPTIONAL-MATCH survivors
    a.num + b.num * 2, -a.num            arithmetic (+ - * / %) with
                                         standard precedence and
                                         unary minus, anywhere an
                                         operand is legal (WHERE
                                         sides, RETURN/WITH items,
                                         aggregate arguments).
                                         DIVERGENCE: ``/`` is Spark
                                         Column division (5 / 2 =
                                         2.5 double), not Neo4j's
                                         integer truncation — the
                                         Spark-native choice, and the
                                         one every SQL oracle mirrors
    CASE WHEN a.num > 3 THEN 'big'       searched CASE expression
         WHEN a.num > 1 THEN 'mid'       (``CypherGS.g4``
         ELSE 'small' END                caseExpression) compiling to
                                         chained F.when; ELSE optional
                                         (NULL when absent)
    RETURN DISTINCT a, b.prop AS p, count(*) AS n
                                         node vars (their ids),
                                         properties, ``id(var)``,
                                         aggregates ``count(*)`` /
                                         ``count(x)`` / ``sum`` /
                                         ``min`` / ``max`` / ``avg`` /
                                         ``collect`` (returned sorted
                                         for engine-portable
                                         determinism), with
                                         aggregate-level DISTINCT for
                                         count/sum/collect (min/max
                                         absorb it; avg(DISTINCT) is
                                         rejected); a mix of
                                         aggregates and keys does the
                                         implicit Cypher grouping
    WITH a, count(b) AS n WHERE n > 2 MATCH (a)-->(c) ...
                                         pipeline boundary: project /
                                         aggregate (DISTINCT allowed),
                                         optionally ORDER BY / SKIP /
                                         LIMIT the projected rows
                                         (the top-k-then-re-match
                                         idiom), optionally filter
                                         (the HAVING analog), then the
                                         item aliases become the WHOLE
                                         variable scope for a further
                                         MATCH (joined on shared
                                         names) or the final RETURN
    UNWIND [1, 2, 3] AS x                one row per list element —
                                         a literal list (parameter
                                         seeding for a following
                                         MATCH) or a variable /
                                         WITH-collect alias holding
                                         an array
    MATCH p = shortestPath((a {id: 5})-[*..10]->(b))
                                         shortest-path pattern
                                         function (GIE PathExpand
                                         ANY_SHORTEST): the left
                                         endpoint pinned to one
                                         vertex by its inline
                                         constraints, a finite hop
                                         bound required, direction
                                         ``->`` or undirected ``-``;
                                         binds a, b and the path
                                         variable, read through
                                         ``length(p)`` (hop count)
                                         and ``nodes(p)`` (vertex-id
                                         array); zero-length
                                         self-paths excluded.
                                         ``allShortestPaths(...)``
                                         (ALL_SHORTEST) additionally
                                         pins the right endpoint and
                                         enumerates every shortest
                                         path between the pair
    ORDER BY n DESC, a ASC               over RETURN columns
    SKIP s LIMIT k

Semantics notes: node variables bind vertex IDS (returning ``a``
yields the id column, the engine's vertex handle); property access
joins the vertex table on demand, per variable, pruned to the
referenced columns.  Pattern matching is HOMOMORPHIC (the same edge
may bind twice in a chain) — GIE's own default for its Gremlin
surface; add explicit ``WHERE a <> c`` predicates for isomorphism, as
the reference's test queries do.  The default column name for
``a.prop`` is ``a_prop`` (dots in column names fight Spark's
attribute resolution); use ``AS`` to pick exact names.
"""
from __future__ import annotations

import ast
import re

from pyspark.sql import Column, DataFrame, functions as F

from .graph import Graph

_TOKEN = re.compile(
    r"""\s*(?:
      (?P<arrow><-\[|-\[|\]->|\]-|<--|-->|--)
    | (?P<str>'(?:[^'\\]|\\.)*'|"(?:[^"\\]|\\.)*")
    | (?P<num>\d+(?:\.\d+)?)
    | (?P<name>[A-Za-z_][A-Za-z_0-9]*)
    | (?P<op><>|<=|>=|=|<|>|\(|\)|\[|\]|\{|\}|,|\.\.|\.|\*|:|\+|-|/|%)
    )""",
    re.X,
)

_KEYWORDS = {
    "MATCH", "WHERE", "RETURN", "DISTINCT", "AS", "ORDER", "BY",
    "ASC", "DESC", "LIMIT", "SKIP", "AND", "OR", "NOT", "COUNT", "ID",
    "SUM", "MIN", "MAX", "AVG", "COLLECT", "OPTIONAL", "WITH",
    "UNWIND",
}


def _tokenize(q: str) -> list[tuple[str, str]]:
    out: list[tuple[str, str]] = []
    i = 0
    while i < len(q):
        m = _TOKEN.match(q, i)
        if not m or m.end() == m.start():
            if q[i:].strip() == "":
                break
            raise ValueError(f"cypher parse error at {q[i:i + 20]!r}")
        i = m.end()
        kind = m.lastgroup
        val = m.group(kind)
        if kind == "name" and val.upper() in _KEYWORDS:
            out.append(("kw", val.upper()))
        else:
            out.append((kind, val))
    return out


def _literal(p: "_Parser"):
    """number/string literal with optional unary minus (the sign is
    an operator token now that ``-`` is also binary arithmetic)."""
    neg = p.accept("op", "-")
    t = p.next()
    if t[0] not in ("num", "str"):
        raise ValueError(f"expected a literal, got {t[1]!r}")
    v = ast.literal_eval(t[1])
    if neg:
        if isinstance(v, str):
            raise ValueError("cannot negate a string literal")
        v = -v
    return v


class _Parser:
    def __init__(self, tokens: list[tuple[str, str]]):
        self.toks = tokens
        self.i = 0

    def peek(self, k: int = 0):
        j = self.i + k
        return self.toks[j] if j < len(self.toks) else ("eof", "")

    def next(self):
        t = self.peek()
        self.i += 1
        return t

    def expect(self, kind: str, val: str | None = None):
        t = self.next()
        if t[0] != kind or (val is not None and t[1] != val):
            raise ValueError(f"expected {val or kind}, got {t[1]!r}")
        return t

    def accept(self, kind: str, val: str | None = None) -> bool:
        t = self.peek()
        if t[0] == kind and (val is None or t[1] == val):
            self.i += 1
            return True
        return False


class _Compiler:
    """Compiles one parsed statement against a Graph."""

    def __init__(self, graph: Graph):
        self.g = graph
        self.node_vars: list[str] = []
        self.path_vars: list[str] = []  # shortestPath pattern vars
        self.props: dict[str, set] = {}  # var -> referenced props
        #: when not None, _check_var logs every referenced variable
        #: here (used to validate OPTIONAL MATCH WHERE scoping)
        self.ref_vars: set[str] | None = None
        self._anon = 0

    # ------------------------------------------------------ pattern
    def _fresh(self) -> str:
        self._anon += 1
        return f"_anon{self._anon}"

    def _node(self, p: _Parser) -> tuple[str, str | None, list]:
        """``( var[:Label] [{prop: lit, ...}] )`` → (var, label,
        property filters)."""
        p.expect("op", "(")
        var = None
        label = None
        filters: list[tuple[str, object]] = []
        if p.peek()[0] == "name":
            var = p.next()[1]
        if p.accept("op", ":"):
            label = p.expect("name")[1]
        if p.accept("op", "{"):
            while True:
                # `id` lexes as the ID keyword (for id(var)) but is
                # also the natural property-map key for pinning a
                # vertex: {id: 5}
                if p.peek() == ("kw", "ID"):
                    p.next()
                    prop = "id"
                else:
                    prop = p.expect("name")[1]
                p.expect("op", ":")
                filters.append((prop, _literal(p)))
                if not p.accept("op", ","):
                    break
            p.expect("op", "}")
        p.expect("op", ")")
        return var or self._fresh(), label, filters

    def _varlen(self, p: _Parser) -> tuple[int, int] | None:
        """``*n`` / ``*lo..hi`` / ``*..hi`` inside a relationship →
        (lo, hi); the unbounded ``*`` is rejected (a PathExpand with
        no upper bound is a full transitive closure — at 100 TB that
        is a bug, not a query)."""
        if not p.accept("op", "*"):
            return None
        lo = None
        if p.peek()[0] == "num":
            lo = int(ast.literal_eval(p.next()[1]))
        if p.accept("op", ".."):
            if p.peek()[0] != "num":
                raise ValueError(
                    "variable-length pattern needs a finite upper "
                    "bound (use *lo..hi)"
                )
            hi = int(ast.literal_eval(p.next()[1]))
            lo = 1 if lo is None else lo
        elif lo is not None:
            hi = lo
        else:
            raise ValueError(
                "unbounded * is not supported; give a bound (*n or "
                "*lo..hi)"
            )
        if lo < 1 or hi < lo:
            raise ValueError(f"bad variable-length bounds *{lo}..{hi}")
        return lo, hi

    def _edge(self, p: _Parser) -> tuple[str, str | None,
                                         tuple[int, int] | None]:
        """Arrow segment → (direction 'out'|'in'|'both', edge label,
        variable-length bounds or None)."""
        t = p.next()
        if t == ("arrow", "-->"):
            return "out", None, None
        if t == ("arrow", "<--"):
            return "in", None, None
        if t == ("arrow", "--"):
            return "both", None, None
        if t[0] == "arrow" and t[1] in ("-[", "<-["):
            into = t[1] == "-["
            if p.peek()[0] == "name":
                p.next()  # edge variable (decorative in this subset)
            elabel = None
            if p.accept("op", ":"):
                elabel = p.expect("name")[1]
            varlen = self._varlen(p)
            closing = p.next()
            if closing[0] != "arrow" or closing[1] not in ("]->", "]-"):
                raise ValueError(f"bad relationship segment near {closing[1]!r}")
            if into and closing[1] == "]->":
                return "out", elabel, varlen
            if into and closing[1] == "]-":
                return "both", elabel, varlen
            if not into and closing[1] == "]-":
                return "in", elabel, varlen
            raise ValueError("relationship cannot point both ways")
        raise ValueError(f"expected a relationship, got {t[1]!r}")

    def _both_edges(self) -> DataFrame:
        if self.g.directed:
            return self.g.symmetrized_edges(dedup=False)
        return self.g.symmetrized_edges()

    def _apply_vlabel(self, df: DataFrame, var: str, label: str) -> DataFrame:
        if "label" not in self.g.vertices.columns:
            raise ValueError(
                f"pattern uses :{label} but the graph's vertex table "
                "has no 'label' column"
            )
        lab = self.g.vertices.where(
            F.col("label") == F.lit(label)
        ).select(F.col("id").alias(var))
        return df.join(lab, var, "left_semi")

    def _apply_vfilters(self, df: DataFrame, var: str,
                        filters: list) -> DataFrame:
        for prop, val in filters:
            if prop not in self.g.vertices.columns:
                raise ValueError(
                    f"pattern filters on {{{prop}: ...}} but the "
                    "vertex table has no such column"
                )
            keep = self.g.vertices.where(
                F.col(prop) == F.lit(val)
            ).select(F.col("id").alias(var))
            df = df.join(keep, var, "left_semi")
        return df

    def pattern(self, p: _Parser) -> DataFrame:
        var, label, vfilters = self._node(p)
        if var not in self.node_vars:
            self.node_vars.append(var)
        df = self.g.vertices.select(F.col("id").alias(var))
        if label:
            df = self._apply_vlabel(df, var, label)
        df = self._apply_vfilters(df, var, vfilters)
        while p.peek()[0] == "arrow":
            direction, elabel, varlen = self._edge(p)
            nvar, nlabel, nfilters = self._node(p)
            if direction == "out":
                e = self.g.edges
                a, b = "src", "dst"
            elif direction == "in":
                e = self.g.edges
                a, b = "dst", "src"
            else:
                e = self._both_edges()
                a, b = "src", "dst"
            if elabel is not None:
                if "label" not in e.columns:
                    raise ValueError(
                        f"pattern uses [:{elabel}] but the edge table "
                        "has no 'label' column"
                    )
                e = e.where(F.col("label") == F.lit(elabel))
            closed = nvar in df.columns
            land = nvar if not closed else f"__close_{nvar}"
            if varlen is None:
                hop = e.select(F.col(a).alias(var), F.col(b).alias(land))
                df = df.join(hop, var)
            else:
                # GIE PathExpand: union of the lo..hi hop expansions,
                # intermediate vertices anonymous (pruned before the
                # union so every branch carries the same columns)
                lo, hi = varlen
                base_cols = df.columns
                branches = []
                cur = df
                prev = var
                for k in range(1, hi + 1):
                    step_land = f"__vl{k}"
                    step = e.select(
                        F.col(a).alias(prev), F.col(b).alias(step_land)
                    )
                    cur = cur.join(step, prev)
                    if k >= lo:
                        branches.append(
                            cur.select(
                                *base_cols,
                                F.col(step_land).alias(land),
                            )
                        )
                    prev = step_land
                df = branches[0]
                for br in branches[1:]:
                    df = df.unionByName(br)
            if closed:
                df = df.where(F.col(nvar) == F.col(land)).drop(land)
                if nlabel:
                    df = self._apply_vlabel(df, nvar, nlabel)
                df = self._apply_vfilters(df, nvar, nfilters)
            else:
                self.node_vars.append(nvar)
                if nlabel:
                    df = self._apply_vlabel(df, nvar, nlabel)
                df = self._apply_vfilters(df, nvar, nfilters)
            var = nvar
        return df

    def _pin_vertex(self, role: str, var: str, label: str | None,
                    filters: list) -> int:
        """Resolve a pattern node that must bind exactly ONE vertex
        (the shortestPath endpoints) to its id via the inline label /
        property-map constraints."""
        if not label and not filters:
            raise ValueError(
                f"shortestPath {role} endpoint ({var}) must be pinned "
                "to one vertex with an inline property map, e.g. "
                "({id: 5})"
            )
        df = self.g.vertices.select("id")
        if label:
            if "label" not in self.g.vertices.columns:
                raise ValueError(
                    f"pattern uses :{label} but the graph's vertex "
                    "table has no 'label' column"
                )
            df = self.g.vertices.where(
                F.col("label") == F.lit(label)
            ).select("id")
        for prop, val in filters:
            if prop == "id":
                df = df.where(F.col("id") == F.lit(val))
                continue
            if prop not in self.g.vertices.columns:
                raise ValueError(
                    f"pattern filters on {{{prop}: ...}} but the "
                    "vertex table has no such column"
                )
            keep = self.g.vertices.where(
                F.col(prop) == F.lit(val)
            ).select("id")
            df = df.join(keep, "id", "left_semi")
        rows = df.limit(2).collect()
        if len(rows) != 1:
            raise ValueError(
                f"shortestPath {role} endpoint ({var}) must pin "
                f"exactly one vertex; the constraints matched "
                f"{'none' if not rows else 'more than one'}"
            )
        return int(rows[0]["id"])

    def shortest_pattern(self, p: _Parser, pvar: str,
                         all_shortest: bool) -> DataFrame:
        """``p = shortestPath((a {..})-[*..h]->(b))`` /
        ``allShortestPaths(...)`` — the Cypher shortest-path pattern
        functions (reference grammar ``CypherGS.g4``; GIE PathExpand
        ANY_SHORTEST / ALL_SHORTEST, ``physical.proto:213-260``),
        delegating to the traversal-surface ``shortestPath()`` step
        (BFS frontier + deterministic min-pred reconstruction).

        Subset rules: the left endpoint must be pinned to one vertex
        by its inline constraints; ``allShortestPaths`` additionally
        pins the right endpoint; the relationship needs a finite
        upper bound ``*..h`` (lower bound fixed at 1 — zero-length
        self-paths are excluded, openCypher's default); directions
        ``->`` (out) and ``-`` (both); edge labels and ``<-`` are
        rejected (rewrite ``(a)<-[*..h]-(b)`` as
        ``(b)-[*..h]->(a)``)."""
        from .gie import traversal

        if pvar in self.node_vars or pvar in self.path_vars:
            raise ValueError(f"path variable {pvar!r} is already bound")
        p.expect("op", "(")
        a_var, a_label, a_filters = self._node(p)
        direction, elabel, varlen = self._edge(p)
        b_var, b_label, b_filters = self._node(p)
        p.expect("op", ")")
        if direction == "in":
            raise ValueError(
                "shortestPath does not take <- in this subset; "
                f"rewrite as ({b_var})-[..]->({a_var})"
            )
        if elabel is not None:
            raise ValueError(
                "edge labels inside shortestPath are not supported "
                "in this subset"
            )
        if varlen is None:
            raise ValueError(
                "shortestPath needs a finite hop bound, e.g. "
                "-[*..10]->  (an unbounded search at graph scale is "
                "a bug, not a query)"
            )
        lo, hi = varlen
        if lo != 1:
            raise ValueError(
                "shortestPath supports only lower bound 1 "
                "(*..h or *1..h)"
            )
        if a_var in self.node_vars or b_var in self.node_vars:
            raise ValueError(
                "shortestPath endpoints must be fresh variables in "
                "this subset"
            )
        src = self._pin_vertex("left", a_var, a_label, a_filters)
        symmetrize = direction == "both"
        trav = traversal(self.g).V(src)
        hops_col, path_col = f"{pvar}_hops", f"{pvar}_path"
        if all_shortest:
            tgt = self._pin_vertex("right", b_var, b_label, b_filters)
            out = trav.shortestPath(
                target=tgt, max_hops=hi, all_shortest=True,
                symmetrize=symmetrize,
            ).select(
                F.lit(src).cast("long").alias(a_var),
                F.lit(tgt).cast("long").alias(b_var),
                F.col("hops").alias(hops_col),
                F.col("path").alias(path_col),
            ).where(F.col(hops_col) >= 1)
        else:
            out = trav.shortestPath(
                max_hops=hi, symmetrize=symmetrize,
            ).select(
                F.lit(src).cast("long").alias(a_var),
                F.col("id").alias(b_var),
                F.col("hops").alias(hops_col),
                F.col("path").alias(path_col),
            ).where(F.col(hops_col) >= 1)
            if b_label:
                out = self._apply_vlabel(out, b_var, b_label)
            out = self._apply_vfilters(out, b_var, b_filters)
        self.node_vars.extend([a_var, b_var])
        self.path_vars.append(pvar)
        return out

    # ------------------------------------------------- expressions
    def _operand(self, p: _Parser):
        """Returns (Column-factory, default name).  The factory is
        deferred so property columns can be joined in first."""
        t = p.peek()
        if t == ("op", "-"):
            # the negated column must not inherit the operand's name —
            # `RETURN -a.num, a.num` would emit two `a_num` columns
            p.next()
            inner, _ = self._operand(p)
            return (lambda: -inner()), "expr"
        if t == ("op", "("):
            # parenthesised arithmetic sub-expression
            p.next()
            inner, name = self._arith(p)
            p.expect("op", ")")
            return inner, name
        if t[0] in ("num", "str"):
            p.next()
            v = ast.literal_eval(t[1])
            return (lambda: F.lit(v)), repr(v)
        if t[0] == "name" and t[1].upper() == "CASE":
            # searched CASE (reference grammar CypherGS.g4
            # caseExpression): CASE WHEN pred THEN val ... [ELSE val]
            # END -> chained F.when
            p.next()
            branches = []
            while (p.peek()[0] == "name"
                   and p.peek()[1].upper() == "WHEN"):
                p.next()
                pred = self._expr(p)
                kw = p.expect("name")[1]
                if kw.upper() != "THEN":
                    raise ValueError(f"expected THEN, got {kw!r}")
                val, _ = self._arith(p)
                branches.append((pred, val))
            if not branches:
                raise ValueError("CASE needs at least one WHEN branch")
            default = None
            if p.peek()[0] == "name" and p.peek()[1].upper() == "ELSE":
                p.next()
                default, _ = self._arith(p)
            kw = p.expect("name")[1]
            if kw.upper() != "END":
                raise ValueError(f"expected END, got {kw!r}")

            def fac(branches=branches, default=default):
                col = F.when(branches[0][0](), branches[0][1]())
                for pred, val in branches[1:]:
                    col = col.when(pred(), val())
                if default is not None:
                    col = col.otherwise(default())
                return col

            return fac, "case"
        if t == ("kw", "ID"):
            p.next()
            p.expect("op", "(")
            var = p.expect("name")[1]
            p.expect("op", ")")
            self._check_var(var)
            return (lambda: F.col(var)), var
        if t[0] == "name":
            var = p.next()[1]
            if (var.lower() in ("length", "nodes")
                    and p.peek() == ("op", "(")):
                # path functions over shortestPath pattern variables:
                # length(p) = hop count, nodes(p) = the vertex-id array
                p.next()
                inner = p.expect("name")[1]
                p.expect("op", ")")
                if inner not in self.path_vars:
                    raise ValueError(
                        f"{var}() takes a shortestPath pattern "
                        f"variable; {inner!r} is not one"
                    )
                suffix = "hops" if var.lower() == "length" else "path"
                col = f"{inner}_{suffix}"
                return (lambda col=col: F.col(col)), col
            if var in self.path_vars:
                raise ValueError(
                    f"path variable {var!r} can only be used through "
                    "length() / nodes()"
                )
            self._check_var(var)
            if p.accept("op", "."):
                prop = p.expect("name")[1]
                self.props.setdefault(var, set()).add(prop)
                col = f"{var}_{prop}"
                return (lambda: F.col(col)), col
            return (lambda: F.col(var)), var
        raise ValueError(f"bad operand near {t[1]!r}")

    def _check_var(self, var: str):
        if var not in self.node_vars:
            raise ValueError(f"unbound pattern variable {var!r}")
        if self.ref_vars is not None:
            self.ref_vars.add(var)

    # ------------------------------------------------- arithmetic
    _MUL = {
        "*": lambda a, b: a * b,
        "/": lambda a, b: a / b,
        "%": lambda a, b: a % b,
    }
    _ADD = {"+": lambda a, b: a + b, "-": lambda a, b: a - b}

    def _aterm(self, p: _Parser):
        fac, name = self._operand(p)
        while p.peek()[0] == "op" and p.peek()[1] in self._MUL:
            op = self._MUL[p.next()[1]]
            rhs, _ = self._operand(p)
            fac = (lambda fac=fac, rhs=rhs, op=op: op(fac(), rhs()))
            name = "expr"
        return fac, name

    def _arith(self, p: _Parser):
        """operand ((*|/|%) operand)* ((+|-) ...)* — standard
        precedence; the default column name collapses to ``expr``
        once an operator is consumed (alias compound items with AS)."""
        fac, name = self._aterm(p)
        while p.peek()[0] == "op" and p.peek()[1] in self._ADD:
            op = self._ADD[p.next()[1]]
            rhs, _ = self._aterm(p)
            fac = (lambda fac=fac, rhs=rhs, op=op: op(fac(), rhs()))
            name = "expr"
        return fac, name

    _CMP = {
        "=": lambda a, b: a == b, "<>": lambda a, b: a != b,
        "<": lambda a, b: a < b, "<=": lambda a, b: a <= b,
        ">": lambda a, b: a > b, ">=": lambda a, b: a >= b,
    }

    def _comparison(self, p: _Parser):
        lhs, _ = self._arith(p)
        t = p.peek()
        # string / membership predicates (reference grammar
        # ExprGS.g4:65: STARTS WITH | ENDS WITH | CONTAINS | IN) —
        # these lex as plain names, and after an operand only an
        # operator can follow, so the words are unambiguous here
        if t[0] == "name" and t[1].upper() == "IS":
            # IS [NOT] NULL — the standard test on variables left
            # unbound by an OPTIONAL MATCH (typically in a WITH ...
            # WHERE stage, Cypher's anti-join idiom)
            p.next()
            neg = p.accept("kw", "NOT")
            word = p.expect("name")[1]
            if word.upper() != "NULL":
                raise ValueError(f"expected NULL after IS, got {word!r}")
            if neg:
                return lambda: lhs().isNotNull()
            return lambda: lhs().isNull()
        if t[0] == "name" and t[1].upper() in ("STARTS", "ENDS",
                                               "CONTAINS", "IN"):
            word = p.next()[1].upper()
            if word in ("STARTS", "ENDS"):
                p.expect("kw", "WITH")
                rhs, _ = self._operand(p)
                meth = "startswith" if word == "STARTS" else "endswith"
                return lambda: getattr(lhs(), meth)(rhs())
            if word == "CONTAINS":
                rhs, _ = self._operand(p)
                return lambda: lhs().contains(rhs())
            p.expect("op", "[")
            vals = []
            if p.peek() != ("op", "]"):
                while True:
                    vals.append(_literal(p))
                    if not p.accept("op", ","):
                        break
            p.expect("op", "]")
            if not vals:
                return lambda: F.lit(False)
            return lambda: lhs().isin(vals)
        op = p.expect("op")[1]
        if op not in self._CMP:
            raise ValueError(f"unsupported comparison {op!r}")
        rhs, _ = self._arith(p)
        cmp = self._CMP[op]
        return lambda: cmp(lhs(), rhs())

    def _factor(self, p: _Parser):
        if p.accept("kw", "NOT"):
            inner = self._factor(p)
            return lambda: ~inner()
        if p.peek() == ("op", "("):
            # '(' is ambiguous: boolean grouping `(a > 1 OR b > 2)` vs
            # a parenthesised arithmetic LHS `(a.x + b.x) * 2 > 5`.
            # Try the boolean read first, backtrack to a comparison
            # (whose operand path handles arithmetic parens) on error.
            mark = p.i
            try:
                p.next()
                inner = self._expr(p)
                p.expect("op", ")")
                return inner
            except ValueError:
                p.i = mark
        return self._comparison(p)

    def _term(self, p: _Parser):
        parts = [self._factor(p)]
        while p.accept("kw", "AND"):
            parts.append(self._factor(p))
        return lambda: _fold(parts, lambda a, b: a & b)

    def _expr(self, p: _Parser):
        parts = [self._term(p)]
        while p.accept("kw", "OR"):
            parts.append(self._term(p))
        return lambda: _fold(parts, lambda a, b: a | b)

    def where(self, p: _Parser):
        return self._expr(p)

    # ------------------------------------------------------ return
    #: aggregate keyword -> Column aggregator; collect_list is sorted
    #: so the bag has one engine-portable representation
    _AGGS = {
        "COUNT": F.count, "SUM": F.sum, "MIN": F.min, "MAX": F.max,
        "AVG": F.avg,
        "COLLECT": lambda c: F.sort_array(F.collect_list(c)),
    }

    def return_items(self, p: _Parser):
        """→ list of (kind 'key'|'agg', factory, alias)."""
        items = []
        while True:
            t = p.peek()
            if t[0] == "kw" and t[1] in self._AGGS:
                kw = p.next()[1]
                agg = self._AGGS[kw]
                p.expect("op", "(")
                if kw == "COUNT" and p.accept("op", "*"):
                    fac, name = (lambda: F.count(F.lit(1))), "count"
                else:
                    # aggregate-level DISTINCT: count/sum/collect get
                    # the real distinct aggregate, min/max are
                    # DISTINCT-insensitive so the keyword is simply
                    # absorbed; avg(DISTINCT) has no Column-API form
                    # and is rejected (spell it sum(DISTINCT x) /
                    # count(DISTINCT x) if needed)
                    if p.accept("kw", "DISTINCT"):
                        if kw == "COUNT":
                            agg = F.countDistinct
                        elif kw == "SUM":
                            agg = F.sum_distinct
                        elif kw == "COLLECT":
                            agg = (lambda c:
                                   F.sort_array(F.collect_set(c)))
                        elif kw == "AVG":
                            raise ValueError(
                                "avg(DISTINCT x) is not supported; "
                                "use sum(DISTINCT x) and "
                                "count(DISTINCT x)"
                            )
                    inner, iname = self._arith(p)
                    fac = (lambda agg=agg, inner=inner: agg(inner()))
                    name = f"{kw.lower()}_{iname}"
                p.expect("op", ")")
                kind = "agg"
            else:
                fac, name = self._arith(p)
                kind = "key"
            if p.accept("kw", "AS"):
                # `id` lexes as the ID keyword but is a legitimate —
                # and common — output alias
                if p.peek() == ("kw", "ID"):
                    p.next()
                    name = "id"
                else:
                    name = p.expect("name")[1]
            if any(name == n for _, _, n in items):
                # unaliased compound items all default to `expr`
                raise ValueError(
                    f"duplicate column name {name!r} in RETURN/WITH "
                    "items; name each item with AS"
                )
            items.append((kind, fac, name))
            if not p.accept("op", ","):
                break
        return items


def _fold(factories, op):
    acc = factories[0]()
    for f in factories[1:]:
        acc = op(acc, f())
    return acc


def _apply_props(df: DataFrame, c: _Compiler, graph: Graph) -> DataFrame:
    """Join every vertex property recorded in ``c.props`` that is not
    already a column (one pruned join per variable), then clear the
    record — each WITH/RETURN boundary consumes its own scope."""
    for var, props in c.props.items():
        missing = [pr for pr in sorted(props)
                   if f"{var}_{pr}" not in df.columns]
        if not missing:
            continue
        sel = graph.vertices.select(
            F.col("id").alias(var),
            *[F.col(pr).alias(f"{var}_{pr}") for pr in missing],
        )
        df = df.join(sel, var, "left")
    c.props = {}
    return df


def _project(df: DataFrame, items: list, distinct: bool) -> DataFrame:
    """Apply a WITH/RETURN item list: plain projection, or implicit
    Cypher grouping when aggregates are present; output columns keep
    the written item order."""
    keys = [(fac, name) for kind, fac, name in items if kind == "key"]
    aggs = [(fac, name) for kind, fac, name in items if kind == "agg"]
    if aggs:
        agg_cols = [fac().alias(name) for fac, name in aggs]
        if keys:
            df = df.groupBy(
                *[fac().alias(name) for fac, name in keys]
            ).agg(*agg_cols)
            df = df.select(*[name for _, _, name in items])
        else:
            df = df.agg(*agg_cols)
    else:
        df = df.select(*[fac().alias(name) for fac, name in keys])
        if distinct:
            df = df.distinct()
    return df


def cypher(graph: Graph, query: str) -> DataFrame:
    """Execute a Cypher statement STRING against a graph; returns the
    lazy result DataFrame (columns named per RETURN)."""
    p = _Parser(_tokenize(query))
    c = _Compiler(graph)
    df = None
    pred = None
    while True:
        t = p.peek()
        if t == ("kw", "MATCH"):
            p.next()
            if (p.peek(0)[0] == "name" and p.peek(1) == ("op", "=")
                    and p.peek(2)[0] == "name"
                    and p.peek(2)[1].lower() in ("shortestpath",
                                                 "allshortestpaths")
                    and p.peek(3) == ("op", "(")):
                pvar = p.next()[1]
                p.next()  # =
                fn = p.next()[1].lower()
                seg = c.shortest_pattern(
                    p, pvar, all_shortest=(fn == "allshortestpaths")
                )
            else:
                seg = c.pattern(p)
            while p.accept("op", ","):
                # conjunctive pattern: join on shared variables
                # (Cypher's comma = same-clause pattern conjunction);
                # disjoint patterns are rejected rather than silently
                # cross-producted
                other = c.pattern(p)
                common = [col for col in seg.columns
                          if col in other.columns]
                if not common:
                    raise ValueError(
                        "comma-separated MATCH patterns must share at "
                        "least one variable (a cartesian product at "
                        "graph scale is a bug, not a query)"
                    )
                seg = seg.join(other, common)
            if df is None:
                df = seg
            else:
                # MATCH after WITH/UNWIND/MATCH: join the new pattern
                # block onto the piped rows through shared variables
                common = [col for col in df.columns
                          if col in seg.columns]
                if not common:
                    raise ValueError(
                        "a further MATCH must share at least one "
                        "variable with the piped columns"
                    )
                df = df.join(seg, common)
            if p.accept("kw", "WHERE"):
                newpred = c.where(p)
                if pred is None:
                    pred = newpred
                else:
                    prev = pred
                    pred = lambda prev=prev, newpred=newpred: (
                        prev() & newpred()
                    )
            df = _optional_blocks(c, p, graph, df)
        elif t == ("kw", "UNWIND"):
            # UNWIND <list> AS x — one row per element: a literal
            # list, or a variable/property holding an array (e.g. a
            # WITH collect() alias); the MATCH WHERE (if any) filters
            # BEFORE the explode, per Cypher clause order
            p.next()
            if p.peek() == ("op", "["):
                p.next()
                vals = []
                if p.peek() != ("op", "]"):
                    while True:
                        vals.append(_literal(p))
                        if not p.accept("op", ","):
                            break
                p.expect("op", "]")
                fac = (lambda vals=vals:
                       F.array(*[F.lit(v) for v in vals]))
            else:
                fac, _ = c._operand(p)
            p.expect("kw", "AS")
            name = p.expect("name")[1]
            if df is None:
                df = graph.vertices.sparkSession.range(1).select()
            df = _apply_props(df, c, graph)
            if pred is not None:
                df = df.where(pred())
                pred = None
            if name in df.columns:
                raise ValueError(
                    f"UNWIND alias {name!r} is already bound; pick a "
                    "fresh variable name"
                )
            df = df.withColumn(name, F.explode(fac()))
            if name not in c.node_vars:
                c.node_vars.append(name)
        elif t == ("kw", "WITH"):
            # WITH = intermediate projection/aggregation boundary:
            # finalize the current segment (props + WHERE + project),
            # then the item ALIASES become the entire variable scope
            # for what follows (Cypher drops unlisted variables)
            p.next()
            if df is None:
                raise ValueError("WITH needs a preceding MATCH/UNWIND")
            w_distinct = p.accept("kw", "DISTINCT")
            items = c.return_items(p)
            df = _apply_props(df, c, graph)
            if pred is not None:
                df = df.where(pred())
                pred = None
            df = _project(df, items, w_distinct)
            # openCypher allows the row modifiers on WITH too — the
            # top-k-then-re-match idiom (`WITH a, count(*) AS n ORDER
            # BY n DESC LIMIT 10 MATCH (a)-->(c) ...`); they apply to
            # the projected rows BEFORE the optional WHERE.  ORDER BY
            # alone (no SKIP/LIMIT) on a non-terminal WITH has no
            # observable effect — downstream joins discard row order —
            # so the global sort is elided rather than paid for
            # nothing; with SKIP/LIMIT it selects WHICH rows survive
            # and is applied in full.  Either way the ORDER BY columns
            # must be WITH items.
            worder, wskip, wlimit = _parse_order_skip_limit(p)
            c.node_vars = [name for _, _, name in items]
            for col, _ in worder:
                if col not in c.node_vars:
                    raise ValueError(
                        f"WITH ... ORDER BY {col!r}: not a WITH item"
                    )
            if wskip is not None or wlimit is not None:
                df = _apply_order_skip_limit(df, worder, wskip, wlimit)
            if p.accept("kw", "WHERE"):
                # post-projection filter over the WITH aliases (the
                # Cypher HAVING analog when aggregates are present)
                wpred = c.where(p)
                df = _apply_props(df, c, graph)
                df = df.where(wpred())
                # the filter may have joined property columns in;
                # re-project so the WITH aliases stay the ENTIRE
                # downstream scope
                df = df.select(*[name for _, _, name in items])
        elif t == ("kw", "RETURN"):
            if df is None:
                raise ValueError(
                    "RETURN needs a preceding MATCH/UNWIND row source"
                )
            break
        else:
            raise ValueError(
                f"expected MATCH, UNWIND, WITH or RETURN, got {t[1]!r}"
            )
    p.expect("kw", "RETURN")
    distinct = p.accept("kw", "DISTINCT")
    items = c.return_items(p)
    order, skip, limit = _parse_order_skip_limit(p)
    if p.peek()[0] != "eof":
        raise ValueError(f"trailing input near {p.peek()[1]!r}")

    df = _apply_props(df, c, graph)
    if pred is not None:
        df = df.where(pred())
    df = _project(df, items, distinct)
    return _apply_order_skip_limit(df, order, skip, limit)


def _parse_order_skip_limit(p: _Parser):
    """``[ORDER BY col [ASC|DESC], ...] [SKIP n] [LIMIT n]`` — shared
    by RETURN and WITH (openCypher allows the modifiers on both)."""
    order: list[tuple[str, bool]] = []
    if p.accept("kw", "ORDER"):
        p.expect("kw", "BY")
        while True:
            if p.peek() == ("kw", "ID"):
                p.next()
                col = "id"
            else:
                col = p.expect("name")[1]
            desc = False
            if p.accept("kw", "DESC"):
                desc = True
            else:
                p.accept("kw", "ASC")
            order.append((col, desc))
            if not p.accept("op", ","):
                break
    skip = None
    if p.accept("kw", "SKIP"):
        skip = int(ast.literal_eval(p.expect("num")[1]))
    limit = None
    if p.accept("kw", "LIMIT"):
        limit = int(ast.literal_eval(p.expect("num")[1]))
    return order, skip, limit


def _apply_order_skip_limit(df: DataFrame, order, skip, limit):
    if order:
        df = df.orderBy(*[
            F.col(cn).desc() if d else F.col(cn).asc()
            for cn, d in order
        ])
    if skip is not None:
        df = df.offset(skip)
    if limit is not None:
        df = df.limit(limit)
    return df


def _optional_blocks(c: _Compiler, p: _Parser, graph: Graph,
                     df: DataFrame) -> DataFrame:
    """Parse and apply any OPTIONAL MATCH clauses onto ``df``."""
    while p.accept("kw", "OPTIONAL"):
        # OPTIONAL MATCH = left-join extension: compile the optional
        # pattern (and its own WHERE) standalone, then left-join on
        # the shared variables so non-matching rows survive with
        # NULL-bound new variables
        p.expect("kw", "MATCH")
        odf = c.pattern(p)
        while p.accept("op", ","):
            o2 = c.pattern(p)
            ocommon = [col for col in odf.columns if col in o2.columns]
            if not ocommon:
                raise ValueError(
                    "comma-separated OPTIONAL MATCH patterns must "
                    "share at least one variable"
                )
            odf = odf.join(o2, ocommon)
        if p.accept("kw", "WHERE"):
            # the optional WHERE runs BEFORE the left join (it decides
            # what counts as a match) — parse it with a fresh props
            # scope so EVERY vertex property it references (even one
            # the mandatory WHERE also used) is joined into the
            # optional side now; the final property-join pass skips
            # columns already present
            saved_props = c.props
            c.props = {}
            c.ref_vars = set()
            opred = c.where(p)
            opt_props, c.props = c.props, saved_props
            oref, c.ref_vars = c.ref_vars, None
            for v in sorted(oref):
                if v not in odf.columns:
                    raise ValueError(
                        "OPTIONAL MATCH WHERE may only reference "
                        f"variables bound in the optional pattern "
                        f"(got {v})"
                    )
            opt_prop_cols: list[tuple[str, str]] = []
            for v, ps in opt_props.items():
                c.props.setdefault(v, set()).update(ps)
                for pr in sorted(ps):
                    if v not in odf.columns:
                        raise ValueError(
                            "OPTIONAL MATCH WHERE may only reference "
                            "variables bound in the optional pattern "
                            f"(got {v}.{pr})"
                        )
                    opt_prop_cols.append((v, f"{v}_{pr}"))
                    if f"{v}_{pr}" in odf.columns:
                        continue
                    sel = graph.vertices.select(
                        F.col("id").alias(v),
                        F.col(pr).alias(f"{v}_{pr}"),
                    )
                    odf = odf.join(sel, v, "left")
            odf = odf.where(opred())
            # prop columns of SHARED variables must not ride through
            # the left join — they would come back NULL on unmatched
            # rows while the variable itself stays bound on the
            # mandatory side; drop them and let the final
            # property-join pass re-derive them mandatory-side
            shared_prop_cols = [cn for v, cn in opt_prop_cols
                                if v in df.columns]
            if shared_prop_cols:
                odf = odf.drop(*shared_prop_cols)
        common = [col for col in df.columns if col in odf.columns]
        if not common:
            raise ValueError(
                "OPTIONAL MATCH must share at least one variable with "
                "the preceding match"
            )
        df = df.join(odf, common, "left")
    return df
