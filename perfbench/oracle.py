"""Expected results from DuckDB, an engine independent of Spark.

The graph apps follow the semantics the library documents (NetworkX
PageRank with dangling redistribution, min-id WCC, LDBC CDLP with
min-label tie-break, per-vertex triangle counts) and run as plain SQL
loops over the edge list.  The sources step is replayed from the raw
input file: co-order pairs, or the import statements mined with
DuckDB's own regex and sha256.  Results are NumPy arrays keyed by call
name; ``save_cache``/``load_cache`` keep them per input.
"""

from __future__ import annotations

import hashlib
import os

import duckdb
import numpy as np
import pyarrow as pa

PR_ALPHA = 0.85
PR_ROUNDS = 10
PR_MAX_ITER = 100
CDLP_ROUNDS = 10

# The miner's per-language import patterns (group 1 = repo token).
IMPORT_PATTERNS = {
    "python": r"import ([A-Za-z_]\w*)",
    "java": r"import com\.([A-Za-z_]\w*)\.",
    "go": r'import "github\.com/([^/"]+)/',
    "rust": r"use ([A-Za-z_]\w*)::",
}


def digest(lines) -> str:
    """Order-independent fingerprint of a collection of strings."""
    h = hashlib.sha256()
    for s in sorted(lines):
        h.update(s.encode())
        h.update(b"\n")
    return h.hexdigest()


def edge_digest(src: np.ndarray, dst: np.ndarray) -> str:
    order = np.lexsort((dst, src))
    pairs = np.stack([src[order], dst[order]], axis=1).astype("<i8")
    return hashlib.sha256(pairs.tobytes()).hexdigest()


def load_cache(path: str) -> dict | None:
    if not os.path.exists(path):
        return None
    with np.load(path, allow_pickle=False) as z:
        return {k: z[k] for k in z.files}


def save_cache(path: str, exp: dict) -> None:
    os.makedirs(os.path.dirname(path), exist_ok=True)
    tmp = path + ".tmp.npz"
    np.savez_compressed(tmp, **exp)
    os.replace(tmp, path)


# ------------------------------------------------------------ sources
def coorder_graph(con, lineitem: str) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    """Vertices (every part key) and distinct ``src < dst`` co-order pairs."""
    con.execute(f"CREATE OR REPLACE VIEW li AS SELECT l_orderkey, l_partkey FROM '{lineitem}'")
    v = con.execute("SELECT DISTINCT l_partkey FROM li").fetchnumpy()["l_partkey"]
    e = con.execute(
        "SELECT DISTINCT a.l_partkey AS src, b.l_partkey AS dst FROM li a JOIN li b "
        "ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey"
    ).fetchnumpy()
    return np.asarray(v), np.asarray(e["src"]), np.asarray(e["dst"])


def mined_edges(con, code: str) -> tuple[list[str], list[str], list[str]]:
    """``(src_repos, dst_repos, sha256s)`` mined from the code table."""
    con.execute(f"CREATE OR REPLACE VIEW code AS SELECT * FROM '{code}'")
    branches = " ".join(
        f"WHEN '{lang}' THEN regexp_extract_all(content, '{pat}', 1)"
        for lang, pat in IMPORT_PATTERNS.items()
    )
    rows = con.execute(
        f"""
        WITH t AS (SELECT repo AS src_repo,
                          unnest(CASE lang {branches} ELSE [] END) AS token
                   FROM code),
             d AS (SELECT DISTINCT repo AS dst_repo,
                          replace(regexp_replace(repo, '^org/', ''), '/', '_') AS token
                   FROM code)
        SELECT DISTINCT src_repo, dst_repo FROM t JOIN d USING (token)
        WHERE src_repo <> dst_repo
        """
    ).fetchall()
    shas = [r[0] for r in con.execute("SELECT sha256(content) FROM code").fetchall()]
    return [r[0] for r in rows], [r[1] for r in rows], shas


# ---------------------------------------------------------- graph apps
def _load_graph(con, vertices: np.ndarray, src: np.ndarray, dst: np.ndarray) -> None:
    con.register("v_in", pa.table({"id": vertices}))
    con.register("e_in", pa.table({"src": src, "dst": dst}))
    con.execute("CREATE OR REPLACE TABLE v AS SELECT id FROM v_in")
    con.execute("CREATE OR REPLACE TABLE e AS SELECT src, dst FROM e_in")
    # symmetrized simple edge set: the undirected view of every app
    con.execute(
        "CREATE OR REPLACE TABLE s AS SELECT DISTINCT src, dst FROM "
        "(SELECT src, dst FROM e UNION ALL SELECT dst, src FROM e) WHERE src <> dst"
    )
    con.execute(
        "CREATE OR REPLACE TABLE deg AS SELECT v.id, count(e.src) AS d "
        "FROM v LEFT JOIN e ON e.src = v.id GROUP BY v.id"
    )


def _column(con, table: str, col: str) -> np.ndarray:
    return con.execute(f"SELECT {col} FROM {table} ORDER BY id").fetchnumpy()[col]


def _pagerank(con, max_iter: int, tol: float) -> tuple[np.ndarray, int]:
    n = con.execute("SELECT count(*) FROM v").fetchone()[0]
    con.execute(f"CREATE OR REPLACE TABLE r AS SELECT id, 1.0 / {n} AS rank FROM v")
    rounds = 0
    for _ in range(max_iter):
        dsum = con.execute(
            "SELECT coalesce(sum(r.rank), 0) FROM r JOIN deg USING (id) WHERE deg.d = 0"
        ).fetchone()[0]
        base = (1.0 - PR_ALPHA) / n + PR_ALPHA * dsum / n
        con.execute(
            f"""CREATE OR REPLACE TABLE r2 AS
            SELECT v.id, {PR_ALPHA} * coalesce(m.s, 0) + {base!r} AS rank
            FROM v LEFT JOIN (
                SELECT e.dst AS id, sum(r.rank / deg.d) AS s
                FROM e JOIN r ON r.id = e.src JOIN deg ON deg.id = e.src
                GROUP BY e.dst) m USING (id)"""
        )
        l1 = con.execute(
            "SELECT sum(abs(r2.rank - r.rank)) FROM r2 JOIN r USING (id)"
        ).fetchone()[0]
        con.execute("CREATE OR REPLACE TABLE r AS SELECT * FROM r2")
        rounds += 1
        if tol > 0 and l1 < tol * n:
            break
    return _column(con, "r", "rank"), rounds


def _wcc(con) -> np.ndarray:
    con.execute("CREATE OR REPLACE TABLE c AS SELECT id, id AS comp FROM v")
    while True:
        con.execute(
            """CREATE OR REPLACE TABLE c2 AS
            SELECT c.id, least(c.comp, coalesce(m.comp, c.comp)) AS comp
            FROM c LEFT JOIN (SELECT s.dst AS id, min(c.comp) AS comp
                              FROM s JOIN c ON c.id = s.src GROUP BY s.dst) m
            USING (id)"""
        )
        changed = con.execute(
            "SELECT count(*) FROM c2 JOIN c USING (id) WHERE c2.comp <> c.comp"
        ).fetchone()[0]
        con.execute("CREATE OR REPLACE TABLE c AS SELECT * FROM c2")
        if changed == 0:
            return _column(con, "c", "comp")


def _cdlp(con, rounds: int) -> np.ndarray:
    con.execute("CREATE OR REPLACE TABLE l AS SELECT id, id AS label FROM v")
    for _ in range(rounds):
        con.execute(
            """CREATE OR REPLACE TABLE l2 AS
            WITH h AS (SELECT s.dst AS id, l.label, count(*) AS c
                       FROM s JOIN l ON l.id = s.src GROUP BY s.dst, l.label),
                 w AS (SELECT id, min(label) AS label FROM
                         (SELECT *, max(c) OVER (PARTITION BY id) AS mc FROM h)
                       WHERE c = mc GROUP BY id)
            SELECT l.id, coalesce(w.label, l.label) AS label
            FROM l LEFT JOIN w USING (id)"""
        )
        con.execute("CREATE OR REPLACE TABLE l AS SELECT * FROM l2")
    return _column(con, "l", "label")


def _triangles(con) -> np.ndarray:
    con.execute(
        """CREATE OR REPLACE TABLE t AS
        WITH o AS (SELECT src AS a, dst AS b FROM s WHERE src < dst),
             tri AS (SELECT x.a, x.b, y.b AS c FROM o x
                     JOIN o y ON y.a = x.b
                     JOIN o z ON z.a = x.a AND z.b = y.b),
             corners AS (SELECT a AS id FROM tri UNION ALL SELECT b FROM tri
                         UNION ALL SELECT c FROM tri)
        SELECT v.id, count(corners.id) AS tricnt
        FROM v LEFT JOIN corners USING (id) GROUP BY v.id"""
    )
    return _column(con, "t", "tricnt")


def graph_apps(vertices: np.ndarray, src: np.ndarray, dst: np.ndarray,
               threads: int, pr_tol: float) -> dict:
    """The four apps on one edge list; PageRank runs ``PR_ROUNDS`` fixed
    rounds and, when ``pr_tol`` is not 0, also to ``pr_tol``
    (``pagerank_conv``)."""
    con = duckdb.connect()
    con.execute(f"SET threads = {threads}")
    _load_graph(con, vertices, src, dst)
    pr, rounds = _pagerank(con, PR_ROUNDS, 0.0)
    out = {
        "ids": _column(con, "v", "id"),
        "pagerank": pr,
        "pagerank.supersteps": np.array(rounds),
        "wcc": _wcc(con),
        "cdlp": _cdlp(con, CDLP_ROUNDS),
        "triangles": _triangles(con),
    }
    if pr_tol:
        pr, rounds = _pagerank(con, PR_MAX_ITER, pr_tol)
        out.update({"pagerank_conv": pr, "pagerank_conv.supersteps": np.array(rounds)})
    con.close()
    return out
