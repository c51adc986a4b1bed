"""Convergence guard for the fixed-unroll DuckDB oracles.

Each iterative oracle is unrolled to a fixed depth; the Spark operator
runs to a true fixpoint.  The compare is only sound if the oracle's
depth covers convergence on the actual data — a too-shallow unroll
would silently under-propagate.  This test proves depth k suffices by
checking oracle(k) == oracle(k+1) at the driver's compare scale
(sf0.01): equal results at one extra round ⇒ the fixpoint was reached
within k rounds.

Fixed-round oracles (pagerank/hits/eigenvector/katz/cdlp/lpa_u2i/
voterank) are excluded by design — their Spark side runs the same
fixed round count, so there is no fixpoint requirement.
"""

from __future__ import annotations

import pytest

from graphscope_spark import entry as E
from tools.oracle_compare import duckdb_views

SF_DIR = "/root/testdata/sf0.01"

CASES = {
    "wcc": (lambda: E._wcc_sql(8), lambda: E._wcc_sql(9)),
    "bfs": (lambda: E._bfs_sql(6), lambda: E._bfs_sql(7)),
    "sssp": (lambda: E._sssp_sql(8), lambda: E._sssp_sql(9)),
    "closeness_sample": (
        lambda: E._closeness_sample_sql(5),
        lambda: E._closeness_sample_sql(6),
    ),
    "closeness_full": (
        lambda: E._closeness_full_sql(5),
        lambda: E._closeness_full_sql(6),
    ),
    "kcore": (
        lambda: E._kcore_sql(80, 20), lambda: E._kcore_sql(80, 21)
    ),
    "core_numbers_k3": (
        lambda: E._core_numbers_k3_sql(5),
        lambda: E._core_numbers_k3_sql(6),
    ),
    "kshell": (
        lambda: E._kshell_sql(80, 20), lambda: E._kshell_sql(80, 21)
    ),
    "betweenness_sample": (
        lambda: E._betweenness_sample_sql(6),
        lambda: E._betweenness_sample_sql(7),
    ),
    "edge_betweenness_sample": (
        lambda: E._edge_betweenness_sample_sql(6),
        lambda: E._edge_betweenness_sample_sql(7),
    ),
    "scc": (lambda: E._scc_sql(16), lambda: E._scc_sql(17)),
    "sssp_path": (
        lambda: E._sssp_path_sql(8), lambda: E._sssp_path_sql(9)
    ),
    "sssp_avg_length": (
        lambda: E._sssp_avg_length_sql(8),
        lambda: E._sssp_avg_length_sql(9),
    ),
    "apsp_sample": (
        lambda: E._apsp_sample_sql(5), lambda: E._apsp_sample_sql(6)
    ),
    # round-4: all-sources APSP on the induced id%3 subgraph (sparser
    # than the full co-order graph → larger diameter → deeper unroll)
    "apsp_full": (
        lambda: E._apsp_full_sql(10), lambda: E._apsp_full_sql(11)
    ),
    "sssp_has_path": (
        lambda: E._sssp_has_path_sql(10),
        lambda: E._sssp_has_path_sql(11),
    ),
    "harmonic_sample": (
        lambda: E._harmonic_sample_sql(5),
        lambda: E._harmonic_sample_sql(6),
    ),
    "diameter_approx": (
        lambda: E._diameter_approx_sql(6),
        lambda: E._diameter_approx_sql(7),
    ),
    "mis": (lambda: E._mis_sql(8), lambda: E._mis_sql(9)),
    "matching": (
        lambda: E._matching_sql(12), lambda: E._matching_sql(13)
    ),
    "densest_sub": (
        lambda: E._densest_sub_sql(6), lambda: E._densest_sub_sql(7)
    ),
    "minhash_groups": (
        lambda: E._minhash_groups_sql(8),
        lambda: E._minhash_groups_sql(9),
    ),
    # round-3 additions: Borůvka (outer rounds AND pointer-jump depth
    # bumped together), h-index coreness, FLASH greedy cover/dominating
    # set, BFS-forest machinery (wcc rounds + BFS depth + aux-label
    # rounds all bumped together)
    "msf": (lambda: E._msf_sql(12, 6), lambda: E._msf_sql(13, 7)),
    "core_numbers": (
        lambda: E._core_numbers_sql(20),
        lambda: E._core_numbers_sql(21),
    ),
    "min_cover": (
        lambda: E._min_cover_sql(45), lambda: E._min_cover_sql(46)
    ),
    "min_dominating": (
        lambda: E._min_dominating_sql(14),
        lambda: E._min_dominating_sql(15),
    ),
    "bridges": (
        lambda: E._bridges_sql(14, 12), lambda: E._bridges_sql(15, 13)
    ),
    "cut_points": (
        lambda: E._cut_points_sql(14, 12, 10),
        lambda: E._cut_points_sql(15, 13, 11),
    ),
    "bcc": (
        lambda: E._bcc_sql(14, 12, 10),
        lambda: E._bcc_sql(15, 13, 11),
    ),
    "fluid": (
        lambda: E._fluid_sql(20, 10), lambda: E._fluid_sql(21, 10)
    ),
    "bfs_pred": (
        lambda: E._bfs_pred_sql(6), lambda: E._bfs_pred_sql(7)
    ),
    # round-3 additions: Jones-Plassmann mex fixpoint, onion-layer
    # peel (core rounds + layer rounds bumped together), and the
    # edge-local-dominance matching underlying the edge cover
    "coloring": (
        lambda: E._coloring_sql(20), lambda: E._coloring_sql(21)
    ),
    "onion_layers": (
        lambda: E._onion_sql(24, 28), lambda: E._onion_sql(25, 29)
    ),
    "min_edge_cover": (
        lambda: E._min_edge_cover_sql(12),
        lambda: E._min_edge_cover_sql(13),
    ),
    # late round-3: the successor pivot of the same BFS tree, and the
    # degeneracy ordering built on the onion fixpoint
    "bfs_succ": (
        lambda: E._bfs_succ_sql(6), lambda: E._bfs_succ_sql(7)
    ),
    "degeneracy": (
        lambda: E._degeneracy_sql(24, 28),
        lambda: E._degeneracy_sql(25, 29),
    ),
    # round-5: FLASH random multi-source BFS hop flood
    "random_multi_bfs": (
        lambda: E._random_multi_bfs_sql(8, 8),
        lambda: E._random_multi_bfs_sql(8, 9),
    ),
}


@pytest.fixture(scope="module")
def con():
    c = duckdb_views(SF_DIR)
    yield c
    c.close()


@pytest.mark.parametrize("name", sorted(CASES))
def test_oracle_unroll_depth_converged(con, name):
    at_k, at_k1 = CASES[name]
    sql_k = E._materialize_ctes(at_k())
    # depth k here is a hand copy of the registered oracle's depth;
    # the two must not drift apart
    assert sql_k == E.oracle_sql()[name], (
        f"{name}: depth k here differs from the registered oracle"
    )
    rk = sorted(con.sql(sql_k).fetchall())
    rk1 = sorted(con.sql(E._materialize_ctes(at_k1())).fetchall())
    assert rk == rk1, (
        f"{name}: oracle not converged at its registered unroll depth"
    )
