"""Full truss decomposition vs repeated sequential k-truss peeling.

Differential oracle: truss_number(u, v) must equal the largest k such
that (u, v) survives in the pure-Python k-truss peel
(tests.reference_impls.ktruss_ref) — checked edge-for-edge on
deterministic random graphs, on BOTH execution paths (sequential peel
and distributed level peeling).
"""

import random

import pytest

from graft import fixtures
from graft.algos.truss import truss_number
from graft.graph import Graph
from tests.reference_impls import ktruss_ref


def _random_edges(seed, n=24, m=70):
    rng = random.Random(seed)
    es = {(min(u, v), max(u, v)) for u, v in
          ((rng.randrange(n), rng.randrange(n)) for _ in range(m)) if u != v}
    return [(u, v, 1.0) for u, v in sorted(es)]


def _truss_by_repeated_ktruss(edges):
    """Clean-room oracle: max k with (u,v) in the k-truss, probing k
    upward until the truss is empty."""
    want = {}
    k = 2
    while members := ktruss_ref(edges, k):
        for e in members:
            want[e] = k
        k += 1
    return want


@pytest.mark.parametrize("seed", [11, 12])
@pytest.mark.parametrize("threshold", [10**9, 0], ids=["seq", "dist"])
def test_truss_number_matches_repeated_ktruss(spark, seed, threshold):
    edges = _random_edges(seed)
    g = Graph.from_undirected(fixtures.edges_df(spark, edges)).cache()
    got = {(r["u"], r["v"]): r["truss"]
           for r in truss_number(g, sequential_threshold=threshold).collect()}
    g.unpersist()
    assert got == _truss_by_repeated_ktruss(edges)


def test_clique_ring_truss(spark):
    """Golden: 4-clique edges have truss 4 (every edge in two
    triangles inside its clique), bridges have truss 2 (no triangle)."""
    g = Graph.from_undirected(
        fixtures.edges_df(spark, fixtures.clique_ring_edges())
    ).cache()
    got = {(r["u"], r["v"]): r["truss"]
           for r in truss_number(g).collect()}
    g.unpersist()
    assert len(got) == 35
    for (u, v), t in got.items():
        same_clique = u // 4 == v // 4
        assert t == (4 if same_clique else 2), (u, v, t)


def test_clique_jump_distributed(spark):
    """A single 10-clique: every edge has truss 10; the level-jump path
    must go straight there (and the result must still be exact)."""
    edges = [
        (i, j, 1.0) for i in range(10) for j in range(i + 1, 10)
    ]
    g = Graph.from_undirected(fixtures.edges_df(spark, edges)).cache()
    got = {(r["u"], r["v"]): r["truss"]
           for r in truss_number(g, sequential_threshold=0).collect()}
    g.unpersist()
    assert len(got) == 45
    assert set(got.values()) == {10}


def test_empty_and_triangle_free(spark):
    """Triangle-free graph: every edge truss 2 on both paths."""
    edges = [(0, 1, 1.0), (1, 2, 1.0), (2, 3, 1.0), (3, 0, 1.0)]  # C4
    g = Graph.from_undirected(fixtures.edges_df(spark, edges)).cache()
    seq = {(r["u"], r["v"]): r["truss"] for r in truss_number(g).collect()}
    dist = {(r["u"], r["v"]): r["truss"]
            for r in truss_number(g, sequential_threshold=0).collect()}
    g.unpersist()
    assert seq == dist == {(0, 1): 2, (1, 2): 2, (2, 3): 2, (0, 3): 2}


@pytest.mark.parametrize(
    "sf_dir", ["/root/testdata/sf0.001", "/root/testdata/sf0.01"]
)
def test_truss_oracle_unroll_fixpoint(sf_dir):
    """Certificate for the driver's truss_numbers / k_truss_10 oracles:
    the 6-round unrolled edge-h-index SQL must reach its fixpoint at
    the contract SFs (round 6 equals round 5), otherwise the unroll
    would under-iterate and overstate truss numbers."""
    import duckdb

    import __spark_entry__ as entrymod

    con = duckdb.connect()
    con.execute(
        "CREATE VIEW events AS "
        f"SELECT * FROM '{sf_dir}/events.parquet'"
    )
    n_changed = con.execute(
        entrymod._SQL_TRUSS_FIXPOINT
        + """
SELECT count(*) FROM t6 a
JOIN t5 b ON a.u = b.u AND a.v = b.v AND a.val <> b.val"""
    ).fetchone()[0]
    assert n_changed == 0
