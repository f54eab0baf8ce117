"""k-truss extraction (edge peeling by triangle support) vs a
sequential peeling oracle."""

import pytest

from graft import fixtures
from graft.algos import ktruss
from graft.algos.ktruss import k_truss
from graft.graph import Graph
from tests.reference_impls import ktruss_ref, random_graph


def _run(spark, edges, k):
    g = Graph.from_undirected(fixtures.edges_df(spark, edges)).cache()
    got = {(r.u, r.v) for r in k_truss(g, k).collect()}
    g.unpersist()
    return got


def test_clique_ring_truss(spark):
    edges = fixtures.clique_ring_edges()
    # 4-cliques: every intra-clique edge has support 2 → survives k=4;
    # bridge edges have support 0 → dropped
    got = _run(spark, edges, 4)
    assert got == ktruss_ref(edges, 4)
    assert len(got) == 30  # five 4-cliques × 6 edges
    # k=5 needs support 3 — a 4-clique cannot provide it: empty
    assert _run(spark, edges, 5) == set()


def test_triangle_with_pendant(spark):
    edges = [(0, 1, 1.0), (1, 2, 1.0), (0, 2, 1.0), (2, 3, 1.0)]
    assert _run(spark, edges, 3) == {(0, 1), (0, 2), (1, 2)}


def test_cascading_peel(spark):
    # two triangles sharing edge (1,2): in the 3-truss both survive,
    # but deleting vertex 3's edges (support via only one triangle
    # each) must NOT cascade onto the shared core
    edges = [(0, 1, 1.0), (1, 2, 1.0), (0, 2, 1.0),
             (1, 3, 1.0), (2, 3, 1.0)]
    assert _run(spark, edges, 3) == ktruss_ref(edges, 3)
    # k=4: every edge has at most support 2 on (1,2) but 1 elsewhere —
    # peeling (0,1),(0,2),(1,3),(2,3) leaves (1,2) with support 0 → empty
    assert _run(spark, edges, 4) == set()


@pytest.mark.parametrize("k", [2, 3, 4])
def test_random_graph_matches_peeling_oracle(spark, k):
    edges = random_graph(45, 0.15, seed=29)
    assert _run(spark, edges, k) == ktruss_ref(edges, k)


@pytest.mark.parametrize("k", [2, 3, 4])
def test_supersteps_match_peeling_oracle(spark, monkeypatch, k):
    # above the one-task gate k_truss runs one support fixpoint
    monkeypatch.setattr(ktruss, "one_task", lambda *a, **kw: False)
    edges = random_graph(45, 0.15, seed=29)
    assert _run(spark, edges, k) == ktruss_ref(edges, k)
