"""Closeness / harmonic centrality vs textbook BFS oracles."""

import pytest

from graft import fixtures
from graft.algos.closeness import (
    closeness_centrality,
    harmonic_centrality,
    multi_source_depths,
)
from graft.checkpoint import drop_spill
from graft.graph import Graph
from tests.reference_impls import (
    all_pairs_hops_ref,
    closeness_ref,
    harmonic_ref,
    random_graph,
)


def _graph(spark, edges):
    return Graph.from_undirected(fixtures.edges_df(spark, edges)).cache()


def test_multi_source_depths_exact(spark):
    edges = random_graph(30, 0.12, seed=7, weighted=False)
    g = _graph(spark, edges)
    srcs = g.vertices().selectExpr("id AS s")
    depths = multi_source_depths(g, srcs)
    got = {(r.s, r.id): r.depth for r in depths.collect()}
    drop_spill(depths)
    g.unpersist()
    assert got == all_pairs_hops_ref(edges)


def test_path_graph_golden(spark):
    """5-path closeness: center is most central, classic values."""
    edges = [(0, 1, 1.0), (1, 2, 1.0), (2, 3, 1.0), (3, 4, 1.0)]
    g = _graph(spark, edges)
    got = {r.id: r.closeness for r in closeness_centrality(g).collect()}
    g.unpersist()
    # center: (n-1)/sum_d = 4/6
    assert got[2] == pytest.approx(4 / 6, abs=1e-6)
    assert got[0] == pytest.approx(4 / 10, abs=1e-6)
    want = closeness_ref(edges)
    for v, c in want.items():
        assert got[v] == pytest.approx(c, abs=1e-6), v


@pytest.mark.parametrize("wf", [True, False])
def test_disconnected_matches_ref(spark, wf):
    """Two components: the Wasserman–Faust factor penalizes the small
    one; both settings match the networkx-semantics oracle."""
    edges = random_graph(18, 0.2, seed=3, weighted=False) + [
        (100, 101, 1.0),
        (101, 102, 1.0),
    ]
    g = _graph(spark, edges)
    got = {
        r.id: r.closeness
        for r in closeness_centrality(g, wf_improved=wf).collect()
    }
    g.unpersist()
    want = closeness_ref(edges, wf_improved=wf)
    assert set(got) == set(want)
    for v, c in want.items():
        assert got[v] == pytest.approx(c, abs=1e-6), v


def test_harmonic_matches_ref(spark):
    edges = random_graph(32, 0.1, seed=11, weighted=False) + [
        (200, 201, 1.0)
    ]
    g = _graph(spark, edges)
    got = {r.id: r.harmonic for r in harmonic_centrality(g).collect()}
    g.unpersist()
    want = harmonic_ref(edges)
    assert set(got) == set(want)
    for v, h in want.items():
        assert got[v] == pytest.approx(h, abs=1e-6), v


def test_sampled_closeness_tracks_exact(spark):
    """The k-source estimator is unbiased-ish: on a connected dense
    graph sampling half the sources lands within 30% relative error of
    exact for every vertex, and is deterministic per seed."""
    edges = random_graph(24, 0.4, seed=19, weighted=False)
    g = _graph(spark, edges)
    exact = {r.id: r.closeness for r in closeness_centrality(g).collect()}
    est1 = {
        r.id: r.closeness
        for r in closeness_centrality(g, k=12, seed=5).collect()
    }
    est2 = {
        r.id: r.closeness
        for r in closeness_centrality(g, k=12, seed=5).collect()
    }
    g.unpersist()
    assert est1 == est2
    for v, c in exact.items():
        assert est1[v] == pytest.approx(c, rel=0.30), v


def test_self_loop_only_vertex_scores_zero(spark):
    edges = [(0, 1, 1.0), (2, 2, 1.0)]
    g = _graph(spark, edges)
    got_c = {r.id: r.closeness for r in closeness_centrality(g).collect()}
    got_h = {r.id: r.harmonic for r in harmonic_centrality(g).collect()}
    g.unpersist()
    assert got_c[2] == 0.0 and got_h[2] == 0.0
    assert got_c[0] > 0 and got_h[0] == 1.0


def test_eccentricity_and_diameter(spark):
    from graft.algos.closeness import diameter, eccentricity

    edges = [(0, 1, 1.0), (1, 2, 1.0), (2, 3, 1.0), (3, 4, 1.0),
             (10, 11, 1.0), (12, 12, 1.0)]
    g = _graph(spark, edges)
    got = {r.id: r.ecc for r in eccentricity(g).collect()}
    d = diameter(g)
    g.unpersist()
    dist = all_pairs_hops_ref(edges)
    want = {}
    for (s, t), dd in dist.items():
        want[s] = max(want.get(s, 0), dd)
    want[12] = 0  # self-loop-only vertex: no simple neighbors
    assert got == want
    assert d == 4
    assert got[2] == 2 and got[0] == 4 and got[10] == 1


def test_eccentricity_random_matches_ref(spark):
    from graft.algos.closeness import eccentricity

    edges = random_graph(28, 0.12, seed=21, weighted=False)
    g = _graph(spark, edges)
    got = {r.id: r.ecc for r in eccentricity(g).collect()}
    g.unpersist()
    dist = all_pairs_hops_ref(edges)
    want: dict = {}
    for (s, t), dd in dist.items():
        want[s] = max(want.get(s, 0), dd)
    assert got == want


def test_eccentricity_sources_start_no_job_before_the_bfs(spark, monkeypatch):
    """An explicit source table is deduplicated but never counted:
    nothing in eccentricity reads the pool's size."""
    import uuid

    from graft.algos import closeness

    edges = [(0, 1, 1.0), (1, 2, 1.0), (2, 3, 1.0), (3, 4, 1.0)]
    g = _graph(spark, edges)
    g.num_vertices()  # the vertex table is memoized before the probe
    srcs = spark.createDataFrame([(0,), (2,), (2,)], "id long")

    class _AtBfs(Exception):
        pass

    def stop(graph, pool):
        raise _AtBfs

    sc = spark.sparkContext
    group = f"ecc-{uuid.uuid4().hex}"
    sc.setJobGroup(group, "eccentricity source pool")
    try:
        with monkeypatch.context() as m:
            m.setattr(closeness, "multi_source_depths", stop)
            with pytest.raises(_AtBfs):
                closeness.eccentricity(g, sources=srcs)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    assert list(sc.statusTracker().getJobIdsForGroup(group)) == []

    got = {r.id: r.ecc for r in closeness.eccentricity(g, sources=srcs).collect()}
    g.unpersist()
    assert got == {0: 4, 1: 0, 2: 2, 3: 0, 4: 0}
