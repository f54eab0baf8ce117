"""Betweenness centrality vs the textbook Brandes oracle."""

import pytest

from graft import fixtures
from graft.algos.betweenness import (
    betweenness_centrality,
    edge_betweenness_centrality,
)
from graft.graph import Graph
from tests.reference_impls import (
    brandes_betweenness_ref,
    brandes_edge_betweenness_ref,
    random_graph,
)


def _run(spark, edges, **kw):
    g = Graph.from_undirected(fixtures.edges_df(spark, edges)).cache()
    got = {r.id: r.betweenness
           for r in betweenness_centrality(g, **kw).collect()}
    g.unpersist()
    return got


def test_path_graph_golden(spark):
    """On a 5-path the middle vertex carries the most shortest paths:
    normalized betweenness (2,3,4 pairs excluding endpoints) is
    exactly the networkx values."""
    edges = [(0, 1, 1.0), (1, 2, 1.0), (2, 3, 1.0), (3, 4, 1.0)]
    got = _run(spark, edges, normalized=True)
    want = brandes_betweenness_ref(edges, normalized=True)
    for v, b in want.items():
        assert got[v] == pytest.approx(b, abs=1e-6), v
    # sanity: the exact classic values
    assert got[2] == pytest.approx(4 / 6, abs=1e-6)
    assert got[0] == 0.0


@pytest.mark.parametrize("normalized", [True, False])
def test_clique_ring_matches_brandes(spark, normalized):
    edges = fixtures.clique_ring_edges()
    got = _run(spark, edges, normalized=normalized)
    want = brandes_betweenness_ref(edges, normalized=normalized)
    assert set(got) == set(want)
    for v, b in want.items():
        assert got[v] == pytest.approx(b, abs=1e-6), v


def test_random_graph_matches_brandes(spark):
    edges = random_graph(35, 0.12, seed=21, weighted=False)
    got = _run(spark, edges, normalized=True)
    want = brandes_betweenness_ref(edges, normalized=True)
    for v, b in want.items():
        assert got[v] == pytest.approx(b, abs=1e-6), v


def test_disconnected_components(spark):
    """BFS from each source stays inside its component; vertices in
    other components contribute nothing."""
    edges = [(0, 1, 1.0), (1, 2, 1.0), (10, 11, 1.0), (11, 12, 1.0)]
    got = _run(spark, edges, normalized=False)
    want = brandes_betweenness_ref(edges, normalized=False)
    for v, b in want.items():
        assert got[v] == pytest.approx(b, abs=1e-6), v
    assert got[1] == 1.0 and got[11] == 1.0


def test_explicit_sources_partial(spark):
    """Partial betweenness from an explicit source set matches the
    oracle restricted to the same sources (no n/k rescale)."""
    edges = fixtures.clique_ring_edges()
    g = Graph.from_undirected(fixtures.edges_df(spark, edges)).cache()
    srcs = spark.createDataFrame([(0,), (7,), (13,)], "id long")
    got = {r.id: r.betweenness
           for r in betweenness_centrality(
               g, sources=srcs, normalized=False).collect()}
    g.unpersist()
    want = brandes_betweenness_ref(
        edges, normalized=False, sources=[0, 7, 13]
    )
    for v, b in want.items():
        assert got[v] == pytest.approx(b, abs=1e-6), v


def test_k_equal_n_is_exact_and_sampling_bounds(spark):
    edges = random_graph(25, 0.15, seed=31, weighted=False)
    n = len({v for e in edges for v in e[:2]})
    exact = _run(spark, edges, normalized=True)
    via_k = _run(spark, edges, k=n, normalized=True)
    assert via_k == exact
    sampled = _run(spark, edges, k=8, normalized=True, seed=3)
    # estimator: right shape, right support, nonnegative
    assert set(sampled) == set(exact)
    assert all(b >= 0.0 for b in sampled.values())
    # the estimator should correlate with the exact ranking: the exact
    # top vertex lands in the sampled top half
    top = max(exact, key=exact.get)
    rank = sorted(sampled, key=sampled.get, reverse=True)
    assert rank.index(top) < len(rank) / 2


def _run_edges(spark, edges, **kw):
    g = Graph.from_undirected(fixtures.edges_df(spark, edges)).cache()
    got = {(r.u, r.v): r.betweenness
           for r in edge_betweenness_centrality(g, **kw).collect()}
    g.unpersist()
    return got


def test_edge_betweenness_path_golden(spark):
    """On a 5-path the middle edge carries 2·3=6 of the 20 ordered
    pairs (networkx edge_betweenness_centrality values exactly)."""
    edges = [(0, 1, 1.0), (1, 2, 1.0), (2, 3, 1.0), (3, 4, 1.0)]
    got = _run_edges(spark, edges, normalized=True)
    want = brandes_edge_betweenness_ref(edges, normalized=True)
    assert set(got) == set(want)
    for e, b in want.items():
        assert got[e] == pytest.approx(b, abs=1e-6), e
    assert got[(1, 2)] == pytest.approx(12 / 20, abs=1e-6)
    assert got[(0, 1)] == pytest.approx(8 / 20, abs=1e-6)


@pytest.mark.parametrize("normalized", [True, False])
def test_edge_betweenness_clique_ring(spark, normalized):
    edges = fixtures.clique_ring_edges()
    got = _run_edges(spark, edges, normalized=normalized)
    want = brandes_edge_betweenness_ref(edges, normalized=normalized)
    assert set(got) == set(want) and len(got) == 35
    for e, b in want.items():
        assert got[e] == pytest.approx(b, abs=1e-6), e


def test_edge_betweenness_random_and_disconnected(spark):
    edges = random_graph(30, 0.12, seed=17, weighted=False)
    edges += [(100, 101, 1.0), (101, 102, 1.0)]  # separate component
    got = _run_edges(spark, edges, normalized=True)
    want = brandes_edge_betweenness_ref(edges, normalized=True)
    assert set(got) == set(want)
    for e, b in want.items():
        assert got[e] == pytest.approx(b, abs=1e-6), e


def test_edge_betweenness_explicit_sources(spark):
    edges = fixtures.clique_ring_edges()
    g = Graph.from_undirected(fixtures.edges_df(spark, edges)).cache()
    srcs = spark.createDataFrame([(0,), (9,)], "id long")
    got = {(r.u, r.v): r.betweenness
           for r in edge_betweenness_centrality(
               g, sources=srcs, normalized=False).collect()}
    g.unpersist()
    want = brandes_edge_betweenness_ref(
        edges, normalized=False, sources=[0, 9]
    )
    for e, b in want.items():
        assert got[e] == pytest.approx(b, abs=1e-6), e


def test_edge_betweenness_early_returns_are_materializable(spark):
    """Regression: the n<2 / empty-source early returns must not hang
    off the dropped spill files (they used to crash on .collect())."""
    edges = [(0, 1, 1.0), (1, 2, 1.0)]
    g = Graph.from_undirected(fixtures.edges_df(spark, edges)).cache()
    empty = spark.createDataFrame([], "id long")
    rows = edge_betweenness_centrality(g, sources=empty).collect()
    assert {(r.u, r.v, r.betweenness) for r in rows} == {
        (0, 1, 0.0), (1, 2, 0.0)
    }
    g.unpersist()
    g1 = Graph.from_undirected(
        fixtures.edges_df(spark, [(5, 5, 1.0)])
    ).cache()
    assert edge_betweenness_centrality(g1).collect() == []
    g1.unpersist()


@pytest.mark.parametrize(
    "sf_dir", ["/root/testdata/sf0.001", "/root/testdata/sf0.01"]
)
def test_betweenness_oracle_unroll_exhausts(sf_dir):
    """Certificate for the driver's betweenness oracle: the unrolled
    BFS must EXHAUST the graph at the contract SFs — the final frontier
    is empty — otherwise deeper shortest paths would be missed and the
    oracle would undercount."""
    import duckdb

    import __spark_entry__ as entrymod

    con = duckdb.connect()
    con.execute(
        "CREATE VIEW events AS "
        f"SELECT * FROM '{sf_dir}/events.parquet'"
    )
    d = entrymod._SQL_BETWEENNESS_DEPTH
    n_last = con.execute(
        entrymod._build_sql_betweenness(d).split(f"\n, dl{d} AS")[0]
        + f"\nSELECT count(*) FROM f{d}"
    ).fetchone()[0]
    assert n_last == 0


def test_both_paths_agree_vertex(spark):
    """Default dispatch (sequential tail) and the forced superstep
    path produce identical values on a random graph — the same
    both-paths contract as pagerank/components."""
    edges = random_graph(40, 0.12, seed=5, weighted=False)
    tail = _run(spark, edges, normalized=True)
    bsp = _run(spark, edges, normalized=True, sequential_threshold=0)
    assert set(tail) == set(bsp)
    for v in tail:
        assert tail[v] == pytest.approx(bsp[v], abs=1e-6), v


def test_both_paths_agree_vertex_sampled(spark):
    edges = fixtures.clique_ring_edges()
    tail = _run(spark, edges, k=5, seed=3)
    bsp = _run(spark, edges, k=5, seed=3, sequential_threshold=0)
    for v in tail:
        assert tail[v] == pytest.approx(bsp[v], abs=1e-6), v


def test_both_paths_agree_edge(spark):
    edges = random_graph(30, 0.15, seed=11, weighted=False)
    g = Graph.from_undirected(fixtures.edges_df(spark, edges)).cache()
    tail = {(r.u, r.v): r.betweenness
            for r in edge_betweenness_centrality(g).collect()}
    bsp = {(r.u, r.v): r.betweenness
           for r in edge_betweenness_centrality(
               g, sequential_threshold=0).collect()}
    g.unpersist()
    assert set(tail) == set(bsp)
    for e in tail:
        assert tail[e] == pytest.approx(bsp[e], abs=1e-6), e


def test_bsp_path_still_matches_brandes(spark):
    """The superstep path stays reference-exact now that small inputs
    default to the tail."""
    edges = random_graph(35, 0.12, seed=21, weighted=False)
    got = _run(spark, edges, normalized=True, sequential_threshold=0)
    want = brandes_betweenness_ref(edges, normalized=True)
    for v, b in want.items():
        assert got[v] == pytest.approx(b, abs=1e-6), v


def test_source_parallel_matches_brandes_vertex(spark, monkeypatch):
    """Force the middle dispatch rung (broadcast edge arrays + one
    kernel task per source slice) and check it is reference-exact —
    the same contract the tail and superstep paths already carry."""
    import graft.algos.betweenness as btw

    monkeypatch.setattr(btw, "_brandes_tail_ready", lambda *a: False)
    edges = random_graph(35, 0.12, seed=21, weighted=False)
    got = _run(spark, edges, normalized=True)
    want = brandes_betweenness_ref(edges, normalized=True)
    assert set(got) == set(want)
    for v, b in want.items():
        assert got[v] == pytest.approx(b, abs=1e-6), v


def test_source_parallel_matches_brandes_edge(spark, monkeypatch):
    import graft.algos.betweenness as btw

    monkeypatch.setattr(btw, "_brandes_tail_ready", lambda *a: False)
    edges = random_graph(30, 0.15, seed=11, weighted=False)
    got = _run_edges(spark, edges, normalized=True)
    want = brandes_edge_betweenness_ref(edges, normalized=True)
    assert set(got) == set(want)
    for e, b in want.items():
        assert got[e] == pytest.approx(b, abs=1e-6), e


def test_source_parallel_sampled_matches_tail(spark, monkeypatch):
    """Sampled estimator: the source-parallel rung picks the SAME
    deterministic source set and lands the same 6-dp values as the
    one-task tail (partials sum before factor+round on both paths)."""
    import graft.algos.betweenness as btw

    edges = fixtures.clique_ring_edges()
    tail = _run(spark, edges, k=5, seed=3)
    monkeypatch.setattr(btw, "_brandes_tail_ready", lambda *a: False)
    par = _run(spark, edges, k=5, seed=3)
    assert set(tail) == set(par)
    for v in tail:
        assert tail[v] == pytest.approx(par[v], abs=1e-6), v


def test_source_parallel_drops_foreign_sources(spark, monkeypatch):
    """Explicit sources absent from the vertex set contribute nothing
    (same contract as the tail's left join)."""
    import graft.algos.betweenness as btw

    monkeypatch.setattr(btw, "_brandes_tail_ready", lambda *a: False)
    edges = [(0, 1, 1.0), (1, 2, 1.0), (2, 3, 1.0), (3, 4, 1.0)]
    g = Graph.from_undirected(fixtures.edges_df(spark, edges)).cache()
    srcs = spark.createDataFrame([(0,), (999,)], "id long")
    got = {r.id: r.betweenness
           for r in betweenness_centrality(
               g, sources=srcs, normalized=False).collect()}
    g.unpersist()
    want = brandes_betweenness_ref(edges, normalized=False, sources=[0])
    for v, b in want.items():
        assert got[v] == pytest.approx(b, abs=1e-6), v


@pytest.mark.parametrize("rung", ["one_task", "source_parallel", "supersteps"])
def test_repeated_explicit_sources_count_once(spark, monkeypatch, rung):
    """A source id repeated in the explicit table counts once, on every
    rung of the dispatch ladder, for vertex and edge betweenness."""
    import graft.algos.betweenness as btw

    kw = {}
    if rung == "source_parallel":
        monkeypatch.setattr(btw, "_brandes_tail_ready", lambda *a: False)
    elif rung == "supersteps":
        kw["sequential_threshold"] = 0
    edges = [(0, 1, 1.0), (1, 2, 1.0), (2, 3, 1.0), (3, 4, 1.0), (1, 3, 1.0)]
    g = Graph.from_undirected(fixtures.edges_df(spark, edges)).cache()
    srcs = spark.createDataFrame([(0,), (0,), (2,)], "id long")
    got = {r.id: r.betweenness
           for r in betweenness_centrality(
               g, sources=srcs, normalized=False, **kw).collect()}
    got_e = {(r.u, r.v): r.betweenness
             for r in edge_betweenness_centrality(
                 g, sources=srcs, normalized=False, **kw).collect()}
    g.unpersist()
    want = brandes_betweenness_ref(edges, normalized=False, sources=[0, 2])
    want_e = brandes_edge_betweenness_ref(
        edges, normalized=False, sources=[0, 2]
    )
    assert set(got) == set(want) and set(got_e) == set(want_e)
    for v, b in want.items():
        assert got[v] == pytest.approx(b, abs=1e-6), v
    for e, b in want_e.items():
        assert got_e[e] == pytest.approx(b, abs=1e-6), e
