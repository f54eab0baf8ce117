"""k-core extraction / core decomposition vs sequential peeling oracles."""

import numpy as np
import pytest

from graft import fixtures
from graft.algos import kcore
from graft.algos.kcore import core_number, k_core
from graft.graph import Graph
from tests.reference_impls import kcore_ref, random_graph


def _run(spark, edges, k):
    g = Graph.from_undirected(fixtures.edges_df(spark, edges)).cache()
    got = {r.id for r in k_core(g, k).collect()}
    g.unpersist()
    return got


def test_clique_ring_cores(spark):
    edges = fixtures.clique_ring_edges()
    # every vertex has degree >= 3 (cliques of 4 + bridges): full 3-core
    assert _run(spark, edges, 3) == set(range(20))
    # only bridge endpoints reach degree 4, and they collapse: empty
    assert _run(spark, edges, 4) == set()


def test_triangle_with_tail(spark):
    # triangle {0,1,2} with a pendant path 2-3-4: 2-core = the triangle
    edges = [(0, 1, 1.0), (1, 2, 1.0), (0, 2, 1.0), (2, 3, 1.0),
             (3, 4, 1.0)]
    assert _run(spark, edges, 2) == {0, 1, 2}


@pytest.mark.parametrize("k", [0, 2, 3])
def test_random_graph_matches_peeling_oracle(spark, k):
    edges = random_graph(60, 0.06, seed=17)
    assert _run(spark, edges, k) == kcore_ref(edges, k)


@pytest.mark.parametrize("k", [0, 2, 3])
def test_supersteps_match_peeling_oracle(spark, monkeypatch, k):
    # above the one-task gate k_core reads core_number's h-index fixpoint
    monkeypatch.setattr(kcore, "one_task", lambda *a, **kw: False)
    edges = random_graph(60, 0.06, seed=17)
    assert _run(spark, edges, k) == kcore_ref(edges, k)


def test_deep_peeling_chain_reaches_fixpoint(spark):
    # A long path peels ~2 vertices per round: the true 2-core is EMPTY
    # but any fixed round cap under ~n/2 would return an under-peeled
    # superset. The exact peel must return the empty set.
    n = 250
    edges = [(i, i + 1, 1.0) for i in range(n - 1)]
    assert _run(spark, edges, 2) == set()


def _core_number_ref(edges):
    """Sequential min-degree peeling oracle for core numbers."""
    adj: dict[int, set[int]] = {}
    verts = set()
    for u, v, _ in edges:
        verts.add(u)
        verts.add(v)
        if u == v:
            continue
        adj.setdefault(u, set()).add(v)
        adj.setdefault(v, set()).add(u)
    core = {v: 0 for v in verts}
    live = {v: set(adj.get(v, ())) for v in verts}
    k = 0
    remaining = set(verts)
    while remaining:
        v = min(remaining, key=lambda x: (len(live[x]), x))
        k = max(k, len(live[v]))
        core[v] = k
        for u in live[v]:
            live[u].discard(v)
        remaining.discard(v)
    return core


@pytest.mark.parametrize("threshold", [10**6, 0],
                         ids=["sequential", "distributed"])
def test_core_number_matches_peeling_oracle(spark, threshold):
    edges = random_graph(60, 0.06, seed=23)
    g = Graph.from_undirected(fixtures.edges_df(spark, edges)).cache()
    got = {r.id: r.core
           for r in core_number(g, sequential_threshold=threshold).collect()}
    g.unpersist()
    assert got == _core_number_ref(edges)


@pytest.mark.parametrize("threshold", [10**6, 0],
                         ids=["sequential", "distributed"])
def test_core_number_clique_ring_and_tail(spark, threshold):
    # cliques of 4 joined in a ring: every clique vertex core 3; add a
    # pendant chain 100-101-102 off vertex 0 (cores 1) plus a self-loop
    # (ignored) and an isolated-by-self-loop vertex (core 0)
    edges = fixtures.clique_ring_edges() + [
        (0, 100, 1.0), (100, 101, 1.0), (101, 102, 1.0), (200, 200, 1.0),
    ]
    g = Graph.from_undirected(fixtures.edges_df(spark, edges)).cache()
    got = {r.id: r.core
           for r in core_number(g, sequential_threshold=threshold).collect()}
    g.unpersist()
    assert got == _core_number_ref(edges)
    assert got[200] == 0 and got[102] == 1 and got[1] == 3


@pytest.mark.parametrize(
    "sf_dir", ["/root/testdata/sf0.001", "/root/testdata/sf0.01"]
)
def test_core_oracle_unroll_reaches_fixpoint(sf_dir):
    """Certificate for the driver's core_numbers / k_core_3 oracles:
    the 8-round unrolled h-index SQL (no Spark involved) must reach its
    fixpoint at the contract SFs — round 8 equals round 7 — otherwise
    the unroll would under-iterate and the oracle would not be the core
    number it claims to be."""
    import duckdb

    import __spark_entry__ as entrymod

    con = duckdb.connect()
    con.execute(
        "CREATE VIEW events AS "
        f"SELECT * FROM '{sf_dir}/events.parquet'"
    )
    n_changed = con.execute(
        entrymod._SQL_CORE_FIXPOINT
        + """
SELECT count(*) FROM c8 a JOIN c7 b ON a.id = b.id AND a.core <> b.core"""
    ).fetchone()[0]
    assert n_changed == 0
