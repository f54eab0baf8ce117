"""Loop control rides the spill: a superstep loop reads its stop test
and its per-step scalars (changed rows, an L1 delta, a norm, emptiness,
truss's minimum support) from the write it already makes — an
Observation on the spilled frame or the spill's parquet footers — so a
run with more supersteps starts no more Spark actions than a short one.

Every DataFrame action the call starts is recorded (the outermost one:
``first`` is ``head`` is ``take`` is ``collect`` underneath). The
module's ``truncate`` calls are counted too, so each pair of runs is
known to differ in its number of supersteps."""

from __future__ import annotations

import importlib

import pytest
from pyspark.sql import functions as F

from graft import fixtures
from graft.algos.anf import neighborhood_function
from graft.algos.betweenness import betweenness_centrality
from graft.algos.bfs import bfs_hops
from graft.algos.cascade import ic_spread
from graft.algos.centrality import eigenvector_centrality, hits, katz_centrality
from graft.algos.closeness import closeness_centrality
from graft.algos.coloring import greedy_color
from graft.algos.components import connected_components
from graft.algos.kcore import core_number
from graft.algos.lpa import label_propagation
from graft.algos.mis import maximal_independent_set
from graft.algos.msf import minimum_spanning_forest
from graft.algos.priority import hash_priority
from graft.algos.scc import strongly_connected_components
from graft.algos.truss import truss_number
from graft.graph import Graph

ACTIONS = ("count", "first", "collect", "take", "head", "isEmpty", "toPandas")


def _path(spark, n: int) -> Graph:
    return Graph.from_undirected(
        fixtures.edges_df(spark, [(i, i + 1, 1.0) for i in range(n)])
    )


def _ordered_path(spark, n: int) -> Graph:
    """A path through ids 0..n in the order of their hash priority (the
    default seed): greedy coloring then takes n + 1 rounds and Luby's
    MIS about n / 2."""
    ids = [
        r.id for r in spark.range(n + 1).orderBy(
            hash_priority(F.col("id"), 42), "id"
        ).collect()
    ]
    return Graph.from_undirected(
        fixtures.edges_df(spark, [(u, v, 1.0) for u, v in zip(ids, ids[1:])])
    )


def _cycle(spark, n: int) -> Graph:
    """A directed n-cycle: one SCC whose coloring takes ~n rounds."""
    return Graph(
        fixtures.edges_df(spark, [(i, (i + 1) % n, 1.0) for i in range(n)]),
        symmetric=False,
    )


def _cliques(spark, n: int) -> Graph:
    """Disjoint cliques K3..K(n+2): one truss level per clique."""
    rows, base = [], 0
    for size in range(3, n + 3):
        rows += [
            (base + i, base + j, 1.0)
            for i in range(size) for j in range(i + 1, size)
        ]
        base += size
    return Graph.from_undirected(fixtures.edges_df(spark, rows))


# name: (module, graph constructor, the (graph size, n) of the short and of
# the long run, call(graph, n)). The iteration loops run max_iter n = 2
# vs 4 with tol=0 (LPA on one edge never settles); the fixpoint loops
# run on a path or cycle of length 4 vs 8 (truss on 2 vs 4 cliques).
ITERS = ((4, 2), (4, 4))
LENGTHS = ((4, None), (8, None))
LOOPS = {
    "lpa": ("lpa", _path, ((1, 2), (1, 4)),
            lambda g, n: label_propagation(g, max_iter=n)),
    "katz": ("centrality", _path, ITERS,
             lambda g, n: katz_centrality(g, max_iter=n, tol=0.0)),
    "eigenvector": ("centrality", _path, ITERS,
                    lambda g, n: eigenvector_centrality(g, max_iter=n, tol=0.0)),
    "hits": ("centrality", _path, ITERS,
             lambda g, n: hits(g, max_iter=n, tol=0.0)),
    "core_number": ("kcore", _path, LENGTHS,
                    lambda g, n: core_number(g, sequential_threshold=0)),
    "bfs_hops": ("bfs", _path, LENGTHS, lambda g, n: bfs_hops(g, 0)),
    "scc": ("scc", _cycle, LENGTHS,
            lambda g, n: strongly_connected_components(g, sequential_threshold=0)),
    "truss": ("truss", _cliques, ((2, None), (4, None)),
              lambda g, n: truss_number(g, sequential_threshold=0)),
    "coloring": ("coloring", _ordered_path, LENGTHS,
                 lambda g, n: greedy_color(g)),
    "mis": ("mis", _ordered_path, LENGTHS,
            lambda g, n: maximal_independent_set(g)),
    "closeness": ("closeness", _path, LENGTHS,
                  lambda g, n: closeness_centrality(g)),
    "betweenness_bsp": ("betweenness", _path, LENGTHS,
                        lambda g, n: betweenness_centrality(
                            g, sequential_threshold=0)),
    "components_star": ("components", _path, LENGTHS,
                        lambda g, n: connected_components(
                            g, mode="star", sequential_threshold=0)),
    "anf_hll": ("anf", _path, LENGTHS,
                lambda g, n: neighborhood_function(g, 10)),
}


@pytest.fixture(scope="module")
def graphs(spark):
    """The cached test graph of a constructor and size, made once."""
    built: dict = {}

    def graph(build, size: int) -> Graph:
        if (build, size) not in built:
            g = built[build, size] = build(spark, size).cache()
            g.edge_rows()
            g.num_vertices()
        return built[build, size]

    yield graph
    for g in built.values():
        g.unpersist()


@pytest.fixture()
def actions(spark, monkeypatch):
    """The list of DataFrame actions started from here on."""
    frame = type(spark.range(1))
    log: list[str] = []
    depth = [0]

    def recorded(name, real):
        def action(df, *a, **k):
            if depth[0] == 0:
                log.append(name)
            depth[0] += 1
            try:
                return real(df, *a, **k)
            finally:
                depth[0] -= 1
        return action

    for name in ACTIONS:
        monkeypatch.setattr(frame, name, recorded(name, getattr(frame, name)))
    return log


def _run(monkeypatch, log, module, call, g, n) -> tuple[list[str], int]:
    """(actions, truncates) of one call."""
    mod = importlib.import_module(f"graft.algos.{module}")
    real = mod.truncate
    spills = []

    def counted(df):
        spills.append(1)
        return real(df)

    monkeypatch.setattr(mod, "truncate", counted)
    del log[:]
    call(g, n)
    monkeypatch.setattr(mod, "truncate", real)
    return list(log), len(spills)


@pytest.mark.parametrize("name", list(LOOPS))
def test_more_supersteps_run_no_more_actions(graphs, actions, monkeypatch, name):
    module, build, runs, call = LOOPS[name]
    (a_short, t_short), (a_long, t_long) = (
        _run(monkeypatch, actions, module, call, graphs(build, size), n)
        for size, n in runs
    )
    assert t_long > t_short
    assert sorted(a_long) == sorted(a_short)


def _ruler_path(spark, n: int) -> Graph:
    """A path whose j-th edge weighs the trailing zeros of j: each
    Borůvka round merges neighbor pairs, so rounds grow as log n."""
    return Graph.from_undirected(
        fixtures.edges_df(
            spark,
            [(j - 1, j, float((j & -j).bit_length() - 1))
             for j in range(1, n + 1)],
        )
    )


def test_more_boruvka_rounds_run_no_more_actions(graphs, actions, monkeypatch):
    """msf's stop test reads the contracted spill's footers. The actions
    of the merge graph's connected_components call are not recorded: its
    own gate counts that graph's edges."""
    msf = importlib.import_module("graft.algos.msf")
    real = msf.connected_components

    def unrecorded(*a, **k):
        n = len(actions)
        try:
            return real(*a, **k)
        finally:
            del actions[n:]

    monkeypatch.setattr(msf, "connected_components", unrecorded)
    (a_short, t_short), (a_long, t_long) = (
        _run(monkeypatch, actions, "msf",
             lambda g, n: minimum_spanning_forest(g, sequential_threshold=0),
             graphs(_ruler_path, size), None)
        for size in (4, 8)
    )
    assert t_long > t_short
    assert sorted(a_long) == sorted(a_short)


def _self_loops(spark, n: int) -> Graph:
    return Graph.from_undirected(
        fixtures.edges_df(spark, [(i, i, 1.0) for i in range(n)])
    )


def test_emptiness_before_the_loop_reads_footers(graphs, actions, monkeypatch):
    """ic_spread's seed check and msf's empty-work check run no job."""
    a, _ = _run(monkeypatch, actions, "cascade",
                lambda g, n: ic_spread(g, [0], rounds=0), graphs(_path, 4), 0)
    assert a == []
    a, _ = _run(monkeypatch, actions, "msf",
                lambda g, n: minimum_spanning_forest(g, sequential_threshold=0),
                graphs(_self_loops, 2), 0)
    assert a == []
