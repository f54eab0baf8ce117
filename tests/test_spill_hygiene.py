"""What the loop operators outside the one-task gate leave behind. After
a call the spill root holds only the spills its result reads, the set
of persisted RDDs is as it was, and no parquet leaf graft wrote was
counted by a Spark job (``checkpoint.row_count`` reads its footers). A
call that fails part way leaves the spill root and the persisted set as
it found them. A Graph's loop operators share one simple adjacency, and
``superstep_conf`` gives the session its config back when its body
raises."""

from __future__ import annotations

import importlib
import os

import pytest

from graft import checkpoint, fixtures
from graft.algos.betweenness import betweenness_centrality
from graft.algos.bfs import bfs_hops
from graft.algos.cascade import ic_spread
from graft.algos.centrality import eigenvector_centrality, hits, katz_centrality
from graft.algos.closeness import closeness_centrality
from graft.algos.coloring import greedy_color
from graft.algos.community import superstep_conf
from graft.algos.ecg import ecg
from graft.algos.kcore import k_core
from graft.algos.louvain import louvain
from graft.algos.lpa import label_propagation
from graft.algos.mis import maximal_independent_set
from graft.algos.spectral import pic_embedding, power_iteration_clustering
from graft.algos.spreading import label_spreading
from graft.algos.walks import negative_samples, random_walks
from graft.algos.wl import wl_colors
from graft.checkpoint import _is_persisted
from graft.graph import Graph

# a triangle (a 2-core of diameter 1) and small iteration caps keep each
# call to a handful of supersteps
EDGES = [(0, 1, 1.0), (0, 2, 1.0), (1, 2, 1.0)]
OPS = {
    "lpa": lambda g: label_propagation(g, max_iter=1),
    "hits": lambda g: hits(g, fixed_iterations=1),
    "katz": lambda g: katz_centrality(g, fixed_iterations=1),
    "eigenvector": lambda g: eigenvector_centrality(g, fixed_iterations=1),
    "k_core": lambda g: k_core(g, 2),
    "coloring": greedy_color,
    "mis": maximal_independent_set,
    "closeness": closeness_centrality,
    "walks": lambda g: random_walks(g, walk_length=1),
    "wl": lambda g: wl_colors(g, rounds=1),
    "betweenness_bsp": lambda g: betweenness_centrality(
        g, sequential_threshold=0
    ),
    "ecg": lambda g: ecg(g, ensemble_size=1, max_sweeps=2),
    "bfs_hops": lambda g: bfs_hops(g, 0),
    "ic_spread": lambda g: ic_spread(g, [0]),
    "label_spreading": lambda g: label_spreading(
        g, g.edges.sparkSession.createDataFrame([(0, "a")], "id long, label string")
    ),
    "pic_embedding": lambda g: pic_embedding(
        g, iterations=2, sequential_threshold=0
    ),
    "power_iteration_clustering": lambda g: power_iteration_clustering(
        g, 2, iterations=2, kmeans_iter=2, sequential_threshold=0
    ),
    "negative_samples": lambda g: negative_samples(g, 4),
}

# (module whose third truncate raises, the call)
FAILING = {
    "louvain_bsp": (
        "graft.algos.community",
        lambda g: louvain(g, sequential_tail_edges=0, max_sweeps=2),
    ),
    "lpa": ("graft.algos.lpa", lambda g: label_propagation(g, max_iter=2)),
    "coloring": ("graft.algos.coloring", OPS["coloring"]),
    "closeness": ("graft.algos.closeness", OPS["closeness"]),
    "bfs_hops": ("graft.algos.bfs", OPS["bfs_hops"]),
    "ic_spread": ("graft.algos.cascade", OPS["ic_spread"]),
}


def _cached_graph(spark) -> Graph:
    return Graph.from_undirected(fixtures.edges_df(spark, EDGES)).cache()


@pytest.mark.parametrize("name", list(OPS))
def test_loop_operator_leaves_only_what_its_result_reads(
    spark, leftover_spills, persisted_rdds, monkeypatch, name
):
    persisted = persisted_rdds()
    g = _cached_graph(spark)
    frame = type(g.edges)
    real_count = frame.count
    leaf_counts = []

    def count(df):
        if getattr(df, "_graft_parquet_path", None) is not None:
            leaf_counts.append(df._graft_parquet_path)
        return real_count(df)

    monkeypatch.setattr(frame, "count", count)
    out = OPS[name](g)
    rows = out.collect()
    monkeypatch.setattr(frame, "count", real_count)

    assert rows
    assert leaf_counts == []
    assert _is_persisted(g.edges)
    # Graph.unpersist releases the Graph's own caches and its memoized
    # adjacency spill; whatever is left, the call left
    g.unpersist()
    assert persisted_rdds() == persisted
    assert leftover_spills(out) == []


@pytest.mark.parametrize("name", list(FAILING))
def test_failure_part_way_leaves_nothing(
    spark, spill_dir, persisted_rdds, monkeypatch, name
):
    module, run = FAILING[name]
    persisted = persisted_rdds()
    g = _cached_graph(spark)
    mod = importlib.import_module(module)
    real = mod.truncate
    calls = []

    def failing(df):
        calls.append(1)
        if len(calls) == 3:
            raise RuntimeError("injected failure at the third truncate")
        return real(df)

    monkeypatch.setattr(mod, "truncate", failing)
    with pytest.raises(RuntimeError, match="injected"):
        run(g)
    monkeypatch.setattr(mod, "truncate", real)

    g.unpersist()
    assert persisted_rdds() == persisted
    root = checkpoint._spill_root
    assert root is None or os.listdir(root) == []


def test_negative_samples_raise_leaves_nothing(spark, spill_dir):
    """On a graph of self-loops only, negative_samples raises after its
    weight and layout spills are written; both are gone afterwards."""
    g = Graph.from_undirected(fixtures.edges_df(spark, [(0, 0, 1.0)]))
    with pytest.raises(ValueError, match="no simple edges"):
        negative_samples(g, 4)
    g.unpersist()
    root = checkpoint._spill_root
    assert root is None or os.listdir(root) == []


def test_loop_operators_share_one_simple_adjacency(spark, spill_dir, monkeypatch):
    g = _cached_graph(spark)
    real = checkpoint.spill
    written = []

    def spill(df):
        written.append(df.columns)
        return real(df)

    monkeypatch.setattr(checkpoint, "spill", spill)
    for op in (greedy_color, maximal_independent_set, closeness_centrality):
        op(g).collect()
    monkeypatch.setattr(checkpoint, "spill", real)
    g.unpersist()
    assert written.count(["src", "dst"]) == 1


def test_superstep_conf_restores_the_session_conf_when_its_body_raises(spark):
    aqe, parts = "spark.sql.adaptive.enabled", "spark.sql.shuffle.partitions"
    saved = spark.conf.get(parts)
    spark.conf.set(parts, "7")
    try:
        with pytest.raises(RuntimeError, match="body"):
            with superstep_conf(spark, 10):
                assert (spark.conf.get(aqe), spark.conf.get(parts)) == ("false", "4")
                raise RuntimeError("body")
        assert (spark.conf.get(aqe), spark.conf.get(parts)) == ("true", "7")
    finally:
        spark.conf.set(parts, saved)
