"""Louvain community detection (C17, custom_louvain.py:345-374 semantics).

Runs the level loop shared with Leiden (graft.algos.leiden._level_loop):
local moving (modularity objective) to convergence, then Louvain's
contraction step — communities become supernodes — until a level
commits no moves or leaves every node singleton. Labels propagate back
to original vertices through the child→parent mapping chain. ``m`` is
constant across levels (the contraction preserves total edge weight by
construction).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from graft.checkpoint import Checkpointer, truncate
from graft.algos.community import (
    Level,
    aggregate_graph,
    aggregate_vertices,
    superstep_conf,
)
from graft.algos.leiden import _level_loop
from graft.graph import Graph


def louvain(
    graph: Graph,
    max_levels: int = 10,
    max_sweeps: int = 15,
    seed: int = 1234,
    checkpointer: Checkpointer | None = None,
    sequential_tail_edges: int = 1_000_000,
    tail_max_vertices: int | None = None,
    return_quality: bool = False,
    initial_membership: DataFrame | None = None,
) -> DataFrame:
    """Returns ``(id long, community long)`` — final labels on the
    original vertices: the communities of the coarsest level, which are
    its supernode ids unless the run ends on a warm-started level 0
    (stable under the deterministic seed).

    ``initial_membership``: warm start — an ``(id, community)`` table
    seeding level 0 instead of singletons (the python-louvain
    ``best_partition(graph, partition=...)`` API shape). Vertices
    absent from it start as singletons. Local moving still operates at
    node granularity, so seeded communities CAN be split or dissolved —
    this is a starting point, not a constraint. Greedy refinement never
    decreases modularity, so quality(result) ≥ quality(seed)
    (pytest-pinned); on an incrementally-grown graph seeding with the
    previous refresh's labels converges in far fewer sweeps
    (graft.streaming.incremental_louvain). Unlike the PageRank/CC warm
    starts the fixpoint is seed-DEPENDENT (greedy local optimum) —
    results may legitimately differ from a cold run.

    ``return_quality=True`` returns ``(labels, modularity)`` — the
    cugraph.louvain-shaped API (examples/test2.py:75 returns the
    (parts, modularity) pair); default stays labels-only for backward
    compatibility.

    ``max_sweeps`` caps BSP local moving per level. Levels run in the
    loop shared with Leiden (graft.algos.leiden._level_loop);
    ``sequential_tail_edges`` and ``tail_max_vertices`` feed its tail
    gate (graft.algos.leiden._tail_ready), and
    ``sequential_tail_edges=0`` forces the BSP path at every level."""
    m = graph.total_edge_weight()

    def contract(lvl, level, n_rows, n_verts, n_moves):
        if n_moves == 0:
            return None
        # one bookkeeping job per level (AQE off, as in leiden)
        with superstep_conf(level.edges.sparkSession, n_rows):
            n_comms = level.vertices.agg(
                F.countDistinct("community")
            ).first()[0]
        if n_comms == n_verts:
            return None  # no compression — converged
        new_edges = truncate(aggregate_graph(level.edges, level.vertices))
        mapping = level.vertices.select(
            F.col("id").alias("child"), F.col("community").alias("parent")
        )
        return mapping, Level(
            edges=new_edges,
            vertices=aggregate_vertices(level.vertices, new_edges),
        )

    result = _level_loop(
        graph, contract, algo="louvain", objective="modularity", gamma=1.0,
        m=m, max_levels=max_levels, max_sweeps=max_sweeps, seed=seed,
        checkpointer=checkpointer,
        sequential_tail_edges=sequential_tail_edges,
        tail_max_vertices=tail_max_vertices,
        initial_membership=initial_membership,
    )
    if return_quality:
        from graft.quality import modularity

        return result, modularity(graph.edges, result)
    return result
