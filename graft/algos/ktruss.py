"""k-truss subgraph extraction (edge peeling by triangle support).

The cugraph API family ships ``cugraph.ktruss_subgraph``; the engine
carries the same capability: the k-truss is the maximal subgraph in
which every EDGE participates in at least (k-2) triangles (support) —
the edge-analog of the k-core, and a sharper dense-backbone filter (a
k-truss is always inside the (k-1)-core).

Both paths read graft.algos.truss: when
:func:`graft.algos.community.one_task` says so, the one-task truss
decomposition filtered at truss ≥ k; else ONE support fixpoint at
min support k-2 (:func:`graft.algos.truss._support_fixpoint`), never
the full level-by-level decomposition.

Training-data relevance: stricter than k-core for isolating genuinely
cohesive actor groups (a hub with many leaf neighbors survives the
k-core but its leaf edges carry no triangles and fall out of the
truss).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from graft.algos.community import one_task, superstep_conf
from graft.algos.truss import (
    _oriented_edges,
    _sequential_truss_number,
    _support_fixpoint,
)
from graft.checkpoint import scratch, truncate
from graft.graph import Graph


def k_truss(graph: Graph, k: int) -> DataFrame:
    """Returns ``(u, v)`` — the surviving undirected edges (oriented
    u < v), possibly empty. ``k`` ≥ 2; k=2 returns every non-loop edge.
    """
    if one_task(graph, 1_000_000):
        return (
            _sequential_truss_number(graph)
            .where(F.col("truss") >= k)
            .select("u", "v")
        )
    with scratch() as s:
        e = truncate(_oriented_edges(graph))
        with superstep_conf(graph.edges.sparkSession, graph.edge_rows()):
            e, _ = _support_fixpoint(e, max(k - 2, 0))
        s.keep(e)
    return e
