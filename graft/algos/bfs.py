"""BFS hop distance / weighted SSSP from a source vertex.

The cugraph API family ships ``cugraph.bfs`` / ``cugraph.sssp``
alongside leiden/louvain/pagerank; the engine carries the same
capability as a min-plus superstep loop: each round the frontier
relaxes its neighbors (one join + one groupBy-min), so round i fixes
every vertex at hop/cost distance i — O(diameter) rounds on the link
graphs this engine targets (small diameter), with the same
data-sized-reducer session tuning as every other superstep loop.

Unreached vertices report NULL distance (cugraph's convention maps to
sys.float_info.max; NULL is the relational equivalent and what a SQL
oracle can mirror exactly).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from graft.algos.community import superstep_conf
from graft.checkpoint import drop_spill, observed, scratch, truncate
from graft.graph import Graph


def bfs_hops(
    graph: Graph,
    source,
    max_hops: int | None = None,
    weighted: bool = False,
    return_predecessors: bool = False,
) -> DataFrame:
    """Returns ``(id, hop)`` — minimum hop count (or minimum path cost
    with ``weighted=True``, column ``cost double``) from ``source``;
    NULL for vertices not reached within ``max_hops`` rounds (or at
    all). ``max_hops=None`` runs to convergence (no frontier change),
    which on non-negative weights is exact SSSP (Bellman-Ford style:
    at most V-1 rounds, diameter-many in practice).

    ``return_predecessors=True`` appends the cugraph bfs/sssp ``pred``
    column: the MINIMUM-id in-neighbor on a shortest path (the
    deterministic tie-break a SQL oracle can replay; NULL for the
    source and for unreached vertices — the relational face of
    cugraph's -1; self-loops are excluded, as they are from the
    distances they can never improve). Computed ONCE after the distance
    fixpoint — one edge join + groupBy-min, not a per-round cost —
    because dist(u) + w == dist(v) already identifies every
    shortest-path edge; the shortest paths themselves can then be
    walked (or contracted into a BFS tree) without rerunning the
    traversal. Caveat for WEIGHTED runs capped by ``max_hops`` before
    the fixpoint: a vertex whose capped cost was derived from a
    since-improved neighbor cost has no witnessing in-edge yet and
    reports NULL pred — pred is a fixpoint concept (unweighted BFS is
    immune: hop labels are final the round they appear)."""
    verts = graph.vertices()
    col = "cost" if weighted else "hop"
    zero = F.lit(0.0) if weighted else F.lit(0)
    step = F.col("weight") if weighted else F.lit(1)
    probe = max_hops is None
    rounds = max_hops if max_hops is not None else 10**9
    with scratch() as s:
        dist = truncate(
            verts.select(
                "id", F.when(F.col("id") == source, zero).alias(col)
            )
        )
        with superstep_conf(graph.edges.sparkSession, graph.edge_rows()):
            it = 0
            while it < rounds:
                it += 1
                frontier = dist.where(F.col(col).isNotNull()).select("id", col)
                relaxed = (
                    graph.edges.join(
                        frontier.withColumnRenamed("id", "src"), "src"
                    )
                    .groupBy(F.col("dst").alias("id"))
                    .agg(F.min(F.col(col) + step).alias(col))
                )
                best = (
                    frontier.unionAll(relaxed)
                    .groupBy("id")
                    .agg(F.min(col).alias(col))
                )
                left = dist.withColumnRenamed(col, "old") if probe else verts
                nxt = left.join(best, "id", "left")
                if probe:
                    nxt, obs = observed(nxt, changed=F.sum(
                        (~F.col(col).eqNullSafe(F.col("old"))).cast("long")
                    ))
                new_dist = truncate(nxt.select("id", col))
                drop_spill(dist)
                dist = new_dist
                if probe and not obs.get["changed"]:
                    break
        s.keep(dist)
    if not return_predecessors:
        return dist
    d_src = dist.select(
        F.col("id").alias("src"), F.col(col).alias("_dsrc")
    )
    d_dst = dist.select(
        F.col("id").alias("dst"), F.col(col).alias("_ddst")
    )
    pred = (
        graph.without_self_loops()
        .join(d_src, "src")
        .join(d_dst, "dst")
        .where(
            F.col("_dsrc").isNotNull()
            & F.col("_ddst").isNotNull()
            & (F.col("_dsrc") + step == F.col("_ddst"))
        )
        .groupBy(F.col("dst").alias("id"))
        .agg(F.min("src").alias("pred"))
    )
    return dist.join(pred, "id", "left").select("id", col, "pred")
