"""k-truss subgraph extraction (iterative edge peeling by support).

The cugraph API family ships ``cugraph.ktruss_subgraph``; the engine
carries the same capability: the k-truss is the maximal subgraph in
which every EDGE participates in at least (k-2) triangles (support),
found by repeatedly deleting under-supported edges until a fixpoint —
the edge-analog of the k-core's vertex peeling, and a sharper
dense-backbone filter (a k-truss is always inside the (k-1)-core).

Each round is one ascending-oriented wedge join (every triangle
enumerated exactly once, the same bounded pattern as triangle
counting), one explode-to-corner-edges aggregation for per-edge
support, and one filter — O(peeling-depth) rounds. Peeling is monotone
(edges only ever leave), so the loop runs to the exact fixpoint.

Training-data relevance: stricter than k-core for isolating genuinely
cohesive actor groups (a hub with many leaf neighbors survives the
k-core but its leaf edges carry no triangles and fall out of the
truss).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from graft.algos.community import superstep_conf
from graft.checkpoint import drop_spill, row_count, scratch, truncate
from graft.graph import Graph


def k_truss(graph: Graph, k: int) -> DataFrame:
    """Returns ``(u, v)`` — the surviving undirected edges (oriented
    u < v), possibly empty. ``k`` ≥ 2; k=2 returns every non-loop edge.
    """
    with scratch() as s:
        e = truncate(
            graph.without_self_loops()
            .where(F.col("src") < F.col("dst"))
            .select(F.col("src").alias("u"), F.col("dst").alias("v"))
            .distinct()
        )
        min_support = max(k - 2, 0)
        with superstep_conf(graph.edges.sparkSession, graph.edge_rows()):
            while True:
                # triangles x<y<z: wedge at the minimum corner, closed by a
                # semi-join on the (y, z) edge
                tri = (
                    e.select(F.col("u").alias("x"), F.col("v").alias("y"))
                    .join(
                        e.select(F.col("u").alias("x"), F.col("v").alias("z")),
                        "x",
                    )
                    .where(F.col("y") < F.col("z"))
                    .join(
                        e.select(F.col("u").alias("y"), F.col("v").alias("z")),
                        ["y", "z"],
                        "left_semi",
                    )
                )
                sup = (
                    tri.select(F.col("x").alias("u"), F.col("y").alias("v"))
                    .unionAll(
                        tri.select(F.col("x").alias("u"), F.col("z").alias("v"))
                    )
                    .unionAll(
                        tri.select(F.col("y").alias("u"), F.col("z").alias("v"))
                    )
                    .groupBy("u", "v")
                    .agg(F.count(F.lit(1)).alias("s"))
                )
                survivors = truncate(
                    e.join(sup, ["u", "v"], "left")
                    .where(F.coalesce("s", F.lit(0)) >= min_support)
                    .select("u", "v")
                )
                n_old = row_count(e)
                n_new = row_count(survivors)
                drop_spill(e)
                e = survivors
                if n_new == n_old:
                    break
        s.keep(e)
    return e
