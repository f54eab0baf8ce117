"""Distributed greedy graph coloring (Jones–Plassmann).

The classic distributed coloring (Jones & Plassmann 1993): fix a
random priority per vertex; each round, every still-uncolored vertex
all of whose HIGHER-priority neighbors are already colored picks the
smallest color absent from its colored neighborhood. Rounds equal the
longest decreasing-priority path — O(log n / log log n) w.h.p. on
random priorities; the engine uses the md5-prefix priority of
graft.algos.priority (ties by id), so the coloring is a pure function
of (graph, seed) at any partitioning AND replayable by the driver's
DuckDB oracle. Colors used ≤ max degree + 1 by construction.

Plan per round: one join of the uncolored adjacency against the
colored set (collect_set of neighbor colors, then the mex via
array_except over a 0..deg sequence — all JVM-side array functions),
one join against the uncolored set for the readiness test. The colored
set is the union of the rounds' newly colored spills, each written
once. State shrinks monotonically; no driver data beyond the
convergence scalar.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from graft.algos.community import superstep_conf
from graft.algos.priority import hash_priority
from graft.checkpoint import row_count, scratch, truncate
from graft.graph import Graph


def greedy_color(graph: Graph, seed: int = 42) -> DataFrame:
    """Returns ``(id, color int)`` for every vertex — a proper greedy
    coloring of the simple (self-loop-free) graph: adjacent vertices
    never share a color, at most max-degree+1 colors. Deterministic for
    a given (graph, seed); isolated / self-loop-only vertices get 0."""
    verts = graph.vertices_cached()
    spark = graph.edges.sparkSession

    def prio(col):
        return F.struct(
            hash_priority(col, seed).alias("h"), col.alias("i")
        )

    adj, n_adj = graph.simple_adjacency()
    with scratch() as s:
        uncolored = truncate(verts.select("id"))
        # the union of the rounds' newly colored leaves
        colored = verts.select("id", F.lit(0).alias("color")).limit(0)
        with superstep_conf(spark, n_adj):
            while row_count(uncolored) > 0:
                # ready: no uncolored neighbor of higher priority
                blocked = (
                    adj.join(uncolored.withColumnRenamed("id", "src"), "src")
                    .join(uncolored.withColumnRenamed("id", "dst"), "dst")
                    .where(prio(F.col("dst")) > prio(F.col("src")))
                    .select(F.col("src").alias("id"))
                    .distinct()
                )
                ready = uncolored.join(blocked, "id", "left_anti")
                # smallest color absent among already-colored neighbors
                used = (
                    adj.join(ready.withColumnRenamed("id", "src"), "src")
                    .join(
                        colored.withColumnRenamed("id", "dst"), "dst"
                    )
                    .groupBy(F.col("src").alias("id"))
                    .agg(F.collect_set("color").alias("used"))
                )
                newly = truncate(
                    ready.join(used, "id", "left")
                    .select(
                        "id",
                        F.when(F.col("used").isNull(), F.lit(0))
                        .otherwise(
                            F.array_min(
                                F.array_except(
                                    F.sequence(
                                        F.lit(0), F.size("used")
                                    ),
                                    F.col("used"),
                                )
                            )
                        )
                        .cast("int")
                        .alias("color"),
                    )
                )
                colored = colored.unionAll(newly)
                uncolored = truncate(uncolored.join(newly, "id", "left_anti"))
            out = truncate(colored)
        s.keep(out)
    return out
