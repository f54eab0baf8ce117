"""Maximal independent set — Luby's algorithm with deterministic hash
priorities.

The cugraph API family ships ``maximal_independent_set``; Luby's
round structure is the canonical distributed formulation (Luby 1986):
every undecided vertex whose priority beats all undecided neighbors
joins the set, its neighbors leave the race, repeat — O(log n) rounds
w.h.p. The engine replaces the per-round random draw with the fixed
md5-prefix priority of graft.algos.priority (ties broken by id), which
keeps the guarantee in practice on hashed ids, makes the output a pure
function of (graph, seed) — deterministic under any partitioning — and
lets the driver's DuckDB oracle replay the exact winner rule.

Plan per round: one join of the undecided adjacency against the
priority table, one groupBy-min for the neighborhood minimum, one
semi/anti join pair to retire winners and their neighbors — all keyed
shuffles on the vertex id, state shrinking monotonically. No driver
data beyond the round's convergence scalar.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from graft.algos.community import superstep_conf
from graft.algos.priority import hash_priority
from graft.checkpoint import row_count, scratch, truncate
from graft.graph import Graph


def maximal_independent_set(graph: Graph, seed: int = 42) -> DataFrame:
    """Returns ``(id, in_mis boolean)`` for every vertex — a maximal
    independent set of the simple (self-loop-free) graph: no two
    ``in_mis`` vertices are adjacent, and every vertex is in the set or
    adjacent to one. Isolated / self-loop-only vertices are always in.
    Deterministic for a given (graph, seed)."""
    verts = graph.vertices_cached()
    spark = graph.edges.sparkSession
    adj, n_adj = graph.simple_adjacency()
    with scratch() as s:
        undecided = truncate(verts.select("id"))
        chosen_parts: list[DataFrame] = []
        with superstep_conf(spark, n_adj):
            while row_count(undecided) > 0:
                # edges whose both endpoints are still undecided
                live = (
                    adj.join(undecided.withColumnRenamed("id", "src"), "src")
                    .join(undecided.withColumnRenamed("id", "dst"), "dst")
                )
                nb_min = (
                    live.join(
                        undecided.select(
                            F.col("id").alias("dst"),
                            F.struct(
                                hash_priority(F.col("id"), seed).alias("p"),
                                F.col("id").alias("i"),
                            ).alias("np"),
                        ),
                        "dst",
                    )
                    .groupBy(F.col("src").alias("id"))
                    .agg(F.min("np").alias("nmin"))
                )
                winners = truncate(
                    undecided.join(nb_min, "id", "left")
                    .where(
                        F.col("nmin").isNull()
                        | (
                            F.struct(
                                hash_priority(F.col("id"), seed).alias("p"),
                                F.col("id").alias("i"),
                            )
                            < F.col("nmin")
                        )
                    )
                    .select("id")
                )
                chosen_parts.append(winners)
                # retire winners and everything adjacent to a winner
                retired = winners.unionAll(
                    adj.join(
                        winners.withColumnRenamed("id", "src"), "src"
                    ).select(F.col("dst").alias("id"))
                ).distinct()
                undecided = truncate(
                    undecided.join(retired, "id", "left_anti")
                )
            mis = chosen_parts[0] if chosen_parts else verts.limit(0)
            for p in chosen_parts[1:]:
                mis = mis.unionAll(p)
            out = truncate(
                verts.join(
                    mis.withColumn("in_mis", F.lit(True)), "id", "left"
                ).select(
                    "id", F.coalesce("in_mis", F.lit(False)).alias("in_mis")
                )
            )
        s.keep(out)
    return out
