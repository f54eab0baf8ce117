"""Deterministic independent-cascade (IC) influence spread.

The standard influence-propagation primitive over a link graph ("if
these actors adopt a behavior, who follows?"), in its LIVE-EDGE
formulation: a cascade with per-edge activation probability p is
distributionally identical to reachability from the seed set over the
subgraph that keeps each directed edge with probability p (Kempe,
Kleinberg & Tardos 2003, the classic reduction). The engine draws the
per-edge coin with the portable md5-prefix hash (the same construction
as graft.pipeline.splits), so ONE deterministic cascade sample is
produced — stable under reruns, partitioning, and engine (the DuckDB
oracle replays it bit-for-bit); Monte-Carlo estimates come from
varying ``salt``, embarrassingly parallel across samples.

Scale shape: the live-edge filter is a pure column predicate pushed
into the edge scan; each round is the BFS relax step (one join + one
groupBy-min over the frontier), O(rounds) supersteps with the engine's
data-sized reducer tuning — no new machinery beyond bfs_hops, just a
seed SET and the coin filter.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from graft.algos.community import superstep_conf
from graft.checkpoint import drop_spill, row_count, scratch, truncate
from graft.graph import Graph
from graft.pipeline.splits import _MOD, _u60


def ic_spread(
    graph: Graph,
    seeds: list,
    p: float = 0.3,
    rounds: int = 3,
    salt: str = "ic",
) -> DataFrame:
    """Returns ``(id, round int)`` — activation round (0 = seed) for
    every vertex activated within ``rounds`` cascade rounds; vertices
    never activated are absent.

    Each DIRECTED symmetrized row draws its own coin (u may fail to
    activate v while v would activate u — the IC convention on
    undirected graphs); self-loops never fire. The coin for row
    (src, dst) is ``md5(src|dst#salt)``-prefix < p·2^60.
    """
    if not seeds:
        raise ValueError("ic_spread needs a non-empty seed set")
    if not 0.0 <= p <= 1.0:
        raise ValueError(f"p must be in [0, 1], got {p}")
    if rounds < 0:
        raise ValueError(f"rounds must be >= 0, got {rounds}")
    live = graph.edges.where(
        (F.col("src") != F.col("dst"))
        & (
            _u60(F.concat_ws("|", "src", "dst"), salt)
            < int(p * _MOD)
        )
    ).select("src", "dst")
    seed_set = list(seeds)
    with scratch() as s:
        act = truncate(
            graph.vertices()
            .where(F.col("id").isin(seed_set))
            .select("id", F.lit(0).alias("round"))
        )
        # same contract as pagerank's source validation: a typo'd seed is
        # an input error, not an empty cascade
        if row_count(act) == 0:
            raise ValueError(
                f"ic_spread: no seed vertex from {seed_set!r} exists in the"
                " graph"
            )
        with superstep_conf(graph.edges.sparkSession, graph.edge_rows()):
            for _ in range(rounds):
                relaxed = (
                    live.join(act.withColumnRenamed("id", "src"), "src")
                    .groupBy(F.col("dst").alias("id"))
                    .agg(F.min(F.col("round") + 1).alias("round"))
                )
                nxt = truncate(
                    act.unionAll(relaxed)
                    .groupBy("id")
                    .agg(F.min("round").alias("round"))
                )
                drop_spill(act)
                act = nxt
        s.keep(act)
    return act
