"""Seeded label spreading (semi-supervised classification over the
link graph).

Given a small labeled seed set, diffuse label mass along weighted
edges and classify every reached vertex by its dominant label — the
Zhu–Ghahramani harmonic-function style propagation with clamped seeds
(seeds re-assert their own label each round), the standard
semi-supervised classifier over a similarity or interaction graph.
Training-data use: propagate a hand-labeled quality/domain/topic seed
set over the near-dup or kNN similarity graph to label the whole
corpus; on the transcript actor graph, propagate role labels to find
each tool/conversation actor's protocol basin.

Distinct from :mod:`graft.algos.lpa` (unseeded hard-label majority
voting): here mass is FRACTIONAL, seeds are authoritative, and the
output carries the winning label's share as a confidence score.

Per round, each vertex's distribution is the weight-proportional
mixture of its neighbors' distributions:

    m'(v, l) = Σ_{u ∈ N(v)} w(u, v) · m(u, l),  normalized over l,
    then seed vertices are reset to {seed label: 1.0} (clamping).

Plan shape per round: one gather join keyed on the edge source + one
(dst, label) groupBy + one per-vertex window normalization + the
clamp anti-join/union — all JVM built-ins, map-side combinable, AQE
skew-handled; the per-vertex label universe is capped by
``top_labels`` so state stays O(V · top_labels) regardless of how many
seed classes exist. Rounds are fixed (BSP supersteps), lineage is
truncated per round exactly like the other iterative operators.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from graft.algos.community import superstep_conf
from graft.checkpoint import drop_spill, scratch, truncate
from graft.graph import Graph


def label_spreading(
    graph: Graph,
    seeds: DataFrame,
    rounds: int = 2,
    top_labels: int | None = None,
) -> DataFrame:
    """Returns ``(id, label, score double)`` — for every vertex reached
    within ``rounds`` supersteps from the seed set, the dominant label
    and its (6-dp rounded) share of the vertex's label mass; the
    argmax tie-break is rounded-mass desc, label asc, so the result is
    engine- and partitioning-independent. Unreached vertices get no
    row (their distribution is empty); seed vertices always report
    their own label with score 1.0.

    ``seeds``: ``(id, label)`` — authoritative labels, clamped every
    round. ``top_labels``: optional per-vertex distribution cap
    (keep only the heaviest ``top_labels`` labels per vertex per
    round, same deterministic tie-break) — the state bound for
    many-class corpora; None keeps full distributions.
    """
    seed_dist = seeds.select(
        "id", "label", F.lit(1.0).alias("mass")
    ).distinct()
    seed_ids = seed_dist.select("id").distinct()
    edges = graph.edges
    rank_w = Window.partitionBy("id").orderBy(
        F.desc(F.round("mass", 6)), "label"
    )
    with scratch() as s:
        dist = truncate(seed_dist)
        with superstep_conf(edges.sparkSession, graph.edge_rows()):
            for _ in range(rounds):
                gathered = (
                    edges.join(
                        dist.withColumnRenamed("id", "src"), "src"
                    )
                    .groupBy(F.col("dst").alias("id"), "label")
                    .agg(F.sum(F.col("weight") * F.col("mass")).alias("m"))
                )
                norm_w = Window.partitionBy("id")
                spread = gathered.select(
                    "id",
                    "label",
                    (F.col("m") / F.sum("m").over(norm_w)).alias("mass"),
                )
                if top_labels is not None:
                    spread = (
                        spread.withColumn("r", F.row_number().over(rank_w))
                        .where(F.col("r") <= top_labels)
                        .drop("r")
                    )
                new_dist = truncate(
                    spread.join(seed_ids, "id", "left_anti").unionByName(
                        seed_dist
                    )
                )
                drop_spill(dist)
                dist = new_dist
        s.keep(dist)
    return (
        dist.withColumn("rk", F.row_number().over(rank_w))
        .where(F.col("rk") == 1)
        .select("id", "label", F.round("mass", 6).alias("score"))
    )
