"""Fanout-capped k-hop neighborhood sampling (GraphSAGE-style
minibatch blocks).

A 100-TB training pipeline feeding a GNN needs per-root sampled
message-passing blocks: from each root, keep at most ``fanouts[0]``
neighbors, then at most ``fanouts[1]`` neighbors of those, etc.
(GraphSAGE/DGL/PyG NeighborSampler semantics). The engine materializes
the blocks fully distributed AND fully reproducible: instead of a
stateful RNG, neighbors are ranked by a counter-based LCG score

    score(root, src, dst, hop) =
        ((dst + 31·root + 97·hop + seed) mod M) · 1103515245 mod M,
    M = 2^31 − 1, ties broken by dst

and the top-``fanout`` per (root, src) survive — a pure arithmetic
function of the edge and its position in the block, so the same sample
comes out of any cluster size or partitioning and an unrolled SQL
oracle can certify the exact rows.

Plan per hop: the frontier joins the adjacency on the vertex key (one
keyed join), then one window ``row_number`` partitioned by
(root, src) — one shuffle per hop, state bounded by
|roots| · ∏ fanouts rows, no driver data. That bound is the whole
point at scale: hub vertices contribute ``fanout`` rows like everyone
else, so skew never amplifies.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from graft.algos.community import superstep_conf
from graft.checkpoint import scratch, truncate
from graft.graph import Graph

_LCG_M = 2147483647
_LCG_A = 1103515245


def _score(root, src, dst, hop: int, seed: int):
    """The deterministic neighbor-ranking draw — int64-safe: the inner
    sum is reduced mod M before the multiply ((M−1)·A < 2^62)."""
    return (
        (
            dst.cast("long")
            + 31 * root.cast("long")
            + F.lit(97 * hop + seed)
        )
        % _LCG_M
        * F.lit(_LCG_A)
    ) % _LCG_M


def neighbor_sample(
    graph: Graph,
    fanouts: list[int],
    roots: DataFrame | None = None,
    seed: int = 42,
    max_degree: int | None = None,
) -> DataFrame:
    """Returns ``(root, hop int, src, dst)`` — the sampled block edges:
    at hop h (1-based), at most ``fanouts[h-1]`` out-edges per
    (root, frontier vertex) over the simple (self-loop-free,
    deduplicated) adjacency, frontier h+1 = the distinct sampled
    ``dst``. ``roots`` is a one-column ``(id)`` table (default: every
    vertex). Requires integral vertex ids (string-keyed graphs:
    renumber first, e.g. :func:`graft.io.actor_edges_to_long`).

    ``max_degree``: deterministically pre-truncate each vertex's
    adjacency to that many neighbors (root-independent LCG ranking)
    before any hop. The per-hop candidate set is Σ deg(frontier) —
    on a power-law graph hub rows dominate it even though the OUTPUT
    is fanout-capped; a max_degree cap (DGL/PyG's standard hub
    mitigation) bounds the pre-window work too, trading a bounded
    bias on hub neighborhoods for a hard per-hop cost ceiling."""
    id_type = dict(graph.edges.dtypes)["src"]
    if id_type not in ("bigint", "int", "smallint", "tinyint", "long"):
        raise TypeError(
            f"neighbor_sample needs integral vertex ids, got {id_type}; "
            "renumber with graft.io.actor_edges_to_long first"
        )
    if not fanouts or any(f < 1 for f in fanouts):
        raise ValueError(f"fanouts must be positive, got {fanouts}")
    # memoized simple adjacency on the Graph (r6): shared leaf with
    # betweenness/WL; only a max_degree truncation spills its own copy
    adj, n_adj = graph.simple_adjacency()
    with scratch() as s:
        if max_degree is not None:
            adj = (
                adj.withColumn(
                    "rn",
                    F.row_number().over(
                        Window.partitionBy("src").orderBy(
                            _score(
                                F.col("src"), F.col("src"), F.col("dst"),
                                0, seed,
                            ),
                            "dst",
                        )
                    ),
                )
                .where(F.col("rn") <= max_degree)
                .drop("rn")
            )
            adj = truncate(adj)
        if roots is None:
            roots = graph.vertices()
        spark = graph.edges.sparkSession
        frontier = roots.select(F.col("id").cast("long").alias("root"))
        frontier = frontier.select("root", F.col("root").alias("id"))
        parts: list[DataFrame] = []
        with superstep_conf(spark, n_adj) as sp:
            # Array fast path (r6), engaged when ``max_degree`` bounds the
            # per-vertex adjacency: collapse each vertex's (truncated)
            # neighbor list into ONE array row, hash-partitioned by vertex
            # and cached for all hops. Each hop is then a keyed join of the
            # frontier against the array table plus per-row array ops in
            # codegen — score every element, array_sort by (score, dst),
            # slice the fanout prefix, explode. The old plan shuffled and
            # SORTED the full candidate-edge expansion (Σ deg(frontier)
            # rows — ~100M on the 2M-edge bench hop 2) through a window per
            # hop; this one shuffles only the frontier (the array table is
            # partitioned once). Selected rows are IDENTICAL: array_sort on
            # struct(score, dst) is the same (score asc, dst asc) total
            # order as the window's row_number. Without ``max_degree`` a hub
            # row would be unbounded, so the window path (whose
            # WindowGroupLimit pre-filters map-side) stays — at 100 TB the
            # documented hub mitigation is to set max_degree.
            arrays = max_degree is not None
            if arrays:
                adj_arr = s.persist(
                    adj.groupBy(F.col("src").alias("id"))
                    .agg(F.collect_list("dst").alias("_dsts"))
                    .repartition(sp, "id")
                )
                adj_arr.count()

            def _hop_scored(h: int, fanout: int) -> DataFrame:
                def elem_score(d):
                    return (
                        (
                            d
                            + 31 * F.col("root")
                            + F.lit(97 * h + seed)
                        )
                        % _LCG_M
                        * F.lit(_LCG_A)
                    ) % _LCG_M

                top = F.slice(
                    F.array_sort(
                        F.transform(
                            "_dsts",
                            lambda d: F.struct(
                                elem_score(d).alias("s"), d.alias("dst")
                            ),
                        )
                    ),
                    1,
                    fanout,
                )
                return (
                    frontier.join(adj_arr, "id")
                    .select(
                        "root",
                        F.lit(h).alias("hop"),
                        F.col("id").alias("src"),
                        F.explode(
                            F.transform(top, lambda x: x["dst"])
                        ).alias("dst"),
                    )
                )

            for h, fanout in enumerate(fanouts, start=1):
                if arrays:
                    ranked = _hop_scored(h, fanout)
                else:
                    ranked = (
                        frontier.join(
                            adj.withColumnRenamed("src", "id"), "id"
                        )
                        .withColumn(
                            "rn",
                            F.row_number().over(
                                Window.partitionBy("root", "id").orderBy(
                                    _score(
                                        F.col("root"), F.col("id"),
                                        F.col("dst"), h, seed,
                                    ),
                                    "dst",
                                )
                            ),
                        )
                        .where(F.col("rn") <= fanout)
                        .select(
                            "root",
                            F.lit(h).alias("hop"),
                            F.col("id").alias("src"),
                            "dst",
                        )
                    )
                block = truncate(ranked)
                parts.append(block)
                frontier = block.select(
                    "root", F.col("dst").alias("id")
                ).distinct()
            out = parts[0]
            for p in parts[1:]:
                out = out.unionAll(p)
            out = truncate(out)
        s.keep(out)
    return out
