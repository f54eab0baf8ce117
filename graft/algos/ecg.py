"""ECG — Ensemble Clustering for Graphs (Poulin & Théberge 2018).

The cugraph API family the engine mirrors ships ``cugraph.ecg``
alongside louvain/leiden (reference capability envelope,
examples/cugraph-cpp-api/ ecosystem). ECG stabilizes Louvain's
seed-dependent greedy optimum by voting: run ``ensemble_size``
independent LEVEL-1 Louvain partitions (cheap — one local-moving pass
each, no multi-level contraction), reweight every edge by how often its
endpoints co-cluster across the ensemble, then run full Louvain once on
the reweighted graph. Edges outside the graph's 2-core never get
ensemble votes (leaf/tree edges co-cluster spuriously), so they keep
the floor weight ``min_weight`` — the original algorithm's noise gate.

    w'(u, v) = min_weight + (1 − min_weight) · votes(u, v)/k   (2-core)
    w'(u, v) = min_weight                                      (else)

Scale shape: each ensemble member is ``louvain(max_levels=1)`` over the
same cached graph (the engine's scale-adaptive local-moving machinery —
BSP supersteps or the one-task tail, whichever the level fits); the
vote table is one labels join per endpoint per member plus one
``groupBy(edge)`` fold; the 2-core mask reuses
:func:`graft.algos.kcore.core_number`'s peeling output at k=2 via
``k_core``. Nothing leaves the cluster; determinism comes from the
member seeds ``seed + 7919·i``.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from graft.checkpoint import scratch, truncate
from graft.graph import Graph


def ecg(
    graph: Graph,
    ensemble_size: int = 8,
    min_weight: float = 0.05,
    max_sweeps: int = 15,
    seed: int = 1234,
    return_quality: bool = False,
):
    """Returns ``(id long, community long)`` — ECG community labels on
    the original vertices (``return_quality=True`` additionally returns
    the final partition's modularity on the ORIGINAL weights, the
    cugraph-shaped ``(labels, quality)`` pair).

    ``ensemble_size``: number of independent level-1 Louvain votes
    (cugraph.ecg default region; more votes = stabler edge weights).
    ``min_weight``: the floor weight for never-co-clustered and
    non-2-core edges (cugraph.ecg's ``min_weight``).
    """
    from graft.algos.kcore import k_core
    from graft.algos.louvain import louvain

    if ensemble_size < 1:
        raise ValueError(
            f"ensemble_size must be >= 1, got {ensemble_size}"
        )
    if not 0.0 < min_weight <= 1.0:
        raise ValueError(
            f"min_weight must be in (0, 1], got {min_weight}"
        )
    # one canonical row per undirected simple edge (votes are direction-
    # free; self-loops carry no co-clustering information)
    und = (
        graph.without_self_loops()
        .select(
            F.least("src", "dst").alias("u"),
            F.greatest("src", "dst").alias("v"),
        )
        .distinct()
    )

    with scratch() as s:
        vote_parts: list[DataFrame] = []
        for i in range(ensemble_size):
            # louvain's labels are a leaf of their own, released with
            # this scratch
            labels = louvain(
                graph,
                max_levels=1,
                max_sweeps=max_sweeps,
                seed=seed + 7919 * i,
            )
            vote_parts.append(
                und.join(
                    labels.select(F.col("id").alias("u"),
                                  F.col("community").alias("cu")),
                    "u",
                )
                .join(
                    labels.select(F.col("id").alias("v"),
                                  F.col("community").alias("cv")),
                    "v",
                )
                .select(
                    "u",
                    "v",
                    F.when(F.col("cu") == F.col("cv"), F.lit(1))
                    .otherwise(F.lit(0))
                    .alias("vote"),
                )
            )
        votes = vote_parts[0]
        for p in vote_parts[1:]:
            votes = votes.unionAll(p)
        votes = votes.groupBy("u", "v").agg(F.sum("vote").alias("votes"))

        # 2-core gate: an edge is in the 2-core subgraph iff both endpoints
        # survive the k=2 peel (the k-core is the INDUCED subgraph, so its
        # edge set is exactly the both-endpoints-in edges)
        core2 = k_core(graph, 2).select(F.col("id"), F.lit(1).alias("in2"))
        w = F.when(
            F.col("in_u").isNotNull() & F.col("in_v").isNotNull(),
            F.lit(min_weight)
            + F.lit(1.0 - min_weight) * F.col("votes") / ensemble_size,
        ).otherwise(F.lit(min_weight))
        reweighted = truncate(
            votes.join(
                core2.select(F.col("id").alias("u"),
                             F.col("in2").alias("in_u")),
                "u", "left",
            )
            .join(
                core2.select(F.col("id").alias("v"),
                             F.col("in2").alias("in_v")),
                "v", "left",
            )
            .select(
                F.col("u").alias("src"),
                F.col("v").alias("dst"),
                w.alias("weight"),
            )
        )

        final_graph = Graph.from_undirected(reweighted)
        final_graph.edges = s.persist(final_graph.edges)
        out = louvain(final_graph, seed=seed)
        # vertices present ONLY via self-loops exist in graph.vertices()
        # (and get labels from plain louvain) but carry no co-clustering
        # vote and no reweighted edge, so they are absent from final_graph:
        # restore them as singletons labeled by their own id — collision-
        # free, since every final_graph community label is the min MEMBER
        # id of a community these vertices are not in
        out = truncate(
            graph.vertices().join(out, "id", "left").select(
                "id", F.coalesce("community", F.col("id")).alias("community")
            )
        )
        s.keep(out)
    if return_quality:
        # quality reported on the ORIGINAL weights (the reweighting is
        # internal machinery, not the user's objective)
        from graft.quality import modularity

        return out, modularity(graph.edges, out.select("id", "community"))
    return out
