"""Power Iteration Clustering — the spectral-family clusterer.

The cugraph API family the engine mirrors ships spectral clustering
(``cugraph.spectralBalancedCutClustering`` /
``spectralModularityMaximizationClustering``) alongside
leiden/louvain/ecg (reference capability envelope,
examples/cugraph-cpp-api/ ecosystem). Full eigendecomposition does not
distribute; the scalable Spark-native member of the spectral family is
Power Iteration Clustering (Lin & Cohen, ICML 2010) — the algorithm
Spark MLlib itself ships as ``PowerIterationClustering``. We implement
it natively over the engine's edge table:

  1. **Embedding** — truncated power iteration of the row-normalized
     affinity matrix W = D⁻¹A:  vₜ₊₁ = W·vₜ / ‖W·vₜ‖₁. Early iterates
     mix the top non-trivial eigenvectors of W with
     cluster-piecewise-constant structure (the PIC observation), so a
     few iterations yield a 1-D embedding whose plateaus are the
     spectral clusters. v₀ is the paper's random vector made
     deterministic AND oracle-replayable: the md5-prefix uniform of
     graft.algos.priority (L1-normalized). A structured init (degree
     vector / constant) is wrong here, not just unreproducible — it is
     invariant under graph automorphisms, so on any symmetric graph its
     component along the separating eigenvector is exactly 0 and the
     iteration can never split the symmetric clusters.
  2. **Clustering** — 1-D Lloyd k-means on the embedding with exact
     percentile init (deterministic; no RNG anywhere).

Scale shape: each power superstep is ONE join + keyed agg over the
memoized transition table — PageRank's superstep plan with the join
key flipped (gather FROM neighbors instead of mass flow TO them) and
no teleport term — so everything said about that plan (broadcast rank
table into the edge scan, AQE-off superstep conf, copartition variant
at 10^12 vertices) carries over. The L1 normalizer folds into the same
job as a scalar-aggregate cross join (no per-iteration driver collect).
Each k-means round is one scan emitting k (sum, count) scalars; the
driver holds only the k centroids. Small graphs run the whole
embedding as ONE executor task (numpy kernel; the gate is
:func:`graft.algos.community.one_task`).

Determinism: fixed iteration counts, exact-percentile init, argmin
ties broken toward the lowest centroid index, and final cluster ids
relabeled by ascending centroid value — two runs (and the two
execution paths) produce identical labels.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from graft.algos.community import one_task, run_one_task, superstep_conf
from graft.algos.priority import hash_priority
from graft.checkpoint import Checkpointer, drop_spill, scratch, truncate
from graft.graph import Graph


def _sequential_pic(
    verts: DataFrame, trans: DataFrame, iterations: int
) -> DataFrame:
    """The whole truncated power iteration as ONE task (see
    :func:`graft.algos.community.one_task`). ``verts`` carries the
    shared v0 column so both execution paths start from the identical
    vector."""
    import numpy as np
    import pandas as pd

    def fn(vpdf: pd.DataFrame, epdf: pd.DataFrame) -> pd.DataFrame:
        order = np.argsort(vpdf["id"].to_numpy())
        ids = vpdf["id"].to_numpy()[order]
        v = vpdf["v"].to_numpy(dtype=np.float64)[order]
        pos = pd.Series(np.arange(len(ids)), index=ids)
        src = pos[epdf["src"].to_numpy()].to_numpy()
        dst = pos[epdf["dst"].to_numpy()].to_numpy()
        p = epdf["p"].to_numpy(dtype=np.float64)
        for _ in range(iterations):
            # v ← W·v (neighbor averaging): nxt[i] = Σ_j p(i→j)·v[j].
            # NOT the PageRank mass-flow direction Wᵀ·v — from v0 ∝ s
            # that iteration is a fixed point (Wᵀ·s = s up to scale) and
            # the embedding would never evolve.
            nxt = np.zeros(len(ids))
            np.add.at(nxt, src, v[dst] * p)
            nrm = float(np.abs(nxt).sum())
            v = nxt / nrm if nrm > 0 else nxt
        return pd.DataFrame({"id": ids, "v": v})

    id_type = verts.schema["id"].dataType.simpleString()
    return run_one_task(
        fn, f"id {id_type}, v double",
        trans.select("src", "dst", "p"), verts.select("id", "v"),
    )


def pic_embedding(
    graph: Graph,
    iterations: int = 15,
    seed: int = 1234,
    sequential_threshold: int = 1_000_000,
    checkpointer: Checkpointer | None = None,
) -> DataFrame:
    """Returns ``(id, v double)`` — the PIC pseudo-eigenvector after a
    FIXED number of power iterations of W = D⁻¹A from the md5-uniform
    v₀ (fixed counts keep the intermediate vector observable, so a
    value-hash oracle certifies the plumbing — the same design as the
    ``pagerank_3iter`` contract row).

    ``sequential_threshold``: see :func:`graft.algos.community.one_task`.
    A ``checkpointer`` persists the vector + metrics per superstep and
    resumes from the latest complete one."""
    if iterations < 0:
        raise ValueError(f"iterations must be >= 0, got {iterations}")
    spark = graph.edges.sparkSession
    verts = graph.vertices_cached()
    id_type = graph.edges.schema["src"].dataType.simpleString()
    if graph.num_vertices() == 0:
        return spark.createDataFrame([], f"id {id_type}, v double")

    trans = graph.transition()

    # v0: md5-prefix uniform in [0, 1), L1-normalized — deterministic,
    # automorphism-breaking, and replayable in any engine with md5
    # (see module docstring); shared by both execution paths
    u = verts.select(
        "id", (hash_priority(F.col("id"), seed) / F.lit(2.0**60)).alias("u")
    )
    v0 = u.crossJoin(F.broadcast(u.agg(F.sum("u").alias("nrm")))).select(
        "id", (F.col("u") / F.col("nrm")).alias("v")
    )

    if one_task(graph, sequential_threshold, checkpointer):
        # a spill like the superstep path's return, owned the same way
        # by the caller's scratch
        return truncate(_sequential_pic(v0, trans, iterations))

    start = 0
    v = None
    if checkpointer is not None:
        resumed = checkpointer.resume()
        if resumed is not None:
            start, v = resumed
            start += 1
    with superstep_conf(spark, graph.edge_rows()), scratch() as s:
        if v is None:
            v = truncate(v0)
        for it in range(start, iterations):
            # v ← W·v (neighbor averaging; see the kernel comment — the
            # PageRank mass-flow direction is a fixed point of v0 ∝ s):
            # join on DST, fold onto SRC
            inflow = (
                trans.join(v, trans.dst == v.id)
                .groupBy(trans.src.alias("nid"))
                .agg(F.sum(F.col("p") * F.col("v")).alias("x"))
            )
            raw = verts.join(inflow, verts.id == F.col("nid"), "left").select(
                "id", F.coalesce("x", F.lit(0.0)).alias("x")
            )
            # scalar-aggregate cross join: the L1 normalizer stays in
            # the same job — no per-iteration driver collect
            nxt = raw.crossJoin(
                F.broadcast(raw.agg(F.sum(F.abs(F.col("x"))).alias("nrm")))
            ).select(
                "id",
                F.when(F.col("nrm") > 0, F.col("x") / F.col("nrm"))
                .otherwise(F.col("x"))
                .alias("v"),
            )
            prev = v
            v = truncate(nxt)
            drop_spill(prev)
            if checkpointer is not None:
                v = checkpointer.save(it, v, algo="pic", seed=seed)
        s.keep(v)
    return v


def _kmeans_1d(
    emb: DataFrame, k: int, n_iter: int = 20
) -> tuple[DataFrame, list]:
    """Deterministic 1-D Lloyd k-means over ``(id, v)``: exact-percentile
    init at the (2j+1)/(2k) quantiles, argmin assignment with ties to
    the lowest centroid index, centroid update from one k-scalar agg per
    round, early exit on exact centroid fixpoint. Returns the
    ``(id, cluster)`` assignment (clusters relabeled by ascending final
    centroid value) and the final centroid list. Driver state is k
    doubles — parameter-bounded, never data-sized. The exact percentile
    is one sort-based agg over a (long, double) table — fine into the
    billions of rows; at true 10^12-vertex scale swap the init for
    ``approx_percentile`` (also deterministic at a fixed accuracy), the
    only change the scale-up needs."""
    qs = [(2 * j + 1) / (2.0 * k) for j in range(k)]
    cents = [
        float(c)
        for c in emb.agg(
            F.percentile("v", F.array(*[F.lit(q) for q in qs]))
        ).first()[0]
    ]

    def assign_col(cs: list):
        dists = F.array(*[F.abs(F.col("v") - F.lit(c)) for c in cs])
        return (F.array_position(dists, F.array_min(dists)) - 1).alias("c")

    for _ in range(n_iter):
        # at most k rows: one (sum, count) per cluster
        stats = (
            emb.select("v", assign_col(cents))
            .groupBy("c")
            .agg(F.sum("v").alias("s"), F.count(F.lit(1)).alias("n"))
            .collect()
        )
        new_cents = list(cents)  # empty clusters keep their centroid
        for r in stats:
            new_cents[int(r["c"])] = float(r["s"]) / int(r["n"])
        if new_cents == cents:
            break
        cents = new_cents
    order = sorted(range(k), key=lambda j: (cents[j], j))
    relabel = {j: rank for rank, j in enumerate(order)}
    mapping = F.array(*[F.lit(relabel[j]) for j in range(k)])
    assign = emb.select("id", "v", assign_col(cents)).select(
        "id", mapping[F.col("c")].cast("long").alias("cluster")
    )
    return assign, [cents[j] for j in order]


def power_iteration_clustering(
    graph: Graph,
    k: int,
    iterations: int = 15,
    kmeans_iter: int = 20,
    seed: int = 1234,
    sequential_threshold: int = 1_000_000,
) -> DataFrame:
    """Returns ``(id, cluster long)`` — k clusters from 1-D k-means on
    the PIC embedding (cugraph spectral-clustering API shape: a flat
    per-vertex cluster assignment with a caller-chosen k, the
    balanced-cut-style complement to the quality-driven leiden/louvain
    partitioners)."""
    if k < 1:
        raise ValueError(f"k must be >= 1, got {k}")
    if graph.num_vertices() == 0:
        id_type = graph.edges.schema["src"].dataType.simpleString()
        return graph.edges.sparkSession.createDataFrame(
            [], f"id {id_type}, cluster long"
        )
    with scratch() as s:
        emb = pic_embedding(
            graph, iterations, seed=seed,
            sequential_threshold=sequential_threshold,
        )
        assign, _ = _kmeans_1d(emb, k, n_iter=kmeans_iter)
        out = truncate(assign)
        s.keep(out)
    return out
