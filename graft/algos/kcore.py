"""k-core extraction and full core decomposition (degree peeling).

The cugraph API family ships ``cugraph.k_core`` AND ``cugraph.core_number``;
the engine carries both, with one peeling path:

- :func:`core_number` — the per-vertex core index for EVERY vertex in one
  pass. When :func:`graft.algos.community.one_task` says so it runs the
  exact Batagelj–Zaversnik O(E) bin-sort peel as ONE executor task; else
  the distributed path iterates the neighborhood h-index operator
  c'(v) = min(c(v), H({c(u): u ∈ N(v)}))
  from c0 = degree, whose fixpoint is exactly the core number
  (Lü et al., "The H-index of a network node and its relation to degree
  and coreness", Nat. Commun. 2016). Each round is one join + one
  per-vertex window + one groupBy — O(few) rounds on link graphs, and
  the iteration is monotone non-increasing so the changed-count probe
  terminates it exactly.

- :func:`k_core` — membership of the maximal subgraph where every vertex
  has degree ≥ k: a filter of :func:`core_number` at ``core ≥ k``
  (v is in the k-core iff its core number is at least k).

Training-data relevance: the k-core is the standard "dense interaction
backbone" filter (drop leaf actors / one-off conversations before
community detection or embedding training); core numbers give the whole
peeling profile in one job.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from graft.algos.community import one_task, run_one_task, superstep_conf
from graft.checkpoint import drop_spill, observed, row_count, scratch, truncate
from graft.graph import Graph


def k_core(graph: Graph, k: int) -> DataFrame:
    """Returns ``(id,)`` — the vertices of the k-core (possibly empty):
    the vertices whose core number is at least ``k`` (cores are nested).
    For ``k`` ≤ 1 that is every vertex with a non-loop edge."""
    return core_number(graph).where(F.col("core") >= max(k, 1)).select("id")


def _sequential_core_number(graph: Graph) -> DataFrame:
    """Exact Batagelj–Zaversnik bin-sort peeling over the whole graph as
    ONE task (see :func:`graft.algos.community.one_task`)."""
    import numpy as np
    import pandas as pd

    def fn(vpdf: pd.DataFrame, epdf: pd.DataFrame) -> pd.DataFrame:
        ids = np.sort(vpdf["id"].to_numpy())
        n = len(ids)
        pos_of = pd.Series(np.arange(n), index=ids)
        src = pos_of[epdf["src"].to_numpy()].to_numpy()
        dst = pos_of[epdf["dst"].to_numpy()].to_numpy()
        # CSR over the symmetric distinct non-loop edge set
        order = np.argsort(src, kind="stable")
        src, dst = src[order], dst[order]
        deg = np.bincount(src, minlength=n)
        indptr = np.zeros(n + 1, dtype=np.int64)
        np.cumsum(deg, out=indptr[1:])
        core = deg.astype(np.int64).copy()
        md = int(deg.max()) if n else 0
        # bin sort: vert sorted by degree, pos inverse, bin_start per degree
        vert = np.argsort(deg, kind="stable")
        pos = np.empty(n, dtype=np.int64)
        pos[vert] = np.arange(n)
        bin_start = np.zeros(md + 2, dtype=np.int64)
        np.cumsum(np.bincount(deg, minlength=md + 1), out=bin_start[1:])
        bin_start = bin_start[:-1].copy()
        for i in range(n):
            v = vert[i]
            cv = core[v]
            for u in dst[indptr[v]:indptr[v + 1]]:
                cu = core[u]
                if cu > cv:
                    # swap u with the first vertex of its bin, shrink bin
                    pu = pos[u]
                    pw = bin_start[cu]
                    w = vert[pw]
                    if u != w:
                        vert[pu], vert[pw] = w, u
                        pos[u], pos[w] = pw, pu
                    bin_start[cu] += 1
                    core[u] = cu - 1
        return pd.DataFrame({"id": ids, "core": core})

    nodes = graph.vertices()
    id_type = nodes.schema["id"].dataType.simpleString()
    return run_one_task(
        fn, f"id {id_type}, core long",
        graph.without_self_loops().select("src", "dst").distinct(), nodes,
    )


def core_number(
    graph: Graph, sequential_threshold: int = 1_000_000
) -> DataFrame:
    """Returns ``(id, core long)`` for ALL vertices (cugraph.core_number
    parity; self-loops excluded from degrees, isolated vertices core 0).

    One task runs the exact BZ peel (``sequential_threshold``: see
    :func:`graft.algos.community.one_task`); supersteps run the h-index
    fixpoint iteration — monotone non-increasing from the degree, so
    the changed-count probe is an exact stopping rule.
    """
    if one_task(graph, sequential_threshold):
        return _sequential_core_number(graph)

    with scratch() as s:
        adj = truncate(graph.without_self_loops().select("src", "dst").distinct())
        verts = graph.vertices()
        deg = adj.groupBy(F.col("src").alias("id")).agg(
            F.count(F.lit(1)).alias("core")
        )
        cores = truncate(
            verts.join(deg, "id", "left").select(
                "id", F.coalesce("core", F.lit(0)).cast("long").alias("core")
            )
        )
        w = Window.partitionBy("src").orderBy(F.desc("c"), "dst")
        with superstep_conf(adj.sparkSession, row_count(adj)):
            while True:
                nbr = adj.join(
                    cores.withColumnRenamed("id", "dst"), "dst"
                ).select("src", "dst", F.col("core").alias("c"))
                # neighborhood h-index: max over rank r of min(c_r, r) with
                # neighbor cores sorted descending
                h = (
                    nbr.withColumn("r", F.row_number().over(w))
                    .select("src", F.least(F.col("c"), F.col("r")).alias("m"))
                    .groupBy(F.col("src").alias("id"))
                    .agg(F.max("m").alias("h"))
                )
                step, obs = observed(
                    cores.join(h, "id", "left").select(
                        "id",
                        F.least(
                            "core", F.coalesce("h", F.lit(0))
                        ).cast("long").alias("core"),
                        F.col("core").alias("old"),
                    ),
                    changed=F.sum((F.col("core") != F.col("old")).cast("long")),
                )
                new_cores = truncate(step.select("id", "core"))
                drop_spill(cores)
                cores = new_cores
                if not obs.get["changed"]:
                    break
        s.keep(cores)
    return cores
