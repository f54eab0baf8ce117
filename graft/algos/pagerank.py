"""Weighted PageRank as a DataFrame superstep loop.

Capability X3 in SURVEY.md §2.5: the reference wires cuGraph PageRank
with alpha=0.85, epsilon=1e-6, max_iter=500
(examples/cugraph-cpp-api/leiden_cugraph.cpp:70-91); we implement the
same semantics natively.

Semantics: random walk on the symmetrized weighted edge table. A
vertex's out-probability mass splits proportionally to edge weight
(self-loops allowed, counted once in the out-weight). Dangling vertices
(possible on directed inputs) spread their mass uniformly.

    r_v = (1-alpha)/N + alpha * ( sum_u r_u * w_uv / s_u + D/N )

Scale design (verified with .explain + profiling):
- the transition table ``(src, dst, p)`` is built once and cached; the
  per-superstep join broadcasts the (much smaller) rank table into the
  edge scan (the static planner picks BroadcastHashJoin because
  truncated rank tables are parquet leaves with true sizes), so the big
  edge table is never shuffled — only the partial inflow sums move.
  ``join_strategy="copartition"`` is the 10^12-vertex variant: rank
  table too big to broadcast, probed against a pre-partitioned cached
  transition table instead.
- on the symmetrized Graph contract the structural probes (dangling /
  missing-in vertices) are skipped entirely — each is a full shuffle
  that costs as much as several supersteps per call.
- the superstep loop runs under community.superstep_conf (AQE off,
  data-sized reducers): per-sweep latency, not data volume, dominates
  iterative loops below millions of rows.
- ``fixed_iterations`` mode runs probe-free; ``truncate_every``
  controls how many supersteps chain into one job between lineage
  truncations (the bench scaling job chains all of them).
- convergence mode pays one truncate per superstep: the L1 delta (the
  convergence probe, csrc/src/leiden_kernel.cu:1054-1066 analog) is
  observed during that write, not computed by a job of its own.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from graft.algos.community import one_task, run_one_task, superstep_conf
from graft.checkpoint import Checkpointer, drop_spill, observed, scratch, truncate
from graft.graph import Graph


def _sequential_pagerank(
    verts: DataFrame,
    trans: DataFrame,
    n: int,
    alpha: float,
    tol: float,
    max_iter: int,
    fixed_iterations: int | None,
    sources: list | None = None,
    has_r0: bool = False,
) -> DataFrame:
    """The whole power iteration as ONE task (see
    :func:`graft.algos.community.one_task`). Semantics identical to the
    superstep loop:
    dangling mass redistributed along the teleport vector,
    missing-inflow vertices keep their teleport share, L1-delta stopping
    (or an exact ``fixed_iterations`` count). With ``sources`` the
    teleport vector concentrates on the source set (personalized
    PageRank; r0 = e)."""
    import numpy as np
    import pandas as pd

    iters = fixed_iterations if fixed_iterations is not None else max_iter
    probe = fixed_iterations is None
    source_set = set(sources) if sources else None

    def fn(vpdf: pd.DataFrame, epdf: pd.DataFrame) -> pd.DataFrame:
        ids = np.sort(vpdf["id"].to_numpy())
        pos = pd.Series(np.arange(len(ids)), index=ids)
        src = pos[epdf["src"].to_numpy()].to_numpy()
        dst = pos[epdf["dst"].to_numpy()].to_numpy()
        p = epdf["p"].to_numpy(dtype=np.float64)
        has_out = np.zeros(len(ids), dtype=bool)
        has_out[src] = True
        if source_set is None:
            teleport = (1.0 - alpha) / n
            r = np.full(len(ids), 1.0 / n)
        else:
            e = np.zeros(len(ids))
            hits = np.array([v in source_set for v in ids])
            e[hits] = 1.0 / int(hits.sum())
            r = e.copy()
        if has_r0:
            # warm start: caller-provided r0, renormalized to sum 1
            order = np.argsort(vpdf["id"].to_numpy())
            r0 = vpdf["r0"].to_numpy(dtype=np.float64)[order]
            s0 = float(r0.sum())
            if s0 > 0:
                r = r0 / s0
        for _ in range(iters):
            dangling = float(r[~has_out].sum())
            inflow = np.zeros(len(ids))
            np.add.at(inflow, dst, r[src] * p)
            if source_set is None:
                new_r = (teleport + alpha * dangling / n) + alpha * inflow
            else:
                new_r = (
                    (1.0 - alpha) * e + alpha * dangling * e + alpha * inflow
                )
            delta = float(np.abs(new_r - r).sum())
            r = new_r
            if probe and delta < tol:
                break
        return pd.DataFrame({"id": ids, "rank": r})

    # vertex keys are type-agnostic engine-wide (long-renumbered or raw
    # string actors) — mirror the input id type in the output schema
    id_type = verts.schema["id"].dataType.simpleString()
    nodes = verts.select("id", "r0") if has_r0 else verts.select("id")
    return run_one_task(
        fn, f"id {id_type}, rank double",
        trans.select("src", "dst", "p"), nodes,
    )


def pagerank(
    graph: Graph,
    alpha: float = 0.85,
    tol: float = 1e-6,
    max_iter: int = 500,
    fixed_iterations: int | None = None,
    truncate_every: int = 1,
    join_strategy: str = "auto",
    checkpointer: Checkpointer | None = None,
    sequential_threshold: int = 1_000_000,
    sources: list | None = None,
    initial_ranks: DataFrame | None = None,
) -> DataFrame:
    """Returns ``(id long, rank double)``; ranks sum to 1.

    ``initial_ranks``: warm start — an ``(id, rank)`` table (e.g. the
    previous run's output before new edges arrived via the streaming
    delta log). Vertices absent from it start at 1/N; the combined
    vector is renormalized to sum 1. The fixpoint is independent of r0,
    so a warm start changes ONLY iterations-to-convergence — on an
    incrementally grown graph the ranks barely move, so convergence
    mode stops in a few supersteps instead of tens (pytest-pinned via
    checkpoint metrics in tests/test_pagerank_warmstart.py). This is
    the incremental-recompute path for streaming-maintained graphs.

    Convergence: L1 norm of the rank delta < ``tol`` (the cuGraph
    epsilon convention the reference uses), unless ``fixed_iterations``
    runs an exact superstep count probe-free.

    ``sources``: personalized PageRank — the teleport vector
    concentrates uniformly on the given source vertices (restart set)
    instead of the whole graph, dangling mass restarts there too, and
    r0 = e. The per-superstep plan only changes by one broadcast join
    against the (tiny, materialized) source table.

    ``checkpointer``: every truncated superstep's ranks are saved (in
    ``fixed_iterations`` mode each ``truncate_every``-th step and the
    last), and a run resumes after the latest saved step, which takes
    precedence over ``initial_ranks``.

    ``sequential_threshold``: see :func:`graft.algos.community.one_task`.
    """
    spark = graph.edges.sparkSession
    verts = graph.vertices_cached()
    n = graph.num_vertices()
    if n == 0:
        return spark.createDataFrame([], "id long, rank double")

    # Validate the personalization set BEFORE dispatching: both paths
    # must raise the same clean ValueError (the sequential kernel would
    # otherwise surface an opaque executor ZeroDivisionError on an empty
    # restart set).
    n_src = 0
    if sources:
        hits = verts.where(F.col("id").isin(list(sources)))
        n_src = hits.count()
        if n_src == 0:
            raise ValueError("no source vertex present in the graph")

    if one_task(graph, sequential_threshold, checkpointer):
        v_in = verts
        if initial_ranks is not None:
            v_in = verts.join(
                initial_ranks.withColumnRenamed("rank", "_r0"), "id", "left"
            ).select(
                "id", F.coalesce("_r0", F.lit(1.0 / n)).alias("r0")
            )
        return _sequential_pagerank(
            v_in, graph.transition(), n, alpha, tol, max_iter,
            fixed_iterations, sources=sources,
            has_r0=initial_ranks is not None,
        )

    with scratch() as s:
        e_df = None
        if sources:
            e_df = truncate(hits.select("id", F.lit(1.0 / n_src).alias("e")))

        out_w = graph.edges.groupBy("src").agg(F.sum("weight").alias("s"))
        if join_strategy == "copartition":
            # The 10^12-vertex configuration: the rank table cannot be
            # broadcast, so the transition table is pre-partitioned by the
            # join key once (memoized on the Graph) — every superstep then
            # shuffles ONLY the small rank table to the matching
            # partitioning, and the edge table is probed in place (no
            # per-superstep driver-side broadcast build, no edge shuffle).
            # Pair with autoBroadcastJoinThreshold=-1,
            # preferSortMergeJoin=false and AQE partition coalescing off so
            # the co-partitioning is preserved (see bench.scaling_run).
            trans = graph.transition(copartitioned=True)
        else:
            trans = graph.transition()  # memoized on the Graph

        start = 0
        ranks = None
        if checkpointer is not None:
            resumed = checkpointer.resume()
            if resumed is not None:
                start, ranks = resumed
                start += 1
        if ranks is None:
            if initial_ranks is not None:
                # warm start, renormalized so the invariant Σrank = 1 holds
                # even when the vertex set changed since r0 was computed
                warm = verts.join(
                    initial_ranks.withColumnRenamed("rank", "_r0"), "id", "left"
                ).select("id", F.coalesce("_r0", F.lit(1.0 / n)).alias("rank"))
                warm = truncate(warm)
                s0 = warm.agg(F.sum("rank")).first()[0] or 1.0
                prev = warm
                ranks = truncate(
                    warm.select("id", (F.col("rank") / F.lit(s0)).alias("rank"))
                )
                drop_spill(prev)
            elif e_df is not None:
                ranks = truncate(
                    verts.join(e_df, "id", "left").select(
                        "id", F.coalesce("e", F.lit(0.0)).alias("rank")
                    )
                )
            else:
                ranks = truncate(verts.select("id", F.lit(1.0 / n).alias("rank")))

        # Structural probes, skipped entirely on the symmetrized Graph
        # contract (graph.symmetric: src/dst vertex sets coincide, so every
        # vertex has both in- and out-edges):
        # - dangling vertices (no out-edges) need their mass redistributed;
        # - source vertices (out-edges but no in-edges — possible on raw
        #   directed input even with zero danglings) receive no inflow, so
        #   the fill join must run or they silently lose their teleport mass.
        # Each probe is a full shuffle over the edge table — at 10^12 turns
        # these one-per-call jobs cost as much as several supersteps, which
        # is why the contract flag matters.
        dangling_ids = None
        has_dangling = False
        needs_fill = False
        if not graph.symmetric:
            dangling_ids = s.persist(verts.join(
                out_w, verts.id == out_w.src, "left_anti"
            ))
            has_dangling = dangling_ids.limit(1).count() > 0
            in_dsts = graph.edges.select(F.col("dst").alias("id")).distinct()
            needs_fill = has_dangling or (
                verts.join(in_dsts, "id", "left_anti").limit(1).count() > 0
            )

        # data-sized reducers + AQE off for the superstep loop — same
        # latency rationale as community.superstep_conf
        with superstep_conf(spark, graph.edge_rows()):
            teleport = (1.0 - alpha) / n
            if fixed_iterations is not None:
                max_iter = fixed_iterations
            for it in range(start, max_iter):
                dangling = 0.0
                if has_dangling:
                    dangling = (
                        ranks.join(dangling_ids, "id", "left_semi")
                        .agg(F.coalesce(F.sum("rank"), F.lit(0.0)))
                        .first()[0]
                    )
                base = teleport + alpha * dangling / n
                inflow = (
                    trans.join(ranks, trans.src == ranks.id)
                    .groupBy(trans.dst.alias("id"))
                    .agg(F.sum(F.col("rank") * F.col("p")).alias("inflow"))
                )
                if e_df is not None:
                    # personalized teleport: base mass lands on the source
                    # set only (tiny broadcast join), everyone else keeps
                    # just their alpha-damped inflow
                    new_ranks = (
                        verts.join(inflow, "id", "left")
                        .join(e_df, "id", "left")
                        .select(
                            "id",
                            (
                                F.lit(1.0 - alpha) * F.coalesce("e", F.lit(0.0))
                                + F.lit(alpha * dangling)
                                * F.coalesce("e", F.lit(0.0))
                                + F.lit(alpha)
                                * F.coalesce("inflow", F.lit(0.0))
                            ).alias("rank"),
                        )
                    )
                elif needs_fill:
                    new_ranks = verts.join(inflow, "id", "left").select(
                        "id",
                        (
                            F.lit(base)
                            + F.lit(alpha) * F.coalesce("inflow", F.lit(0.0))
                        ).alias("rank"),
                    )
                else:
                    new_ranks = inflow.select(
                        "id",
                        (F.lit(base) + F.lit(alpha) * F.col("inflow")).alias("rank"),
                    )

                if fixed_iterations is not None:
                    # probe-free: a step between truncations stays lazy
                    # and is neither spilled nor saved
                    delta = None
                    last = it == max_iter - 1
                    if not last and (it + 1 - start) % truncate_every:
                        ranks = new_ranks
                        continue
                    new_ranks = truncate(new_ranks)
                else:
                    # the L1 delta is observed during the spill write, so
                    # each superstep is ONE job instead of write +
                    # join-agg (prev ranks are a truncated parquet leaf,
                    # so referencing them twice in this one plan is
                    # stats-safe)
                    paired, obs = observed(
                        new_ranks.join(
                            ranks.select("id", F.col("rank").alias("_old")), "id"
                        ),
                        l1=F.sum(F.abs(F.col("rank") - F.col("_old"))),
                    )
                    new_ranks = truncate(paired.select("id", "rank"))
                    delta = obs.get["l1"]
                drop_spill(ranks)
                ranks = new_ranks
                if checkpointer is not None:
                    ranks = checkpointer.save(it, ranks, algo="pagerank", l1_delta=delta)
                    drop_spill(new_ranks)
                if delta is not None and delta < tol:
                    break

        s.keep(ranks)
    # verts is the Graph's memoized vertex table — stays cached for the
    # next algorithm on the same Graph (Graph.unpersist releases it)
    return ranks


def batch_personalized_pagerank(
    graph: Graph,
    sources: list,
    alpha: float = 0.85,
    fixed_iterations: int = 3,
) -> DataFrame:
    """Personalized PageRank for EVERY seed in one superstep loop:
    returns ``(source, id, rank double)`` — one full rank vector per
    seed, all seeds sharing every edge scan and shuffle.

    The multi-tenant form of :func:`pagerank` with ``sources``: n
    sequential PPR runs cost n × (iters × edge-pass); here the state is
    keyed by (source, id) so one gather join serves all seeds — the
    standard trick for seed batches (topic-sensitive PageRank tables,
    per-hub influence features) where the per-seed reached set is far
    smaller than the graph. State stays SPARSE (absent = 0.0: teleport
    mass enters only at each seed, so unreached vertices never
    materialize rows mid-loop); the output is densified against the
    vertex table once at the end, matching the single-seed operator's
    all-vertices contract.

    Iteration is the engine's PPR recurrence exactly
    (r ← (1−α)·1[id=source] + α·Pᵀr per seed), so each output slice
    equals `pagerank(g, sources=[s])` — pytest-pinned.
    """
    if not sources:
        raise ValueError("batch_personalized_pagerank needs seeds")
    verts = graph.vertices()
    seed_rows = verts.where(F.col("id").isin(list(sources)))
    n_found = seed_rows.count()
    if n_found != len(set(sources)):
        raise ValueError(
            f"batch_personalized_pagerank: only {n_found} of "
            f"{len(set(sources))} seeds exist in the graph"
        )
    seeds = seed_rows.select(
        F.col("id").alias("source"), "id", F.lit(1.0).alias("rank")
    )
    trans = graph.transition()
    with scratch() as s:
        state = truncate(seeds)
        with superstep_conf(graph.edges.sparkSession, graph.edge_rows()):
            for _ in range(fixed_iterations):
                gather = (
                    state.join(trans.withColumnRenamed("src", "id"), "id")
                    .groupBy("source", F.col("dst").alias("id"))
                    .agg(F.sum(F.col("rank") * F.col("p")).alias("g"))
                )
                parts = gather.select(
                    "source", "id", (F.lit(alpha) * F.col("g")).alias("r")
                ).unionAll(
                    seeds.select(
                        "source", "id", F.lit(1.0 - alpha).alias("r")
                    )
                )
                nxt = truncate(
                    parts.groupBy("source", "id").agg(
                        F.sum("r").alias("rank")
                    )
                )
                drop_spill(state)
                state = nxt
        s.keep(state)
    srcs = seeds.select("source")
    return (
        verts.crossJoin(F.broadcast(srcs))
        .join(state, ["source", "id"], "left")
        .select(
            "source",
            "id",
            F.round(F.coalesce("rank", F.lit(0.0)), 6).alias("rank"),
        )
    )
