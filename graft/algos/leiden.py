"""Leiden community detection (C16, custom_leiden.py:693-757 semantics),
and the level loop it shares with Louvain.

Level loop (:func:`_level_loop`): local moving (shared BSP machinery,
community.py) or, once a level is small enough, the one-task sequential
tail → the algorithm's contraction step → next level. Leiden's step is
convergence check → refinement → contraction by the *refined* partition
with initial communities from P (maintain_p, custom_leiden.py:493-523);
Louvain's (graft.algos.louvain) contracts by the moved partition. Final
labels flow down the mapping chain (propagate_partitions,
custom_leiden.py:659-677).

Refinement (merge_nodes_subset, custom_leiden.py:350-460 /
refine_kernel csrc/src/leiden_kernel.cu:599-761) is inherently
sequential *within* a community but embarrassingly parallel *across*
communities — exactly the shape of a cogrouped ``applyInPandas``: each
community's member table and induced edge table arrive as one Arrow
batch, the per-community loop runs in the native ``refine_batch``
kernel (graft._native; communities are small after local moving), and
no per-row Python ever touches the distributed path (input_hint
requirement).

Semantics preserved (SURVEY.md §1.4 item 7):
- restart from singletons inside each community S;
- only well-connected nodes move:   v_in ≥ γ·n_v·(S_tot − n_v);
- only into well-connected comms:   c_cut ≥ γ·n_c·(S_tot − n_c);
- only nodes still in singleton refined communities move;
- greedy best positive CPM delta with deterministic (min-label)
  tie-break — the reference's actual behavior (its exp(ΔH/θ) sampling
  branch is commented out, custom_leiden.py:428-450), so there is no θ
  parameter;
- connectedness totals use aggregate node counts, not edge weights
  (candidate_node_count, custom_leiden.py:159-165).
"""

from __future__ import annotations

from typing import Callable

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from graft.checkpoint import Checkpointer, row_count, scratch, truncate
from graft.algos.community import (
    Level,
    _strength,
    aggregate_graph,
    init_level,
    level_counts,
    move_nodes,
    propagate_labels,
    refine_reducers,
    superstep_conf,
)
from graft.algos import seq_tail
from graft.graph import Graph


def _refine_bucket_native(
    nodes_pdf: pd.DataFrame, edges_pdf: pd.DataFrame, gamma: float, seed: int
) -> pd.DataFrame:
    """Refine one cogroup bucket of communities in a single native
    batch call: each ``(community, _b)`` group is refined on its own
    (one rng stream per community).

    Spark only guarantees cogroup batches are grouped by key, not
    ordered, so :func:`seq_tail.refine_groups` anchors the seeded visit
    permutation and float accumulation to members ordered by id and
    edges by (u, v); otherwise results would drift across parallelism
    levels. Each group gates well-connectedness against ``s_tot_full``,
    the WHOLE community's size, even when the scale guard split the
    community into hash sub-buckets (custom_leiden.py:415-419)."""
    ids = nodes_pdf["id"].to_numpy(dtype=np.int64)
    comm = nodes_pdf["community"].to_numpy(dtype=np.int64)
    # ``assign`` is an inner join on the per-community sizes
    assert not nodes_pdf["s_tot_full"].isna().any()
    group = nodes_pdf.groupby(["community", "_b"], sort=False).ngroup()
    edges = edges_pdf.reindex(columns=["u", "v", "weight"])
    uu = edges["u"].to_numpy(dtype=np.int64)
    vv = edges["v"].to_numpy(dtype=np.int64)
    order_e = np.lexsort((vv, uu))
    uu, vv = uu[order_e], vv[order_e]
    # an intra edge carries its endpoints' (community, _b), which hashes
    # to this same bucket: both endpoints are rows of ``nodes_pdf``
    by_id = np.argsort(ids)
    eu = by_id[np.searchsorted(ids, uu, sorter=by_id)]
    ev = by_id[np.searchsorted(ids, vv, sorter=by_id)]
    assert np.array_equal(ids[eu], uu) and np.array_equal(ids[ev], vv)
    refined = seq_tail.refine_groups(
        ids, group.to_numpy(dtype=np.int64),
        nodes_pdf["agg_count"].to_numpy(dtype=np.int64),
        nodes_pdf["s_tot_full"].to_numpy(dtype=np.int64),
        comm, eu, ev,
        edges["weight"].to_numpy(dtype=np.float64)[order_e], gamma, seed,
    )
    return pd.DataFrame({"id": ids, "refined": refined})


def refine_partition(
    level: Level, gamma: float, seed: int,
    max_community_size: int = 200_000,
) -> DataFrame:
    """C11/C12: refined partition of the current level's vertices.

    Returns ``(id long, refined long)`` where ``refined`` is the min-…
    founding-member id of the refined community (globally unique).

    Scale guard: one community = one Arrow batch, so a hub community of
    10^7 members would OOM a single worker. Communities larger than
    ``max_community_size`` are split into deterministic hash sub-buckets
    refined independently (cross-bucket merges are forgone — a bounded
    approximation that only ever leaves extra singletons, never produces
    an invalid partition; the well-connectedness gate still uses the
    full-community ``s_tot``). Communities at or under the cap — all of
    them, at every tested scale — follow the exact reference semantics.
    """
    sizes = level.vertices.groupBy("community").agg(
        F.count(F.lit(1)).alias("_sz"),
        F.sum("agg_count").alias("s_tot_full"),
    ).select(
        "community",
        "s_tot_full",
        F.greatest(
            F.ceil(F.col("_sz") / F.lit(max_community_size)), F.lit(1)
        ).cast("long").alias("_nsub"),
    )
    # Materialize the per-vertex assignment BEFORE the edge joins: as a
    # parquet leaf with true file-size stats (a few MB per million
    # vertices) the static planner broadcasts it into both endpoint
    # joins, so the (much larger) edge table is scanned map-side and
    # shuffled exactly ONCE — the cogroup exchange on (community, _b).
    # Unmaterialized, Catalyst's size-only estimator saw a join product,
    # declined to broadcast, and sort-merge-shuffled the edge table for
    # BOTH endpoint joins (3 full edge shuffles per refinement instead
    # of 1) — the residual that kept the otherwise CPU-bound refinement
    # stage at 0.68 efficiency 8→32 on one memory bus (VERDICT r3 #3).
    # At vertex counts past the broadcast threshold the planner falls
    # back to a shuffled join on its own — the right call at that scale.
    assign = truncate(
        level.vertices.select("id", "community", "agg_count")
        .join(sizes, "community")
        .select(
            "id", "community", "agg_count", "s_tot_full",
            F.pmod(F.xxhash64("id", F.lit(seed)), F.col("_nsub")).alias("_b"),
        )
    )
    a_u = assign.select(
        F.col("id").alias("u"), F.col("community").alias("cu"),
        F.col("_b").alias("bu"),
    )
    a_v = assign.select(
        F.col("id").alias("v"), F.col("community").alias("cv"),
        F.col("_b").alias("bv"),
    )
    intra = (
        level.edges.where(F.col("src") <= F.col("dst"))
        .select(F.col("src").alias("u"), F.col("dst").alias("v"), "weight")
        .join(a_u, "u")
        .join(a_v, "v")
        .where((F.col("cu") == F.col("cv")) & (F.col("bu") == F.col("bv")))
        .select(
            F.col("cu").alias("community"), F.col("bu").alias("_b"),
            "u", "v", "weight",
        )
    )

    # Cogroup on a BUCKET of (community, _b), not the key itself: local
    # moving leaves ~tens of thousands of small communities, and one
    # Arrow group per community pays Spark's per-group overhead (batch
    # framing + Python invocation) ~40k times — measured r5 as the
    # majority of the 20 s refinement wall on the 2M-edge level. With
    # ~64 communities per bucket the overhead amortizes while the
    # per-community reference semantics (and the scale guard's _b
    # sub-bucketing) are untouched: the kernel segments the bucket by
    # (community, _b) and refines every segment in one native call.
    # Bucket count scales with the session's reducer setting, so larger
    # clusters get proportionally more buckets.
    spark = level.vertices.sparkSession
    n_buckets = 8 * max(
        1, int(spark.conf.get("spark.sql.shuffle.partitions"))
    )
    bucket = F.pmod(
        F.xxhash64("community", "_b", F.lit(seed)), F.lit(n_buckets)
    ).alias("_g")

    def fn(nodes_pdf: pd.DataFrame, edges_pdf: pd.DataFrame) -> pd.DataFrame:
        if nodes_pdf.empty:
            return pd.DataFrame({"id": [], "refined": []})
        return _refine_bucket_native(nodes_pdf, edges_pdf, gamma, seed)

    return (
        assign.select("id", "community", "agg_count", "s_tot_full",
                      "_b", bucket)
        .groupBy("_g")
        .cogroup(
            intra.select("community", "_b", "u", "v", "weight", bucket)
            .groupBy("_g")
        )
        .applyInPandas(fn, schema="id long, refined long")
    )


def _maintained_vertices(
    vertices: DataFrame, refined: DataFrame, new_edges: DataFrame
) -> DataFrame:
    """C13 maintain_p + aggregate: supernodes = refined communities, with
    *initial* communities = the P community of their members
    (custom_leiden.py:493-523 — all members share it by construction)."""
    joined = vertices.join(refined, "id")
    return (
        joined.groupBy(F.col("refined").alias("id"))
        .agg(
            F.min("community").alias("community"),
            F.sum("agg_count").alias("agg_count"),
        )
        .join(_strength(new_edges), "id", "left")
        .select(
            "id", "community", "agg_count", F.coalesce("k", F.lit(0.0)).alias("k")
        )
    )


# a level whose VERTEX set fits one task goes sequential even when its
# edge multigraph is still wide (contracted levels of structureless
# graphs shrink vertices geometrically but keep most edges distinct).
# The binding memory constraint is the EDGE-ROW guard, not the vertex
# count: the Arrow cogroup batch carries ~32 B per symmetrized edge row
# (two longs + a double + framing), so 8M rows ≈ 256 MB in one task —
# comfortable against the multi-GB executor heap — while per-vertex
# kernel state (CSR slots, labels, queue) is ~50 B/vertex, i.e. ~25 MB
# even at 500k vertices. r3 capped vertices at 100k, which kept the
# 200k-vertex / 4M-row powerlaw graph on the BSP path at 132 s when the
# tail kernel finishes it in ~70 s (VERDICT r3 "wrong" #1); 500k admits
# every graph the edge guard admits in practice (a 500k-vertex graph
# with <8M multigraph rows averages degree ≤16).
_TAIL_MAX_VERTICES = 500_000
_TAIL_MAX_EDGE_ROWS = 8_000_000


def _tail_ready(
    n_edge_rows: int, n_verts: int, tail_edges: int,
    max_vertices: int | None = None,
) -> bool:
    """The tail gate of the level loop: True when the remaining levels
    should finish as ONE executor task via the sequential tail kernel
    (graft.algos.seq_tail) — at that size every distributed sweep costs
    more in job latency than the whole remaining computation.

    A level passes when its edge table has at most ``tail_edges`` rows,
    OR its vertex set is at most ``max_vertices`` (default
    ``_TAIL_MAX_VERTICES``) with the edge multigraph under the
    ``_TAIL_MAX_EDGE_ROWS`` byte guard. ``tail_edges=0`` forces BSP at
    every level. The 1M-row default of ``sequential_tail_edges`` is
    backed by the r3 CSR/queue kernel rewrite: a full multi-level CPM
    tail over 500k symmetrized rows measures ~4 s in one task (was
    ~60 s as dict-of-dict loops), versus tens of seconds for the BSP
    sweeps it replaces; the vertex trigger covers contracted levels of
    structureless graphs, whose vertex count shrinks geometrically while
    the edge multigraph stays wide (BSP sweeps there burn seconds of
    latency per handful of movers). Bench harnesses shrink
    ``max_vertices`` to keep the distributed level-0 path measured."""
    if not tail_edges:
        return False
    cap = _TAIL_MAX_VERTICES if max_vertices is None else max_vertices
    return n_edge_rows <= tail_edges or (
        n_verts <= cap and n_edge_rows <= _TAIL_MAX_EDGE_ROWS
    )


def _level_loop(
    graph: Graph,
    contract: Callable[..., tuple[DataFrame, Level] | None],
    *,
    algo: str,
    objective: str,
    gamma: float,
    m: float,
    max_levels: int,
    max_sweeps: int,
    seed: int,
    checkpointer: Checkpointer | None,
    sequential_tail_edges: int,
    tail_max_vertices: int | None,
    initial_membership: DataFrame | None,
) -> DataFrame:
    """The level loop of Leiden and Louvain; ``(id, community)`` final
    labels on the original vertices, a spill of their own.

    Per level: count it (:func:`level_counts`); once it passes the tail
    gate (:func:`_tail_ready`) the remaining levels run as one executor
    task and the loop ends. Otherwise BSP local moving
    (:func:`move_nodes`, seed ``seed + level``, one
    ``Checkpointer.save`` per sweep), then the algorithm's contraction
    step ``contract(lvl, level, n_rows, n_verts, n_moves)``. It gets
    the moved level, its edge rows and vertex count and the moves
    committed; it returns the level's mapping (two columns, child then
    parent, read by position) and the contracted level, or None when
    the level converged, which ends the loop. With a checkpointer each
    contracted level's mapping, edges and vertices are saved (a save of
    a spilled leaf runs no Spark job), and a later call resumes after
    the deepest level saved whole — identical final labels to an
    uninterrupted run.

    ``initial_membership`` seeds level 0's communities (vertices absent
    from it start as singletons). The labels fold the mapping chain
    down to the original vertices and end with the final level's
    communities. The loop's scratch owns every spill the loop or a step
    writes and every frame it persists; the caller's cached edge frame
    is never evicted (:meth:`Scratch.persist`), and each level's edges
    are released once the level is contracted away.
    """
    with scratch() as s:
        base_ids = s.persist(graph.vertices())
        level = init_level(graph.edges)
        if initial_membership is not None:
            level.vertices = level.vertices.join(
                initial_membership.withColumnRenamed("community", "_c0"),
                "id",
                "left",
            ).select(
                "id",
                F.coalesce("_c0", F.col("id")).alias("community"),
                "agg_count",
                "k",
            )
        level.edges = s.persist(level.edges)
        mappings: list[DataFrame] = []
        start_lvl = 0
        if checkpointer is not None:
            # mid-aggregation-level resume (north_rule): reload the
            # deepest fully-persisted level (edges + vertices + mapping)
            # and the mapping chain below it
            done = -1
            for k in range(max_levels):
                names = [f"level={k}/{t}" for t in ("mapping", "edges", "vertices")]
                if all(checkpointer.has_table(n) for n in names):
                    done = k
                else:
                    break
            if done >= 0:
                mappings = [
                    checkpointer.load_table(f"level={k}/mapping")
                    .toDF("child", "parent")
                    for k in range(done + 1)
                ]
                s.release(level.edges)
                level = Level(
                    edges=checkpointer.load_table(f"level={done}/edges"),
                    vertices=checkpointer.load_table(f"level={done}/vertices"),
                )
                start_lvl = done + 1
        tail_at_base = False
        for lvl in range(start_lvl, max_levels):
            # level 0 is the Graph's own edge table: its memoized count
            n_rows, n_verts = level_counts(
                level, graph.edge_rows() if lvl == 0 else None
            )
            if _tail_ready(
                n_rows, n_verts, sequential_tail_edges, tail_max_vertices,
            ):
                tail = truncate(
                    seq_tail.run_tail_distributed(
                        level.edges, level.vertices, objective, gamma, m,
                        seed + lvl,
                    )
                )
                level = Level(edges=level.edges, vertices=tail)
                # the whole run was one tail task over the base vertex
                # set: the label fold would be an identity join (no
                # mappings, tail covers every base id) — skip it (r6)
                tail_at_base = lvl == 0
                break

            # the BSP path reads the level's edge table several times; a
            # contracted level's table is a parquet leaf, cached only
            # here (a tail level reads it once)
            level.edges = s.persist(level.edges)

            def _on_sweep(it, n_moves, verts, _lvl=lvl):
                if checkpointer is not None:
                    checkpointer.save(
                        _lvl * 1000 + it, verts, algo=algo,
                        level=_lvl, sweep=it, moves=n_moves,
                    )

            level, n_moves = move_nodes(
                level, objective=objective, gamma=gamma, m=m,
                max_sweeps=max_sweeps, seed=seed + lvl, on_sweep=_on_sweep,
                n_edge_rows=n_rows,
            )
            step = contract(lvl, level, n_rows, n_verts, n_moves)
            if step is None:
                break
            mapping, nxt = step
            mappings.append(mapping.toDF("child", "parent"))
            if checkpointer is not None:
                checkpointer.save_table(f"level={lvl}/mapping", mapping)
                nxt = Level(
                    edges=checkpointer.save_table(f"level={lvl}/edges", nxt.edges),
                    vertices=checkpointer.save_table(
                        f"level={lvl}/vertices", nxt.vertices
                    ),
                )
            s.release(level.edges)
            level = nxt

        if tail_at_base:
            # level-0 tail: its output IS the final label table, already
            # a truncated leaf over the base vertex set
            s.keep(level.vertices)
            return level.vertices.select("id", "community")
        # fold orig id → coarsest node → that node's final community
        final = truncate(propagate_labels(base_ids, mappings + [
            level.vertices.select(
                F.col("id").alias("child"),
                F.col("community").alias("parent"),
            )
        ]))
        s.keep(final)
    return final


def leiden(
    graph: Graph,
    gamma: float = 0.05,
    max_levels: int = 10,
    max_sweeps: int = 15,
    seed: int = 1234,
    checkpointer: Checkpointer | None = None,
    sequential_tail_edges: int = 1_000_000,
    tail_max_vertices: int | None = None,
    return_quality: bool = False,
    initial_membership: DataFrame | None = None,
) -> DataFrame:
    """Returns ``(id long, community long)`` final labels on original
    vertices. Deterministic for a fixed seed (SURVEY.md §1.4 item 10).

    ``initial_membership``: warm start — an ``(id, community)`` table
    seeding level 0 instead of singletons. The reference's maintain_p
    invariant (custom_leiden.py:693-757 seeds from singletons, but
    :493-523's maintained partition accepts ANY starting P) imposes no
    obstacle: local moving starts from the seed partition, refinement
    still splits each P community into well-connected parts, and both
    the BSP and sequential-tail paths honor the seed (seq_tail reads a
    ``community`` column when present). Vertices absent from the seed
    start as singletons. Greedy local moving never decreases the CPM
    objective, so quality(result) >= quality(seed) (pytest-pinned);
    like Louvain's the fixpoint is seed-DEPENDENT — a warm run may
    legitimately differ from a cold run. On an incrementally-grown
    graph, seeding with the previous refresh's labels converges in
    fewer sweeps (graft.streaming.incremental_leiden).

    ``return_quality=True`` returns ``(labels, cpm_quality)`` — the
    cugraph.leiden-shaped API (examples/test2.py:71,
    examples/cugraph-cpp-api/leiden_cugraph.cpp:93-101 both return the
    (parts, quality) pair); the default stays labels-only for backward
    compatibility. The quality is one extra closed-form job
    (graft.quality.cpm) over the final labels, not a per-level cost.

    ``max_sweeps`` caps BSP local moving per level (default mirrors the
    reference's hard 10-iteration cap, csrc/src/leiden_kernel.cu:1211-
    1213; deeper levels pick up what a capped level leaves). Levels run
    in :func:`_level_loop`, shared with Louvain; ``sequential_tail_edges``
    and ``tail_max_vertices`` feed its tail gate (:func:`_tail_ready`),
    and ``sequential_tail_edges=0`` forces the BSP path at every level.
    Leiden's contraction step refines the moved partition and contracts
    by the refined one; a level converges when local moving leaves every
    node singleton or refinement does."""

    def contract(lvl, level, n_rows, n_verts, n_moves):
        spark = level.edges.sparkSession
        with superstep_conf(spark, n_rows) as sp:
            # A8 convergence (custom_leiden.py:601-609): every community
            # one (super)node. One bookkeeping job per level (AQE off:
            # one stage chain, not one job per stage)
            n_comms = level.vertices.agg(
                F.countDistinct("community")
            ).first()[0]
            if n_comms == n_verts:
                return None  # all singletons
            # the refinement cogroup is task-bound, so its reducer
            # count follows the level's size (refine_reducers), not the
            # superstep's shuffle sizing
            spark.conf.set(
                "spark.sql.shuffle.partitions",
                str(refine_reducers(
                    n_rows, spark.sparkContext.defaultParallelism, sp,
                )),
            )
            refined = truncate(refine_partition(level, gamma, seed + lvl))
            spark.conf.set("spark.sql.shuffle.partitions", str(sp))
            new_edges = truncate(
                aggregate_graph(
                    level.edges,
                    refined.select("id", F.col("refined").alias("community")),
                )
            )
            new_vertices = truncate(
                _maintained_vertices(level.vertices, refined, new_edges)
            )
        # each refined community is one supernode, so as many supernodes
        # as vertices means refinement kept every node singleton
        if row_count(new_vertices) == n_verts:
            return None
        # the refined leaf is the (child, parent) mapping itself, so a
        # checkpointed level saves it without a write
        return refined, Level(edges=new_edges, vertices=new_vertices)

    final = _level_loop(
        graph, contract, algo="leiden", objective="cpm", gamma=gamma, m=1.0,
        max_levels=max_levels, max_sweeps=max_sweeps, seed=seed,
        checkpointer=checkpointer,
        sequential_tail_edges=sequential_tail_edges,
        tail_max_vertices=tail_max_vertices,
        initial_membership=initial_membership,
    )
    if return_quality:
        from graft.quality import cpm

        return final, cpm(graph.edges, final, gamma)
    return final
