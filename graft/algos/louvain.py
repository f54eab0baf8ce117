"""Louvain community detection (C17, custom_louvain.py:345-374 semantics).

Level loop: local moving (modularity objective) to convergence →
contract communities to supernodes → repeat until a level commits no
moves. Labels propagate back to original vertices through the
child→parent mapping chain. ``m`` is constant across levels (the
contraction preserves total edge weight by construction).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from graft.checkpoint import Checkpointer, truncate
from graft.algos.community import (
    _is_persisted,
    Level,
    aggregate_graph,
    aggregate_vertices,
    init_level,
    level_counts,
    move_nodes,
    propagate_labels,
    superstep_conf,
)
from graft.graph import Graph


def louvain(
    graph: Graph,
    max_levels: int = 10,
    max_sweeps: int = 15,
    seed: int = 1234,
    checkpointer: Checkpointer | None = None,
    sequential_tail_edges: int = 1_000_000,
    tail_max_vertices: int | None = None,
    return_quality: bool = False,
    initial_membership: DataFrame | None = None,
) -> DataFrame:
    """Returns ``(id long, community long)`` — final labels on the
    original vertices; community ids are supernode ids at the coarsest
    level (stable under the deterministic seed).

    ``initial_membership``: warm start — an ``(id, community)`` table
    seeding level 0 instead of singletons (the python-louvain
    ``best_partition(graph, partition=...)`` API shape). Vertices
    absent from it start as singletons. Local moving still operates at
    node granularity, so seeded communities CAN be split or dissolved —
    this is a starting point, not a constraint. Greedy refinement never
    decreases modularity, so quality(result) ≥ quality(seed)
    (pytest-pinned); on an incrementally-grown graph seeding with the
    previous refresh's labels converges in far fewer sweeps
    (graft.streaming.incremental_louvain). Unlike the PageRank/CC warm
    starts the fixpoint is seed-DEPENDENT (greedy local optimum) —
    results may legitimately differ from a cold run.

    ``return_quality=True`` returns ``(labels, modularity)`` — the
    cugraph.louvain-shaped API (examples/test2.py:75 returns the
    (parts, modularity) pair); default stays labels-only for backward
    compatibility.

    ``max_sweeps`` caps BSP local moving per level; levels whose edge
    table fits one Arrow batch (≤ ``sequential_tail_edges`` rows) finish
    as ONE executor task via the sequential tail kernel (see
    graft.algos.leiden.leiden docstring for the 1M-row default's
    timing justification; 0 forces BSP everywhere)."""
    m = graph.total_edge_weight()
    base_ids = graph.vertices().persist()
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
    # ownership (r6): see leiden — never evict a cache the caller owns
    _owns_edges = not _is_persisted(level.edges)
    level.edges = level.edges.persist()

    def _release(df, owned):
        if owned:
            df.unpersist()

    mappings: list[DataFrame] = []
    start_lvl = 0
    if checkpointer is not None:
        # mid-level resume: reload the deepest fully-persisted level
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
                for k in range(done + 1)
            ]
            _release(level.edges, _owns_edges)
            _owns_edges = True
            level = Level(
                edges=checkpointer.load_table(f"level={done}/edges"),
                vertices=checkpointer.load_table(f"level={done}/vertices"),
            )
            start_lvl = done + 1
    for lvl in range(start_lvl, max_levels):
        from graft.algos.leiden import _tail_ready

        n_rows, n_verts = level_counts(level)
        if _tail_ready(
            n_rows, n_verts, sequential_tail_edges, tail_max_vertices,
        ):
            from graft.algos.seq_tail import run_tail_distributed

            tail = truncate(
                run_tail_distributed(
                    level.edges, level.vertices, "modularity", 1.0, m,
                    seed + lvl,
                )
            )
            if lvl == 0 and start_lvl == 0 and not mappings:
                # level-0 tail over the base vertex set: the fold below
                # would be an identity join — return directly (r6)
                base_ids.unpersist()
                _release(level.edges, _owns_edges)
                result = tail.select("id", "community")
                if return_quality:
                    from graft.quality import modularity

                    return result, modularity(graph.edges, result)
                return result
            mappings.append(
                tail.select(
                    F.col("id").alias("child"),
                    F.col("community").alias("parent"),
                )
            )
            break

        # the BSP path reads the level's edge table several times; a
        # contracted level's table is a parquet leaf, cached only here
        # (a tail level reads it once)
        if not _is_persisted(level.edges):
            level.edges = level.edges.persist()

        def _on_sweep(it, n_moves, verts, _lvl=lvl):
            if checkpointer is not None:
                checkpointer.save(
                    _lvl * 1000 + it, verts, algo="louvain",
                    level=_lvl, sweep=it, moves=n_moves,
                )

        level, n_moves = move_nodes(
            level, objective="modularity", m=m,
            max_sweeps=max_sweeps, seed=seed + lvl, on_sweep=_on_sweep,
            n_edge_rows=n_rows,
        )
        # one bookkeeping job per level (AQE off, as in leiden): the
        # community count covers both the all-singletons and the
        # no-compression exits
        with superstep_conf(level.edges.sparkSession, n_rows):
            n_comms = level.vertices.agg(
                F.countDistinct("community")
            ).first()[0]
        if n_moves == 0 or n_comms == n_verts:
            if initial_membership is not None and not mappings:
                # warm level-0 labels are not identity even with zero
                # moves — record them, or the seeded structure would
                # collapse back to singletons on the early exit
                mappings.append(
                    truncate(
                        level.vertices.select(
                            F.col("id").alias("child"),
                            F.col("community").alias("parent"),
                        )
                    )
                )
            break  # singletons or no compression — converged
        mappings.append(
            truncate(
                level.vertices.select(
                    F.col("id").alias("child"), F.col("community").alias("parent")
                )
            )
        )
        new_edges = truncate(aggregate_graph(level.edges, level.vertices))
        new_vertices = aggregate_vertices(level.vertices, new_edges)
        if checkpointer is not None:
            checkpointer.save_table(f"level={lvl}/mapping", mappings[-1])
            new_edges = checkpointer.save_table(f"level={lvl}/edges", new_edges)
            new_vertices = checkpointer.save_table(
                f"level={lvl}/vertices", new_vertices
            )
        _release(level.edges, _owns_edges)
        _owns_edges = True
        level = Level(edges=new_edges, vertices=new_vertices)
    result = propagate_labels(base_ids, mappings)
    result = truncate(result)
    base_ids.unpersist()
    if return_quality:
        from graft.quality import modularity

        q = modularity(graph.edges, result)
        _release(level.edges, _owns_edges)
        return result, q
    _release(level.edges, _owns_edges)
    return result
