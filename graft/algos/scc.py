"""Strongly connected components on a DIRECTED graph.

cugraph API-family parity: the ecosystem the reference wires
(examples/cugraph-cpp-api/) ships ``strongly_connected_components``
alongside the weakly-connected ``connected_components`` the engine
already carries (components.py). On the engine's symmetrized tables SCC
degenerates to WCC; the operator exists for raw directed input
(``Graph(edges, symmetric=False)``), e.g. the turn-flow actor graph
(``graft.io.transcripts_to_directed_edges``).

Two execution paths, chosen by :func:`graft.algos.community.one_task`:

- **One task**: iterative Tarjan over a CSR built inside ONE executor
  task. Exact, O(V+E), no per-round job latency.

- **Distributed coloring** (Orzan's algorithm — the standard
  shuffle-friendly SCC: forward max-label propagation to a fixpoint
  partitions the remaining vertices into color sets rooted at their
  own maximum; a backward reachability sweep restricted to each color
  carves out the root's SCC; detected SCCs leave the graph and the
  outer loop repeats). Every inner round is one join + one groupBy on
  the remaining edge set — the same superstep plan shape as
  connected_components — and the remaining sets shrink monotonically.
  All singleton SCCs of a DAG resolve in ONE outer pass (every vertex
  whose color equals itself is its own root), so the outer-loop depth
  is bounded by the nesting of non-trivial SCCs along max-id chains,
  not by n.

Labels are exact and deterministic: ``comp`` = min vertex id in the
SCC (lexicographic for string keys), directly comparable to a
transitive-closure oracle (mutual reachability), which is how the
driver contract certifies it (``scc_components`` in
``__spark_entry__``).
"""

from __future__ import annotations

import warnings

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from graft.algos.community import one_task, run_one_task, superstep_conf
from graft.checkpoint import drop_spill, observed, row_count, scratch, truncate
from graft.graph import Graph


def _sequential_scc(graph: Graph) -> DataFrame:
    """Iterative Tarjan over the whole directed edge table as ONE task
    (see :func:`graft.algos.community.one_task`)."""
    import numpy as np
    import pandas as pd

    def fn(vpdf: pd.DataFrame, epdf: pd.DataFrame) -> pd.DataFrame:
        ids = np.sort(vpdf["id"].unique())
        pos = pd.Series(np.arange(len(ids)), index=ids)
        n = len(ids)
        src = pos[epdf["src"].to_numpy()].to_numpy()
        dst = pos[epdf["dst"].to_numpy()].to_numpy()
        # CSR over out-edges
        order = np.argsort(src, kind="stable")
        src, dst = src[order], dst[order]
        indptr = np.zeros(n + 1, dtype=np.int64)
        np.add.at(indptr, src + 1, 1)
        indptr = np.cumsum(indptr)
        indices = dst

        index = np.full(n, -1, dtype=np.int64)
        low = np.zeros(n, dtype=np.int64)
        on_stack = np.zeros(n, dtype=bool)
        comp = np.full(n, -1, dtype=np.int64)  # position of min id in SCC
        stack: list[int] = []
        counter = 0
        for root in range(n):
            if index[root] != -1:
                continue
            work = [(root, int(indptr[root]))]
            index[root] = low[root] = counter
            counter += 1
            stack.append(root)
            on_stack[root] = True
            while work:
                v, ptr = work[-1]
                if ptr < indptr[v + 1]:
                    work[-1] = (v, ptr + 1)
                    w = int(indices[ptr])
                    if index[w] == -1:
                        index[w] = low[w] = counter
                        counter += 1
                        stack.append(w)
                        on_stack[w] = True
                        work.append((w, int(indptr[w])))
                    elif on_stack[w]:
                        if index[w] < low[v]:
                            low[v] = index[w]
                else:
                    work.pop()
                    if work:
                        p = work[-1][0]
                        if low[v] < low[p]:
                            low[p] = low[v]
                    if low[v] == index[v]:
                        members = []
                        while True:
                            w = stack.pop()
                            on_stack[w] = False
                            members.append(w)
                            if w == v:
                                break
                        # ids sorted ascending → min position == min id
                        comp[members] = min(members)
        return pd.DataFrame({"id": ids, "comp": ids[comp]})

    nodes = graph.vertices()
    id_type = nodes.schema["id"].dataType.simpleString()
    return run_one_task(
        fn, f"id {id_type}, comp {id_type}",
        graph.edges.select("src", "dst"), nodes,
    )


def strongly_connected_components(
    graph: Graph,
    max_iter: int = 200,
    sequential_threshold: int = 1_000_000,
) -> DataFrame:
    """Returns ``(id, comp)`` with comp = min vertex id in the SCC.

    ``graph.edges`` is taken as DIRECTED (src → dst); pass the raw
    asymmetric table via ``Graph(edges, symmetric=False)``. On a
    symmetrized table the result equals ``connected_components``.
    ``sequential_threshold``: see :func:`graft.algos.community.one_task`.
    """
    if one_task(graph, sequential_threshold):
        return _sequential_scc(graph)
    return _coloring_scc(graph, max_iter)


def _max_forward_fixpoint(
    edges: DataFrame, verts: DataFrame, max_iter: int
) -> DataFrame:
    """color(v) = max over {v} ∪ {colors flowing along u→v edges},
    iterated to fixpoint — one join + groupBy-max per round."""
    colors = truncate(verts.select("id", F.col("id").alias("color")))
    for _ in range(max_iter):
        inflow = (
            edges.join(colors, edges.src == colors.id)
            .groupBy(edges.dst.alias("id"))
            .agg(F.max("color").alias("up"))
        )
        step, obs = observed(
            colors.join(inflow, "id", "left").select(
                "id", F.greatest("color", F.coalesce("up", "color"))
                .alias("color"), F.col("color").alias("old"),
            ),
            changed=F.sum((F.col("color") != F.col("old")).cast("long")),
        )
        new_colors = truncate(step.select("id", "color"))
        drop_spill(colors)
        colors = new_colors
        if not obs.get["changed"]:
            return colors
    raise RuntimeError(
        f"SCC forward coloring did not converge in {max_iter} rounds"
    )


def _coloring_scc(graph: Graph, max_iter: int) -> DataFrame:
    spark = graph.edges.sparkSession
    with scratch() as s:
        edges_all = truncate(
            graph.edges.select("src", "dst")
            .where(F.col("src") != F.col("dst"))
            .distinct()
        )
        verts = truncate(graph.vertices())
        done: DataFrame | None = None
        with superstep_conf(spark, graph.edge_rows()):
            for _outer in range(max_iter):
                if row_count(verts) == 0:
                    break
                colors = _max_forward_fixpoint(edges_all, verts, max_iter)
                # backward reach from each color root, restricted to the
                # root's color set: member(u) if u is its own root, or
                # u→v with member(v) and color(u)==color(v)
                ec = (
                    edges_all.join(
                        colors.withColumnRenamed("id", "src")
                        .withColumnRenamed("color", "c_src"), "src")
                    .join(
                        colors.withColumnRenamed("id", "dst")
                        .withColumnRenamed("color", "c_dst"), "dst")
                    .where(F.col("c_src") == F.col("c_dst"))
                    .select("src", "dst")
                )
                ec = truncate(ec)
                members = truncate(
                    colors.where(F.col("id") == F.col("color"))
                    .select("id", "color")
                )
                frontier = members
                for _ in range(max_iter):
                    step = (
                        ec.join(
                            frontier.withColumnRenamed("id", "dst"), "dst")
                        .select(F.col("src").alias("id"), "color")
                        .distinct()
                        .join(members, ["id", "color"], "left_anti")
                    )
                    step = truncate(step)
                    if row_count(step) == 0:
                        break
                    members = truncate(members.unionAll(step))
                    frontier = step
                # detected SCCs: relabel color → min member id, emit, shrink
                found = members.groupBy("color").agg(F.min("id").alias("comp"))
                out = members.join(found, "color").select("id", "comp")
                out = truncate(out)
                done = out if done is None else done.unionAll(out)
                done = truncate(done)
                verts = truncate(
                    verts.join(out.select("id"), "id", "left_anti")
                )
                edges_all = truncate(
                    edges_all
                    .join(verts.withColumnRenamed("id", "src"), "src", "semi")
                    .join(verts.withColumnRenamed("id", "dst"), "dst", "semi")
                    .select("src", "dst")
                )
            else:
                warnings.warn(
                    f"strongly_connected_components did not finish in "
                    f"{max_iter} outer rounds — remaining vertices labeled "
                    "as singletons may be wrong",
                    stacklevel=2,
                )
                # the result reads the detected SCCs and the leftover ids
                s.keep(done, verts)
                leftover = verts.select("id", F.col("id").alias("comp"))
                done = leftover if done is None else done.unionAll(leftover)
        s.keep(done)
    if done is None:
        id_type = graph.vertices().schema["id"].dataType.simpleString()
        return spark.createDataFrame([], f"id {id_type}, comp {id_type}")
    return done
