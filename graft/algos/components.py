"""Connected components (capability X7, required by the north rule).

Two modes:

- ``"propagate"`` — classic min-label propagation: each superstep every
  vertex takes the min label among itself and its neighbors. O(diameter)
  supersteps, one join + one groupBy each. Right choice for link graphs
  (small diameter) and exactly matches the fixed-round SQL oracle.

- ``"star"`` — the large-star/small-star alternating algorithm
  (Kiveris et al., "Connected Components in MapReduce and Beyond"),
  converging in O(log n) rounds regardless of diameter — the 100-TB
  path for adversarial graphs (long chains from mega-conversations).

Both return exact per-vertex component labels = min vertex id in the
component (deterministic, comparable to any oracle).
"""

from __future__ import annotations

import warnings

from pyspark.sql import DataFrame, Observation
from pyspark.sql import functions as F

from graft.algos.community import one_task, run_one_task, superstep_conf
from graft.checkpoint import Checkpointer, drop_spill, observed, scratch, truncate
from graft.graph import Graph


def _min_neighbor_round(edges: DataFrame, labels: DataFrame) -> DataFrame:
    """labels' = min(label, min over neighbors' labels), as ``(id, comp,
    old)`` with the previous label alongside. Edges symmetric."""
    nbr_min = (
        edges.join(labels, edges.dst == labels.id)
        .groupBy(edges.src.alias("id"))
        .agg(F.min("comp").alias("nbr"))
    )
    return labels.join(nbr_min, "id", "left").select(
        "id",
        F.least("comp", F.coalesce("nbr", "comp")).alias("comp"),
        F.col("comp").alias("old"),
    )


def _sequential_cc(graph: Graph) -> DataFrame:
    """Union-find over the whole edge table as ONE task (see
    :func:`graft.algos.community.one_task`), labels = min id per
    component — identical output to both distributed modes."""
    import numpy as np
    import pandas as pd

    def fn(vpdf: pd.DataFrame, epdf: pd.DataFrame) -> pd.DataFrame:
        ids = np.sort(vpdf["id"].to_numpy())
        pos = pd.Series(np.arange(len(ids)), index=ids)
        parent = np.arange(len(ids))

        def find(x: int) -> int:
            root = x
            while parent[root] != root:
                root = parent[root]
            while parent[x] != root:
                parent[x], x = root, parent[x]
            return root

        for u, v in zip(pos[epdf["src"].to_numpy()].to_numpy(),
                        pos[epdf["dst"].to_numpy()].to_numpy()):
            ru, rv = find(u), find(v)
            if ru != rv:
                # union by min position == min id (ids sorted), so every
                # root is already the component's minimum
                if ru < rv:
                    parent[rv] = ru
                else:
                    parent[ru] = rv
        comp = np.array([ids[find(i)] for i in range(len(ids))])
        return pd.DataFrame({"id": ids, "comp": comp})

    # vertex keys are type-agnostic engine-wide; min-id labels are
    # lexicographic for string keys, matching F.min/F.least distributed
    nodes = graph.vertices()
    id_type = nodes.schema["id"].dataType.simpleString()
    return run_one_task(
        fn, f"id {id_type}, comp {id_type}",
        graph.without_self_loops().select("src", "dst"), nodes,
    )


def connected_components(
    graph: Graph,
    max_iter: int = 200,
    mode: str = "propagate",
    checkpointer: Checkpointer | None = None,
    sequential_threshold: int = 1_000_000,
    initial_labels: DataFrame | None = None,
) -> DataFrame:
    """Returns ``(id long, comp long)`` with comp = min id in component.

    ``sequential_threshold``: see :func:`graft.algos.community.one_task`.

    ``initial_labels``: warm start for the propagate path — an
    ``(id, comp)`` table from a previous run on a SUBGRAPH of this
    graph (monotone edge growth, e.g. the streaming delta log between
    refreshes). Each stale label is then the id of a vertex in the same
    (enlarged) component, so min-propagation converges to the identical
    per-component min-id fixpoint — the warm start only pre-collapses
    the old structure, cutting rounds from O(old diameter + growth) to
    O(growth) (pytest-pinned via checkpoint metrics). Vertices absent
    from it start at their own id. MUST NOT be used after edge
    deletions: a label naming a vertex that split into a different
    component would propagate a foreign min and corrupt the result.
    Ignored on the sequential and star paths (union-find is exact
    either way; star rewrites edges, not labels)."""
    if one_task(graph, sequential_threshold, checkpointer):
        return _sequential_cc(graph)
    if mode == "star":
        return _cc_star(graph, max_iter, checkpointer)
    with scratch() as s:
        edges = s.persist(graph.without_self_loops().select("src", "dst"))
        labels = graph.vertices().select("id", F.col("id").alias("comp"))
        if initial_labels is not None:
            labels = (
                graph.vertices()
                .join(initial_labels.withColumnRenamed("comp", "_c0"), "id", "left")
                .select("id", F.coalesce("_c0", F.col("id")).alias("comp"))
            )
        labels = truncate(labels)
        with superstep_conf(edges.sparkSession, graph.edge_rows()):
            changed = 0
            for it in range(max_iter):
                step, obs = observed(
                    _min_neighbor_round(edges, labels),
                    changed=F.sum((F.col("comp") != F.col("old")).cast("long")),
                )
                new_labels = truncate(step.select("id", "comp"))
                changed = obs.get["changed"] or 0
                drop_spill(labels)
                labels = new_labels
                if checkpointer is not None:
                    labels = checkpointer.save(it, labels, algo="cc", changed=changed)
                if changed == 0:
                    break
        if changed == 0:
            s.keep(labels)
            return labels
    # propagate mode is O(diameter); a chain longer than max_iter
    # (mega-conversation pathology) would return silently-wrong
    # labels — fall back to the O(log n) star mode instead.
    warnings.warn(
        f"connected_components(mode='propagate') did not converge in "
        f"{max_iter} rounds ({changed} labels still changing) — "
        "falling back to mode='star'",
        stacklevel=2,
    )
    return _cc_star(graph, max_iter, checkpointer)


def _cc_star(
    graph: Graph, max_iter: int, checkpointer: Checkpointer | None
) -> DataFrame:
    """Alternating large-star/small-star on the edge set.

    State is an edge list that converges to a star per component
    (every vertex linked directly to the component minimum).
    """
    def large_star(e: DataFrame) -> DataFrame:
        # For each u: m = min(N(u) ∪ {u}); emit (v, m) for neighbors v > u.
        nbrs = e.unionAll(
            e.select(F.col("v").alias("u"), F.col("u").alias("v"))
        )
        m = nbrs.groupBy("u").agg(
            F.least(F.min("v"), F.first("u")).alias("m")
        )
        return (
            nbrs.join(m, "u")
            .where(F.col("v") > F.col("u"))
            .select(F.col("v").alias("u"), F.col("m").alias("v"))
            .where(F.col("u") != F.col("v"))
            .distinct()
        )

    def small_star(e: DataFrame) -> DataFrame:
        # Orient edges u > v; for each u: m = min neighbor; emit (x, m)
        # for x ∈ N⁻(u) ∪ {u}, x ≠ m.
        oriented = e.select(
            F.greatest("u", "v").alias("u"), F.least("u", "v").alias("v")
        ).distinct()
        m = oriented.groupBy("u").agg(F.min("v").alias("m"))
        with_m = oriented.join(m, "u")
        pairs = with_m.select(
            F.col("v").alias("u"), F.col("m").alias("v")
        ).unionAll(m.select(F.col("u"), F.col("m").alias("v")))
        return pairs.where(F.col("u") != F.col("v")).distinct()

    def _signed(df: DataFrame) -> tuple[DataFrame, Observation]:
        # cheap fixed-point probe, observed during the spill write: the
        # star rounds produce DISTINCT edge sets, so (count, xor of
        # 64-bit row hashes, decimal sum of row hashes) identifies the
        # set — no job of its own instead of two full exceptAll
        # sort/shuffle set-differences (decimal sum because long sums
        # overflow-error under ANSI mode; the xor+sum pair makes an
        # accidental collision astronomically unlikely)
        return observed(
            df,
            n=F.count(F.lit(1)),
            x=F.bit_xor(F.xxhash64("u", "v")),
            s=F.sum(F.xxhash64("u", "v").cast("decimal(38,0)")),
        )

    e = (
        graph.without_self_loops()
        .select(F.col("src").alias("u"), F.col("dst").alias("v"))
        .where(F.col("u") > F.col("v"))
        .distinct()
    )
    with superstep_conf(graph.edges.sparkSession, graph.edge_rows()), scratch() as s:
        e, obs = _signed(e)
        e = truncate(e)
        sig = tuple(obs.get.values())
        for it in range(max_iter):
            new_e, obs = _signed(small_star(large_star(e)))
            new_e = truncate(new_e)
            new_sig = tuple(obs.get.values())
            changed = int(new_sig != sig)
            if changed == 0:
                # The signature is probabilistic — a collision would
                # terminate early with wrong labels. Confirm the first
                # "unchanged" report with ONE exact set-difference (the
                # rounds produce distinct sets and the counts already
                # match, so one containment direction proves equality);
                # this runs once per call, keeping the per-round savings
                # while making the fixpoint exact.
                changed = int(new_e.exceptAll(e).limit(1).count() > 0)
            drop_spill(e)
            e, sig = new_e, new_sig
            if checkpointer is not None:
                e = checkpointer.save(it, e, algo="cc_star", changed=changed)
            if changed == 0:
                break
        s.keep(e)
    # At the fixed point every edge is (member, root). Roots and isolated
    # vertices label themselves.
    labels = e.select(F.col("u").alias("id"), F.col("v").alias("comp"))
    roots = graph.vertices().join(
        labels.select(F.col("id")).distinct(), "id", "left_anti"
    ).select("id", F.col("id").alias("comp"))
    return labels.unionAll(roots)
