"""Minimum spanning forest — distributed Borůvka with edge contraction.

The cugraph API family the engine mirrors ships
``cugraph.minimum_spanning_tree`` alongside components/traversal
(reference capability envelope, examples/cugraph-cpp-api/ ecosystem).
Borůvka is the member of the MST family that distributes: every
component simultaneously grabs its lightest outgoing edge, the grabbed
edges merge components, and the edge list contracts onto the merged
components — the component count at least halves per round, so a
10^12-edge forest finishes in O(log V) rounds.

Simultaneous grabbing is only cycle-free under DISTINCT edge weights;
we impose the total order ``(weight, u, v)`` (canonical u < v
orientation) everywhere — the same struct-min comparison selects the
component minimum, dedups grabs, and contracts parallel edges — so the
output is the UNIQUE minimum spanning forest of that order: fully
deterministic, identical across rounds counts, execution paths and
cluster layouts.

Scale shape per round: one relabel join per endpoint against the
component labels, one map-side-combinable ``min_by`` per component for
the grab, the engine's own :func:`connected_components` on the grabbed
MERGE GRAPH (≤ one edge per component — tiny, and it dispatches to the
one-task union-find kernel as soon as it fits a batch), and one
``(comp-pair) → min-edge`` contraction groupBy that shrinks the working
edge list geometrically. No driver-side data: the driver holds only
per-round counts, read from the working spill's parquet footers (the
stop test runs no job). Below the Arrow-batch threshold the whole
forest runs as ONE executor task (Kruskal + union-find — the
sequential-tail rule every fixpoint algorithm in the engine follows).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from graft.algos.community import one_task, run_one_task, superstep_conf
from graft.algos.components import connected_components
from graft.checkpoint import Checkpointer, drop_spill, row_count, scratch, truncate
from graft.graph import Graph


def _sequential_msf(edges: DataFrame) -> DataFrame:
    """Kruskal + union-find as ONE task (see
    :func:`graft.algos.community.one_task`). The ``(weight, u, v)`` sort
    order makes the result the identical unique MSF the distributed
    rounds produce."""
    import pandas as pd

    def fn(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values(["weight", "u", "v"], kind="mergesort")
        parent: dict = {}

        def find(x):
            root = x
            while parent.get(root, root) != root:
                root = parent[root]
            while parent.get(x, x) != x:
                parent[x], x = root, parent[x]
            return root

        keep = []
        for u, v, w in zip(pdf["u"], pdf["v"], pdf["weight"]):
            ru, rv = find(u), find(v)
            if ru != rv:
                parent[max(ru, rv)] = min(ru, rv)
                keep.append((u, v, w))
        return pd.DataFrame(keep, columns=["u", "v", "weight"])

    id_type = edges.schema["u"].dataType.simpleString()
    return run_one_task(fn, f"u {id_type}, v {id_type}, weight double", edges)


def minimum_spanning_forest(
    graph: Graph,
    max_iter: int = 64,
    sequential_threshold: int = 1_000_000,
    checkpointer: Checkpointer | None = None,
) -> DataFrame:
    """Returns ``(u, v, weight double)`` — the edges of the unique
    minimum spanning forest under the ``(weight, u, v)`` total order
    (one tree per connected component; u < v canonical orientation;
    cugraph.minimum_spanning_tree API shape).

    ``sequential_threshold``: see :func:`graft.algos.community.one_task`.
    ``max_iter`` is a safety cap far above any real round count (the
    component count at least halves per round, so 64 covers 2^64
    vertices); hitting it raises rather than returning a partial
    forest.

    A ``checkpointer`` persists ONE combined frame per round — the
    contracted work list (kind='w') plus the forest so far (kind='f'),
    so the round state is a single atomic write — with per-round
    work/forest counts in the metrics, and resumes from the latest
    complete round."""
    spark = graph.edges.sparkSession
    schema_id = graph.edges.schema["src"].dataType.simpleString()
    empty = spark.createDataFrame(
        [], f"u {schema_id}, v {schema_id}, weight double"
    )
    # canonical single-direction candidate list (self-loops are never
    # forest edges)
    cand = (
        graph.without_self_loops()
        .where(F.col("src") < F.col("dst"))
        .select(
            F.col("src").alias("u"), F.col("dst").alias("v"), "weight"
        )
    )

    if one_task(graph, sequential_threshold, checkpointer):
        return _sequential_msf(cand)

    # working edge list: (a, b) = current component endpoints,
    # (u, v, weight) = the original edge this contracted row stands for
    work = None
    forest = empty
    start = 0
    if checkpointer is not None:
        resumed = checkpointer.resume()
        if resumed is not None:
            step, combined = resumed
            start = step + 1
            work = combined.where(F.col("kind") == "w").select(
                "a", "b", "weight", "u", "v"
            )
            forest = combined.where(F.col("kind") == "f").select(
                "u", "v", "weight"
            )
    with scratch() as s:
        if work is None:
            work = truncate(
                cand.select(
                    F.col("u").alias("a"), F.col("v").alias("b"),
                    "weight", "u", "v",
                )
            )
        if row_count(work) == 0:
            return forest
        with superstep_conf(spark, graph.edge_rows()):
            for rnd in range(start, max_iter):
                e_struct = F.struct("weight", "u", "v", "a", "b").alias("e")
                offers = work.select(F.col("a").alias("comp"), e_struct).unionAll(
                    work.select(F.col("b").alias("comp"), e_struct)
                )
                grabbed = (
                    offers.groupBy("comp")
                    .agg(F.min("e").alias("e"))
                    .select("e.*")
                    .distinct()
                )
                grabbed = truncate(grabbed)
                prev_forest = forest
                forest = truncate(
                    forest.unionByName(grabbed.select("u", "v", "weight"))
                )
                drop_spill(prev_forest)  # no-op on the initial empty frame
                # merge graph: one vertex per component, the grabbed edges
                # as links — geometrically small, engine CC dispatches it
                # to the union-find task as soon as it fits a batch
                merge = Graph.from_undirected(
                    grabbed.select(
                        F.col("a").alias("src"), F.col("b").alias("dst"),
                        F.lit(1.0).alias("weight"),
                    )
                )
                cc = truncate(connected_components(merge))
                relabeled = (
                    work.join(
                        cc.select(F.col("id").alias("a"),
                                  F.col("comp").alias("na")),
                        "a", "left",
                    )
                    .join(
                        cc.select(F.col("id").alias("b"),
                                  F.col("comp").alias("nb")),
                        "b", "left",
                    )
                    .select(
                        F.coalesce("na", "a").alias("ra"),
                        F.coalesce("nb", "b").alias("rb"),
                        "weight", "u", "v",
                    )
                    .where(F.col("ra") != F.col("rb"))
                )
                # contract: between any two merged components only the
                # minimum edge can ever be grabbed — keep exactly that one
                contracted = (
                    relabeled.select(
                        F.least("ra", "rb").alias("a"),
                        F.greatest("ra", "rb").alias("b"),
                        F.struct("weight", "u", "v").alias("e"),
                    )
                    .groupBy("a", "b")
                    .agg(F.min("e").alias("e"))
                    .select("a", "b", "e.*")
                )
                prev, prev_grab, prev_cc = work, grabbed, cc
                work = truncate(contracted)
                n_work = row_count(work)
                drop_spill(prev)
                drop_spill(prev_grab)
                drop_spill(prev_cc)
                if checkpointer is not None:
                    combined = work.select(
                        F.lit("w").alias("kind"), "a", "b", "weight", "u", "v"
                    ).unionByName(
                        forest.select(
                            F.lit("f").alias("kind"),
                            F.lit(None).cast(schema_id).alias("a"),
                            F.lit(None).cast(schema_id).alias("b"),
                            "weight", "u", "v",
                        )
                    )
                    saved = checkpointer.save(
                        rnd, combined, algo="msf",
                        n_work=n_work, n_forest=row_count(forest),
                    )
                    work = saved.where(F.col("kind") == "w").select(
                        "a", "b", "weight", "u", "v"
                    )
                    forest = saved.where(F.col("kind") == "f").select(
                        "u", "v", "weight"
                    )
                # emptiness checked AFTER contraction so a run that needs
                # exactly max_iter rounds completes instead of raising
                if n_work == 0:
                    break
            else:
                raise RuntimeError(
                    f"minimum_spanning_forest did not converge within "
                    f"max_iter={max_iter} rounds"
                )
        s.keep(forest)
    return forest


def maximum_spanning_forest(
    graph: Graph,
    max_iter: int = 64,
    sequential_threshold: int = 1_000_000,
) -> DataFrame:
    """Returns ``(u, v, weight double)`` — the maximum spanning forest
    (cugraph.maximum_spanning_tree API shape): exactly
    :func:`minimum_spanning_forest` under the ``(-weight, u, v)`` total
    order, run by negating weights on the way in and restoring them on
    the way out (no separate machinery to keep correct)."""
    neg = Graph(
        graph.edges.select(
            "src", "dst", (-F.col("weight")).alias("weight")
        ),
        symmetric=graph.symmetric,
    )
    return minimum_spanning_forest(
        neg, max_iter=max_iter, sequential_threshold=sequential_threshold
    ).select("u", "v", (-F.col("weight")).alias("weight"))


def msf_total_weight(graph: Graph, **kwargs) -> DataFrame:
    """One-row ``(n_edges long, total_weight double)`` summary of the
    minimum spanning forest — the regression-pin shape for contract
    checks (forest weight is unique even where the forest itself is
    tie-broken)."""
    return minimum_spanning_forest(graph, **kwargs).agg(
        F.count(F.lit(1)).alias("n_edges"),
        F.round(F.sum("weight"), 6).alias("total_weight"),
    )
