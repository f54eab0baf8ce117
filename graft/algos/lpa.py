"""Label propagation (capability X7, required by the north rule).

Synchronous weighted LPA: each superstep every vertex adopts the label
with the maximum total incident edge weight among its neighbors, with
deterministic tie-breaking (max weight, then min label) so runs are
reproducible (SURVEY.md §1.4 item 10 determinism requirement).

Each superstep = one join (edges ⋈ labels on dst) + one two-level
groupBy + one argmax window — all keyed shuffles, no driver data. The
argmax uses ``max_by``-style struct ordering rather than a window over
the full (vertex, label) table: hub vertices with millions of incident
labels reduce map-side first.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from graft.algos.community import superstep_conf
from graft.checkpoint import Checkpointer, drop_spill, observed, scratch, truncate
from graft.graph import Graph


def label_propagation(
    graph: Graph,
    max_iter: int = 20,
    checkpointer: Checkpointer | None = None,
    initial_labels: DataFrame | None = None,
) -> DataFrame:
    """Returns ``(id long, label long)``.

    Synchronous LPA oscillates on bipartite-ish structures; the fixed
    iteration cap is the standard remedy (and what makes the fixed-round
    SQL oracle exact).

    ``initial_labels`` (``(id, label)``) warm-starts the propagation —
    the streaming-refresh hook: seeding with the previous snapshot's
    labels keeps community ids CONTINUOUS across refreshes and
    converges in O(rounds to absorb the new edges) instead of from
    singletons. Like every LPA, the fixpoint is init-dependent, so a
    warm run is a different (seed-continuous) labeling, not
    bit-identity with a cold one; vertices absent from the seed (new
    actors) start as their own label.

    With a ``checkpointer`` every superstep's labels are saved, and a
    run resumes after the latest saved step, which takes precedence
    over ``initial_labels``.
    """
    with scratch() as s:
        edges = s.persist(graph.without_self_loops())
        start, labels = 0, None
        if checkpointer is not None:
            resumed = checkpointer.resume()
            if resumed is not None:
                start, labels = resumed
                start += 1
        if labels is None:
            labels = graph.vertices().select("id", F.col("id").alias("label"))
            if initial_labels is not None:
                labels = (
                    labels.join(
                        initial_labels.select(
                            "id", F.col("label").alias("_seed")
                        ),
                        "id",
                        "left",
                    )
                    .select("id", F.coalesce("_seed", F.col("label")).alias("label"))
                )
            labels = truncate(labels)
        with superstep_conf(edges.sparkSession, graph.edge_rows()):
            for it in range(start, max_iter):
                step, obs = observed(
                    lpa_round(edges, labels),
                    changed=F.sum((F.col("label") != F.col("old")).cast("long")),
                )
                new_labels = truncate(step.select("id", "label"))
                changed = obs.get["changed"] or 0
                drop_spill(labels)
                labels = new_labels
                if checkpointer is not None:
                    labels = checkpointer.save(it, labels, algo="lpa", changed=changed)
                if changed == 0:
                    break
        s.keep(labels)
    return labels


def lpa_round(edges: DataFrame, labels: DataFrame) -> DataFrame:
    """One synchronous round ``(id, label, old)``: the new label next to
    the previous one; isolated vertices keep their label."""
    scores = (
        edges.join(labels, edges.dst == labels.id)
        .groupBy(edges.src.alias("vid"), F.col("label"))
        .agg(F.sum("weight").alias("w"))
    )
    # argmax by (w desc, label asc): min_by over struct(-w, label) —
    # works for long and string labels alike
    best = scores.groupBy("vid").agg(
        F.min_by(
            "label", F.struct((-F.col("w")).alias("nw"), F.col("label"))
        ).alias("label")
    ).select(F.col("vid").alias("id"), "label")
    return labels.select("id", F.col("label").alias("old")).join(
        best, "id", "left"
    ).select("id", F.coalesce("label", "old").alias("label"), "old")
