"""Deterministic random-walk corpus generation (DeepWalk-style).

A 100-TB training-data pipeline materializes walk corpora as input to
skip-gram embedding training (DeepWalk / node2vec first-order walks).
The engine generates them fully distributed AND fully reproducible: the
transition at step t of walk w is chosen by a counter-based LCG draw

    x = ((w mod M) * 1103515245 + t * 12345 + seed) mod M,   M = 2^31−1
    next = sorted_neighbors(v)[ x mod degree(v) ]

— a pure arithmetic function of (walk_id, step), so the same corpus
comes out of any cluster size or partitioning, the walk table never
needs a stateful RNG, and an unrolled SQL oracle can certify the exact
rows (counter-based RNG in the Philox spirit, LCG-cheap because the
draws are index picks, not statistics).

Plan per step: the walk frontier joins the degree table (broadcast-able)
to compute the draw, then the (src, idx)-keyed indexed adjacency —
two keyed joins, no window, no driver data. The indexed adjacency is a
per-source ``row_number`` (partitioned window, shuffle-free after the
adjacency build). Walks stop early at dead-end vertices (no simple
neighbors), mirrored by the oracle's inner join.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from graft.algos.community import superstep_conf
from graft.checkpoint import scratch, truncate
from graft.graph import Graph

_LCG_M = 2147483647
_LCG_A = 1103515245
_LCG_C = 12345


def _draw(wid, step: int, seed: int):
    """The counter-based LCG draw for (walk, step) — kept within int64:
    (wid mod M) * A < 2^62. The cast matters: a 32-bit walk_id would
    overflow the multiply under ANSI mode."""
    return (wid.cast("long") % _LCG_M * F.lit(_LCG_A)
            + F.lit(step * _LCG_C + seed)) % _LCG_M


def random_walks(
    graph: Graph,
    walk_length: int = 4,
    num_walks: int = 1,
    seed: int = 42,
) -> DataFrame:
    """Returns ``(walk_id long, step int, id)`` — ``num_walks`` walks of
    up to ``walk_length`` steps from every vertex over the simple
    (self-loop-free, unweighted) adjacency. Requires integral vertex
    ids (string-keyed graphs: renumber first, e.g.
    :func:`graft.io.actor_edges_to_long`); walk_id = id·num_walks + rep.
    """
    id_type = dict(graph.edges.dtypes)["src"]
    if id_type not in ("bigint", "int", "smallint", "tinyint", "long"):
        raise TypeError(
            f"random_walks needs integral vertex ids, got {id_type}; "
            "renumber with graft.io.actor_edges_to_long first"
        )
    adj, n_adj = graph.simple_adjacency()
    with scratch() as s:
        indexed = truncate(
            adj.withColumn(
                "idx",
                F.row_number().over(
                    Window.partitionBy("src").orderBy("dst")
                ) - 1,
            )
        )
        deg = indexed.groupBy(F.col("src").alias("id")).agg(
            F.count(F.lit(1)).alias("d")
        )
        starts = graph.vertices().select(
            "id",
            F.explode(
                F.sequence(F.lit(0), F.lit(num_walks - 1))
            ).alias("rep"),
        ).select(
            (F.col("id").cast("long") * num_walks + F.col("rep"))
            .alias("walk_id"),
            "id",
        )

        spark = graph.edges.sparkSession
        parts = [starts.select("walk_id", F.lit(0).alias("step"), "id")]
        cur = starts
        # ``indexed`` holds one row per adjacency row
        with superstep_conf(spark, n_adj):
            for t in range(1, walk_length + 1):
                idx = _draw(F.col("walk_id"), t, seed) % F.col("d")
                nxt = (
                    cur.join(deg, "id")
                    .select("walk_id", "id", idx.cast("int").alias("idx"))
                    .join(
                        indexed.select(
                            F.col("src").alias("id"), "idx",
                            F.col("dst").alias("nid"),
                        ),
                        ["id", "idx"],
                    )
                    .select("walk_id", F.col("nid").alias("id"))
                )
                cur = truncate(nxt)
                parts.append(
                    cur.select("walk_id", F.lit(t).alias("step"), "id")
                )
            out = parts[0]
            for p in parts[1:]:
                out = out.unionAll(p)
            out = truncate(out)
        s.keep(out)
    return out


_N2V_SCALE = 1000


def _bias_weights(p: float, q: float) -> tuple[int, int, int]:
    """node2vec transition weights 1/p (return), 1 (common), 1/q (far)
    as integers scaled by 1000 — integer cumulative sums keep the draw
    exact in both the engine and the SQL oracle (float boundaries
    could flip a pick between engines)."""
    w_ret, w_com, w_far = (
        round(_N2V_SCALE / p), _N2V_SCALE, round(_N2V_SCALE / q),
    )
    if min(w_ret, w_com, w_far) < 1:
        raise ValueError(f"p={p} or q={q} too large: a scaled weight is 0")
    return w_ret, w_com, w_far


def node2vec_walks(
    graph: Graph,
    walk_length: int = 4,
    num_walks: int = 1,
    p: float = 1.0,
    q: float = 1.0,
    seed: int = 42,
) -> DataFrame:
    """Returns ``(walk_id long, step int, id)`` — second-order biased
    walks (node2vec; Grover & Leskovec 2016). The step from ``cur``
    (having arrived from ``prev``) picks neighbor ``dst`` with
    unnormalized weight 1/p if ``dst = prev``, 1 if ``dst`` is adjacent
    to ``prev``, 1/q otherwise — weights integer-scaled by 1000 (bias
    exact to 3 decimals) and drawn by inverse-CDF over the dst-sorted
    neighbor list with the same counter-based LCG as
    :func:`random_walks`, so the corpus is reproducible at any
    partitioning and SQL-oracle-checkable.

    Plan per step: frontier joins the adjacency (keyed), one left
    existence join against the adjacency on (prev, dst) for the
    common-neighbor class, one per-walk window cumsum to pick — state
    is O(walks · avg_degree) per step, no driver data. Step 1 is a
    first-order uniform step (no prev yet), matching the
    node2vec paper's initialization.
    """
    id_type = dict(graph.edges.dtypes)["src"]
    if id_type not in ("bigint", "int", "smallint", "tinyint", "long"):
        raise TypeError(
            f"node2vec_walks needs integral vertex ids, got {id_type}; "
            "renumber with graft.io.actor_edges_to_long first"
        )
    w_ret, w_com, w_far = _bias_weights(p, q)
    adj, n_adj = graph.simple_adjacency()
    with scratch() as s:
        indexed = truncate(
            adj.withColumn(
                "idx",
                F.row_number().over(
                    Window.partitionBy("src").orderBy("dst")
                ) - 1,
            )
        )
        deg = indexed.groupBy(F.col("src").alias("id")).agg(
            F.count(F.lit(1)).alias("d")
        )
        starts = graph.vertices().select(
            "id",
            F.explode(
                F.sequence(F.lit(0), F.lit(num_walks - 1))
            ).alias("rep"),
        ).select(
            (F.col("id").cast("long") * num_walks + F.col("rep"))
            .alias("walk_id"),
            "id",
        )

        spark = graph.edges.sparkSession
        parts = [starts.select("walk_id", F.lit(0).alias("step"), "id")]
        with superstep_conf(spark, n_adj):
            # step 1: uniform (no prev) — the random_walks transition
            idx = _draw(F.col("walk_id"), 1, seed) % F.col("d")
            cur = truncate(
                starts.join(deg, "id")
                .select("walk_id", "id", idx.cast("int").alias("idx"))
                .join(
                    indexed.select(
                        F.col("src").alias("id"), "idx",
                        F.col("dst").alias("nid"),
                    ),
                    ["id", "idx"],
                )
                .select(
                    "walk_id",
                    F.col("nid").alias("id"),
                    F.col("id").alias("prev"),
                )
            )
            parts.append(cur.select("walk_id", F.lit(1).alias("step"), "id"))
            for t in range(2, walk_length + 1):
                cand = (
                    cur.join(adj.withColumnRenamed("src", "id"), "id")
                    .join(
                        adj.select(
                            F.col("src").alias("prev"),
                            F.col("dst").alias("dst"),
                            F.lit(1).alias("is_common"),
                        ),
                        ["prev", "dst"],
                        "left",
                    )
                    .withColumn(
                        "w",
                        F.when(F.col("dst") == F.col("prev"), F.lit(w_ret))
                        .when(F.col("is_common").isNotNull(), F.lit(w_com))
                        .otherwise(F.lit(w_far)),
                    )
                )
                win = Window.partitionBy("walk_id").orderBy("dst")
                picked = (
                    cand.withColumn("cum", F.sum("w").over(win))
                    .withColumn(
                        "total",
                        F.sum("w").over(
                            Window.partitionBy("walk_id")
                        ),
                    )
                    .withColumn(
                        "x", _draw(F.col("walk_id"), t, seed) % F.col("total")
                    )
                    .where(
                        (F.col("x") >= F.col("cum") - F.col("w"))
                        & (F.col("x") < F.col("cum"))
                    )
                    .select(
                        "walk_id",
                        F.col("dst").alias("id"),
                        F.col("id").alias("prev"),
                    )
                )
                cur = truncate(picked)
                parts.append(
                    cur.select("walk_id", F.lit(t).alias("step"), "id")
                )
            out = parts[0]
            for pt in parts[1:]:
                out = out.unionAll(pt)
            out = truncate(out)
        s.keep(out)
    return out


def skipgram_pairs(
    walks: DataFrame, window: int = 2
) -> DataFrame:
    """Returns ``(center, context, cnt long)`` — the skip-gram training
    pairs of a walk corpus (word2vec/DeepWalk: for each walk position,
    every other position within ``window`` steps), aggregated with
    multiplicity. ``walks`` is a ``(walk_id, step, id)`` frame from
    :func:`random_walks` / :func:`node2vec_walks`.

    One self-join on walk_id banded by the step distance + one
    count agg — both shuffle on walk_id/pair keys, map-side
    combinable; corpus-sized, never collected."""
    if window < 1:
        raise ValueError(f"window must be >= 1, got {window}")
    u = walks.select(
        "walk_id", F.col("step").alias("s1"), F.col("id").alias("center")
    )
    v = walks.select(
        "walk_id", F.col("step").alias("s2"), F.col("id").alias("context")
    )
    return (
        u.join(v, "walk_id")
        .where(
            (F.col("s1") != F.col("s2"))
            & (F.abs(F.col("s1") - F.col("s2")) <= window)
        )
        .groupBy("center", "context")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )


def negative_samples(
    graph: Graph,
    n_samples: int,
    power: float = 0.75,
    seed: int = 42,
    num_buckets: int = 64,
) -> DataFrame:
    """Returns ``(sample_id long, id)`` — ``n_samples`` vertices drawn
    with probability ∝ degree^``power`` (word2vec's unigram^0.75
    negative-sampling distribution; ``power=1.0`` keeps the weights
    exact integers, which is what the SQL-oracle contract uses).

    Fully distributed, deterministic inverse-CDF without a global
    cumsum: vertices are laid out in (bucket, id) order with
    ``bucket = id mod num_buckets``; the per-bucket totals (O(B)
    scalars, driver-bounded) form a broadcastable first-stage CDF that
    assigns each draw a bucket, then a per-bucket window searchsorted
    (union the interval starts with the draws, carry the last interval
    id forward) resolves the vertex — every window is partitioned by
    bucket, so no single-reducer global sort exists at any scale. The
    62-bit draw composes two counter-based LCG words, so the position
    is exact for corpus totals far beyond 2^31 (the `mod total`
    residual bias is ≤ total/2^62 — negligible at any real scale).
    """
    id_type = dict(graph.edges.dtypes)["src"]
    if id_type not in ("bigint", "int", "smallint", "tinyint", "long"):
        raise TypeError(
            f"negative_samples needs integral vertex ids, got {id_type}; "
            "renumber with graft.io.actor_edges_to_long first"
        )
    if n_samples < 1:
        raise ValueError(f"n_samples must be >= 1, got {n_samples}")
    spark = graph.edges.sparkSession
    adj = graph.without_self_loops().select("src", "dst").distinct()
    deg = adj.groupBy(F.col("src").alias("id")).agg(
        F.count(F.lit(1)).alias("d")
    )
    w = (
        F.round(F.pow(F.col("d"), F.lit(power)) * 1000)
        .cast("long")
        .alias("w")
    )
    with scratch() as s:
        weights = truncate(
            deg.select(
                "id",
                (F.col("id").cast("long") % num_buckets).alias("b"),
                F.greatest(w, F.lit(1)).alias("w"),
            )
        )
        # per-bucket layout: cum_in = within-bucket exclusive prefix sum
        win = (
            Window.partitionBy("b")
            .orderBy("id")
            .rowsBetween(Window.unboundedPreceding, -1)
        )
        laid = truncate(
            weights.withColumn(
                "start", F.coalesce(F.sum("w").over(win), F.lit(0))
            )
        )
        # first-stage CDF: B bucket totals -> python offsets (O(B) driver:
        # at most num_buckets rows)
        totals = {
            r.b: r.t
            for r in laid.groupBy("b").agg(F.sum("w").alias("t")).collect()
        }
        if not totals:
            raise ValueError("graph has no simple edges to weight")
        offsets: dict[int, int] = {}
        acc = 0
        for b in sorted(totals):
            offsets[b] = acc
            acc += int(totals[b])
        total = acc
        bucket_cdf = spark.createDataFrame(
            [(b, offsets[b], offsets[b] + int(totals[b]))
             for b in sorted(totals)],
            "b long, lo long, hi long",
        )

        d1 = _draw(F.col("sample_id"), 1, seed)
        d2 = _draw(F.col("sample_id"), 2, seed)
        draws = (
            spark.range(n_samples)
            .select(F.col("id").alias("sample_id"))
            .select(
                "sample_id",
                ((d1 * F.lit(2147483648) + d2) % F.lit(total)).alias("x"),
            )
        )
        in_bucket = draws.join(
            F.broadcast(bucket_cdf),
            (F.col("x") >= F.col("lo")) & (F.col("x") < F.col("hi")),
        ).select("sample_id", "b", (F.col("x") - F.col("lo")).alias("v"))

        events = laid.select(
            "b", F.col("start").alias("v"), F.lit(0).alias("t"),
            "id", F.lit(None).cast("long").alias("sample_id"),
        ).unionAll(
            in_bucket.select(
                "b", "v", F.lit(1).alias("t"),
                F.lit(None).cast(dict(laid.dtypes)["id"]).alias("id"),
                "sample_id",
            )
        )
        carry = Window.partitionBy("b").orderBy("v", "t").rowsBetween(
            Window.unboundedPreceding, 0
        )
        out = truncate(
            events.withColumn(
                "pick", F.last("id", ignorenulls=True).over(carry)
            )
            .where(F.col("t") == 1)
            .select("sample_id", F.col("pick").alias("id"))
        )
        s.keep(out)
    return out
