"""Transcript-table analytics: sessionization, per-conversation stats,
role-transition matrix, inter-turn timing/burstiness, actor
co-occurrence PMI.

The operators that sit BETWEEN raw transcript ingest and the link-graph
derivation in a production pipeline over conversation data:

- :func:`sessionize` — split each conversation into sessions at
  inactivity gaps (the classic web-analytics sessionizer, here under
  the stable turn ordering). Downstream, per-session edge derivation
  is ``transcripts_to_edges`` over (conv_id, session_idx) instead of
  conv_id — the gap threshold controls graph granularity.
- :func:`conversation_stats` — one row per conversation: depth, actor
  diversity, tool-call rate, text volume, wall duration. The triage
  table for corpus curation (filter degenerate/runaway conversations
  before they enter the training mix).
- :func:`role_transitions` — the corpus-level first-order Markov
  matrix over roles (who speaks after whom), the structural summary
  used to spot protocol drift between transcript sources.

All three are single-window or single-groupBy plans of JVM built-ins:
one shuffle keyed by conv_id (sessionize, stats) or by the role pair
(transitions). At 10^12 turns they scale exactly like the edge
derivation itself — the same conv_id window shuffle the engine already
pays, with AQE coalescing output partitions.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from graft.io import actor_col, turn_order


def sessionize(
    transcripts: DataFrame, gap_seconds: int = 3600
) -> DataFrame:
    """Adds ``session_idx`` (0-based within the conversation): a new
    session starts when the time since the previous turn exceeds
    ``gap_seconds`` under the stable (conv_id, turn_idx) ordering.
    One window shuffle; the running sum of break flags is the standard
    gaps-and-islands sessionizer."""
    w = turn_order()
    # unix_timestamp floors to whole seconds and accepts both timestamp
    # and timestamp_ntz (parquet transcript tables are NTZ); the session
    # runs UTC so it equals DuckDB's floor(epoch(ts))
    ts_s = F.unix_timestamp(F.col("ts"))
    prev_ts = F.lag(ts_s).over(w)
    brk = F.when(
        prev_ts.isNotNull() & (ts_s - prev_ts > gap_seconds),
        1,
    ).otherwise(0)
    return transcripts.withColumn(
        "session_idx",
        F.sum(brk)
        .over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow))
        .cast("long"),
    )


def conversation_stats(transcripts: DataFrame) -> DataFrame:
    """One row per conversation: ``(conv_id, n_turns, n_actors,
    tool_rate, avg_text_len, duration_s)``. Actor identity follows the
    derivation convention (tool:<tool> if present else role:<role>).
    Floats rounded to 6 dp so aggregation order never shows."""
    return transcripts.groupBy("conv_id").agg(
        F.count(F.lit(1)).alias("n_turns"),
        F.countDistinct(actor_col()).alias("n_actors"),
        F.round(
            F.avg(F.when(F.col("tool").isNotNull(), 1.0).otherwise(0.0)), 6
        ).alias("tool_rate"),
        F.round(F.avg(F.length("text")), 6).alias("avg_text_len"),
        (
            F.max(F.unix_timestamp(F.col("ts")))
            - F.min(F.unix_timestamp(F.col("ts")))
        ).alias("duration_s"),
    )


def turn_gap_stats(transcripts: DataFrame) -> DataFrame:
    """Per-conversation inter-turn timing profile: ``(conv_id, n_gaps,
    mean_gap, std_gap, burstiness, max_gap)`` over the successive-turn
    gaps in whole seconds under the stable (conv_id, turn_idx) ordering.

    ``burstiness`` is the Goh–Barabási coefficient B = (σ−μ)/(σ+μ)
    (population σ): −1 for a perfectly periodic conversation, → +1 for
    heavy-tailed bursts — the standard signal for separating steady
    agent loops from human-paced interaction, and the quantitative
    basis for choosing the :func:`sessionize` gap threshold. B is 0.0
    when σ+μ = 0 (all turns same-second). Conversations with fewer
    than two turns have no gaps and get no row.

    Plan: one conv_id window shuffle (lag) + one groupBy on the same
    key — at 10^12 turns this is the identical shuffle the edge
    derivation already pays. Floats rounded to 6 dp so aggregation
    order never shows.
    """
    ts_s = F.unix_timestamp(F.col("ts"))
    gaps = (
        transcripts.select(
            "conv_id", (ts_s - F.lag(ts_s).over(turn_order())).alias("gap")
        )
        .where(F.col("gap").isNotNull())
    )
    mu, sg = F.col("mu"), F.col("sg")
    return (
        gaps.groupBy("conv_id")
        .agg(
            F.count(F.lit(1)).alias("n_gaps"),
            F.avg("gap").alias("mu"),
            F.stddev_pop("gap").alias("sg"),
            F.max("gap").alias("max_gap"),
        )
        .select(
            "conv_id",
            "n_gaps",
            F.round(mu, 6).alias("mean_gap"),
            F.round(sg, 6).alias("std_gap"),
            F.when(mu + sg == 0, F.lit(0.0))
            .otherwise(F.round((sg - mu) / (sg + mu), 6))
            .alias("burstiness"),
            "max_gap",
        )
    )


def actor_pmi(transcripts: DataFrame) -> DataFrame:
    """Actor co-occurrence pointwise mutual information over
    conversations: ``(a, b, n_ab, pmi)`` for each unordered actor pair
    (a < b) appearing together in at least one conversation, with

        pmi = ln( n_ab · N / (n_a · n_b) )

    where n_x counts conversations containing actor x and N is the
    total conversation count — the classic association scorer (Church &
    Hanks 1990) applied to the actor universe the edge derivation uses
    (tool:<tool> if present else role:<role>). Positive pmi = the pair
    co-occurs more than independence predicts (e.g. a tool that only
    fires inside a particular protocol); strongly negative = actors
    that avoid each other. Complements the adjacency-derived edge
    weights with a set-cooccurrence signal that ignores turn order.

    Plan: distinct (conv_id, actor) once, a self-join keyed on conv_id
    (bounded: the actor universe per conversation is |roles| + |tools|,
    a small constant, so pairs grow linearly in conversations), one
    pair groupBy, two broadcast-able marginal joins, and the scalar N
    rides in as a broadcast one-row cross join — no driver collect.
    """
    ca = transcripts.select("conv_id", actor_col().alias("actor")).distinct()
    marg = ca.groupBy("actor").agg(F.count(F.lit(1)).alias("n"))
    n_total = ca.select("conv_id").distinct().agg(
        F.count(F.lit(1)).alias("n_conv")
    )
    pairs = (
        ca.select("conv_id", F.col("actor").alias("a"))
        .join(ca.select("conv_id", F.col("actor").alias("b")), "conv_id")
        .where(F.col("a") < F.col("b"))
        .groupBy("a", "b")
        .agg(F.count(F.lit(1)).alias("n_ab"))
    )
    return (
        pairs.join(
            marg.select(F.col("actor").alias("a"), F.col("n").alias("na")),
            "a",
        )
        .join(
            marg.select(F.col("actor").alias("b"), F.col("n").alias("nb")),
            "b",
        )
        .crossJoin(F.broadcast(n_total))
        .select(
            "a",
            "b",
            "n_ab",
            F.round(
                F.log(
                    F.col("n_ab")
                    * F.col("n_conv")
                    / (F.col("na") * F.col("nb"))
                ),
                6,
            ).alias("pmi"),
        )
    )


def role_transitions(transcripts: DataFrame) -> DataFrame:
    """Corpus-level role→role transition counts and probabilities under
    the stable turn ordering: ``(prev_role, role, n, p)`` with
    p = n / sum(n) over prev_role. The first-order Markov summary of
    conversational protocol. One window shuffle + one groupBy on the
    (tiny) role-pair key; p via a broadcastable per-prev_role totals
    join."""
    pairs = (
        transcripts.select(
            "conv_id",
            "turn_idx",
            "role",
            F.lag("role").over(turn_order()).alias("prev_role"),
        )
        .where(F.col("prev_role").isNotNull())
        .groupBy("prev_role", "role")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    totals = pairs.groupBy("prev_role").agg(F.sum("n").alias("tot"))
    return pairs.join(totals, "prev_role").select(
        "prev_role",
        "role",
        "n",
        F.round(F.col("n") / F.col("tot"), 6).alias("p"),
    )


def conversation_entropy(transcripts: DataFrame) -> DataFrame:
    """Per-conversation first-order transition entropy — the
    degenerate-loop detector for transcript curation: a conversation
    stuck in an A→B→A→B ping-pong (runaway agent retries, scripted
    protocols) carries ~1 bit per transition, while organic multi-actor
    traffic runs close to ``log2(k)`` of its observed pair set.

    Returns ``(conv_id, n_transitions, k_pairs, h_bits, h_norm)``:
    transition count, distinct (prev_role → role) pairs, Shannon
    entropy of the transition distribution in bits, and the
    ``h / log2(k)`` normalization in [0, 1] (0 when k ≤ 1).
    Single-turn conversations keep a zero row.

    Plan: the same conv_id window shuffle the edge derivation pays +
    two conv-keyed hash aggs; nothing corpus-sized leaves the executors.
    """
    pairs = (
        transcripts.select(
            "conv_id",
            "role",
            F.lag("role").over(turn_order()).alias("prev_role"),
        )
        .where(F.col("prev_role").isNotNull())
        .groupBy("conv_id", "prev_role", "role")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    tot = pairs.groupBy("conv_id").agg(
        F.sum("n").alias("t"), F.count(F.lit(1)).alias("k")
    )
    h = (
        pairs.join(tot, "conv_id")
        .groupBy("conv_id", "t", "k")
        .agg(
            (-F.sum(
                (F.col("n") / F.col("t"))
                * F.log2(F.col("n") / F.col("t"))
            )).alias("h")
        )
    )
    convs = transcripts.select("conv_id").distinct()
    return (
        convs.join(h, "conv_id", "left")
        .select(
            "conv_id",
            F.coalesce("t", F.lit(0)).cast("long").alias("n_transitions"),
            F.coalesce("k", F.lit(0)).cast("long").alias("k_pairs"),
            F.round(F.coalesce("h", F.lit(0.0)), 6).alias("h_bits"),
            F.round(
                F.when(
                    F.col("k") > 1, F.col("h") / F.log2(F.col("k"))
                ).otherwise(0.0),
                6,
            ).alias("h_norm"),
        )
    )
