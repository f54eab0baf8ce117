"""Sources: edge-list files, transcript tables, and edge normalization.

Operator coverage (SURVEY.md §2.1):
- S1/S2  ``read_edge_list``  — `u v [w]` text, `%` comments, weight=1
- S3     ``symmetrize``      — both directions, parallel edges deduped
- S4     ``renumber``        — dense 0-based ids (``dense_ids``), optional
         reference-style gap padding; ``actor_edges_to_long`` applies it
         to string actor edges
- S6     ``transcripts_to_edges`` — turn-adjacency edge derivation, with
         windowed, recency-decayed and directed variants
- (new)  ``events_to_transcripts`` — canonical mapping of the ``events``
         testdata table onto the transcript schema, so the same engine
         runs against the testdata parquet.

This module owns the transcript vocabulary every transcript operator
(here, graft.transcripts, graft.algos.wl, graft.temporal) shares: the
actor key (:func:`actor_col`), the stable turn ordering
(:func:`turn_order`) and the time-window label (:func:`time_bucket`).
The undirected, windowed and decayed derivations are one
adjacency-pair builder plus their own aggregation; the directed one
groups the same lagged turns.

Everything here is plain DataFrame ops: the symmetrize/dedup/renumber
pipeline that the reference does imperatively in its CSR loader
(csrc/test/main.cpp:45-177) is a union + groupBy + join that
Catalyst plans as shuffles with AQE coalescing — no driver-side work,
so it holds at 10^12 input turns.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession, Window, WindowSpec
from pyspark.sql import functions as F


def read_edge_list(spark: SparkSession, path: str) -> DataFrame:
    """Parse a `u v [weight]` text edge list.

    Semantics mirror the reference loader (csrc/test/main.cpp:117-177):
    `%`-prefixed comment lines and blank lines are skipped; a missing
    third column means weight 1.0 (csrc/test/main.cpp:134-143).
    Returns ``edges(src long, dst long, weight double)`` — raw (directed
    as written, not yet symmetrized or renumbered).
    """
    lines = spark.read.text(path)
    parts = F.split(F.trim(F.col("value")), r"\s+")
    return (
        lines.where(
            (F.trim("value") != "") & ~F.trim(F.col("value")).startswith("%")
        )
        .select(
            parts.getItem(0).cast("long").alias("src"),
            parts.getItem(1).cast("long").alias("dst"),
            F.coalesce(F.get(parts, 2).cast("double"), F.lit(1.0)).alias("weight"),
        )
    )


def symmetrize(edges: DataFrame) -> DataFrame:
    """Undirected edge table → both directions, parallel edges deduped.

    Matches the reference CSR build (csrc/test/main.cpp:55-73): every
    undirected edge appears once per direction; self-loops appear once.
    Duplicate (src, dst) pairs keep the first weight seen — the reference
    rejects repeated neighbor ids outright (csrc/test/main.cpp:26-33);
    we keep MIN(weight) for determinism under parallel reads.
    """
    sym = edges.select("src", "dst", "weight").unionAll(
        edges.select(
            F.col("dst").alias("src"), F.col("src").alias("dst"), "weight"
        )
    )
    return sym.groupBy("src", "dst").agg(F.min("weight").alias("weight"))


def dense_ids(ids: DataFrame, n_buckets: int = 1024) -> DataFrame:
    """Assign dense 0-based long ids to a ``(vid)`` table with no global
    sort: rank within a deterministic hash bucket, then add exclusive
    bucket offsets (a tiny ``n_buckets``-row cumulative sum, broadcast
    back). Every stage is a keyed shuffle bounded by ``n/n_buckets``
    rows per task — no single-partition window, so it holds at 10^12
    vertices. Ids are a deterministic function of the vid set (hash
    bucket, then vid order within bucket), not globally sorted.
    """
    b = F.pmod(F.xxhash64("vid"), F.lit(n_buckets))
    ranked = ids.select("vid", b.alias("_b")).withColumn(
        "_r", F.row_number().over(Window.partitionBy("_b").orderBy("vid"))
    )
    counts = ranked.groupBy("_b").agg(F.count(F.lit(1)).alias("_n"))
    # cumulative offsets over at most n_buckets rows — bounded, not
    # data-sized, so a one-partition window here is safe at any scale
    # (the constant partition key states that explicitly and keeps the
    # "No Partition Defined" warning out of the logs)
    w_off = (
        Window.partitionBy(F.lit(0))
        .orderBy("_b")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    offsets = counts.select(
        "_b", F.coalesce(F.sum("_n").over(w_off), F.lit(0)).alias("_off")
    )
    return ranked.join(F.broadcast(offsets), "_b").select(
        "vid", (F.col("_off") + F.col("_r") - 1).cast("long").alias("id")
    )


def renumber(
    edges: DataFrame, pad_isolated: bool = False
) -> tuple[DataFrame, DataFrame]:
    """Map arbitrary vertex ids to dense 0-based longs.

    The reference renumbers by min-subtraction and pads id gaps with
    isolated vertices (csrc/test/main.cpp:85-89,153-175). At scale a
    dense rank is the right primitive (id spaces of 10^12-turn graphs
    are sparse), so by default an id that never appears in an edge does
    not exist in the graph; ``pad_isolated=True`` reproduces the
    reference's behavior exactly — every integer id in
    ``[min_id, max_id]`` becomes a vertex, gap ids isolated — for users
    porting KONECT-style files whose vertex counts must match.

    Returns (renumbered edges, mapping(vid long, id long)).
    """
    ids = (
        edges.select(F.col("src").alias("vid"))
        .unionAll(edges.select(F.col("dst").alias("vid")))
        .distinct()
    )
    if pad_isolated:
        spark = edges.sparkSession
        lo_hi = ids.agg(F.min("vid"), F.max("vid")).first()
        if lo_hi[0] is not None:
            ids = spark.range(lo_hi[0], lo_hi[1] + 1).select(
                F.col("id").alias("vid")
            )
    mapping = dense_ids(ids)
    e = (
        edges.join(mapping.withColumnRenamed("vid", "src"), "src")
        .drop("src")
        .withColumnRenamed("id", "src")
        .join(mapping.withColumnRenamed("vid", "dst"), "dst")
        .drop("dst")
        .withColumnRenamed("id", "dst")
        .select("src", "dst", "weight")
    )
    return e, mapping


def actor_col() -> Column:
    """A turn's actor key: ``tool:<tool>`` if the turn called a tool,
    else ``role:<role>`` (BASELINE.json north_star "vertices =
    conv_id/tool/role actors"). A function, like :func:`turn_order`,
    because a Column cannot be built before a session exists."""
    return F.when(
        F.col("tool").isNotNull(), F.concat(F.lit("tool:"), F.col("tool"))
    ).otherwise(F.concat(F.lit("role:"), F.col("role")))


def turn_order() -> WindowSpec:
    """The stable turn ordering every transcript operator lags over."""
    return Window.partitionBy("conv_id").orderBy("turn_idx")


def time_bucket(granularity: str, ts: str = "ts") -> Column:
    """The engine's time-window label: ``date_trunc(granularity, ts)``
    formatted ``yyyy-MM-dd HH:mm:ss``, so lexicographic order is
    chronological order."""
    return F.date_format(
        F.date_trunc(granularity, F.col(ts)), "yyyy-MM-dd HH:mm:ss"
    )


def _lagged_actors(
    transcripts: DataFrame, *carried: str | Column
) -> DataFrame:
    """``(conv_id, turn_idx, actor, *carried, prev_actor)``: each turn's
    actor next to the previous turn's under :func:`turn_order`.
    ``carried`` are column names or aliased Columns."""
    return transcripts.select(
        "conv_id", "turn_idx", actor_col().alias("actor"), *carried
    ).withColumn("prev_actor", F.lag("actor").over(turn_order()))


def _turn_pairs(
    transcripts: DataFrame, include_conv_edges: bool, *carried: str | Column
) -> DataFrame:
    """``(*carried, u, v)``: one canonically oriented (``u <= v``) actor
    pair per adjacent turn pair, plus with ``include_conv_edges`` one
    ``conv:<conv_id>`` – actor pair per turn. ``carried`` (column names
    or aliased Columns) are evaluated per turn, so an adjacency pair
    carries its LATER turn's value (the turn whose arrival creates the
    edge) and a conv pair its own turn's. One window shuffle on
    conv_id."""
    t = _lagged_actors(transcripts, *carried)
    keep = t.columns[3:-1]  # the carried names, between actor and prev_actor
    pairs = t.where(F.col("prev_actor").isNotNull()).select(
        *keep,
        F.least("prev_actor", "actor").alias("u"),
        F.greatest("prev_actor", "actor").alias("v"),
    )
    if include_conv_edges:
        conv = F.concat(F.lit("conv:"), F.col("conv_id"))
        pairs = pairs.unionAll(
            t.select(
                *keep,
                F.least(conv, F.col("actor")).alias("u"),
                F.greatest(conv, F.col("actor")).alias("v"),
            )
        )
    return pairs


def transcripts_to_edges(
    transcripts: DataFrame,
    include_conv_edges: bool = True,
) -> DataFrame:
    """Derive the actor link graph from a transcript table (operator S6).

    Vertices are actor keys: ``conv:<conv_id>`` and the turn actors of
    :func:`actor_col` (``tool:<tool>`` else ``role:<role>``). Edges:
    - one edge per *adjacent turn pair* under the stable turn ordering
      :func:`turn_order`, between the two turns' actors;
    - optionally one edge per turn between the conversation actor and the
      turn's actor (links conversations into the graph).
    Weight = number of co-adjacencies, undirected (canonical min/max
    orientation before the count).

    Scale: one window shuffle on conv_id + one groupBy — both keyed
    shuffles that AQE coalesces; hub actors (popular tools/roles) create
    skew *downstream* in graph algorithms, which is handled there
    (graft.skew), not by pre-aggregating less here.
    """
    return (
        _turn_pairs(transcripts, include_conv_edges)
        .groupBy("u", "v")
        .agg(F.count(F.lit(1)).cast("double").alias("weight"))
    )


def transcripts_to_edges_windowed(
    transcripts: DataFrame,
    granularity: str = "day",
    include_conv_edges: bool = True,
) -> DataFrame:
    """Temporal variant of :func:`transcripts_to_edges`: the same
    actor-adjacency derivation bucketed by time window, returning
    ``(win string, u, v, weight)`` — one link graph per
    ``granularity`` bucket (:func:`time_bucket`; ``date_trunc`` grains:
    hour/day/week/...).

    An adjacency edge belongs to the window of the LATER turn (the turn
    whose arrival creates the edge — consistent with the streaming
    delta semantics, where an edge is emitted when its second endpoint
    arrives); a conv-membership edge belongs to its turn's own window.

    Scale: identical plan shape to the static derivation — the window
    key rides the existing groupBy, so this is still one window shuffle
    + one keyed agg; time-sliced graphs at 10^12 turns are a partition
    column away (`.write.partitionBy("win")`).
    """
    return (
        _turn_pairs(
            transcripts,
            include_conv_edges,
            time_bucket(granularity).alias("win"),
        )
        .groupBy("win", "u", "v")
        .agg(F.count(F.lit(1)).cast("double").alias("weight"))
    )


def transcripts_to_decayed_edges(
    transcripts: DataFrame,
    half_life_s: float = 604_800.0,
    include_conv_edges: bool = True,
) -> DataFrame:
    """Recency-weighted variant of :func:`transcripts_to_edges`: the same
    actor-adjacency derivation, but each co-adjacency contributes
    ``0.5 ** (age_s / half_life_s)`` instead of 1, where ``age_s`` is the
    contributing turn's age in seconds relative to the corpus max ``ts``
    (the LATER turn of an adjacency pair — the turn whose arrival creates
    the edge, consistent with the windowed/streaming semantics).

    This is the edge table a live 10^12-turn deployment actually ranks
    with: stale links fade exponentially instead of accumulating forever,
    and any weighted downstream operator (PageRank, Louvain/Leiden, SSSP,
    link scorers) consumes it unchanged. The reference's static edge
    weighting is the ``half_life_s → inf`` limit (weights → raw counts).

    Determinism: the decay anchor is ``max(ts)`` over the input (a
    one-row tree-reduced aggregate broadcast into the scan), never
    wall-clock "now", so the same snapshot always yields the same graph.
    Weights round to 6 dp so float summation order never shows.

    Scale: identical plan shape to the static derivation — one window
    shuffle on conv_id + one keyed agg; the scalar max adds one
    map-side-combinable agg and a 1-row broadcast. Nothing new shuffles.
    """
    pairs = _turn_pairs(transcripts, include_conv_edges, "ts")
    ref = transcripts.agg(F.max("ts").alias("ref_ts"))
    # timestamp_diff works for both TIMESTAMP and TIMESTAMP_NTZ inputs
    # (a double cast does not), and an interval difference is immune to
    # session-timezone/DST interpretation.
    age_s = F.timestamp_diff(
        "MICROSECOND", F.col("ts"), F.col("ref_ts")
    ) / F.lit(1_000_000.0)
    decay = F.pow(F.lit(0.5), age_s / F.lit(float(half_life_s)))
    return (
        pairs.crossJoin(F.broadcast(ref))
        .groupBy("u", "v")
        .agg(F.round(F.sum(decay), 6).alias("weight"))
    )


def transcripts_to_directed_edges(transcripts: DataFrame) -> DataFrame:
    """Directed variant of :func:`transcripts_to_edges`: one edge per
    adjacent turn pair under the stable turn ordering, oriented in
    CONVERSATION-FLOW direction (the earlier turn's actor → the later
    turn's actor), weight = transition count. Consecutive same-actor
    turns produce self-loops (a real signal: an actor holding the
    floor). No conv↔actor edges — membership has no flow direction.

    This is the input for the direction-aware operators (HITS,
    strongly_connected_components, directed PageRank): an actor that
    frequently FOLLOWS many others is a strong authority; one that many
    others follow next is a strong hub.

    Scale: identical to the undirected derivation — one window shuffle
    on conv_id + one keyed groupBy, both AQE-coalesced.
    """
    return (
        _lagged_actors(transcripts)
        .where(F.col("prev_actor").isNotNull())
        .groupBy(
            F.col("prev_actor").alias("src"), F.col("actor").alias("dst")
        )
        .agg(F.count(F.lit(1)).cast("double").alias("weight"))
    )


def actor_edges_to_long(edges_uv: DataFrame) -> tuple[DataFrame, DataFrame]:
    """String actor edges ``(u, v, weight)`` → long-id edges + mapping
    ``(vid, id)`` from actor key to dense id (:func:`renumber`)."""
    return renumber(
        edges_uv.select(
            F.col("u").alias("src"), F.col("v").alias("dst"), "weight"
        )
    )


def events_to_transcripts(events: DataFrame) -> DataFrame:
    """Canonical mapping of the driver's ``events`` testdata table onto the
    transcript schema (conv_id, turn_idx, role, text, tool, ts).

    conv_id  = user_id as string
    turn_idx = dense 0-based rank within the user's stream, ordered by
               (ts, event_id) — the stable turn ordering
    role     = event_type
    text     = props (opaque payload; carried for the per-turn
               text-equality invariant)
    tool     = for purchase/error events, 't' + (k mod 8) where k is the
               numeric payload in props — a deterministic small tool
               vocabulary that creates hub actors; NULL otherwise
    """
    # Project conv_id FIRST and partition the turn-ordering window by
    # that column itself (r6). Same partition classes as the old
    # user_id key (the string cast is injective), but the window's
    # output partitioning is then hashpartitioning(conv_id), which
    # every downstream Window.partitionBy("conv_id") — the adjacency
    # derivations — satisfies without a second full exchange of the
    # events table. (Partitioning by the cast EXPRESSION does not work:
    # the planner materializes it as a private _w0 attribute the alias
    # map cannot connect to conv_id.)
    base = events.select(
        F.col("user_id").cast("string").alias("conv_id"),
        "event_id",
        "ts",
        "event_type",
        "props",
    )
    w = Window.partitionBy("conv_id").orderBy("ts", "event_id")
    k = F.regexp_extract("props", r"(\d+)", 1).cast("long")
    return base.select(
        "conv_id",
        (F.row_number().over(w) - 1).cast("int").alias("turn_idx"),
        F.col("event_type").alias("role"),
        F.col("props").alias("text"),
        F.when(
            F.col("event_type").isin("purchase", "error"),
            F.concat(F.lit("t"), (k % 8).cast("string")),
        ).alias("tool"),
        "ts",
    )


def read_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/{name}.parquet")


def read_transcript_source(spark: SparkSession, source: str) -> DataFrame:
    """Load the transcript table from either an Iceberg/catalog table
    name or a parquet path (the north-rule input is an Iceberg table of
    (conv_id, turn_idx, role, text, tool, ts) rows).

    A ``source`` with no path separator is treated as a catalog table
    (``catalog.db.table``) and read via ``spark.read.table`` — with the
    Iceberg runtime on the cluster classpath this is the Iceberg read
    path, and snapshot/partition pruning happen inside the source.
    Anything else is a parquet directory/file path (the local testdata
    shape; this sandbox ships no Iceberg jar, so the catalog path is
    exercised on clusters, not in the test suite).
    """
    if "/" not in source and not source.endswith(".parquet"):
        return spark.read.table(source)
    return spark.read.parquet(source)
