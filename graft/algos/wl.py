"""Weisfeiler–Leman (1-WL) color refinement — structural graph
fingerprinting.

Each round recolors every vertex with a hash of (own color, multiset
of neighbor colors); after t rounds two vertices share a color only if
their t-hop neighborhood structures are indistinguishable by 1-WL. The
color table (and the whole-graph color multiset) is the standard
isomorphism-invariant fingerprint: relabeling vertices never changes
the multiset, and non-isomorphic structures usually diverge within 2-3
rounds (1-WL separates almost all graphs).

Training-data relevance: transcript-derived interaction graphs are
full of STRUCTURAL near-duplicates (the same agent loop re-run with
different ids) that text MinHash misses once ids/wording differ; a
WL fingerprint per (sub)graph catches them. The per-vertex colors
also serve as cheap structural features for embedding models.

Spark-first shape: one join + one SUM groupBy per round, all JVM
built-ins (md5/conv like graft.algos.priority — chosen over xxhash64
so the driver's DuckDB oracle can replay the refinement bit-for-bit).
The neighbor multiset enters the recolor as a COMMUTATIVE sum of
per-neighbor 60-bit color hashes (mod 2^60), NOT a sorted
concatenation: the sum agg is map-side combinable and every row stays
a few bytes, where sorted-string aggregation would materialize one
string row proportional to a hub's degree — a 10^7-degree transcript
hub would be a multi-hundred-MB row at 10^12-turn scale. The textbook
injectivity loss (two different multisets summing to the same value)
is a ~2^-60 birthday event per vertex-round, the same accepted
tradeoff as the components fixpoint signature. Rounds are a fixed
parameter (like lpa_2rounds), so no fixpoint probe is needed; state is
one (id, color) table per round. At 100 TB each round is a single
keyed shuffle of the adjacency — the same cost envelope as one
PageRank superstep.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from graft.algos.community import superstep_conf
from graft.checkpoint import row_count, scratch, truncate
from graft.graph import Graph
from graft.io import actor_col, time_bucket, turn_order


_MOD = 2**60


def _recolor(code: F.Column) -> F.Column:
    """60-bit md5-prefix of the canonical (color | neighbor-sum) string —
    bit-identical to DuckDB's ('0x' || substr(md5(s), 1, 15))::BIGINT."""
    return F.conv(
        F.substring(F.md5(F.encode(code, "UTF-8")), 1, 15), 16, 10
    ).cast("long")


def _nbr_sum() -> F.Column:
    """Commutative multiset hash of the neighbor colors: decimal sum of
    per-neighbor 60-bit color rehashes, mod 2^60 (decimal keeps the
    ANSI-mode sum overflow-free; the mod keeps the canonical string
    short and DuckDB-replayable as HUGEINT % 2^60)."""
    return (
        F.sum(_recolor(F.col("color").cast("string")).cast("decimal(38,0)"))
        % F.lit(_MOD)
    ).cast("long")


def wl_colors(graph: Graph, rounds: int = 2) -> DataFrame:
    """Returns ``(id, color long)`` after ``rounds`` 1-WL refinement
    rounds over the simple (self-loop-free, unweighted) graph.
    color_0 = degree; color_{t+1} = H(color_t(v) || '|' ||
    sum_{u∈N(v)} H(color_t(u)) mod 2^60), 0 for isolated vertices.
    Deterministic at any partitioning (the sum is commutative)."""
    verts = graph.vertices()
    # memoized on the Graph (r6): shared leaf with betweenness/sampling,
    # so repeated structural operators pay the distinct + write once
    adj, n_adj = graph.simple_adjacency()
    with scratch() as s:
        deg = adj.groupBy(F.col("src").alias("id")).agg(
            F.count(F.lit(1)).alias("d")
        )
        colors = truncate(
            verts.join(deg, "id", "left").select(
                "id", F.coalesce("d", F.lit(0)).cast("long").alias("color")
            )
        )
        with superstep_conf(graph.edges.sparkSession, n_adj):
            for _ in range(rounds):
                nbr = (
                    adj.join(colors.withColumnRenamed("id", "dst"), "dst")
                    .groupBy(F.col("src").alias("id"))
                    .agg(_nbr_sum().alias("ns"))
                )
                colors = truncate(
                    colors.join(nbr, "id", "left").select(
                        "id",
                        _recolor(
                            F.concat(
                                F.col("color").cast("string"),
                                F.lit("|"),
                                F.coalesce("ns", F.lit(0)).cast("string"),
                            )
                        ).alias("color"),
                    )
                )
        s.keep(colors)
    return colors


def graph_fingerprint(graph: Graph, rounds: int = 2) -> DataFrame:
    """One-row ``(fingerprint string, n_colors long)`` — a commutative
    multiset hash of the final WL colors (sum of per-vertex 60-bit
    rehashes, so the reduce is map-side combinable and never
    driver-sized — same construction as the components signature
    probe) plus the distinct-color count. Isomorphism-invariant: any
    vertex relabeling of the same structure yields the identical row;
    1-WL-distinguishable structures diverge. The sum is returned as a
    decimal string so every engine prints the same digits."""
    fp, nc = _fingerprint_agg()
    return wl_colors(graph, rounds).agg(fp, nc)


def _fingerprint_agg() -> tuple[F.Column, F.Column]:
    """The commutative multiset-hash pair shared by the whole-graph and
    per-conversation fingerprints: decimal sum of per-vertex 60-bit
    color rehashes (map-side combinable) + distinct-color count."""
    return (
        F.sum(
            _recolor(F.col("color").cast("string")).cast("decimal(38,0)")
        )
        .cast("decimal(38,0)")
        .cast("string")
        .alias("fingerprint"),
        F.countDistinct("color").alias("n_colors"),
    )


def conversation_wl_fingerprints(
    transcripts: DataFrame, rounds: int = 2
) -> DataFrame:
    """Per-conversation structural fingerprints: run 1-WL on every
    conversation's own actor-adjacency graph AT ONCE (state keyed by
    ``(conv_id, actor)``) and return one row per conversation —
    ``(conv_id, fingerprint string, n_colors long, n_vertices long)``.

    This is the structural-dedup primitive for transcript corpora: two
    conversations produce the same fingerprint iff their actor
    interaction graphs are 1-WL-indistinguishable — in particular any
    re-run of the same agent loop whose conv_id / tool ids / wording
    changed but whose SHAPE didn't (colors start from degree, so actor
    NAMES never enter the hash). Text MinHash misses exactly these.
    Group by ``fingerprint`` downstream to get candidate dup groups;
    confirm borderline groups with the per-vertex colors if needed
    (1-WL is complete on almost all graphs but not all — see
    tests/test_wl.py::test_wl_known_blind_spot_collides).

    The per-conversation graph is the SIMPLE adjacency: distinct
    unordered actor pairs from adjacent turns under the stable turn
    ordering, self-pairs (an actor holding the floor) dropped — the
    same derivation as graft.io.transcripts_to_edges restricted to one
    conversation, minus weights and the conv hub vertex (a constant
    star that adds no discriminative power within a single graph).

    Scale: every shuffle is keyed by (conv_id, actor) — conversation-
    local, so no global hubs and perfect partition-parallelism at
    10^12 turns; skew is bounded by the longest single conversation.
    Cost = one window shuffle + (rounds+1) keyed joins/aggs, all JVM
    built-ins.
    """
    t = transcripts.select(
        "conv_id", "turn_idx", actor_col().alias("actor")
    ).withColumn("prev", F.lag("actor").over(turn_order()))

    und = t.where(
        F.col("prev").isNotNull() & (F.col("prev") != F.col("actor"))
    ).select("conv_id", F.col("prev").alias("a"), F.col("actor").alias("b"))
    verts = t.select("conv_id", F.col("actor").alias("id")).distinct()
    return _grouped_wl_fingerprints(und, verts, "conv_id", rounds)


def windowed_wl_fingerprints(
    transcripts: DataFrame,
    granularity: str = "week",
    rounds: int = 2,
) -> DataFrame:
    """Per-time-window structural fingerprints — the DRIFT detector:
    one 1-WL fingerprint of the actor-adjacency graph per
    ``date_trunc(granularity, ts)`` bucket, ``(win string, fingerprint
    string, n_colors long, n_vertices long)``. Two windows fingerprint
    equal iff their interaction graphs are 1-WL-indistinguishable, so
    a changed row flags a structural protocol shift (new tool loops, a
    changed agent policy) between e.g. weekly transcript drops —
    before any per-conversation diffing.

    Each window's graph is self-contained: vertices are the actors of
    the window's own turns; adjacency pairs require BOTH consecutive
    turns in the window (cross-window adjacencies are dropped — they
    belong to no single bucket). Same keyed-shuffle scale shape as the
    per-conversation variant, with `win` as the group key.
    """
    w = turn_order()
    t = (
        transcripts.select(
            "conv_id", "turn_idx", actor_col().alias("actor"),
            time_bucket(granularity).alias("win"),
        )
        .withColumn("prev", F.lag("actor").over(w))
        .withColumn("prev_win", F.lag("win").over(w))
    )
    und = t.where(
        F.col("prev").isNotNull()
        & (F.col("prev") != F.col("actor"))
        & (F.col("prev_win") == F.col("win"))
    ).select("win", F.col("prev").alias("a"), F.col("actor").alias("b"))
    verts = t.select("win", F.col("actor").alias("id")).distinct()
    return _grouped_wl_fingerprints(und, verts, "win", rounds)


def _grouped_wl_fingerprints(
    und: DataFrame, verts: DataFrame, key: str, rounds: int
) -> DataFrame:
    """Shared grouped-WL core: ``und`` = undirected simple pair list
    ``(key, a, b)`` (a != b, possibly repeated), ``verts`` = ``(key,
    id)`` distinct. Runs 1-WL independently inside every key group in
    one job set and returns ``(key, fingerprint, n_colors,
    n_vertices)``."""
    with scratch() as s:
        adj = truncate(
            und.select(key, F.col("a").alias("src"), F.col("b").alias("dst"))
            .unionAll(
                und.select(key, F.col("b").alias("src"), F.col("a").alias("dst"))
            )
            .distinct()
        )
        deg = adj.groupBy(key, F.col("src").alias("id")).agg(
            F.count(F.lit(1)).alias("d")
        )
        colors = truncate(
            verts.join(deg, [key, "id"], "left").select(
                key,
                "id",
                F.coalesce("d", F.lit(0)).cast("long").alias("color"),
            )
        )
        with superstep_conf(und.sparkSession, row_count(adj)):
            for _ in range(rounds):
                nbr = (
                    adj.join(
                        colors.withColumnRenamed("id", "dst"),
                        [key, "dst"],
                    )
                    .groupBy(key, F.col("src").alias("id"))
                    .agg(_nbr_sum().alias("ns"))
                )
                colors = truncate(
                    colors.join(nbr, [key, "id"], "left").select(
                        key,
                        "id",
                        _recolor(
                            F.concat(
                                F.col("color").cast("string"),
                                F.lit("|"),
                                F.coalesce("ns", F.lit(0)).cast("string"),
                            )
                        ).alias("color"),
                    )
                )
        s.keep(colors)
    fp, nc = _fingerprint_agg()
    return colors.groupBy(key).agg(
        fp, nc, F.count(F.lit(1)).alias("n_vertices")
    )
