"""Shared machinery for Louvain/Leiden: bulk-synchronous local moving,
graph aggregation (contraction) and label propagation down the level
hierarchy.

This is the Spark re-expression of the reference's hottest path
(SURVEY.md §2.4 C5/C6, §4 P1-P3):

- the node→community weight gather (A2,
  edge_gather_new_neighbor_comm_weights_kernel,
  csrc/src/leiden_kernel.cu:187-227) is a join + partial/final hash
  aggregation — the exact rewrite that took the reference from 92.7 s to
  0.6 s (report.txt:19-27), and the one Catalyst plans natively;
- the per-vertex argmax (C5) is a struct-max aggregation (no window —
  map-side partials absorb hub skew);
- the reference's graph-coloring + per-community locks (P3,
  csrc/src/leiden_kernel.cu:66-76,144-159) become a deterministic
  independent-set commit: a selected mover commits only if its hash
  priority beats every adjacent mover's, which prevents the A↔B
  oscillation of naive bulk-synchronous moves while staying lock-free.

Vertex state: ``(id long, community long, agg_count long, k double)``
with ``k`` = strength (self-loops doubled) and ``agg_count`` = number of
original vertices carried by the (super)node.
"""

from __future__ import annotations

from contextlib import contextmanager
from dataclasses import dataclass

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from graft.checkpoint import row_count, scratch, truncate
from graft.quality import _community_internal_weight


@dataclass
class Level:
    """One level of the hierarchy: symmetrized edges + vertex state."""

    edges: DataFrame  # (src, dst, weight) symmetrized, loops once
    vertices: DataFrame  # (id, community, agg_count, k)


def _strength(edges: DataFrame) -> DataFrame:
    """``(id, k)``: each vertex's weighted degree over symmetrized
    ``edges``, self-loops counted twice (the modularity convention,
    custom_leiden.py:103-111)."""
    return edges.groupBy(F.col("src").alias("id")).agg(
        F.sum(
            F.when(F.col("src") == F.col("dst"), F.col("weight") * 2).otherwise(
                F.col("weight")
            )
        ).alias("k")
    )


def init_level(edges: DataFrame) -> Level:
    """Singleton communities, agg_count=1, k=strength (C1,
    custom_leiden.py:525-531)."""
    verts = _strength(edges).select(
        "id",
        F.col("id").alias("community"),
        F.lit(1).cast("long").alias("agg_count"),
        "k",
    )
    return Level(edges=edges, vertices=verts)


def gather_neighbor_comm_weights(
    edges: DataFrame, assign: DataFrame
) -> DataFrame:
    """A2: for every (vertex, neighboring community) the total edge
    weight — self-loops excluded (a node is not its own neighbor,
    csrc/src/leiden_kernel.cu:66-69). Returns (id, nbr_comm, k_vc).

    This join needs only the neighbor's ``(id, community)``, while
    ``_select_moves``'s ``v`` join needs the vertex's whole state, so
    column pruning gives the two vertex-state broadcasts different
    schemas and both are built each sweep (on small levels the planner
    may broadcast the edge side here instead). The single-build pin in
    tests/test_plan_pins_bsp.py covers the community aggregate only."""
    a = assign.alias("_as")
    return (
        edges.where(F.col("src") != F.col("dst"))
        .join(a, F.col("dst") == F.col("_as.id"))
        .groupBy(
            F.col("src").alias("id"),
            F.col("_as.community").alias("nbr_comm"),
        )
        .agg(F.sum("weight").alias("k_vc"))
    )


def community_aggregates(vertices: DataFrame) -> DataFrame:
    """(community, n long, stot double): aggregate node count + total
    strength per community (A1 recomputed per superstep — the reference
    found full re-gather beats incremental maintenance, report.txt:24-25)."""
    # coalesce: a plain sum is nullable, and Catalyst then infers an
    # isnotnull filter on whichever join side keys on it — the two
    # broadcasts of this aggregate in _select_moves stop canonicalizing
    # alike and the aggregate is built twice per sweep. Sums over a
    # non-empty group of non-null columns are never null, so this
    # changes no value.
    return vertices.groupBy("community").agg(
        F.coalesce(F.sum("agg_count"), F.lit(0)).alias("n"),
        F.coalesce(F.sum("k"), F.lit(0.0)).alias("stot"),
    )


def _select_moves(
    vertices: DataFrame,
    gather: DataFrame,
    comm_agg: DataFrame,
    objective: str,
    gamma: float,
    m: float,
) -> DataFrame:
    """Per-vertex best positive-delta move → (id, new_community, delta).

    CPM delta (SURVEY.md §1.4 item 4, custom_leiden.py:262-280):
        ΔH = (k_v→new − γ·n_v·n_new) − (k_v→own\\v − γ·n_v·(n_own − n_v))
    Modularity delta (custom_louvain.py:124-160 closed form):
        ΔQ = (k_v→new − k_v→own\\v)/m − k_v·(Σtot_new − Σtot_own + k_v)/(2m²)

    Plan shape (r5 rewrite): the delta decomposes as
        Δ(v → C) = score(v, C) − own_part(v)
    where score carries everything candidate-dependent (k_v→C and the
    target community's aggregates) and own_part everything fixed per
    vertex (k_v→own, the own community's aggregates). Since own_part is
    constant across a vertex's candidates, argmax-by-score ≡
    argmax-by-delta (subtracting a per-vertex constant is monotone),
    so one grouped aggregation computes BOTH the best candidate (max
    struct(score, −nbr_comm) over other-community rows — same
    deterministic min-label tie-break) and k_v→own (sum over own-
    community rows); own_part is applied afterwards on the V-sized
    result and Δ>0 filtered there. The r4 shape joined gather back to a
    per-vertex base table, which cost two sort-merge exchanges of the
    gather-sized relation per sweep; this shape's only non-broadcast
    grouping key is the vertex id — and when the caller pre-partitions
    the edge table by src (move_nodes does, once per level), the gather
    agg, this agg, and every broadcast dimension join all run in the
    SAME partitioning: the steady-state sweep shuffles nothing but the
    commit set.
    """
    v = vertices.select("id", "community", "agg_count", "k").alias("_v")
    # Both dimension joins broadcast the IDENTICAL un-projected comm_agg
    # subtree, so the community aggregate's shuffle + broadcast is built
    # ONCE per sweep and the second join plans as a ReusedExchange of it
    # (pinned in tests/test_plan_pins_bsp.py). This needs the aggregate's
    # columns to be non-nullable (see community_aggregates).
    ca1 = comm_agg.alias("_ca1")
    ca2 = comm_agg.alias("_ca2")
    cand = gather.join(v, "id").join(
        F.broadcast(ca1), F.col("nbr_comm") == F.col("_ca1.community")
    )
    if objective == "cpm":
        score = (
            F.col("k_vc")
            - F.lit(gamma) * F.col("agg_count") * F.col("_ca1.n")
        )
    elif objective == "modularity":
        score = F.col("k_vc") / F.lit(m) - F.col("k") * F.col(
            "_ca1.stot"
        ) / F.lit(2.0 * m * m)
    else:
        raise ValueError(f"unknown objective {objective!r}")
    is_cand = F.col("nbr_comm") != F.col("_v.community")
    agg = cand.groupBy(
        "id", F.col("_v.community").alias("community"), "agg_count", "k"
    ).agg(
        F.max(
            F.when(
                is_cand,
                F.struct(score.alias("s"), (-F.col("nbr_comm")).alias("nc")),
            )
        ).alias("top"),
        F.coalesce(
            F.sum(F.when(~is_cand, F.col("k_vc"))), F.lit(0.0)
        ).alias("k_own"),
    ).alias("_ag")
    best = agg.where(F.col("top").isNotNull()).join(
        F.broadcast(ca2), F.col("_ag.community") == F.col("_ca2.community")
    )
    if objective == "cpm":
        own_part = F.col("k_own") - F.lit(gamma) * F.col("agg_count") * (
            F.col("_ca2.n") - F.col("agg_count")
        )
    else:
        own_part = F.col("k_own") / F.lit(m) - F.col("k") * (
            F.col("_ca2.stot") - F.col("k")
        ) / F.lit(2.0 * m * m)
    return (
        best.select(
            "id",
            (-F.col("top.nc")).alias("new_community"),
            (F.col("top.s") - own_part).alias("delta"),
        )
        .where(F.col("delta") > 0)
    )


def _resolve_conflicts(
    moves: DataFrame, edges: DataFrame, it: int, seed: int
) -> DataFrame:
    """Commit a gain-prioritized independent set of movers (P3 rewrite).

    A mover yields only to an adjacent mover that (a) targets a
    DIFFERENT community and (b) carries a lower (hash, id) priority.
    Mirrors the intent of the reference's lowest-random-wins coloring
    (csrc/src/leiden_kernel.cu:66-76) — prevent adjacent rearrangements
    from committing blind to each other — minus one pathology under
    bulk-synchronous execution: same-target neighbors (the common case
    when communities grow from singletons, or merge wholesale) don't
    actually conflict, they are joining the same merge, so exempting
    them lets a sweep commit entire merges at once instead of one
    hash-local-maximum per neighborhood (measured r2: 50-sweep levels
    → ~15). The priority stays a per-sweep HASH, not the move's gain:
    gain fields are spatially correlated in hub graphs (a hub's delta
    dominates its whole neighborhood), which collapses the committed
    independent set to a handful of movers per sweep; a rough random
    field keeps many local maxima. Deterministic for a fixed (it, seed).
    """
    h = F.xxhash64(F.col("id"), F.lit(it), F.lit(seed))
    m = moves.select("id", "new_community", "delta", h.alias("h"))
    mover_edges = (
        edges.where(F.col("src") != F.col("dst"))
        .join(
            m.select(
                F.col("id").alias("src"),
                F.col("new_community").alias("c_src"),
                F.col("h").alias("h_src"),
            ),
            "src",
        )
        .join(
            m.select(
                F.col("id").alias("dst"),
                F.col("new_community").alias("c_dst"),
                F.col("h").alias("h_dst"),
            ),
            "dst",
        )
    )
    beats = (F.col("h_dst") < F.col("h_src")) | (
        (F.col("h_dst") == F.col("h_src")) & (F.col("dst") < F.col("src"))
    )
    # No distinct before the anti join (r6): LEFT ANTI ignores right-side
    # duplicates, so a .distinct() would only add an exchange + two
    # hash-agg passes per sweep.
    blocked = mover_edges.where(
        (F.col("c_dst") != F.col("c_src")) & beats
    ).select(F.col("src").alias("id"))
    return m.join(blocked, "id", "left_anti").select(
        "id", "new_community", "delta"
    )


def _quality(
    edges: DataFrame, vertices: DataFrame, objective: str, gamma: float, m: float
) -> float:
    """Current partition quality from two aggregations (closed forms)."""
    w_in = _community_internal_weight(edges, vertices)
    comm = community_aggregates(vertices).join(w_in, "community", "left")
    if objective == "cpm":
        expr = F.sum(
            F.coalesce("w_in", F.lit(0.0))
            - F.lit(gamma) * F.col("n") * (F.col("n") - 1) / 2.0
        )
    else:
        expr = F.sum(
            F.coalesce("w_in", F.lit(0.0)) * 2 / (2 * m)
            - (F.col("stot") / (2 * m)) * (F.col("stot") / (2 * m))
        )
    return float(comm.agg(expr).first()[0] or 0.0)


# sweep index from which oscillation detection kicks in; before that,
# sweeps are assumed productive
_QUALITY_CHECK_FROM = 5
# local moving stops once this many quality probes in a row found no
# improvement over the best-seen partition
_PATIENCE = 3
# the exact-quality probe is an edges double-join costing about as much
# as a sweep, so it runs ONLY when the free committed-gain signal
# collapses — absolutely (≤1e-12) or relative to the best sweep seen
# (below COLLAPSE_REL of the peak committed gain, the signature of an
# oscillating churn set whose claimed gains are a sliver of the level's
# productive phase) — plus one catch-up probe at loop exit. Healthy
# levels whose movers keep claiming real gain pay no probe at all
# (r3 ran a cadence-2 fallback: +50% steady-state tax on long levels).
_QUALITY_COLLAPSE_REL = 1e-3


def superstep_reducers(n_edge_rows: int, cores: int, configured: int) -> int:
    """Superstep reducer count for a level of ``n_edge_rows`` edge rows
    (see :func:`superstep_conf`)."""
    by_size = -(-int(n_edge_rows) // 500_000)
    by_cores = min(cores, -(-int(n_edge_rows) // 250_000))
    return max(4, min(configured, max(by_size, by_cores)))


def refine_reducers(n_edge_rows: int, cores: int, sp: int) -> int:
    """Reducer count of the refinement cogroup, given the superstep
    count ``sp``: never fewer than ``sp``, else one task per 40k edge
    rows, capped at three waves (3 x cores).

    The stage is task-bound — each task converts its Arrow batches to
    pandas and makes one native ``refine_batch`` call — so every task
    beyond the data's need is a fixed Python worker round-trip. Measured
    on local[4] (synthetic powerlaw levels after local moving, refine +
    spill wall, median of 3): 58k rows 1.06 s at 4 tasks vs 1.58 s at
    12; 247k rows 1.33 s at this rule's 7 vs 1.55 s at 12; 496k rows
    0.94 s at 4 vs 1.71 s at 12; 4M rows 2.06 s at ``sp`` = 8 vs 2.64 s
    at 12. On 4 cores ``sp`` alone was fastest at every size; the
    3 x cores cap stands on many-core evidence not re-measured since
    the native kernel (r3: half of 32 cores idle with 16 reducers on a
    4M-row level; r4: straggler-bound walls at exactly one wave).
    Labels do not depend on this count: each ``(community, _b)`` group
    seeds its own RNG stream whatever bucket carries it."""
    return max(sp, min(3 * cores, -(-int(n_edge_rows) // 40_000)))


@contextmanager
def superstep_conf(spark, n_edge_rows: int):
    """Session tuning for iterative superstep sections; yields the
    reducer count chosen for this data size.

    - AQE off: every exchange otherwise becomes a separately-
      materialized query stage (serial driver round-trips); superstep
      state tables are small enough that static planning with
      parquet-leaf sizes already picks the right joins. Scan-heavy
      one-shot queries keep AQE (skew-join splitting at scale).
    - Reducer count sized to the DATA first, cores second (the static
      analog of AQE's by-size coalescing): a superstep over a 30k-row
      level gains nothing from 32-task stages — it only pays 32 task
      launches per stage × ~12 stages × ~15 sweeps of pure latency.
      Baseline ~500k edge rows per reducer; when the session has more
      cores than that yields tasks, reducers shrink toward 250k rows
      (measured r2 at local[32] on a 4M-row level: 16 reducers ≈ 25%
      faster sweeps than 8; 32 reducers worse again). Configured
      parallelism is only ever LOWERED, never raised, so 10^12-row
      clusters keep their setting.
    """
    aqe_before = spark.conf.get("spark.sql.adaptive.enabled", "true")
    sp_before = spark.conf.get("spark.sql.shuffle.partitions", "200")
    sp = superstep_reducers(
        n_edge_rows, spark.sparkContext.defaultParallelism, int(sp_before)
    )
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    spark.conf.set("spark.sql.shuffle.partitions", str(sp))
    try:
        yield sp
    finally:
        spark.conf.set("spark.sql.adaptive.enabled", aqe_before)
        spark.conf.set("spark.sql.shuffle.partitions", sp_before)


def one_task(graph, threshold: int, checkpointer=None) -> bool:
    """The one-task gate of the fixpoint operators (pagerank,
    connected_components, triangle_count, strongly_connected_components,
    truss_number, core_number, pic_embedding, minimum_spanning_forest):
    True when the whole computation should run as ONE executor task
    (:func:`run_one_task`) instead of supersteps.

    - A graph of at most ``threshold`` edge rows fits one Arrow batch,
      and at that size every distributed superstep costs more in job
      latency than the whole remaining computation. The operators'
      1M-row default (r3): the union-find kernel takes ~1.3 s and the
      triangle kernel ~4 s on 1M symmetrized rows, under the superstep
      paths' shuffle cost at that size.
    - ``threshold`` 0 forces supersteps.
    - A ``checkpointer`` forces supersteps: per-superstep resume is
      the point of checkpointing.

    The terms are evaluated in that order, so the last two cases run
    no count job; otherwise the count is :meth:`Graph.edge_rows`,
    memoized on the Graph."""
    return (
        checkpointer is None
        and bool(threshold)
        and graph.edge_rows() <= threshold
    )


def run_one_task(fn, schema: str, edges: DataFrame, nodes=None) -> DataFrame:
    """Run ``fn`` over the whole of ``edges`` (and ``nodes``) in ONE
    executor task: every row gets the constant key ``_g``, one group
    shuffles to one task, and ``fn`` gets the rows as pandas frames
    without the key — ``fn(edges_pdf)`` through ``groupBy``, or
    ``fn(nodes_pdf, edges_pdf)`` through ``cogroup`` when there is a
    node side. The driver never touches row data.

    An empty input has no group, so ``fn`` is not called and the
    result is empty. A node side derived from the edge endpoints is
    never empty in the one group, whereas the edge side may be (an
    empty side arrives with its columns and dtypes)."""
    e = edges.select(F.lit(0).alias("_g"), "*").groupBy("_g")
    if nodes is None:
        return e.applyInPandas(
            lambda epdf: fn(epdf.drop(columns="_g")), schema=schema
        )
    return (
        nodes.select(F.lit(0).alias("_g"), "*")
        .groupBy("_g")
        .cogroup(e)
        .applyInPandas(
            lambda vpdf, epdf: fn(
                vpdf.drop(columns="_g"), epdf.drop(columns="_g")
            ),
            schema=schema,
        )
    )


def level_counts(
    level: Level, n_rows: int | None = None
) -> tuple[int, int]:
    """(edge rows, vertices) of a level, the one count a level loop
    takes per level: from the parquet footers when the level's tables
    are graft leaves (every contracted level), otherwise with the
    vertex count's aggregation under AQE off (one job, not one per
    stage). ``n_rows``, when the caller knows it, is taken as the edge
    rows uncounted."""
    if n_rows is None:
        n_rows = row_count(level.edges)
    with superstep_conf(level.edges.sparkSession, n_rows):
        n_verts = row_count(level.vertices)
    return n_rows, n_verts


def move_nodes(
    level: Level,
    objective: str,
    gamma: float = 1.0,
    m: float = 1.0,
    max_sweeps: int = 50,
    seed: int = 1234,
    on_sweep=None,
    n_edge_rows: int | None = None,
) -> tuple[Level, int]:
    """Local moving to convergence (C5/C8): repeat gather → delta →
    argmax → independent-set commit → apply, until a sweep commits zero
    moves OR the partition quality stops improving for ``_PATIENCE``
    probes (bulk-synchronous moves on hub-heavy graphs can oscillate a
    small churn set forever — quality-guided stopping keeps the
    best-seen partition, the BSP analog of the reference's hard
    10-iteration cap, csrc/src/leiden_kernel.cu:1211-1213).

    Superstep cadence (the r1/r2 perf lesson): per-sweep cost at small
    state sizes is DRIVER-side — Catalyst analysis scales with plan-tree
    size, and plans are trees, not DAGs, so every re-reference of the
    gather subtree re-expands it. Each sweep therefore materializes the
    small commit set first (one compact plan), reads its count, applies
    it with a trivial plan, and runs the exact quality probe (small
    double-join plan) against the already-materialized state only at
    probe cadence once oscillation detection is active — the per-sweep
    health signal is the committed-gain sum, which falls out of the
    commit-count aggregation for free. Parquet rereads are schema-pinned
    (no per-sweep footer inference) and AQE is suspended for the loop
    (per-stage re-optimization latency exceeds its value on superstep
    state tables; see the conf save/restore below).

    ``n_edge_rows`` is the edge table's row count when the caller
    already knows it (level loops count each level once); otherwise it
    is taken with :func:`graft.checkpoint.row_count`.

    Returns (updated level with the best-seen vertices, total moves).
    """
    edges = level.edges
    spark = edges.sparkSession
    if n_edge_rows is None:
        n_edge_rows = row_count(edges)
    with superstep_conf(spark, n_edge_rows) as sp_sweep, scratch() as s:
        # One shuffle per LEVEL instead of per sweep: hash-partition the
        # edge table by src and keep it cached for the whole loop. The
        # gather groupBy(src, nbr_comm), the per-vertex argmax groupBy
        # (id = src), and the broadcast dimension joins in _select_moves
        # all satisfy their clustering from hash(src), so the steady-
        # state sweep plan contains no E-sized exchange at all — the
        # partitioning amortizes over ~15 sweeps. (Also right-sizes the
        # partition count: the old coalesce() did only that part.)
        loop_edges = s.persist(edges.repartition(sp_sweep, "src"))
        loop_edges.count()
        out, total = _move_nodes_loop(
            Level(edges=loop_edges, vertices=level.vertices),
            objective, gamma, m, max_sweeps, seed, on_sweep,
        )
        # the best-seen state is one of the loop's spills; every other
        # spill of the loop is released with the scratch
        s.keep(out.vertices)
        # hand back the CALLER's edge frame, not the loop-local
        # repartitioned derivative: callers unpersist level.edges when
        # the level is contracted away, and unpersisting a derived frame
        # is a no-op that would leak the original cached table
        return Level(edges=edges, vertices=out.vertices), total


def _move_nodes_loop(
    level: Level,
    objective: str,
    gamma: float,
    m: float,
    max_sweeps: int,
    seed: int,
    on_sweep,
) -> tuple[Level, int]:
    from pyspark.sql import Observation

    edges = level.edges
    vertices = truncate(
        level.vertices.select("id", "community", "agg_count", "k")
    )
    total = 0
    best_vertices = vertices
    best_q = None
    final_q = None  # quality of `vertices`, when known
    stall = 0
    peak_gain = 0.0
    for it in range(max_sweeps):
        gather = gather_neighbor_comm_weights(edges, vertices)
        comm_agg = community_aggregates(vertices)
        # Materialize the (small) move set FIRST, for two reasons. One:
        # the conflict chain references the moves subtree three times and
        # plans are trees, not DAGs — folding it unmaterialized into the
        # apply/quality plan re-expands the gather subtree ~5x and
        # Catalyst analysis cost (driver CPU) dominates the sweep
        # (measured r2: the one-big-job variant was ~2x slower per sweep
        # than this). Two: the conflict resolution joins the EDGE table
        # against the movers twice — against an unmaterialized subquery
        # (no stats, AQE off) Catalyst picks a shuffled join and moves
        # the whole edge table twice per sweep; against a parquet leaf
        # whose stats say "a few MB" it broadcasts the movers and the
        # edge table is only scanned, never exchanged (measured r2:
        # ~25% off the marginal sweep cost, and less DRAM traffic =
        # less multi-core cache-contention inflation).
        moves = truncate(
            _select_moves(vertices, gather, comm_agg, objective, gamma, m)
        )
        # The conflict resolution, its (move count, committed-gain sum)
        # metrics AND the apply all ride ONE materialization: the
        # resolved commit set is explicitly broadcast into the apply
        # join, so the vertex table is scanned in place exactly as it
        # was when the commit set was a separately-materialized parquet
        # leaf (commit sets are mover-bounded and small by
        # construction), and the Observation on the conflict subtree is
        # collected during the same write. Net: TWO driver-materialized
        # jobs per sweep (select, resolve+apply). An r6 experiment that
        # deferred the apply as a chained lazy broadcast join — writing
        # only the commit set per sweep — measured 15-40% SLOWER per
        # sweep at local[4]/local[32] (the chain re-executes inside
        # every broadcast build of the next sweep), so the fused shape
        # stays. Each committed delta is the mover's claimed objective
        # gain; simultaneous movers can realize less, so the observed
        # sum is a health signal, not a quality delta.
        obs = Observation(f"commits_{it}")
        commits = _resolve_conflicts(moves, edges, it, seed).observe(
            obs,
            F.count(F.lit(1)).alias("n"),
            F.coalesce(F.sum("delta"), F.lit(0.0)).alias("g"),
        )
        new_vertices = truncate(
            vertices.join(F.broadcast(commits), "id", "left").select(
                "id",
                F.coalesce("new_community", "community").alias("community"),
                "agg_count",
                "k",
            )
        )
        crow = obs.get
        n_moves, gain = crow["n"], float(crow["g"])
        peak_gain = max(peak_gain, gain)
        # exact quality: a deliberately SMALL plan over the materialized
        # state, ONLY when the committed-gain signal collapses (see
        # _QUALITY_COLLAPSE_REL above); it evaluates the partition that
        # ENTERED this sweep (same stream as evaluating each produced
        # state, shifted one sweep)
        q_cur = None
        if it >= _QUALITY_CHECK_FROM and (
            gain <= 1e-12 or gain < peak_gain * _QUALITY_COLLAPSE_REL
        ):
            q_cur = _quality(edges, vertices, objective, gamma, m)
        if q_cur is not None:
            final_q = q_cur
            if best_q is None or q_cur > best_q + 1e-12:
                best_q = q_cur
                best_vertices = vertices
                stall = 0
            else:
                stall += 1
        elif best_q is None:
            best_vertices = vertices  # quality tracking not active yet
        if n_moves == 0:
            break  # terminal sweep: state unchanged, keep `vertices`
        total += n_moves
        vertices = new_vertices
        final_q = None  # the new state has not been evaluated yet
        if on_sweep is not None:
            on_sweep(it, n_moves, new_vertices)
        if stall >= _PATIENCE:
            break
    # the loop's last state may be unevaluated (stall/max_sweeps exit one
    # sweep after its chain ran) — one catch-up quality job, then keep
    # whichever partition scored best
    if best_q is not None and vertices is not best_vertices:
        if final_q is None:
            final_q = _quality(edges, vertices, objective, gamma, m)
        if final_q > best_q + 1e-12:
            best_q = final_q
            best_vertices = vertices
    elif best_q is None:
        best_vertices = vertices  # quality tracking never kicked in
    return Level(edges=edges, vertices=best_vertices), total


def aggregate_graph(edges: DataFrame, assign: DataFrame) -> DataFrame:
    """A4 contraction: community graph with self-loops carrying the
    single-counted intra-community weight (custom_leiden.py:611-637
    'Important: this should include adding self-edges').

    Input edges symmetrized → output edges symmetrized by construction;
    internal non-loop weight lands twice on (c, c) so it is halved, then
    original loops are added once.
    """
    a_src = assign.select(F.col("id").alias("src"), F.col("community").alias("cu"))
    a_dst = assign.select(F.col("id").alias("dst"), F.col("community").alias("cv"))
    joined = edges.join(a_src, "src").join(a_dst, "dst")
    return joined.groupBy(
        F.col("cu").alias("src"), F.col("cv").alias("dst")
    ).agg(
        (
            F.sum(
                F.when(
                    (F.col("cu") == F.col("cv")) & (F.col("src") != F.col("dst")),
                    F.col("weight") / 2,
                ).otherwise(F.lit(0.0))
            )
            + F.sum(
                F.when(
                    ~((F.col("cu") == F.col("cv")) & (F.col("src") != F.col("dst"))),
                    F.col("weight"),
                ).otherwise(F.lit(0.0))
            )
        ).alias("weight")
    )


def aggregate_vertices(vertices: DataFrame, new_edges: DataFrame) -> DataFrame:
    """Vertex state for the contracted graph: one supernode per
    community, agg_count summed, k recomputed from the new edges,
    fresh singleton communities."""
    counts = vertices.groupBy(F.col("community").alias("id")).agg(
        F.sum("agg_count").alias("agg_count")
    )
    return counts.join(_strength(new_edges), "id", "left").select(
        "id",
        F.col("id").alias("community"),
        "agg_count",
        F.coalesce("k", F.lit(0.0)).alias("k"),
    )


def propagate_labels(
    base_ids: DataFrame, mappings: list[DataFrame]
) -> DataFrame:
    """C14: fold child→parent mapping tables down to original vertices.

    ``mappings[i]`` is (child long, parent long) for level i. Returns
    (id, community). One join per level — the hierarchy is shallow
    (O(log V) levels), so this is a handful of broadcastable joins.
    """
    cur = base_ids.select("id", F.col("id").alias("community"))
    for mp in mappings:
        cur = (
            cur.join(
                mp.withColumnRenamed("child", "community"), "community", "left"
            )
            .select(
                "id",
                F.coalesce("parent", "community").alias("community"),
            )
        )
    return cur

