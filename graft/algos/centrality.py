"""Katz and eigenvector centrality (cugraph API family parity).

The cugraph ecosystem the reference wires (examples/cugraph-cpp-api/)
ships ``katz_centrality`` and ``eigenvector_centrality`` alongside
pagerank; the engine carries both as DataFrame superstep loops over the
symmetrized weighted edge table (same per-superstep plan shape as
PageRank: the small score table joins into the big edge scan — the edge
table is never shuffled — followed by one groupBy-sum; lineage truncated
per superstep, AQE off + data-sized reducers via superstep_conf).

A per-step scalar costs no job of its own (checkpoint.observed): a norm
is observed during the write of its raw vector, whose unit vector is a
projection of the leaf; the L1 delta during a write whose rows carry
the previous value as ``old``.

Semantics (fixed-iteration forms are what the SQL oracles certify):

- Katz:        x_{t+1}(v) = alpha * Σ_{u} w_uv · x_t(u) + beta,
               from x_0 = beta; optional final L2 normalization
               (the cugraph convention). alpha must be below the
               reciprocal spectral radius for the fixpoint to exist;
               the fixed-iteration mode is well-defined for any alpha.
- Eigenvector: y = A·x_t ; x_{t+1} = y / ||y||_2, from the L2-unit
               constant vector — classic power iteration on the
               weighted adjacency (converges to the principal
               eigenvector on connected non-bipartite graphs).

Self-loops contribute once per direction of the symmetrized table (a
loop row (v, v, w) adds w·x(v) into v's own sum), matching what the
plain relational A·x product computes — and what the oracle SQL mirrors.
"""

from __future__ import annotations

import math

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from graft.algos.community import superstep_conf
from graft.checkpoint import drop_spill, observed, scratch, truncate
from graft.graph import Graph


def _next_vector(
    verts: DataFrame, x: DataFrame, inflow: DataFrame, value: Column,
    probe: bool,
) -> DataFrame:
    """``(id, x)`` = ``value`` over ``inflow`` for every vertex; with
    ``probe`` also ``(old)``, the previous vector, for the L1 delta."""
    if not probe:
        return verts.join(inflow, "id", "left").select("id", value.alias("x"))
    return x.withColumnRenamed("x", "old").join(inflow, "id", "left").select(
        "id", value.alias("x"), "old"
    )


def _unit_step(
    raw: DataFrame, probe: bool
) -> tuple[DataFrame, DataFrame, float, float | None]:
    """Writes ``raw`` with its L2 norm observed; returns (unit vector,
    the spill it reads, norm, L1 delta or None). The unit vector is a
    projection of that spill (a zero vector stays as it is); with
    ``probe`` it is written once more, its delta to ``old`` observed."""
    raw, obs = observed(raw, sq=F.sum(F.col("x") * F.col("x")))
    leaf = truncate(raw)
    norm = math.sqrt(obs.get["sq"] or 0.0)
    unit = leaf.withColumn("x", F.col("x") / F.lit(norm)) if norm else leaf
    if not probe:
        return unit, leaf, norm, None
    unit, obs = observed(unit, l1=F.sum(F.abs(F.col("x") - F.col("old"))))
    unit = truncate(unit.select("id", "x"))
    drop_spill(leaf)
    return unit, unit, norm, obs.get["l1"] or 0.0


def _ax(edges: DataFrame, x: DataFrame, out_col: str) -> DataFrame:
    """One A·x product: (id, out_col) with rows only for vertices that
    receive any inflow (callers left-join against the vertex table)."""
    return (
        edges.join(x.withColumnRenamed("id", "src"), "src")
        .groupBy(F.col("dst").alias("id"))
        .agg(F.sum(F.col("x") * F.col("weight")).alias(out_col))
    )


def katz_centrality(
    graph: Graph,
    alpha: float = 0.1,
    beta: float = 1.0,
    fixed_iterations: int | None = None,
    max_iter: int = 100,
    tol: float = 1e-6,
    normalized: bool = True,
) -> DataFrame:
    """Returns ``(id, katz double)``.

    ``fixed_iterations`` runs exactly that many probe-free supersteps
    (the oracle-certified mode); otherwise the loop stops when the L1
    delta drops below ``tol`` (requires alpha < 1/λ_max to converge).
    ``normalized`` divides the final vector by its L2 norm (cugraph's
    output convention).
    """
    spark = graph.edges.sparkSession
    verts = graph.vertices_cached()
    iters = fixed_iterations if fixed_iterations is not None else max_iter
    probe = fixed_iterations is None
    value = F.lit(alpha) * F.coalesce("ax", F.lit(0.0)) + F.lit(float(beta))
    with scratch() as s:
        x = truncate(verts.select("id", F.lit(float(beta)).alias("x")))
        with superstep_conf(spark, graph.edge_rows()):
            for _ in range(iters):
                step = _next_vector(verts, x, _ax(graph.edges, x, "ax"), value, probe)
                if probe:
                    step, obs = observed(step, l1=F.sum(F.abs(F.col("x") - F.col("old"))))
                new_x = truncate(step.select("id", "x"))
                drop_spill(x)
                x = new_x
                if probe and (obs.get["l1"] or 0.0) < tol:
                    break
        s.keep(x)
    if normalized:
        norm = x.agg(F.sqrt(F.sum(F.col("x") * F.col("x")))).first()[0]
        if norm and norm > 0:
            x = x.select("id", (F.col("x") / F.lit(norm)).alias("x"))
    return x.select("id", F.col("x").alias("katz"))


def hits(
    graph: Graph,
    fixed_iterations: int | None = None,
    max_iter: int = 100,
    tol: float = 1e-6,
) -> DataFrame:
    """HITS hubs & authorities on a DIRECTED graph (cugraph.hits parity).

    Returns ``(id, hub double, authority double)``. Per iteration, from
    an L2-unit constant hub vector:

        a'(v) = Σ_{u→v} w_uv · h(u);   a = a' / ||a'||₂
        h'(u) = Σ_{u→v} w_uv · a(v);   h = h' / ||h'||₂

    ``graph.edges`` is taken as directed (pass raw asymmetric input via
    ``Graph(edges, symmetric=False)``); on a symmetrized table hub and
    authority coincide with eigenvector centrality. ``fixed_iterations``
    is the probe-free, SQL-oracle-certified mode; otherwise the loop
    stops when the hub vector's L1 delta drops below ``tol``. Plan per
    half-step: the small score table joins into the big edge scan (the
    edge table is never shuffled), one groupBy-sum, the norm observed
    during the write — identical shape to the PageRank superstep.
    """
    spark = graph.edges.sparkSession
    verts = graph.vertices_cached()
    n = graph.num_vertices()
    if n == 0:
        return spark.createDataFrame(
            [], "id long, hub double, authority double"
        )

    def _atx(x: DataFrame) -> DataFrame:
        """One Aᵀ·x product: h flows along edge direction into dst."""
        return (
            graph.edges.join(x.withColumnRenamed("id", "dst"), "dst")
            .groupBy(F.col("src").alias("id"))
            .agg(F.sum(F.col("x") * F.col("weight")).alias("ax"))
        )

    iters = fixed_iterations if fixed_iterations is not None else max_iter
    probe = fixed_iterations is None
    value = F.coalesce("ax", F.lit(0.0))
    with scratch() as s:
        h = truncate(verts.select("id", F.lit(1.0 / float(n) ** 0.5).alias("x")))
        a = h
        leaves = [h]  # the spills h and a read
        with superstep_conf(spark, graph.edge_rows()):
            for _ in range(iters):
                a, a_leaf, _, _ = _unit_step(
                    _next_vector(verts, h, _ax(graph.edges, h, "ax"), value, False),
                    False,
                )
                h, h_leaf, _, delta = _unit_step(
                    _next_vector(verts, h, _atx(a), value, probe), probe
                )
                for leaf in leaves:
                    drop_spill(leaf)
                leaves = [a_leaf, h_leaf]
                if probe and delta < tol:
                    break
        s.keep(*leaves)
    return h.select("id", F.col("x").alias("hub")).join(
        a.select("id", F.col("x").alias("authority")), "id"
    )


def eigenvector_centrality(
    graph: Graph,
    fixed_iterations: int | None = None,
    max_iter: int = 100,
    tol: float = 1e-6,
) -> DataFrame:
    """Returns ``(id, eigenvector double)`` — the L2-normalized power
    iteration on the weighted adjacency. ``fixed_iterations`` is the
    probe-free oracle-certified mode; otherwise stops when the L1 delta
    drops below ``tol``."""
    spark = graph.edges.sparkSession
    verts = graph.vertices_cached()
    n = graph.num_vertices()
    if n == 0:
        return spark.createDataFrame([], "id long, eigenvector double")
    iters = fixed_iterations if fixed_iterations is not None else max_iter
    probe = fixed_iterations is None
    value = F.coalesce("ax", F.lit(0.0))
    with scratch() as s:
        x = truncate(
            verts.select("id", F.lit(1.0 / float(n) ** 0.5).alias("x"))
        )
        leaf = x  # the spill x reads
        with superstep_conf(spark, graph.edge_rows()):
            for _ in range(iters):
                x, new_leaf, norm, delta = _unit_step(
                    _next_vector(verts, x, _ax(graph.edges, x, "ax"), value, probe),
                    probe,
                )
                drop_spill(leaf)
                leaf = new_leaf
                if not norm:
                    # zero vector (no edges): centrality degenerates to 0
                    break
                if probe and delta < tol:
                    break
        s.keep(leaf)
    return x.select("id", F.col("x").alias("eigenvector"))


def degree_centrality(graph: Graph) -> DataFrame:
    """Returns ``(id, degree_centrality double)`` — unweighted degree
    over (n-1), the cugraph/networkx ``degree_centrality`` convention
    (self-loops excluded from the count; a single-vertex graph scores
    0). One distinct + one keyed count over the symmetrized table —
    the cheapest member of the centrality family, and the baseline the
    others are compared against."""
    n = graph.num_vertices()
    denom = float(n - 1) if n > 1 else 1.0
    deg = (
        graph.without_self_loops()
        .select("src", "dst")
        .distinct()
        .groupBy(F.col("src").alias("id"))
        .agg(F.count(F.lit(1)).alias("d"))
    )
    return (
        graph.vertices()
        .join(deg, "id", "left")
        .select(
            "id",
            F.round(
                F.coalesce("d", F.lit(0)) / F.lit(denom), 6
            ).alias("degree_centrality"),
        )
    )
