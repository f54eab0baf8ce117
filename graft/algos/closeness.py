"""Closeness and harmonic centrality — multi-source BFS as DataFrame
supersteps.

The cugraph API family the engine mirrors carries closeness/harmonic
alongside betweenness (networkx.closeness_centrality /
harmonic_centrality are the semantics anchors; reference capability
envelope per examples/cugraph-cpp-api/). Exact closeness needs the
all-pairs hop distances; like :mod:`graft.algos.betweenness` the engine
advances ALL sources in the same superstep with ``(s, id)``-keyed
state, so the round count is the graph diameter, not the source count:

- frontier(s, id) joins the edge table on the vertex key, anti-joins
  the visited set, groups by (s, id) — the rows reached at round t are
  exactly the pairs at hop distance t, so no per-pair min is ever
  computed (the group also sums the shortest-path counts that
  betweenness reads off the same BFS);
- the centrality is then one groupBy over the (s, id, depth) table.

State is O(k·V) rows (O(V²) for exact all-sources — inherent to the
measure). Source sampling (``k``) is the 100-TB path: the
Eppstein–Wang style estimator averages distances from k sampled
sources and rescales, exactly as the exact formula does over all
sources (the engine rescales ``n_reachable`` from the sample share).
Every step is a keyed join + dedup agg — shuffle-partitioned, no
driver data beyond scalars.
"""

from __future__ import annotations

from functools import reduce

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from graft.algos.community import superstep_conf
from graft.checkpoint import row_count, scratch, truncate
from graft.graph import Graph


def _forward_levels(adj: DataFrame, sources: DataFrame) -> list[DataFrame]:
    """Multi-source level-synchronous BFS carrying shortest-path counts
    sigma: one edge join + anti-join + hash-agg per DEPTH for all
    sources at once, state keyed (s, id). Returns the per-depth levels
    (``levels[d]`` = ``(s, id, sigma)`` of the vertices at distance d
    from their source s). The closeness family reads the depths, the
    Brandes family (:mod:`graft.algos.betweenness`) the sigmas too."""
    # distinct: a duplicated source row would double-count every level
    # it contributes to
    frontier = truncate(
        sources.select("s").distinct()
        .select("s", F.col("s").alias("id"), F.lit(1.0).alias("sigma"))
    )
    visited = frontier.select("s", "id")
    levels: list[DataFrame] = [frontier]
    while True:
        reached = (
            levels[-1]
            .join(adj.withColumnRenamed("src", "id"), "id")
            .select("s", F.col("dst").alias("id"), "sigma")
            .join(visited, ["s", "id"], "left_anti")
            .groupBy("s", "id")
            .agg(F.sum("sigma").alias("sigma"))
        )
        nxt = truncate(reached)
        if row_count(nxt) == 0:
            break
        levels.append(nxt)
        visited = truncate(visited.unionAll(nxt.select("s", "id")))
    return levels


def multi_source_depths(graph: Graph, sources: DataFrame) -> DataFrame:
    """All hop distances from each source in one superstep loop:
    ``(s, id, depth int)`` — one row per (source, reached vertex),
    including ``(s, s, 0)``. The result is a spill of its own."""
    adj, m = graph.simple_adjacency()
    with superstep_conf(graph.edges.sparkSession, m), scratch() as s:
        levels = _forward_levels(adj, sources)
        out = truncate(reduce(DataFrame.unionAll, (
            level.select("s", "id", F.lit(d).alias("depth"))
            for d, level in enumerate(levels)
        )))
        s.keep(out)
    return out


def _distinct_sources(sources: DataFrame) -> DataFrame:
    """An explicit ``(id)`` source table as the BFS's ``(s)`` pool."""
    return sources.select(F.col("id").alias("s")).distinct()


def _sources(
    graph: Graph, k: int | None, sources: DataFrame | None, seed: int
) -> tuple[DataFrame, int, float]:
    """The source set of the BFS family: ``(one-column (s) table of
    distinct ids, its size, the n/k rescale of a sampled estimator)``.
    Explicit ``sources`` win (no rescale), else a deterministic
    xxhash64-ordered sample of ``k`` when ``k < n``, else every vertex.
    Only an explicit table is counted; the other sizes are known."""
    n = graph.num_vertices()
    if sources is not None:
        pool = _distinct_sources(sources)
        return pool, pool.count(), 1.0
    pool = graph.vertices_cached()
    if k is not None and k < n:
        pool = pool.orderBy(F.xxhash64("id", F.lit(seed))).limit(k)
        # k == 0 leaves no source: callers return before the rescale
        return pool.select(F.col("id").alias("s")), k, n / max(k, 1)
    return pool.select(F.col("id").alias("s")), n, 1.0


def closeness_centrality(
    graph: Graph,
    k: int | None = None,
    sources: DataFrame | None = None,
    wf_improved: bool = True,
    seed: int = 42,
) -> DataFrame:
    """Returns ``(id, closeness double)`` — closeness on the undirected
    simple graph (networkx.closeness_centrality semantics):
    ``(r−1)/Σd``, Wasserman–Faust scaled by ``(r−1)/(n−1)`` when
    ``wf_improved`` (r = vertices reaching v, n = graph order);
    disconnected/isolated vertices score by their own component, 0.0
    when nothing reaches them.

    ``k``: sample that many sources (deterministic xxhash64 order by
    ``seed``); the per-vertex sums are computed over sampled sources
    only and ``r`` is rescaled by n/k — the sampled-source estimator.
    ``sources``: explicit ``(id)`` source table (overrides ``k``, no
    rescale — partial closeness from those sources).
    """
    verts = graph.vertices_cached()
    n = graph.num_vertices()
    if n < 2:
        return verts.select("id", F.lit(0.0).alias("closeness"))
    srcs, n_src, scale = _sources(graph, k, sources, seed)
    if n_src == 0:
        return verts.select("id", F.lit(0.0).alias("closeness"))

    with scratch() as s:
        depths = multi_source_depths(graph, srcs)
        agg = depths.groupBy("id").agg(
            (F.count(F.lit(1)) * scale).alias("r"),
            (F.sum("depth") * scale).alias("sd"),
        )
        out = truncate(
            verts.join(agg, "id", "left")
            .select(
                "id",
                F.round(
                    F.when(
                        F.coalesce("sd", F.lit(0.0)) <= 0, F.lit(0.0)
                    ).otherwise(
                        (F.col("r") - 1)
                        / F.col("sd")
                        * (
                            (F.col("r") - 1) / F.lit(n - 1.0)
                            if wf_improved
                            else F.lit(1.0)
                        )
                    ),
                    6,
                ).alias("closeness"),
            )
        )
        s.keep(out)
    return out


def harmonic_centrality(
    graph: Graph,
    k: int | None = None,
    sources: DataFrame | None = None,
    seed: int = 42,
) -> DataFrame:
    """Returns ``(id, harmonic double)`` — Σ_{u≠v} 1/d(u, v) over
    vertices u that reach v (networkx.harmonic_centrality, no
    normalization; unreached pairs contribute 0). ``k``/``sources`` as
    in :func:`closeness_centrality` (sampled sums rescale by n/k)."""
    verts = graph.vertices_cached()
    srcs, n_src, scale = _sources(graph, k, sources, seed)
    if n_src == 0:
        return verts.select("id", F.lit(0.0).alias("harmonic"))

    with scratch() as s:
        depths = multi_source_depths(graph, srcs)
        agg = (
            depths.where(F.col("depth") > 0)
            .groupBy("id")
            .agg((F.sum(1.0 / F.col("depth")) * scale).alias("h"))
        )
        out = truncate(
            verts.join(agg, "id", "left").select(
                "id",
                F.round(F.coalesce("h", F.lit(0.0)), 6).alias("harmonic"),
            )
        )
        s.keep(out)
    return out


def eccentricity(
    graph: Graph, sources: DataFrame | None = None
) -> DataFrame:
    """Returns ``(id, ecc int)`` — each vertex's eccentricity (max hop
    distance to any vertex it reaches; networkx.eccentricity per
    component, 0 for isolated vertices) off the same multi-source BFS
    depth table as closeness. ``sources`` restricts to those sources'
    rows (their distances to everything they reach)."""
    verts = graph.vertices_cached()
    # no source count: nothing here reads the pool's size
    srcs = (
        verts.select(F.col("id").alias("s")) if sources is None
        else _distinct_sources(sources)
    )
    with scratch() as s:
        depths = multi_source_depths(graph, srcs)
        agg = depths.groupBy(F.col("s").alias("id")).agg(
            F.max("depth").alias("e")
        )
        out = truncate(
            verts.join(agg, "id", "left").select(
                "id", F.coalesce("e", F.lit(0)).cast("int").alias("ecc")
            )
        )
        s.keep(out)
    return out


def diameter(graph: Graph) -> int:
    """The graph diameter: max finite eccentricity over all vertices
    (per-component max shortest path; 0 on an edgeless graph)."""
    ecc = eccentricity(graph)
    row = ecc.agg(F.max("ecc")).first()
    return int(row[0]) if row[0] is not None else 0
