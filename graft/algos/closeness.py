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
  the visited set, dedups — the rows reached at round t are exactly the
  pairs at hop distance t, so no per-pair min is ever computed;
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

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from graft.algos.community import superstep_conf
from graft.checkpoint import row_count, scratch, truncate
from graft.graph import Graph


def multi_source_depths(graph: Graph, sources: DataFrame) -> DataFrame:
    """All hop distances from each source in one superstep loop:
    ``(s, id, depth int)`` — one row per (source, reached vertex),
    including ``(s, s, 0)``. The result is a spill of its own."""
    spark = graph.edges.sparkSession
    adj, n_adj = graph.simple_adjacency()
    with scratch() as s:
        with superstep_conf(spark, n_adj):
            # distinct: a duplicated source row would double-count every
            # depth it contributes downstream
            frontier = truncate(
                sources.select("s", F.col("s").alias("id")).distinct()
            )
            visited = frontier
            parts = [frontier.select("s", "id", F.lit(0).alias("depth"))]
            t = 0
            while True:
                t += 1
                nxt = truncate(
                    frontier.join(adj.withColumnRenamed("src", "id"), "id")
                    .select("s", F.col("dst").alias("id"))
                    .join(visited, ["s", "id"], "left_anti")
                    .distinct()
                )
                if row_count(nxt) == 0:
                    break
                parts.append(nxt.select("s", "id", F.lit(t).alias("depth")))
                visited = truncate(visited.unionAll(nxt))
                frontier = nxt
            out = parts[0]
            for p in parts[1:]:
                out = out.unionAll(p)
            out = truncate(out)
        s.keep(out)
    return out


def _source_pool(
    graph: Graph, k: int | None, sources: DataFrame | None, seed: int
) -> tuple[DataFrame, bool]:
    """(one-column ``(s)`` source table, whether it was sampled)."""
    verts = graph.vertices_cached()
    if sources is not None:
        return sources.select(F.col("id").alias("s")), False
    pool = verts
    sampled = k is not None and k < graph.num_vertices()
    if sampled:
        pool = verts.orderBy(F.xxhash64("id", F.lit(seed))).limit(k)
    return pool.select(F.col("id").alias("s")), sampled


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
    srcs, sampled = _source_pool(graph, k, sources, seed)
    n_src = srcs.count()
    if n_src == 0:
        return verts.select("id", F.lit(0.0).alias("closeness"))
    scale = float(n) / n_src if sampled else 1.0

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
    srcs, sampled = _source_pool(graph, k, sources, seed)
    n_src = srcs.count()
    if n_src == 0:
        return verts.select("id", F.lit(0.0).alias("harmonic"))
    scale = float(graph.num_vertices()) / n_src if sampled else 1.0

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
    srcs, _ = _source_pool(graph, None, sources, 0)
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
