"""Betweenness centrality (Brandes) — multi-source BFS as DataFrame
supersteps.

The cugraph API family ships ``cugraph.betweenness_centrality`` with
optional source sampling (k); the engine mirrors that surface. The
classic Brandes algorithm runs one BFS per source plus a dependency
back-propagation; here ALL sources advance in the same superstep by
keying the state on ``(s, id)`` — one edge join per DEPTH, not per
source, so the round count is the graph eccentricity bound, independent
of how many sources are in flight:

- forward: frontier(s, id, sigma) joins the edge table on the vertex
  key; new reach rows are anti-joined against the visited set and
  groupBy-summed (sigma accumulates shortest-path counts) — the one
  BFS of the closeness family (:func:`graft.algos.closeness._forward_levels`);
- backward: depths processed descending; delta(v) = Σ over successors
  w one level deeper: sigma_v/sigma_w · (1 + delta_w) — one join of
  adjacent frontier levels per depth.

State is O(k·V) rows and every step is a keyed join + hash agg —
shuffle-partitioned, map-side combinable, no driver data. Source
sampling (``k``) is the 100-TB path: exact betweenness is O(V·E) work
regardless of engine, so at scale you sample sources and rescale by
n/k exactly as networkx/cugraph do.
"""

from __future__ import annotations

from functools import reduce

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from graft.algos.closeness import _forward_levels, _sources
from graft.algos.community import run_one_task, superstep_conf
from graft.checkpoint import scratch, truncate
from graft.graph import Graph


def _brandes_tail_ready(m: int, n_src: int, threshold: int) -> bool:
    """One-task dispatch gate for the Brandes family: the edge table
    must fit one Arrow batch (same 8M-row envelope as the leiden tail)
    AND the kernel work n_src * rows * diameter must stay interactive —
    bounded here by n_src * rows <= 8e6 (≈ one source at the envelope
    edge — a few seconds of numpy scans). Above that work bound but
    still inside the edge envelope the SOURCE-PARALLEL rung takes over
    (one kernel task per source slice — same kernel, no serial wall;
    its fixed cost, one toPandas + broadcast of the edge arrays, is the
    same data motion as the tail's one-group cogroup shuffle, so the
    rung wins whenever more than ~one source's kernel work exists to
    parallelize). Only graphs too wide for one Arrow batch pay the
    O(k · diameter) superstep rounds. 0 forces the superstep path."""
    if not threshold:
        return False
    return m <= threshold and n_src * m <= 8_000_000


# source-parallel rung: sampled-source cap. Beyond ~4096 sources the
# total kernel work n_src * E * diameter stops being "sampling-sized"
# on any graph this rung admits, and the caller's intent is effectively
# exact betweenness — O(V·E), superstep territory (or nothing).
_SOURCE_PARALLEL_MAX_SOURCES = 4096


def _source_parallel_partials(
    graph: Graph,
    adj: DataFrame,
    sources: DataFrame,
    per_edge: bool,
) -> DataFrame:
    """Source-parallel Brandes — the middle rung of the dispatch ladder
    (cugraph parallelizes Brandes the same way: one BFS tree per
    parallel lane, cugraph/betweenness_centrality.cu). The simple
    symmetric edge arrays ship to every task once via a Spark broadcast
    (torrent protocol on a real cluster — E fits one Arrow batch by the
    caller's gate, so this is a bounded, not data-sized, broadcast);
    the sampled sources round-robin across one task per core; each task
    runs the SAME vectorized kernel as the one-task tail
    (:func:`_brandes_numpy`) over its source slice, emitting raw
    per-vertex ``(id, b)`` (or per-edge ``(u, v, b)``) dependency
    partials; :func:`_finish` sums the ≤ n_parts partial vectors in one
    map-side combinable groupBy and applies factor + 6-dp round after
    the sum — identical semantics to the tail up to float association
    order.

    Scale shape: zero shuffle proportional to E (the broadcast is
    read-only and shared per worker), perfect source-count parallelism,
    one tiny final agg. This is also the engine's CPU-bound scaling
    probe: per-task work is pure numpy with no coordination until the
    final partial sum."""
    import numpy as np
    import pandas as pd
    from pyspark.sql.window import Window

    spark = graph.edges.sparkSession
    id_type = graph.vertices().schema["id"].dataType.simpleString()
    # The (ids, esrc, edst) arrays are a pure function of the graph:
    # memoized on the Graph (r6) so repeated Brandes calls — vertex
    # then edge betweenness on the same graph is the common pairing —
    # pay the collect + broadcast once per session, not per call.
    # Released by Graph.unpersist().
    bcast = graph._brandes_bcast
    if bcast is None:
        # bounded by the caller's rung gate: at most sequential_threshold
        # vertex ids and sequential_threshold adjacency rows
        ids = np.sort(
            graph.vertices().select("id").toPandas()["id"].to_numpy()
        )
        epdf = adj.select("src", "dst").toPandas()
        pos = pd.Series(np.arange(len(ids)), index=ids)
        esrc = pos[epdf["src"].to_numpy()].to_numpy()
        edst = pos[epdf["dst"].to_numpy()].to_numpy()
        bcast = spark.sparkContext.broadcast((ids, esrc, edst))
        graph._brandes_bcast = bcast

    n_parts = max(1, spark.sparkContext.defaultParallelism)
    # deterministic round-robin over the (tiny, <=4096-row) source set:
    # balanced slices even when k is a small multiple of the core count
    srcs = (
        sources.withColumn(
            "_p",
            F.row_number().over(Window.orderBy("s")) % F.lit(n_parts),
        )
        .repartition(n_parts, "_p")
        .select("s")
    )

    part_schema = (
        f"u {id_type}, v {id_type}, b double"
        if per_edge
        else f"id {id_type}, b double"
    )

    def fn(batches):
        ids_b, esrc_b, edst_b = bcast.value
        nv = len(ids_b)
        posn = pd.Series(np.arange(nv), index=ids_b)
        chunks = [pdf["s"].to_numpy() for pdf in batches]
        if not chunks:
            return
        wanted = np.concatenate(chunks)
        # sources absent from the vertex set contribute nothing (the
        # tail path drops them via its left join — same contract)
        locs = (
            posn.reindex(wanted).dropna().to_numpy().astype(np.int64)
        )
        if locs.size == 0:
            return
        bc_arr, eacc = _brandes_numpy(esrc_b, edst_b, nv, locs, per_edge)
        if per_edge:
            nz = np.nonzero(eacc)[0]
            yield pd.DataFrame(
                {
                    "u": ids_b[np.minimum(esrc_b[nz], edst_b[nz])],
                    "v": ids_b[np.maximum(esrc_b[nz], edst_b[nz])],
                    "b": eacc[nz],
                }
            )
        else:
            nz = np.nonzero(bc_arr)[0]
            yield pd.DataFrame({"id": ids_b[nz], "b": bc_arr[nz]})

    return srcs.mapInPandas(fn, schema=part_schema)


def _brandes_numpy(esrc, edst, nv: int, src_positions, per_edge: bool):
    """The vectorized Brandes kernel shared by the one-task tail and the
    source-parallel path: per source position, a level-synchronous BFS
    carrying sigma + the descending dependency sweep, accumulated over
    the SYMMETRIC edge position arrays. Returns raw unscaled
    ``(bc[nv], eacc[ne] | None)`` — callers apply factor + 6-dp round
    AFTER all sources are summed, so both paths round identically."""
    import numpy as np

    ne = len(esrc)
    bc = np.zeros(nv)
    eacc = np.zeros(ne) if per_edge else None
    for s in src_positions:
        dist = np.full(nv, -1, dtype=np.int64)
        sigma = np.zeros(nv)
        dist[s] = 0
        sigma[s] = 1.0
        d = 0
        while True:
            at_d = np.where(dist[esrc] == d)[0]
            if at_d.size == 0:
                break
            heads = edst[at_d]
            unvis = dist[heads] == -1
            dist[heads[unvis]] = d + 1
            nxt = dist[heads] == d + 1
            np.add.at(sigma, heads[nxt], sigma[esrc[at_d[nxt]]])
            d += 1
        # backward sweep, depths descending: delta at level L is
        # complete before any (L-1 -> L) tree edge consumes it
        delta = np.zeros(nv)
        for dd in range(d, 0, -1):
            m = np.where((dist[esrc] == dd - 1) & (dist[edst] == dd))[0]
            if m.size == 0:
                continue
            contrib = (
                sigma[esrc[m]] / sigma[edst[m]]
                * (1.0 + delta[edst[m]])
            )
            if per_edge:
                eacc[m] += contrib
            np.add.at(delta, esrc[m], contrib)
        if not per_edge:
            delta[s] = 0.0  # Brandes discards the source's delta
            bc += delta
    return bc, eacc


def _sequential_brandes(
    graph: Graph,
    adj: DataFrame,
    sources: DataFrame,
    per_edge: bool,
    factor: float,
) -> DataFrame:
    """The full Brandes pass as ONE task (:func:`run_one_task`) — per
    source, a vectorized level-synchronous BFS + dependency sweep over
    the symmetric edge arrays. Identical
    semantics to the superstep path (same source set, same factor,
    same 6-dp round), without paying O(k · diameter) job rounds on a
    graph that fits one Arrow batch. Only entered when the source set
    is sampling-sized (the gate in :func:`_brandes`), so per-source work is
    O(E · diameter) numpy scans — milliseconds at tail scale."""
    import numpy as np
    import pandas as pd

    id_type = graph.vertices().schema["id"].dataType.simpleString()
    nodes = (
        graph.vertices()
        .join(
            sources.select(F.col("s").alias("id"))
            .withColumn("is_src", F.lit(1)),
            "id",
            "left",
        )
        .select("id", F.coalesce("is_src", F.lit(0)).alias("is_src"))
    )
    out_schema = (
        f"u {id_type}, v {id_type}, betweenness double"
        if per_edge
        else f"id {id_type}, betweenness double"
    )

    def fn(vpdf: pd.DataFrame, epdf: pd.DataFrame) -> pd.DataFrame:
        order = np.argsort(vpdf["id"].to_numpy())
        ids = vpdf["id"].to_numpy()[order]
        is_src = vpdf["is_src"].to_numpy()[order]
        nv = len(ids)
        pos = pd.Series(np.arange(nv), index=ids)
        esrc = pos[epdf["src"].to_numpy()].to_numpy()
        edst = pos[epdf["dst"].to_numpy()].to_numpy()
        bc, eacc = _brandes_numpy(
            esrc, edst, nv, np.where(is_src == 1)[0], per_edge
        )
        # HALF_UP at 6 dp like Spark's round (values are nonnegative)
        if per_edge:
            u = np.minimum(esrc, edst)
            v = np.maximum(esrc, edst)
            folded = (
                pd.DataFrame({"u": u, "v": v, "b": eacc})
                .groupby(["u", "v"], as_index=False)["b"].sum()
            )
            return pd.DataFrame(
                {
                    "u": ids[folded["u"].to_numpy()],
                    "v": ids[folded["v"].to_numpy()],
                    "betweenness": np.floor(
                        folded["b"].to_numpy() * factor * 1e6 + 0.5
                    ) / 1e6,
                }
            )
        return pd.DataFrame(
            {
                "id": ids,
                "betweenness": np.floor(bc * factor * 1e6 + 0.5) / 1e6,
            }
        )

    return run_one_task(fn, out_schema, adj.select("src", "dst"), nodes)


def _finish(
    universe: DataFrame, partials: list[DataFrame], factor: float
) -> DataFrame:
    """``universe ⟕ Σ partials → coalesce × factor → round(6)``: the
    output of the source-parallel and superstep rungs. ``universe``
    holds the key columns (``id``, or ``u, v``); ``partials`` carry
    them + the raw dependency ``b``; keys no source reaches score 0."""
    keys = universe.columns
    b = F.lit(0.0)
    if partials:
        total = (
            reduce(DataFrame.unionAll, partials)
            .groupBy(*keys)
            .agg(F.sum("b").alias("b"))
        )
        universe = universe.join(total, keys, "left")
        b = F.coalesce("b", F.lit(0.0))
    return truncate(
        universe.select(
            *keys, F.round(b * F.lit(factor), 6).alias("betweenness")
        )
    )


def _superstep_partials(
    adj: DataFrame, levels: list[DataFrame], per_edge: bool
) -> list[DataFrame]:
    """The backward sweep of the superstep rung, depths descending: the
    tree edges (v, w) from depth d to d + 1 contribute
    c = σ_v/σ_w · (1 + δ_w), and δ_v = Σ_w c. The per-edge partials are
    the contributions of every depth (the source's own incident edges
    too); the per-vertex partials are the δ of every depth below the
    source (Brandes discards the source's own δ)."""
    partials: list[DataFrame] = []
    # delta at the deepest level is 0
    delta = levels[-1].select("s", "id", F.lit(0.0).alias("delta"))
    for d in range(len(levels) - 2, -1, -1):
        below = levels[d + 1].join(delta, ["s", "id"]).select(
            "s",
            F.col("id").alias("w"),
            F.col("sigma").alias("sigma_w"),
            "delta",
        )
        contrib = (
            levels[d]
            .join(adj.withColumnRenamed("src", "id"), "id")
            .select("s", "id", "sigma", F.col("dst").alias("w"))
            .join(below, ["s", "w"])
            .select(
                "s",
                "id",
                "w",
                (
                    F.col("sigma") / F.col("sigma_w")
                    * (F.lit(1.0) + F.col("delta"))
                ).alias("c"),
            )
        )
        if per_edge:
            contrib = truncate(contrib)
            partials.append(contrib.select(
                F.least("id", "w").alias("u"),
                F.greatest("id", "w").alias("v"),
                F.col("c").alias("b"),
            ))
        if d == 0:
            break
        gathered = contrib.groupBy("s", "id").agg(F.sum("c").alias("delta"))
        delta = truncate(
            levels[d]
            .join(gathered, ["s", "id"], "left")
            .select("s", "id",
                    F.coalesce("delta", F.lit(0.0)).alias("delta"))
        )
        if not per_edge:
            partials.append(delta.select("id", F.col("delta").alias("b")))
    return partials


def _brandes(
    graph: Graph,
    per_edge: bool,
    k: int | None,
    sources: DataFrame | None,
    normalized: bool,
    seed: int,
    sequential_threshold: int,
) -> DataFrame:
    """Vertex (``per_edge=False``) or edge betweenness through the
    three-rung dispatch ladder; see :func:`betweenness_centrality`."""
    verts = graph.vertices_cached()
    n = graph.num_vertices()
    if per_edge:
        # early returns derive from the RAW edge lineage (not the
        # Graph's memoized adjacency spill) so they outlive
        # Graph.unpersist()
        zero = (
            graph.without_self_loops().select("src", "dst").distinct()
            .where(F.col("src") < F.col("dst"))
            .select(F.col("src").alias("u"), F.col("dst").alias("v"),
                    F.lit(0.0).alias("betweenness"))
        )
    else:
        zero = verts.select("id", F.lit(0.0).alias("betweenness"))
    if n < (2 if per_edge else 3):
        return zero
    sources, n_src, rescale = _sources(graph, k, sources, seed)
    if n_src == 0:
        return zero
    # memoized on the Graph (r6): one distinct + write per Graph, shared
    # by vertex and edge betweenness / WL / sampling — not dropped here
    adj, m = graph.simple_adjacency()

    # undirected: every (s, t) pair is counted from both endpoints when
    # sources cover the graph, so halve; normalized, networkx divides
    # vertex scores by (n−1)(n−2) and edge scores by n(n−1); a sampled
    # estimator multiplies back by n/k
    if normalized:
        factor = 1.0 / (n * (n - 1) if per_edge else (n - 1) * (n - 2))
    else:
        factor = 0.5
    factor *= rescale

    if _brandes_tail_ready(m, n_src, sequential_threshold):
        return truncate(
            _sequential_brandes(graph, adj, sources, per_edge, factor)
        )
    universe = (
        adj.where(F.col("src") < F.col("dst"))
        .select(F.col("src").alias("u"), F.col("dst").alias("v"))
        if per_edge else verts
    )
    # the source-parallel rung collects every vertex id and every
    # adjacency row to the driver: both bounded by the threshold here
    if (
        sequential_threshold
        and m <= sequential_threshold
        and n <= sequential_threshold
        and n_src <= _SOURCE_PARALLEL_MAX_SOURCES
    ):
        partials = _source_parallel_partials(graph, adj, sources, per_edge)
        return _finish(universe, [partials], factor)

    with superstep_conf(graph.edges.sparkSession, m), scratch() as s:
        partials = _superstep_partials(
            adj, _forward_levels(adj, sources), per_edge
        )
        out = _finish(universe, partials, factor)
        s.keep(out)
    return out


def betweenness_centrality(
    graph: Graph,
    k: int | None = None,
    sources: DataFrame | None = None,
    normalized: bool = True,
    seed: int = 42,
    sequential_threshold: int = 8_000_000,
) -> DataFrame:
    """Returns ``(id, betweenness double)`` — unweighted betweenness on
    the undirected simple graph (networkx.betweenness_centrality
    semantics: normalized by 2/((n−1)(n−2)) when ``normalized``, else
    the raw undirected pair counts halved).

    ``k``: sample that many sources (deterministic xxhash64 order by
    ``seed``) and rescale by n/k — the networkx/cugraph estimator.
    ``sources``: explicit one-column ``(id)`` source table (overrides
    ``k``; no rescaling — partial betweenness from those sources;
    repeated ids count once).

    Three-rung dispatch. Graphs whose simple adjacency and vertex set
    fit one Arrow batch (≤ ``sequential_threshold`` rows) run the
    vectorized kernel: as ONE executor task when total work ``n_src · E``
    is interactive (_sequential_brandes), else SOURCE-PARALLEL — edge
    arrays broadcast once, one kernel task per source slice, partials
    summed in one tiny agg (_source_parallel_partials, the cugraph
    parallelization). Only graphs too wide for one Arrow batch pay the
    O(k · diameter) superstep rounds; ``sequential_threshold=0`` forces
    that path.
    """
    return _brandes(
        graph, False, k, sources, normalized, seed, sequential_threshold
    )


def edge_betweenness_centrality(
    graph: Graph,
    k: int | None = None,
    sources: DataFrame | None = None,
    normalized: bool = True,
    seed: int = 42,
    sequential_threshold: int = 8_000_000,
) -> DataFrame:
    """Returns ``(u, v, betweenness double)`` — one row per undirected
    simple edge (u < v), networkx.edge_betweenness_centrality
    semantics: Σ_{s≠t} σ(s,t|e)/σ(s,t), halved for the undirected
    double count, normalized by 1/(n(n−1)) when ``normalized`` (so the
    two conventions compose to 2/(n(n−1)) per unordered pair).

    Same multi-source Brandes pass as :func:`betweenness_centrality`;
    the per-edge dependency is the backward gather's addend BEFORE its
    vertex groupBy — σ_v/σ_w · (1 + δ_w) for the tree edge (v, w) with
    w one BFS level deeper — accumulated over every depth INCLUDING the
    source's own incident edges (vertex Brandes discards the source's
    delta; edge Brandes keeps every edge on a shortest path). Edges
    whose endpoints sit at equal depth from a source carry no flow from
    it and simply never appear in that source's accumulation.
    ``k``/``sources``/``sequential_threshold`` as in
    :func:`betweenness_centrality` (Girvan–Newman at 100 TB runs on
    sampled sources or not at all).
    """
    return _brandes(
        graph, True, k, sources, normalized, seed, sequential_threshold
    )
