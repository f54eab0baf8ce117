"""Full truss decomposition: per-edge truss numbers in one pass.

Counterpart of graft.algos.kcore.core_number for the triangle-density
backbone: :func:`truss_number` emits max-k membership for EVERY edge in
one job (truss(e) = the largest k such that e is in the k-truss; every
non-loop edge is in the 2-truss), and
:func:`graft.algos.ktruss.k_truss` reads one k of it.

Two paths, chosen by :func:`graft.algos.community.one_task`:

- one task: the exact support-peeling algorithm (Wang & Cheng, "Truss
  decomposition in massive networks", VLDB 2012) — a lazy-deletion
  heap over edge supports, removing the min-support edge and
  decrementing its triangle partners.

- distributed: level peeling — for k = 2, 3, …: run the support
  fixpoint (:func:`_support_fixpoint`, the one triangle-support peel of
  the engine, which k_truss also runs above the gate) for the
  (k+1)-truss and stamp the edges it deletes with truss = k. Every edge
  is deleted exactly once across all levels, so total work is one
  fixpoint's work plus one anti-join per level; levels are bounded by
  the max truss (small on link graphs). Each round stays one wedge join
  + one hash-agg + one filter — no all-pairs, nothing driver-sized.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from graft.algos.community import one_task, run_one_task, superstep_conf
from graft.checkpoint import drop_spill, observed, row_count, scratch, truncate
from graft.graph import Graph


def _oriented_edges(graph: Graph) -> DataFrame:
    return (
        graph.without_self_loops()
        .where(F.col("src") < F.col("dst"))
        .select(F.col("src").alias("u"), F.col("dst").alias("v"))
        .distinct()
    )


def _sequential_truss_number(graph: Graph) -> DataFrame:
    """Exact support peeling over the whole graph as ONE task (see
    :func:`graft.algos.community.one_task`)."""
    import heapq

    import pandas as pd

    def fn(epdf: pd.DataFrame) -> pd.DataFrame:
        adj: dict = {}
        for u, v in zip(epdf["u"], epdf["v"]):
            adj.setdefault(u, set()).add(v)
            adj.setdefault(v, set()).add(u)
        support = {
            (u, v): len(adj[u] & adj[v]) for u, v in zip(epdf["u"], epdf["v"])
        }
        heap = [(s, e) for e, s in support.items()]
        heapq.heapify(heap)
        truss: dict = {}
        k = 2
        while heap:
            s, e = heapq.heappop(heap)
            if e not in support or s != support[e]:
                continue  # removed already / stale priority
            k = max(k, s + 2)
            truss[e] = k
            u, v = e
            for w in adj[u] & adj[v]:
                for f in ((min(u, w), max(u, w)), (min(v, w), max(v, w))):
                    if f in support:
                        support[f] -= 1
                        heapq.heappush(heap, (support[f], f))
            del support[e]
            adj[u].discard(v)
            adj[v].discard(u)
        out = pd.DataFrame(
            {
                "u": [e[0] for e in truss],
                "v": [e[1] for e in truss],
                "truss": pd.Series([truss[e] for e in truss], dtype="int64"),
            }
        )
        return out

    ends = _oriented_edges(graph)
    id_type = ends.schema["u"].dataType.simpleString()
    return run_one_task(fn, f"u {id_type}, v {id_type}, truss long", ends)


def _support_fixpoint(
    e: DataFrame, min_support: int
) -> tuple[DataFrame, int | None]:
    """Peels the oriented edge spill ``e`` (``u < v``) to the maximal
    subgraph whose every edge lies in at least ``min_support`` triangles
    — the ``(min_support + 2)``-truss of ``e``. Returns ``(survivors,
    s_min)``: the survivors' spill and their minimum support (None when
    none survive). Each round is one wedge join, one support count and
    one filter; peeling is monotone (edges only ever leave), so the loop
    stops at the first round that deletes nothing, read from the spills'
    footers. ``e`` itself is left to the caller."""
    cur = e
    while True:
        # triangles x<y<z: wedge at the minimum corner, closed by a
        # semi-join on the (y, z) edge
        tri = (
            cur.select(F.col("u").alias("x"), F.col("v").alias("y"))
            .join(
                cur.select(F.col("u").alias("x"), F.col("v").alias("z")),
                "x",
            )
            .where(F.col("y") < F.col("z"))
            .join(
                cur.select(F.col("u").alias("y"), F.col("v").alias("z")),
                ["y", "z"],
                "left_semi",
            )
        )
        sup = (
            tri.select(F.col("x").alias("u"), F.col("y").alias("v"))
            .unionAll(tri.select(F.col("x").alias("u"), F.col("z").alias("v")))
            .unionAll(tri.select(F.col("y").alias("u"), F.col("z").alias("v")))
            .groupBy("u", "v")
            .agg(F.count(F.lit(1)).alias("s"))
        )
        # the survivors' min support is observed during the write; it is
        # read only once nothing is deleted. Observing after the filter
        # leaves the join free to become an inner join.
        survivors, obs = observed(
            cur.join(sup, ["u", "v"], "left")
            .select("u", "v", F.coalesce("s", F.lit(0)).alias("s"))
            .where(F.col("s") >= min_support),
            m=F.min("s"),
        )
        nxt = truncate(survivors.select("u", "v"))
        n_old, n_new = row_count(cur), row_count(nxt)
        if cur is not e:
            drop_spill(cur)
        cur = nxt
        if n_new == n_old:
            return cur, (int(obs.get["m"]) if n_new else None)


def truss_number(
    graph: Graph, sequential_threshold: int = 1_000_000
) -> DataFrame:
    """Returns ``(u, v, truss long)`` for every non-loop undirected edge
    (oriented u < v): the largest k such that the edge survives in the
    k-truss. Minimum value 2 (an edge in no triangle).

    ``sequential_threshold``: see :func:`graft.algos.community.one_task`.
    Both paths are certified against a pure-Python repeated k-truss
    peel in tests/test_truss.py.
    """
    if one_task(graph, sequential_threshold):
        return _sequential_truss_number(graph)

    with scratch() as s:
        e = truncate(_oriented_edges(graph))
        out: DataFrame | None = None
        k = 2
        with superstep_conf(graph.edges.sparkSession, graph.edge_rows()):
            while row_count(e):
                # the (k+1)-truss: support ≥ k-1 from the current survivors
                cur, s_min = _support_fixpoint(e, k - 1)
                # edges deleted between the k-truss (= e) and the (k+1)-truss
                # carry truss number k
                removed = truncate(
                    e.join(cur, ["u", "v"], "left_anti").withColumn(
                        "truss", F.lit(k).cast("long")
                    )
                )
                # the result reads every level's removed edges
                s.keep(removed)
                out = removed if out is None else out.unionAll(removed)
                drop_spill(e)
                e = cur
                # level jump: cur is stable with every support ≥ its min s_min,
                # so cur IS the k''-truss for every k'' ≤ s_min + 2 — the next
                # level that removes anything is s_min + 2 (a 30-clique jumps
                # straight from 2 to 30 instead of paying 28 empty fixpoints)
                if s_min is None:
                    break  # survivor set is empty
                k = max(k + 1, s_min + 2)
    if out is None:
        # graph had no non-loop edges
        ends = _oriented_edges(graph)
        return ends.withColumn("truss", F.lit(2).cast("long")).limit(0)
    return out
