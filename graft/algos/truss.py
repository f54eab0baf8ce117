"""Full truss decomposition: per-edge truss numbers in one pass.

Counterpart of graft.algos.kcore.core_number for the triangle-density
backbone: :func:`graft.algos.ktruss.k_truss` answers membership for ONE
k per call, so a truss-decomposition caller would re-run support
peeling per k; :func:`truss_number` emits max-k membership for EVERY
edge in one job (truss(e) = the largest k such that e is in the
k-truss; every non-loop edge is in the 2-truss).

Two paths, chosen by :func:`graft.algos.community.one_task`:

- one task: the exact support-peeling algorithm (Wang & Cheng, "Truss
  decomposition in massive networks", VLDB 2012) — a lazy-deletion
  heap over edge supports, removing the min-support edge and
  decrementing its triangle partners.

- distributed: level peeling — for k = 2, 3, …: run the k_truss-style
  support-filter fixpoint for the (k+1)-truss and stamp the edges it
  deletes with truss = k. Every edge is deleted exactly once across
  all levels, so total work is the k_truss fixpoint work plus one
  anti-join per level; levels are bounded by the max truss (small on
  link graphs). Each round stays one wedge join + one hash-agg + one
  filter — no all-pairs, nothing driver-sized.
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


def truss_number(
    graph: Graph, sequential_threshold: int = 1_000_000
) -> DataFrame:
    """Returns ``(u, v, truss long)`` for every non-loop undirected edge
    (oriented u < v): the largest k such that the edge survives in the
    k-truss. Minimum value 2 (an edge in no triangle).

    ``sequential_threshold``: see :func:`graft.algos.community.one_task`.
    Differentially certified against repeated
    :func:`graft.algos.ktruss.k_truss` membership in
    tests/test_truss.py.
    """
    if one_task(graph, sequential_threshold):
        return _sequential_truss_number(graph)

    with scratch() as s:
        e = truncate(_oriented_edges(graph))
        out: DataFrame | None = None
        k = 2
        with superstep_conf(graph.edges.sparkSession, graph.edge_rows()):
            while True:
                if row_count(e) == 0:
                    break
                # (k+1)-truss fixpoint from the current survivor set:
                # support filter at min_support = k-1, iterated to stability
                cur = e
                while True:
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
                        .unionAll(
                            tri.select(F.col("x").alias("u"), F.col("z").alias("v"))
                        )
                        .unionAll(
                            tri.select(F.col("y").alias("u"), F.col("z").alias("v"))
                        )
                        .groupBy("u", "v")
                        .agg(F.count(F.lit(1)).alias("s"))
                    )
                    # the min support is observed during the write, before
                    # the support filter: when nothing is deleted it is the
                    # min surviving support
                    supported, obs = observed(
                        cur.join(sup, ["u", "v"], "left")
                        .select("u", "v", F.coalesce("s", F.lit(0)).alias("s")),
                        m=F.min("s"),
                    )
                    nxt = truncate(
                        supported.where(F.col("s") >= k - 1).select("u", "v")
                    )
                    n_old, n_new = row_count(cur), row_count(nxt)
                    stable = n_new == n_old
                    s_min = obs.get["m"] if stable and n_new else None
                    if cur is not e:
                        drop_spill(cur)
                    cur = nxt
                    if stable:
                        break
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
                k = max(k + 1, int(s_min) + 2)
    if out is None:
        # graph had no non-loop edges
        ends = _oriented_edges(graph)
        return ends.withColumn("truss", F.lit(2).cast("long")).limit(0)
    return out
