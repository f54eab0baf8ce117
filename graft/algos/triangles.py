"""Exact triangle counting (capability X7, required by the north rule).

Standard distributed algorithm: orient every edge from the
lower-(degree, id) endpoint to the higher one — each triangle then has
exactly one "wedge apex", so it is counted exactly once by the
wedge-close join, with no /3 or /6 correction and, critically, bounded
skew: a degree-d hub produces O(d) oriented *out*-edges only when the
neighbor is even higher-ranked, so wedge counts per vertex stay near
linear instead of d² (the same reason the reference moved to
edge-parallel kernels, report.txt:24-27).

Joins: two self-joins + one semi-join — all equi hash-joins Catalyst
plans with AQE skew splitting.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from graft.algos.community import one_task, run_one_task
from graft.checkpoint import Scratch, scratch, truncate
from graft.graph import Graph


def _oriented(graph: Graph) -> DataFrame:
    """Each undirected edge once, oriented by (degree, id) rank."""
    deg = graph.without_self_loops().groupBy(
        F.col("src").alias("id")
    ).agg(F.count(F.lit(1)).alias("d"))
    e = (
        graph.without_self_loops()
        .where(F.col("src") < F.col("dst"))
        .select("src", "dst")
    )
    return (
        e.join(deg.withColumnRenamed("id", "src"), "src")
        .withColumnRenamed("d", "ds")
        .join(deg.withColumnRenamed("id", "dst"), "dst")
        .withColumnRenamed("d", "dd")
        .select(
            F.when(
                (F.col("ds") < F.col("dd"))
                | ((F.col("ds") == F.col("dd")) & (F.col("src") < F.col("dst"))),
                F.struct(F.col("src").alias("a"), F.col("dst").alias("b")),
            )
            .otherwise(
                F.struct(F.col("dst").alias("a"), F.col("src").alias("b"))
            )
            .alias("e")
        )
        .select("e.a", "e.b")
    )


def _sequential_triangle_count(graph: Graph) -> int:
    """The whole count as ONE task (see
    :func:`graft.algos.community.one_task`) — degree-ranked orientation +
    out-neighbor set intersections, the in-memory twin of the wedge-close
    join (each triangle counted once at its lowest-rank corner)."""
    import pandas as pd

    def fn(epdf: pd.DataFrame) -> pd.DataFrame:
        deg: dict = {}
        pairs = set()
        for u, v in zip(epdf["src"], epdf["dst"]):
            if u == v or (u, v) in pairs:
                continue
            pairs.add((u, v))
            deg[u] = deg.get(u, 0) + 1
            deg[v] = deg.get(v, 0) + 1
        out: dict = {}
        for u, v in pairs:
            a, b = (u, v) if (deg[u], u) < (deg[v], v) else (v, u)
            out.setdefault(a, set()).add(b)
        n = 0
        for a, nbrs in out.items():
            for b in nbrs:
                ob = out.get(b)
                if ob:
                    n += len(nbrs & ob)
        return pd.DataFrame({"n": [n]})

    e = graph.without_self_loops().select(
        F.least("src", "dst").alias("src"),
        F.greatest("src", "dst").alias("dst"),
    )
    row = run_one_task(fn, "n long", e).first()
    return int(row["n"]) if row is not None else 0


def _closed_wedges(s: Scratch, graph: Graph) -> DataFrame:
    """``(x, y, z)`` — every triangle once, at its wedge apex ``x`` by
    (degree, id) rank, with ``y < z`` by id. The oriented edge set is
    persisted in ``s``, since the plan reads it three times."""
    o = s.persist(_oriented(graph))
    o1 = o.select(F.col("a").alias("x"), F.col("b").alias("y"))
    o2 = o.select(F.col("a").alias("x"), F.col("b").alias("z"))
    wedges = o1.join(o2, "x").where(F.col("y") < F.col("z"))
    # normalize the closing edge to id order: wedges carry (y < z) by id,
    # while o is oriented by degree-rank
    closing = o.select(
        F.least("a", "b").alias("y"), F.greatest("a", "b").alias("z")
    )
    return wedges.join(closing, ["y", "z"], "left_semi")


def triangle_count(graph: Graph, sequential_threshold: int = 1_000_000) -> int:
    """Total number of triangles in the graph.
    ``sequential_threshold``: see :func:`graft.algos.community.one_task`."""
    if one_task(graph, sequential_threshold):
        return _sequential_triangle_count(graph)
    with scratch() as s:
        return _closed_wedges(s, graph).count()


def triangles_per_vertex(graph: Graph) -> DataFrame:
    """Returns ``(id long, triangles long)`` — per-vertex triangle counts
    (each triangle contributes 1 to each of its three corners)."""
    with scratch() as s:
        closed = s.persist(_closed_wedges(s, graph))
        per_corner = (
            closed.select(F.col("x").alias("id"))
            .unionAll(closed.select(F.col("y").alias("id")))
            .unionAll(closed.select(F.col("z").alias("id")))
            .groupBy("id")
            .agg(F.count(F.lit(1)).alias("triangles"))
        )
        out = truncate(
            graph.vertices().join(per_corner, "id", "left").select(
                "id", F.coalesce("triangles", F.lit(0)).alias("triangles")
            )
        )
        s.keep(out)
    return out
