"""Approximate Neighborhood Function (HyperANF) + exact small-scale twin.

N(h) = number of ordered vertex pairs (u, v) with dist(u, v) <= h over
the undirected graph — the curve behind effective diameter, closeness
approximations, and reachability profiling. Two modes:

- ``exact=True``: materialize the reachability relation hop by hop
  (distinct (src, v) pairs, one join + distinct per hop). Output is
  exact; cost is O(sum |ball(v, h)|), fine for validation scales and the
  DuckDB oracle twin, quadratic at worst — NOT the 100-TB path.
- ``exact=False`` (HyperANF, the scale path): one HyperLogLog sketch per
  vertex, B_0(v) = {v}; each round unions every vertex's sketch with its
  neighbors' sketches — entirely JVM-side via Spark's built-in Datasketches
  HLL functions (``hll_sketch_agg`` / ``hll_union_agg`` /
  ``hll_sketch_estimate``), so the per-round cost is ONE keyed shuffle of
  (vertex, sketch) rows, each sketch O(2^lg_config_k) bytes, regardless of
  ball sizes. This is the Boldi-Rosa-Vigna HyperANF algorithm (WWW 2011)
  re-expressed as DataFrame aggregation; error is the standard HLL bound
  (~1.04/sqrt(2^lg_config_k) per-vertex, concentrating further in the sum).

At 10^12 edges the HLL path is the only viable one: exact per-vertex ball
sets explode combinatorially, while sketch rows stay (n_vertices ×
sketch_bytes) every round with map-side-combinable unions.

Reference scope anchor: the reference engine ships BFS-family
reachability (csrc/test and examples drive hop queries); the
neighborhood-function curve is its natural aggregate at web scale.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Observation
from pyspark.sql import functions as F

from graft.checkpoint import drop_spill, observed, row_count, scratch, truncate
from graft.graph import Graph


def neighborhood_function(
    graph: Graph,
    max_hops: int = 3,
    exact: bool = False,
    lg_config_k: int = 12,
) -> DataFrame:
    """N(h) for h = 0..max_hops over the symmetrized edge table.

    Returns ``(hop int, n_pairs long)`` — ordered pairs within distance
    h, self-pairs included (N(0) = |V|). In HLL mode ``n_pairs`` is the
    rounded sketch estimate.
    """
    if exact:
        return _exact_nf(graph, max_hops)
    return _hll_nf(graph, max_hops, lg_config_k)


def _exact_nf(graph: Graph, max_hops: int) -> DataFrame:
    spark = graph.edges.sparkSession
    edges = graph.without_self_loops().select("src", "dst")
    with scratch():
        # truncate (parquet spill), NOT localCheckpoint: each round
        # references `reach` twice (union + join), the self-join shape whose
        # carried size estimate squares per iteration under LogicalRDD
        # (graft.checkpoint.truncate docstring)
        reach = truncate(
            graph.vertices().select(F.col("id").alias("s"), F.col("id").alias("v"))
        )
        counts = [(0, row_count(reach))]
        for h in range(1, max_hops + 1):
            grown = reach.unionAll(
                reach.join(edges, reach["v"] == edges["src"]).select(
                    "s", F.col("dst").alias("v")
                )
            ).distinct()
            prev = reach
            reach = truncate(grown)
            drop_spill(prev)
            counts.append((h, row_count(reach)))
            if counts[-1][1] == counts[-2][1]:
                # reachability fixpoint: every later hop repeats this count
                counts += [(i, counts[-1][1]) for i in range(h + 1, max_hops + 1)]
                break
    return spark.createDataFrame(counts, "hop int, n_pairs long")


# Broadcast gate for the per-round sketch table (r6): a DENSE HLL_4
# sketch is ~2^lg_config_k / 2 bytes of registers plus ~100 B of
# framing, so the gate is a deliberate overestimate of the broadcast
# relation. Under it, every gather round runs exchange-free (see
# _hll_nf); above it — the 10^12-vertex regime, where V sketches can't
# sit on every executor — the original shuffle plan runs instead.
_HLL_BROADCAST_MAX_BYTES = 256 * 1024 * 1024


def _hll_nf(graph: Graph, max_hops: int, lg_config_k: int) -> DataFrame:
    from graft.algos.community import superstep_conf

    spark = graph.edges.sparkSession
    n_rows = graph.edge_rows()
    n_verts = graph.num_vertices()
    sketch_bytes = n_verts * (2 ** lg_config_k // 2 + 100)
    broadcastable = sketch_bytes <= _HLL_BROADCAST_MAX_BYTES

    def estimated(sk: DataFrame) -> tuple[DataFrame, Observation]:
        return observed(sk, t=F.sum(F.hll_sketch_estimate("sk")))

    counts: list[tuple[int, int]]
    with superstep_conf(spark, n_rows) as sp, scratch() as s:
        if broadcastable:
            # r6 exchange-free rounds: the union B_{h+1}(v) = B_h(v) ∪
            # ⋃_{u∈N(v)} B_h(u) is computed by joining the BROADCAST
            # sketch table into an adjacency that carries one (v, v)
            # self row per vertex (delivering v its own previous sketch
            # through the same join — the old unionAll(sk) branch
            # destroyed the gather's partitioning), over an edge table
            # hash-partitioned by src ONCE for all rounds. The
            # groupBy(src) union-agg is then satisfied by the cached
            # partitioning, so the per-round plan has NO Exchange at
            # all — the old plan shuffled up to (#partitions × V)
            # ObjectHashAggregate partial sketches per round (the
            # dominant cost: ~200 B per partial). Sketch content is
            # identical either way (register-max union is
            # order-independent), so estimates match bit-for-bit. The
            # cache fills during the first round's write.
            adj = s.persist(
                graph.without_self_loops().select("src", "dst")
                .unionAll(
                    graph.vertices().select(
                        F.col("id").alias("src"), F.col("id").alias("dst")
                    )
                )
                .repartition(sp, "src")
            )
        else:
            adj = graph.without_self_loops().select("src", "dst")
        # B_0(v) = {v}: one sketch per vertex seeded with its own id
        sk, obs = estimated(
            graph.vertices()
            .groupBy("id")
            .agg(
                F.hll_sketch_agg(F.col("id"), F.lit(lg_config_k)).alias("sk")
            )
        )
        sk = truncate(sk)
        counts = [(0, obs.get["t"])]
        for h in range(1, max_hops + 1):
            if broadcastable:
                gathered = (
                    adj.join(
                        F.broadcast(sk.withColumnRenamed("id", "dst")), "dst"
                    )
                    .groupBy(F.col("src").alias("id"))
                    .agg(F.hll_union_agg("sk").alias("sk"))
                )
            else:
                gathered = (
                    adj.join(sk.withColumnRenamed("id", "dst"), "dst")
                    .select(F.col("src").alias("id"), "sk")
                    .unionAll(sk)
                    .groupBy("id")
                    .agg(F.hll_union_agg("sk").alias("sk"))
                )
            prev = sk
            sk, obs = estimated(gathered)
            sk = truncate(sk)
            drop_spill(prev)
            counts.append((h, obs.get["t"]))
            if counts[-1][1] == counts[-2][1]:
                # sketch-union fixpoint (unions are monotone, estimates
                # are a deterministic function of the sketch): pad, stop
                counts += [
                    (i, counts[-1][1]) for i in range(h + 1, max_hops + 1)
                ]
                break
    return spark.createDataFrame(counts, "hop int, n_pairs long")


def effective_diameter(
    graph: Graph,
    q: float = 0.9,
    max_hops: int = 32,
    exact: bool = False,
    lg_config_k: int = 12,
) -> float:
    """Interpolated q-effective diameter: the (fractional) hop count at
    which the neighborhood function reaches ``q`` of its plateau.

    Runs the neighborhood function until N(h) stops growing (or
    ``max_hops``), then linearly interpolates between the two hops that
    bracket q·N(∞) — the standard HyperANF/snap reporting convention.
    """
    nf = neighborhood_function(
        graph, max_hops=max_hops, exact=exact, lg_config_k=lg_config_k
    ).orderBy("hop")
    vals = [r["n_pairs"] for r in nf.collect()]
    # truncate at the plateau (exact mode reaches it; HLL may jitter ±)
    target = q * vals[-1]
    if vals[0] >= target:
        return 0.0
    for h in range(1, len(vals)):
        if vals[h] >= target:
            lo, hi = vals[h - 1], vals[h]
            return (h - 1) + (target - lo) / (hi - lo)
    return float(len(vals) - 1)
