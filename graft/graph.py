"""Graph state: a pair of DataFrames, plus derived degree/strength tables.

The canonical state (SURVEY.md §1.3) is
``edges(src long, dst long, weight double)`` — symmetrized, so every
undirected edge appears in both directions and all weight sums follow the
reference's double-counting convention (custom_louvain.py:19-29) — and
``vertices(id long, ...)`` built lazily from the edge endpoints.
"""

from __future__ import annotations

from dataclasses import dataclass, field

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from graft.io import symmetrize


@dataclass
class Graph:
    """An undirected weighted graph held as a symmetrized edge DataFrame.

    ``edges`` must already be symmetrized (both directions present,
    self-loops once). Use :meth:`from_undirected` for raw input.
    """

    edges: DataFrame
    symmetric: bool = field(default=False)
    _cached: bool = field(default=False, repr=False)
    _trans: DataFrame | None = field(default=None, repr=False)
    _trans_copart: DataFrame | None = field(default=None, repr=False)
    _verts: DataFrame | None = field(default=None, repr=False)
    _nv: int | None = field(default=None, repr=False)
    _ne: int | None = field(default=None, repr=False)
    _adj: DataFrame | None = field(default=None, repr=False)
    _adj_rows: int | None = field(default=None, repr=False)
    _brandes_bcast: object | None = field(default=None, repr=False)

    @classmethod
    def from_undirected(cls, raw_edges: DataFrame) -> "Graph":
        # symmetrize guarantees the symmetrized contract: src and
        # dst vertex sets coincide, so no vertex lacks in- or out-edges
        # — algorithms can skip their structural probes (pagerank)
        return cls(symmetrize(raw_edges), symmetric=True)

    def cache(self) -> "Graph":
        if not self._cached:
            self.edges = self.edges.persist()
            self._cached = True
        return self

    def unpersist(self) -> None:
        if self._cached:
            self.edges.unpersist()
            self._cached = False
        if self._trans is not None:
            self._trans.unpersist()
            self._trans = None
        if self._trans_copart is not None:
            self._trans_copart.unpersist()
            self._trans_copart = None
        if self._verts is not None:
            self._verts.unpersist()
            self._verts = None
            self._nv = None
        if self._adj is not None:
            from graft.checkpoint import drop_spill

            drop_spill(self._adj)
            self._adj = None
            self._adj_rows = None
        if self._brandes_bcast is not None:
            try:
                self._brandes_bcast.unpersist()
            except Exception:
                pass
            self._brandes_bcast = None

    def transition(self, copartitioned: bool = False) -> DataFrame:
        """Memoized random-walk transition table ``(src, dst, p)`` with
        p = weight / out-weight(src) — built and cached once per Graph
        so repeated PageRank calls (warm-up + timed, or repeated
        convergence runs) don't pay the build join again.

        ``copartitioned=True`` additionally hash-partitions the table by
        ``src`` — the 10^12-vertex configuration where the rank table
        cannot be broadcast: each superstep then shuffles only the small
        rank table to this fixed partitioning and probes the edges in
        place (no edge movement, no driver-side broadcast build).
        """
        if copartitioned:
            if self._trans_copart is None:
                self._trans_copart = (
                    self.transition().repartition("src").persist()
                )
                self._trans_copart.count()
            return self._trans_copart
        if self._trans is None:
            out_w = self.edges.groupBy("src").agg(F.sum("weight").alias("s"))
            self._trans = (
                self.edges.join(out_w, "src")
                .select("src", "dst", (F.col("weight") / F.col("s")).alias("p"))
                .persist()
            )
            self._trans.count()
        return self._trans

    # --- basic relational blocks (SURVEY.md §2.2) ---

    def vertices(self) -> DataFrame:
        """All vertex ids (C1-style identity vertex table).

        On the symmetrized contract src and dst endpoint sets coincide, so
        one distinct over src suffices. On raw directed input
        (``symmetric=False``) dst-only sinks exist — e.g. a page that is
        only ever linked to — and must be included, or PageRank would drop
        their rank mass and the dangling probe would never find them.
        """
        src_ids = self.edges.select(F.col("src").alias("id"))
        if self.symmetric:
            return src_ids.distinct()
        return src_ids.unionAll(
            self.edges.select(F.col("dst").alias("id"))
        ).distinct()

    def vertices_cached(self) -> DataFrame:
        """Memoized persisted vertex table — iterative algorithms call
        this so repeated runs on one Graph pay the distinct shuffle
        once, not per call."""
        if self._verts is None:
            self._verts = self.vertices().persist()
            self._nv = self._verts.count()
        return self._verts

    def num_vertices(self) -> int:
        if self._nv is None:
            self.vertices_cached()
        return self._nv

    def edge_rows(self) -> int:
        """Rows of the edge table, counted once per Graph — from the
        parquet footers when the table is a graft leaf
        (:func:`graft.checkpoint.row_count`), otherwise with one count
        job. Operators size their gates and reducers with it."""
        if self._ne is None:
            from graft.checkpoint import row_count

            self._ne = row_count(self.edges)
        return self._ne

    def total_edge_weight(self) -> float:
        """m — single-counted total edge weight (R1, custom_leiden.py:69-75).

        The symmetrized table double-counts non-loop edges and holds each
        self-loop once, so m = (sum + loop_sum) / 2 recovers the
        single-counted total with self-loops counted once.
        """
        row = self.edges.agg(
            F.sum("weight").alias("s"),
            F.sum(F.when(F.col("src") == F.col("dst"), F.col("weight"))).alias(
                "loops"
            ),
        ).first()
        s = row["s"] or 0.0
        loops = row["loops"] or 0.0
        return (s + loops) / 2.0

    def summary(self) -> DataFrame:
        """ONE-row corpus card: ``(n_vertices, n_edges, n_self_loops,
        total_weight, density, max_degree)`` — the
        cugraph.Graph.number_of_*/density API face as a single frame a
        dashboard or sanity check reads in one action. n_edges is the
        single-counted undirected edge count (self-loops included once);
        density = single-counted non-loop edges over n·(n−1)/2;
        max_degree is the unweighted degree (self-loops excluded). Cost:
        one pass over the edge table + one keyed count for the degree
        max — no per-pair work."""
        spark = self.edges.sparkSession
        n = self.num_vertices()
        row = self.edges.agg(
            F.sum(
                F.when(F.col("src") == F.col("dst"), F.lit(2)).otherwise(
                    F.lit(1)
                )
            ).alias("dbl_edges"),
            F.sum(
                F.when(F.col("src") == F.col("dst"), F.lit(1))
            ).alias("loops"),
        ).first()
        dbl = int(row["dbl_edges"] or 0)
        loops = int(row["loops"] or 0)
        max_deg_row = (
            self.without_self_loops()
            .select("src", "dst")
            .distinct()
            .groupBy("src")
            .agg(F.count(F.lit(1)).alias("d"))
            .agg(F.max("d"))
            .first()
        )
        max_deg = int(max_deg_row[0] or 0)
        n_edges = dbl // 2
        n_nonloop = n_edges - loops
        pairs = n * (n - 1) / 2.0
        return spark.createDataFrame(
            [(
                n,
                n_edges,
                loops,
                round(self.total_edge_weight(), 6),
                round(n_nonloop / pairs, 6) if pairs else 0.0,
                max_deg,
            )],
            "n_vertices long, n_edges long, n_self_loops long, "
            "total_weight double, density double, max_degree long",
        )

    def strength(self) -> DataFrame:
        """Per-vertex weighted degree k_i (R2, custom_leiden.py:103-111).

        Self-loops contribute twice to k_i (standard modularity
        convention, matching the reference's double-counting).
        Returns ``(id, k double, degree long)``.
        """
        return self.edges.groupBy(F.col("src").alias("id")).agg(
            F.sum(
                F.when(
                    F.col("src") == F.col("dst"), F.col("weight") * 2
                ).otherwise(F.col("weight"))
            ).alias("k"),
            F.count(F.lit(1)).alias("degree"),
        )

    def top_degrees(self, n: int = 10) -> DataFrame:
        """Top-n hubs by weighted degree (X5, examples/test2.py:22-26) —
        also the skew detector feeding graft.skew."""
        return self.strength().orderBy(F.desc("k"), "id").limit(n)

    def simple_adjacency(self) -> tuple[DataFrame, int]:
        """Memoized simple adjacency ``(src, dst)`` — distinct non-loop
        pairs, materialized once per Graph as a stats-true parquet leaf
        (r6). Betweenness, WL refinement and neighbor sampling all
        derive the identical table; sharing one leaf means one distinct
        shuffle + one write per Graph instead of one per operator call.
        Returns ``(frame, row_count)``; released by :meth:`unpersist`.
        """
        if self._adj is None:
            from graft.checkpoint import row_count, spill

            # the Graph's own leaf: no operator's scratch releases it
            self._adj = spill(
                self.without_self_loops().select("src", "dst").distinct()
            )
            self._adj_rows = row_count(self._adj)
        return self._adj, self._adj_rows

    def has_self_loops(self) -> bool:
        """X6 (examples/test1.py:40-42)."""
        return (
            self.edges.where(F.col("src") == F.col("dst")).limit(1).count() > 0
        )

    def without_self_loops(self) -> DataFrame:
        return self.edges.where(F.col("src") != F.col("dst"))
