"""spark-submit entry point.

Usage (north_rule launch shape)::

    zip -r graft.zip graft
    spark-submit --py-files graft.zip graft/cli.py \
        --algo leiden --input /path/transcripts_parquet \
        --output /path/labels --gamma 0.05 --seed 1234 \
        --checkpoint-dir /path/ckpt

``--input`` is either a catalog table name (``catalog.db.transcripts``
— the Iceberg read path when the Iceberg runtime is on the cluster
classpath) or a parquet path, with the transcript schema (conv_id,
turn_idx, role, text, tool, ts); pass ``--input-kind events`` for the
testdata events schema instead. On a cluster, executor count is
whatever the cluster provides — the engine itself only sees shuffle
partitioning.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

# running as `spark-submit graft/cli.py` (or `python graft/cli.py`)
# puts graft/ itself on sys.path, not the repo root — fix that so the
# package resolves both with and without --py-files
sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import SparkSession

from graft.algos.components import connected_components
from graft.algos.leiden import leiden
from graft.algos.louvain import louvain
from graft.algos.lpa import label_propagation
from graft.algos.pagerank import pagerank
from graft.algos.triangles import triangles_per_vertex
from graft.checkpoint import Checkpointer
from graft.graph import Graph
from graft.io import (
    actor_edges_to_long,
    events_to_transcripts,
    read_transcript_source,
    transcripts_to_decayed_edges,
    transcripts_to_edges,
)

ALGOS = {
    "pagerank", "components", "lpa", "triangles", "louvain", "leiden",
    "wl", "conv-fingerprints", "sessionize", "turn-gaps", "actor-pmi",
    "betweenness", "edge-betweenness", "ecg", "spectral", "msf",
    "snapshot-drift", "conv-entropy", "node-roles", "link-pred-auc",
    "sweep-cut", "ic-spread",
}


def build_graph(spark: SparkSession, args) -> tuple[Graph, "DataFrame"]:
    df = read_transcript_source(spark, args.input)
    if args.input_kind == "events":
        df = events_to_transcripts(df)
    if args.half_life_s:
        uv = transcripts_to_decayed_edges(df, half_life_s=args.half_life_s)
    else:
        uv = transcripts_to_edges(df)
    edges, mapping = actor_edges_to_long(uv)
    return Graph.from_undirected(edges).cache(), mapping


def main(argv=None) -> None:
    p = argparse.ArgumentParser(prog="graft")
    p.add_argument("--algo", choices=sorted(ALGOS), required=True)
    p.add_argument("--input", required=True)
    p.add_argument("--input-kind", choices=["transcripts", "events"],
                   default="transcripts")
    p.add_argument("--output", required=True)
    p.add_argument("--gamma", type=float, default=0.05)
    p.add_argument("--seed", type=int, default=1234)
    p.add_argument("--max-iter", type=int, default=100)
    p.add_argument("--checkpoint-dir", default=None)
    p.add_argument(
        "--k-sources", type=int, default=None,
        help="betweenness/edge-betweenness: sample this many BFS "
        "sources and rescale by n/k (the networkx/cugraph estimator — "
        "exact betweenness is O(V*E) on any engine, so at scale you "
        "sample; default: exact, all sources)",
    )
    p.add_argument(
        "--n-clusters", type=int, default=8,
        help="spectral: target cluster count k for power-iteration "
        "clustering (cugraph spectral-clustering API shape)",
    )
    p.add_argument(
        "--granularity", default="day",
        help="snapshot-drift: date_trunc grain for the per-window link "
        "graphs (hour/day/week/...)",
    )
    p.add_argument(
        "--half-life-s", type=float, default=None,
        help="recency-decay half-life in seconds: edge weights become "
        "sum of 0.5**(age/half_life) anchored at the corpus max ts "
        "(default: raw co-adjacency counts)",
    )
    args = p.parse_args(argv)

    spark = SparkSession.builder.appName(f"graft-{args.algo}").getOrCreate()
    if args.algo in (
        "conv-fingerprints", "sessionize", "turn-gaps", "actor-pmi",
        "snapshot-drift", "conv-entropy",
    ):
        # transcript-table algos: no graph build, output keyed by conv
        from graft.algos.wl import conversation_wl_fingerprints
        from graft.io import transcripts_to_edges_windowed
        from graft.temporal import snapshot_drift
        from graft.transcripts import (
            actor_pmi,
            conversation_entropy,
            sessionize,
            turn_gap_stats,
        )

        df = read_transcript_source(spark, args.input)
        if args.input_kind == "events":
            df = events_to_transcripts(df)
        t0 = time.perf_counter()
        out = {
            "conv-fingerprints": conversation_wl_fingerprints,
            "sessionize": sessionize,
            "turn-gaps": turn_gap_stats,
            "actor-pmi": actor_pmi,
            "conv-entropy": conversation_entropy,
            "snapshot-drift": lambda d: snapshot_drift(
                transcripts_to_edges_windowed(d, args.granularity)
            ),
        }[args.algo](df)
        out.write.mode("overwrite").parquet(args.output)
        print(json.dumps({
            "algo": args.algo,
            "seconds": round(time.perf_counter() - t0, 3),
        }))
        return
    ckpt = (
        Checkpointer(spark, args.checkpoint_dir, args.algo)
        if args.checkpoint_dir
        else None
    )
    g, mapping = build_graph(spark, args)
    t0 = time.perf_counter()
    if args.algo == "pagerank":
        out = pagerank(g, max_iter=args.max_iter, checkpointer=ckpt)
    elif args.algo == "components":
        out = connected_components(g, max_iter=args.max_iter, checkpointer=ckpt)
    elif args.algo == "lpa":
        out = label_propagation(g, max_iter=args.max_iter, checkpointer=ckpt)
    elif args.algo == "triangles":
        out = triangles_per_vertex(g)
    elif args.algo == "louvain":
        out = louvain(g, seed=args.seed, checkpointer=ckpt)
    elif args.algo == "node-roles":
        from graft.algos.roles import participation_roles

        out = participation_roles(
            g, label_propagation(g, max_iter=args.max_iter)
        )
    elif args.algo == "link-pred-auc":
        from graft.algos.linkpred import link_pred_auc

        out = link_pred_auc(g)
    elif args.algo == "sweep-cut":
        from pyspark.sql import functions as F

        from graft.algos.sweepcut import ppr_sweep_cut

        src = g.vertices().agg(F.min("id")).first()[0]
        out = ppr_sweep_cut(g, sources=[src])
    elif args.algo == "ic-spread":
        from pyspark.sql import functions as F

        from graft.algos.cascade import ic_spread

        src = g.vertices().agg(F.min("id")).first()[0]
        out = ic_spread(g, seeds=[src])
    elif args.algo == "wl":
        from graft.algos.wl import wl_colors

        out = wl_colors(g, rounds=min(args.max_iter, 4))
    elif args.algo == "betweenness":
        from graft.algos.betweenness import betweenness_centrality

        out = betweenness_centrality(g, k=args.k_sources, seed=args.seed)
    elif args.algo == "ecg":
        from graft.algos.ecg import ecg

        out = ecg(g, seed=args.seed)
    elif args.algo == "spectral":
        from graft.algos.spectral import power_iteration_clustering

        out = power_iteration_clustering(
            g, k=args.n_clusters, seed=args.seed
        )
    elif args.algo in ("edge-betweenness", "msf"):
        if args.algo == "msf":
            from graft.algos.msf import minimum_spanning_forest

            eb = minimum_spanning_forest(g)
        else:
            from graft.algos.betweenness import (
                edge_betweenness_centrality,
            )

            eb = edge_betweenness_centrality(g, k=args.k_sources,
                                             seed=args.seed)
        # edge-keyed output: map BOTH endpoints back to actor strings
        out = (
            eb.join(mapping.withColumnRenamed("id", "u"), "u")
            .drop("u").withColumnRenamed("vid", "actor_u")
            .join(mapping.withColumnRenamed("id", "v"), "v")
            .drop("v").withColumnRenamed("vid", "actor_v")
        )
        out.write.mode("overwrite").parquet(args.output)
        elapsed = time.perf_counter() - t0
        n_edges = g.edge_rows()
        print(json.dumps({
            "algo": args.algo, "seconds": round(elapsed, 3),
            "sym_edge_rows": n_edges,
            "edges_per_sec": round(n_edges / elapsed, 1),
        }))
        return
    else:
        out = leiden(g, gamma=args.gamma, seed=args.seed, checkpointer=ckpt)
    out = out.join(mapping, "id").drop("id").withColumnRenamed("vid", "actor")
    out.write.mode("overwrite").parquet(args.output)
    elapsed = time.perf_counter() - t0
    n_edges = g.edge_rows()
    print(json.dumps({
        "algo": args.algo, "seconds": round(elapsed, 3),
        "sym_edge_rows": n_edges,
        "edges_per_sec": round(n_edges / elapsed, 1),
    }))


if __name__ == "__main__":
    sys.exit(main())
