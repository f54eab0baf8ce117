"""Isolated quiet-rep timer for single 2M-edge bench cells.

Usage: python tools/cell_rep.py <cell> [reps]

Each invocation is ONE fresh session running ONE cell `reps` times
(default 2) with the exact bench.py inputs — for separating host noise
from code-level regressions on a cell-by-cell basis.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import bench  # noqa: E402
from graft.graph import Graph  # noqa: E402
from graft.session import get_spark  # noqa: E402


def main() -> None:
    cell = sys.argv[1]
    reps = int(sys.argv[2]) if len(sys.argv) > 2 else 2
    spark = get_spark("graft-cellrep", master=f"local[{bench.CPUS}]")
    big = Graph.from_undirected(
        spark.read.parquet(bench.synth_powerlaw_parquet(2_000_000))
    ).cache()
    big.edges.count()

    def run_once() -> float:
        t0 = time.perf_counter()
        if cell == "louvain_bsp":
            from graft.algos.community import init_level, move_nodes

            move_nodes(
                init_level(big.edges), objective="modularity",
                m=big.total_edge_weight(), max_sweeps=5, seed=1234,
            )[1]
        elif cell == "betweenness_k4":
            from graft.algos.betweenness import betweenness_centrality

            betweenness_centrality(big, k=4, seed=1).count()
        elif cell == "hyper_anf":
            from graft.algos.anf import neighborhood_function

            neighborhood_function(big, max_hops=3, lg_config_k=8).count()
        elif cell == "pagerank":
            from graft.algos.pagerank import pagerank

            pagerank(big, fixed_iterations=bench.PR_ITERS).count()
        elif cell == "neighbor_sample":
            from graft.algos.sampling import neighbor_sample

            neighbor_sample(big, [10, 5], seed=1, max_degree=64).count()
        elif cell == "leiden_bsp_level0":
            from graft.algos.leiden import leiden

            leiden(
                big, gamma=0.05, seed=1234, tail_max_vertices=100_000
            ).count()
        else:
            raise SystemExit(f"unknown cell {cell}")
        return round(time.perf_counter() - t0, 3)

    # host load around the timed reps, to tell host noise from code
    load1_before = os.getloadavg()[0]
    walls = [run_once() for _ in range(reps)]
    print(json.dumps({"cell": cell, "walls": walls,
                      "load1_before": load1_before,
                      "load1_after": os.getloadavg()[0]}))
    spark.stop()


if __name__ == "__main__":
    main()
