"""Plan and rule pins for the Leiden/Louvain BSP level.

- ``_select_moves`` builds the per-sweep community aggregate once: its
  two dimension joins broadcast the same relation, so the second plans
  as a ReusedExchange of the first.
- The refinement cogroup's reducer count follows the level's size
  (``refine_reducers``).
"""

import re

import pytest

from graft import fixtures
from graft.algos.community import (
    community_aggregates,
    gather_neighbor_comm_weights,
    init_level,
    _select_moves,
    refine_reducers,
    superstep_conf,
    superstep_reducers,
)
from graft.checkpoint import truncate
from graft.graph import Graph

_BUILD = re.compile(r"^[ :|+-]*BroadcastExchange .*\[plan_id=(\d+)\]$")
_REUSED = re.compile(r"^[ :|+-]*ReusedExchange .*BroadcastExchange .*\[plan_id=(\d+)\]$")


def _broadcasts(plan: str) -> tuple[dict[int, str], list[int]]:
    """({plan id: first line of the build's child}, [plan ids reused])."""
    lines = plan.splitlines()
    builds, reused = {}, []
    for i, line in enumerate(lines):
        if m := _BUILD.match(line):
            builds[int(m.group(1))] = lines[i + 1]
        elif m := _REUSED.match(line):
            reused.append(int(m.group(1)))
    return builds, reused


@pytest.mark.parametrize("objective", ["cpm", "modularity"])
def test_select_moves_builds_community_aggregate_once(spark, objective):
    g = Graph.from_undirected(
        fixtures.edges_df(spark, fixtures.clique_ring_edges())
    )
    level = init_level(g.edges)
    # the sweep's own shapes: AQE off, edges hash-partitioned by src,
    # vertex state a parquet leaf
    with superstep_conf(spark, 100) as sp:
        edges = g.edges.repartition(sp, "src")
        verts = truncate(level.vertices)
        moves = _select_moves(
            verts, gather_neighbor_comm_weights(edges, verts),
            community_aggregates(verts), objective, 0.1, 35.0,
        )
        plan = moves._jdf.queryExecution().executedPlan().toString()
    builds, reused = _broadcasts(plan)
    agg_builds = [
        pid for pid, child in builds.items()
        if "HashAggregate(keys=[community" in child
    ]
    assert len(agg_builds) == 1, plan
    assert reused == agg_builds, plan
    assert len(builds) <= 3, plan


def test_refine_reducers_follow_the_data():
    def rule(n_rows, cores):
        return refine_reducers(
            n_rows, cores, superstep_reducers(n_rows, cores, 32)
        )

    # one wave on a small level, three waves from ~0.5M rows up
    assert rule(60_000, 4) == 4
    assert rule(2_000_000, 8) == 24
    assert rule(4_000_000, 32) == 96
    # never below the superstep count
    assert refine_reducers(10, 4, 16) == 16
