"""The Leiden/Louvain level loop end to end: exact labels on every path
it takes, and what it leaves behind — the caller's cached edge frame
stays cached, no persisted frame and no spill directory outlives the
call except the labels' own spill."""

from __future__ import annotations

import os

import pytest

from graft import checkpoint, fixtures
from graft.checkpoint import _is_persisted
from graft.algos.leiden import leiden
from graft.algos.louvain import louvain
from graft.graph import Graph

# BSP at every level, or the one-task tail from level 0
PATHS = {"bsp": dict(sequential_tail_edges=0), "tail": dict()}
RUNS = {
    "leiden": lambda g, **kw: leiden(g, gamma=0.1, seed=5, **kw),
    "louvain": lambda g, **kw: louvain(g, seed=3, **kw),
}
CLIQUES = [(v, 4 * (v // 4)) for v in range(20)]

# the community of each of vertices 0..19 exactly as labelled (not
# canonicalized: the community ids are pinned too)
EXPECTED = {
    "leiden-bsp": [0, 0, 0, 0, 4, 4, 4, 4, 8, 8, 8, 8, 12, 12, 12, 12, 16, 16, 16, 16],
    "leiden-tail": [0, 0, 0, 0, 4, 4, 4, 4, 8, 8, 8, 8, 13, 13, 13, 13, 16, 16, 16, 16],
    "louvain-bsp": [1, 1, 1, 1, 5, 5, 5, 5, 9, 9, 9, 9, 14, 14, 14, 14, 17, 17, 17, 17],
    "louvain-tail": [2, 2, 2, 2, 5, 5, 5, 5, 9, 9, 9, 9, 14, 14, 14, 14, 17, 17, 17, 17],
    "louvain-bsp-warm": [0, 0, 0, 0, 4, 4, 4, 4, 8, 8, 8, 8, 12, 12, 12, 12, 16, 16, 16, 16],
}
CASES = [(a, p, False) for a in RUNS for p in PATHS] + [
    # a ground-truth seed commits zero moves at level 0: the seeded
    # labels are the answer
    ("louvain", "bsp", True),
]


@pytest.mark.parametrize(
    "algo,path,warm", CASES,
    ids=[f"{a}-{p}" + ("-warm" if w else "") for a, p, w in CASES],
)
def test_level_loop_labels_and_leftovers(
    spark, spill_dir, persisted_rdds, algo, path, warm
):
    g = Graph.from_undirected(
        fixtures.edges_df(spark, fixtures.clique_ring_edges())
    ).cache()
    g.edges.count()
    persisted = persisted_rdds()
    kw = dict(PATHS[path])
    if warm:
        kw["initial_membership"] = spark.createDataFrame(
            CLIQUES, "id long, community long"
        )
    labels = RUNS[algo](g, **kw)
    rows = sorted((r.id, r.community) for r in labels.collect())
    cached = _is_persisted(g.edges)
    left_persisted = persisted_rdds()
    g.unpersist()

    case = f"{algo}-{path}" + ("-warm" if warm else "")
    assert rows == list(enumerate(EXPECTED[case]))
    assert cached
    assert left_persisted == persisted
    # the labels are a spill of their own (the level-0 tail's output,
    # for the tail path); every other spill of the run is gone
    left = os.listdir(checkpoint._spill_root)
    assert len(left) == 1
    own = getattr(labels, "_graft_spill_path", None)
    assert own is None or left == [os.path.basename(own)]
