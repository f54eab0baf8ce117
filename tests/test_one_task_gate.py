"""The one-task gate (``community.one_task``) and the one-task shuttle
(``community.run_one_task``) shared by the eight gated operators: the
memoized edge-row count, equal outputs on both paths for an empty graph
and for one of isolated self-loops (the one-task kernels then get no
group, or a group with no edge rows), and what each path leaves
behind."""

from __future__ import annotations

import pytest

from graft import fixtures
from graft.algos import kcore, ktruss, truss
from graft.algos.community import one_task
from graft.algos.components import connected_components
from graft.algos.kcore import core_number, k_core
from graft.algos.ktruss import k_truss
from graft.algos.msf import minimum_spanning_forest
from graft.algos.pagerank import pagerank
from graft.algos.scc import strongly_connected_components
from graft.algos.spectral import pic_embedding
from graft.algos.triangles import triangle_count
from graft.algos.truss import truss_number
from graft.checkpoint import Checkpointer, _is_persisted
from graft.graph import Graph
from tests.reference_impls import random_graph
from tests.test_row_count import _jobs_in_fresh_group

# each operator with short fixed iteration counts, so the superstep
# path stays a handful of jobs
OPS = {
    "pagerank": lambda g, **kw: pagerank(g, fixed_iterations=1, **kw),
    "components": connected_components,
    "triangles": triangle_count,
    "scc": strongly_connected_components,
    "truss": truss_number,
    "kcore": core_number,
    "pic": lambda g, **kw: pic_embedding(g, iterations=1, **kw),
    "msf": minimum_spanning_forest,
}
PATHS = {"one_task": {}, "supersteps": {"sequential_threshold": 0}}


def _rows(out):
    """Order-free, 6-dp comparable form of an operator's output."""
    if isinstance(out, int):
        return out
    return sorted(
        tuple(round(v, 6) if isinstance(v, float) else v for v in r)
        for r in out.collect()
    )


def _graph(spark, rows):
    return Graph.from_undirected(fixtures.edges_df(spark, rows))


def _seeded_edges():
    # one self-loop, so both paths meet the loop handling too
    return random_graph(8, 0.5, seed=7) + [(3, 3, 1.0)]


def test_edge_rows_is_counted_once_and_the_gate_counts_only_when_it_must(
    spark, tmp_path
):
    g = _graph(spark, _seeded_edges())
    connected_components(g).collect()
    n, jobs = _jobs_in_fresh_group(spark, g.edge_rows)
    assert jobs == []
    assert n == g.edges.count()

    fresh = _graph(spark, _seeded_edges())
    ck = Checkpointer(spark, str(tmp_path / "ck"), "gate")
    for call in (
        lambda: one_task(fresh, 0),
        lambda: one_task(fresh, 10**9, checkpointer=ck),
    ):
        chosen, jobs = _jobs_in_fresh_group(spark, call)
        assert chosen is False
        assert jobs == []
    assert one_task(fresh, 10**9) is True
    assert one_task(fresh, n - 1) is False


@pytest.mark.parametrize("shape", ["empty", "self_loops"])
def test_both_paths_agree_on_empty_and_self_loop_only_graphs(spark, shape):
    rows = [] if shape == "empty" else [(v, v, 1.0) for v in (1, 2, 3)]
    g = _graph(spark, rows).cache()
    try:
        for name, op in OPS.items():
            got = {path: _rows(op(g, **kw)) for path, kw in PATHS.items()}
            assert got["one_task"] == got["supersteps"], name
    finally:
        g.unpersist()


@pytest.mark.parametrize("name", list(OPS))
def test_callers_cache_kept_and_nothing_persisted_left(
    spark, leftover_spills, persisted_rdds, name
):
    g = _graph(spark, _seeded_edges())
    before = persisted_rdds()
    g.cache()
    g.edges.count()
    for path, kw in PATHS.items():
        out = OPS[name](g, **kw)
        _rows(out)
        assert _is_persisted(g.edges), path
        # every spill the call left behind is one its result reads
        assert leftover_spills(out) == [], path
    g.unpersist()
    assert persisted_rdds() == before


@pytest.mark.parametrize(
    "extract", [lambda g: k_core(g, 2), lambda g: k_truss(g, 3)],
    ids=["k_core", "k_truss"],
)
def test_extractions_below_the_gate_spill_nothing(spark, monkeypatch, extract):
    """Below the gate k_core and k_truss filter the one-task
    decomposition: no superstep loop, so no truncate."""
    spills = []
    for mod in (kcore, ktruss, truss):
        def counted(df, real=mod.truncate):
            spills.append(df)
            return real(df)
        monkeypatch.setattr(mod, "truncate", counted)
    g = _graph(spark, _seeded_edges()).cache()
    try:
        assert extract(g).collect()
    finally:
        g.unpersist()
    assert spills == []
