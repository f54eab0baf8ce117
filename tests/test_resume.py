"""Mid-level checkpoint/resume equivalence for Leiden and Louvain
(north_rule: "resumable from checkpoint with per-partition lineage +
metrics ... resumable mid-aggregation-level")."""

import hashlib
import importlib
import os

import numpy as np
import pytest

from graft import checkpoint, fixtures
from graft.algos.leiden import leiden
from graft.algos.louvain import louvain
from graft.checkpoint import Checkpointer
from graft.graph import Graph


def _labels(df):
    return {r.id: r.community for r in df.collect()}


def _canon(labels):
    """Partition up to relabeling: map community -> min member id."""
    rep = {}
    for v, c in labels.items():
        rep[c] = min(rep.get(c, v), v)
    return {v: rep[c] for v, c in labels.items()}


def test_leiden_resume_equivalence(spark, tmp_path):
    edges = fixtures.clique_ring_weighted_edges()
    g = Graph.from_undirected(fixtures.edges_df(spark, edges)).cache()

    full = _canon(_labels(leiden(g, gamma=0.1, seed=5, sequential_tail_edges=0)))

    # interrupted run: stop after the first aggregation level
    ck1 = Checkpointer(spark, str(tmp_path), "leiden")
    partial = leiden(g, gamma=0.1, seed=5, sequential_tail_edges=0, max_levels=1, checkpointer=ck1)
    partial.count()
    assert ck1.has_table("level=0/mapping")
    assert len(ck1.metrics()) > 0
    assert all("partition_rows" in m for m in ck1.metrics())

    # resumed run continues from the persisted level
    ck2 = Checkpointer(spark, str(tmp_path), "leiden")
    resumed = _canon(_labels(leiden(g, gamma=0.1, seed=5, sequential_tail_edges=0, checkpointer=ck2)))
    assert resumed == full
    g.unpersist()


def test_louvain_resume_equivalence(spark, tmp_path):
    edges = fixtures.clique_ring_edges()
    g = Graph.from_undirected(fixtures.edges_df(spark, edges)).cache()

    full = _canon(_labels(louvain(g, seed=3, sequential_tail_edges=0)))

    ck1 = Checkpointer(spark, str(tmp_path), "louvain")
    louvain(g, seed=3, sequential_tail_edges=0, max_levels=1, checkpointer=ck1).count()
    assert ck1.has_table("level=0/vertices")

    ck2 = Checkpointer(spark, str(tmp_path), "louvain")
    resumed = _canon(_labels(louvain(g, seed=3, sequential_tail_edges=0, checkpointer=ck2)))
    assert resumed == full
    g.unpersist()


def test_pic_embedding_resume_equivalence(spark, tmp_path):
    from graft.algos.spectral import pic_embedding

    edges = fixtures.clique_ring_weighted_edges()
    g = Graph.from_undirected(fixtures.edges_df(spark, edges)).cache()
    full = {r.id: round(r.v, 12)
            for r in pic_embedding(g, 6, sequential_threshold=0).collect()}

    # interrupted run: only 3 of the 6 supersteps
    ck1 = Checkpointer(spark, str(tmp_path), "pic")
    pic_embedding(g, 3, checkpointer=ck1).count()
    ms = ck1.metrics()
    assert [m["step"] for m in ms] == [0, 1, 2]
    assert all("partition_rows" in m for m in ms)

    # resumed run continues from superstep 3 and matches the full run
    ck2 = Checkpointer(spark, str(tmp_path), "pic")
    resumed = {r.id: round(r.v, 12)
               for r in pic_embedding(g, 6, checkpointer=ck2).collect()}
    assert resumed == full
    assert [m["step"] for m in ck2.metrics()] == [0, 1, 2, 3, 4, 5]
    g.unpersist()


def test_pagerank_fixed_iterations_resume_equivalence(spark, tmp_path):
    from graft.algos.pagerank import pagerank

    edges = fixtures.clique_ring_weighted_edges()
    g = Graph.from_undirected(fixtures.edges_df(spark, edges)).cache()
    full = {r.id: round(r.rank, 12) for r in pagerank(
        g, fixed_iterations=6, sequential_threshold=0).collect()}

    # interrupted run: only 3 of the 6 supersteps, each one saved
    ck1 = Checkpointer(spark, str(tmp_path), "pr")
    pagerank(g, fixed_iterations=3, checkpointer=ck1).count()
    assert [m["step"] for m in ck1.metrics()] == [0, 1, 2]

    ck2 = Checkpointer(spark, str(tmp_path), "pr")
    resumed = {r.id: round(r.rank, 12) for r in pagerank(
        g, fixed_iterations=6, checkpointer=ck2).collect()}
    assert resumed == full
    assert [m["step"] for m in ck2.metrics()] == [0, 1, 2, 3, 4, 5]
    g.unpersist()


def test_lpa_resume_equivalence(spark, tmp_path):
    from graft.algos.lpa import label_propagation

    g = Graph.from_undirected(
        fixtures.edges_df(spark, _powerlaw_edges(60, 150))
    ).cache()
    full = {r.id: r.label for r in label_propagation(g, max_iter=6).collect()}

    ck1 = Checkpointer(spark, str(tmp_path), "lpa")
    label_propagation(g, max_iter=2, checkpointer=ck1).count()
    assert [m["step"] for m in ck1.metrics()] == [0, 1]
    assert ck1.metrics()[-1]["changed"] > 0  # stopped mid-propagation

    # the resumed run starts after step 1 and ignores initial_labels
    ck2 = Checkpointer(spark, str(tmp_path), "lpa")
    seed = g.vertices().selectExpr("id", "0L AS label")
    resumed = label_propagation(
        g, max_iter=6, checkpointer=ck2, initial_labels=seed
    )
    assert {r.id: r.label for r in resumed.collect()} == full
    # the uninterrupted run converges at step 4
    assert [m["step"] for m in ck2.metrics()] == [0, 1, 2, 3, 4]
    g.unpersist()


def test_msf_resume_equivalence(spark, tmp_path):
    from graft.algos.msf import minimum_spanning_forest

    edges = fixtures.clique_ring_weighted_edges()
    g = Graph.from_undirected(fixtures.edges_df(spark, edges)).cache()
    full = sorted(
        (r.u, r.v, r.weight)
        for r in minimum_spanning_forest(g, sequential_threshold=0).collect()
    )

    # interrupted run: cap at 1 Boruvka round (clique ring needs >1)
    ck1 = Checkpointer(spark, str(tmp_path), "msf")
    try:
        minimum_spanning_forest(g, max_iter=1, checkpointer=ck1).count()
    except RuntimeError:
        pass  # expected: round budget exhausted mid-run
    ms = ck1.metrics()
    assert [m["step"] for m in ms] == [0]
    # the round-0 save holds that round's grabs plus the still-unmerged
    # work list (the run needs more rounds — hence the RuntimeError)
    assert ms[0]["n_forest"] > 0 and ms[0]["n_work"] > 0

    # resumed run finishes from the round-0 checkpoint
    ck2 = Checkpointer(spark, str(tmp_path), "msf")
    resumed = sorted(
        (r.u, r.v, r.weight)
        for r in minimum_spanning_forest(g, checkpointer=ck2).collect()
    )
    assert resumed == full
    g.unpersist()


def _powerlaw_edges(n_vertices=300, n_edges=1500, seed=7):
    """A seeded power-law graph: endpoints drawn with probability
    proportional to rank^-0.8, self-loops and repeats redrawn."""
    rng = np.random.default_rng(seed)
    p = 1.0 / np.arange(1, n_vertices + 1) ** 0.8
    p /= p.sum()
    seen = set()
    while len(seen) < n_edges:
        u, v = rng.choice(n_vertices, size=2, p=p)
        if u != v:
            seen.add((int(min(u, v)), int(max(u, v))))
    return [(u, v, 1.0) for u, v in sorted(seen)]


def _digest(rows):
    return hashlib.sha256(repr(rows).encode()).hexdigest()[:16]


# Per algorithm: the call its contraction step makes once per level
# after local moving, and the digest of the sorted (id, community) rows
# (299 of them) of an uninterrupted run with the same arguments. One
# sweep per level keeps the four levels cheap; every one contracts.
FAIL_INSIDE_LEVEL = {
    "leiden": (leiden, "graft.algos.leiden", "refine_partition", "0b2a0e3cb40b09b0"),
    "louvain": (louvain, "graft.algos.louvain", "aggregate_graph", "940ac876d3d64eaa"),
}
LEVELS = 4


@pytest.mark.parametrize("algo", sorted(FAIL_INSIDE_LEVEL))
def test_resume_after_failure_inside_a_level(
    spark, tmp_path, spill_dir, monkeypatch, persisted_rdds, algo
):
    """A run that fails inside its last level, after levels 0-2 were
    contracted and saved, leaves no spill and no persisted frame behind,
    and resumes from the saved levels to exactly the labels of an
    uninterrupted run."""
    run, module, name, want = FAIL_INSIDE_LEVEL[algo]
    g = Graph.from_undirected(fixtures.edges_df(spark, _powerlaw_edges())).cache()
    g.edges.count()
    persisted = persisted_rdds()
    mod = importlib.import_module(module)
    real = getattr(mod, name)
    calls = []

    def failing(*a, **k):
        calls.append(1)
        if len(calls) == LEVELS:
            raise RuntimeError("injected failure inside the level")
        return real(*a, **k)

    def labels(**kw):
        out = run(
            g, seed=5, sequential_tail_edges=0, max_sweeps=1,
            max_levels=LEVELS, **kw,
        )
        return sorted((r.id, r.community) for r in out.collect())

    monkeypatch.setattr(mod, name, failing)
    with pytest.raises(RuntimeError, match="injected"):
        labels(checkpointer=Checkpointer(spark, str(tmp_path), algo))
    monkeypatch.setattr(mod, name, real)
    assert os.listdir(checkpoint._spill_root) == []
    assert persisted_rdds() == persisted
    ck = Checkpointer(spark, str(tmp_path), algo)
    saved = [k for k in range(LEVELS) if ck.has_table(f"level={k}/mapping")]
    assert saved == list(range(LEVELS - 1))
    assert _digest(labels(checkpointer=ck)) == want
    g.unpersist()
