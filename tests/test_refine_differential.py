"""Differential test: the engine's incremental refinement kernel vs a
clean-room from-scratch implementation of the reference's
merge_nodes_subset semantics (custom_leiden.py:349-459), including the
shrinking remaining-communities bookkeeping (VERDICT r1 'missing' #4).

Equivalence argument under test: the reference's remaining set is at all
times exactly the set of non-empty refined communities (only a mover's
emptied singleton is ever removed), so its remaining-set community cut
equals the engine's incrementally-maintained rc_cut. 200 random seeds
×  several graph shapes check it empirically — including after merges,
where the two bookkeeping styles could in principle diverge.

Runs without Spark: the production bucket kernel
(graft.algos.leiden._refine_bucket_native, one native refine_batch call
per cogroup bucket) is exercised as a plain pandas function.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
import pytest

from graft.algos.leiden import _refine_bucket_native
from tests.reference_impls import (
    dedup_undirected,
    random_graph,
    refine_subset_ref,
    refine_visit_order,
)


def _run_kernel(ids, n_v, intra, gamma, seed, comm_id=0):
    nodes = pd.DataFrame(
        {
            "id": ids,
            "community": [comm_id] * len(ids),
            "agg_count": [n_v[i] for i in ids],
            "s_tot_full": [sum(n_v.values())] * len(ids),
            "_b": 0,
        }
    )
    edges = pd.DataFrame(
        {
            "community": comm_id,
            "_b": 0,
            "u": [e[0] for e in intra],
            "v": [e[1] for e in intra],
            "weight": [e[2] for e in intra],
        }
    )
    out = _refine_bucket_native(nodes, edges, gamma, seed)
    return dict(zip(out["id"], out["refined"]))


@pytest.mark.parametrize("case", range(50))
def test_refinement_matches_reference_semantics(case):
    """50 parametrized cases × 4 (n, p, gamma) shapes = 200 differential
    runs against the remaining-set reference implementation."""
    shapes = [
        (12, 0.35, 0.1),
        (30, 0.2, 0.05),
        (50, 0.12, 0.02),
        (50, 0.3, 0.3),
    ]
    for shape_i, (n, p, gamma) in enumerate(shapes):
        seed = case * 17 + shape_i
        raw = random_graph(n, p, seed=seed + 1000)
        intra = [(u, v, w) for u, v, w in dedup_undirected(raw) if u != v]
        ids = list(range(n))
        rng = np.random.default_rng(seed)
        n_v = {i: int(rng.integers(1, 4)) for i in ids}

        got = _run_kernel(ids, n_v, intra, gamma, seed)
        order = refine_visit_order(ids, seed, 0)
        want = refine_subset_ref(ids, n_v, intra, gamma, order)

        assert got == want, (
            f"divergence at n={n} p={p} gamma={gamma} seed={seed}"
        )


def test_refinement_weighted_no_ties():
    """Real-valued weights (no tie ambiguity): exact label-set match."""
    for seed in range(30):
        raw = random_graph(25, 0.3, seed=seed, weighted=True)
        intra = [(u, v, w) for u, v, w in dedup_undirected(raw) if u != v]
        ids = list(range(25))
        n_v = {i: 1 for i in ids}
        got = _run_kernel(ids, n_v, intra, 0.08, seed)
        want = refine_subset_ref(
            ids, n_v, intra, 0.08, refine_visit_order(ids, seed, 0)
        )
        assert got == want
