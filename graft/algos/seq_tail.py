"""Sequential tail kernel: finish community detection once the
contracted graph fits one Arrow batch.

Multi-level algorithms shrink the graph geometrically; after a few BSP
levels the supernode graph is under a million rows, where every
distributed sweep costs more in job latency than the whole remaining
computation. The honest scale design (same pattern as the refinement
kernel, SURVEY.md §7 item 2) is to ship that tail to ONE executor task
as an Arrow batch and run the exact sequential algorithm there —
native kernel on an executor, not a driver-side loop; the driver never
touches row data. The BSP path still handles every level above the
threshold (bench: louvain over the 16M-row power-law graph runs pure
BSP).

Kernel layout: the level graph lives in numpy CSR arrays (half-edge
list + both-direction CSR with neighbor ids ascending); the three
sequential steps are the native C kernels of :mod:`graft._native` —
``csr_build`` (counting sort), ``local_move`` (queue-greedy local
moving in the seeded permutation order) and ``refine_batch`` (every
community's refinement in one call); contraction is one lexsort +
segment-sum in numpy. Their Python references live in
``tests/reference_impls.py``.

Semantics: greedy local moving (CPM or modularity, same closed-form
deltas as community._select_moves, tie-break toward the smallest
community label) + for CPM the reference's refinement
(custom_leiden.py:349-459 semantics, differentially tested in
tests/test_refine_differential.py) + aggregation, for max_levels.
Deterministic: inputs sorted by id, seeded generator, one permutation
draw per pass.
"""

from __future__ import annotations

import numpy as np
import pandas as pd

from graft import _native as _nk


def _half_edges(
    edges: pd.DataFrame, ids: np.ndarray
) -> tuple[np.ndarray, np.ndarray, np.ndarray, np.ndarray]:
    """(eu, ev, ew, loop_w): deduped half edges (u_pos < v_pos) and the
    per-node self-loop weight, from a SYMMETRIZED edge table (each
    non-loop pair in both directions — counted once via src < dst —
    loops once)."""
    n = len(ids)
    loop_w = np.zeros(n, dtype=np.float64)
    if not len(edges):
        z = np.zeros(0, dtype=np.int64)
        return z, z, np.zeros(0, dtype=np.float64), loop_w
    src = np.searchsorted(ids, edges["src"].to_numpy(dtype=np.int64))
    dst = np.searchsorted(ids, edges["dst"].to_numpy(dtype=np.int64))
    w = edges["weight"].to_numpy(dtype=np.float64)
    loops = src == dst
    np.add.at(loop_w, src[loops], w[loops])
    keep = src < dst
    eu, ev, ew = src[keep], dst[keep], w[keep]
    # dedup parallel rows (sorted order => deterministic accumulation)
    key = eu.astype(np.int64) * n + ev
    uniq, inv = np.unique(key, return_inverse=True)
    out_w = np.zeros(len(uniq), dtype=np.float64)
    np.add.at(out_w, inv, ew)
    return (uniq // n).astype(np.int64), (uniq % n).astype(np.int64), out_w, loop_w


def _local_move(
    indptr: np.ndarray,
    nbr: np.ndarray,
    wgt: np.ndarray,
    size: np.ndarray,
    strength: np.ndarray,
    comm: np.ndarray,
    labels: np.ndarray,
    objective: str,
    gamma: float,
    m: float,
    rng,
    stats: dict | None = None,
) -> np.ndarray:
    """Queue-based greedy local moving over the CSR graph — the actual
    Leiden `move_nodes_fast` schedule (custom_leiden.py:533-598): seed a
    FIFO queue with all nodes in seeded-shuffle order; after a move,
    re-enqueue the mover's neighbors outside its new community. Each
    node is revisited only when its neighborhood changed, instead of
    full pass-until-stable sweeps — strictly-positive deltas make the
    objective monotone, so the queue drains. Runs in the native
    ``local_move`` kernel.

    ``comm`` holds community SLOTS (indices into ``labels``, the sorted
    distinct community labels — slot order == label order, so ties
    break toward the smallest label, like the distributed argmax).
    Mutates and returns ``comm``. One ``rng.permutation`` draw per call.

    ``stats``: optional dict accumulating deterministic work counters —
    ``visits`` (queue pops = delta evaluations) and ``moves``
    (committed moves). Load-independent evidence for warm-start claims:
    a near-converged seed drains the queue in ~one pass with few moves,
    so visits/moves shrink vs a cold (singleton) seed even when
    wall-clock noise hides it.
    """
    n_slots = len(labels)
    n_c = np.zeros(n_slots, dtype=np.int64)
    np.add.at(n_c, comm, size)
    stot = np.zeros(n_slots, dtype=np.float64)
    np.add.at(stot, comm, strength)
    visits, moves = _nk.local_move(
        indptr, nbr, wgt, size, strength, comm, n_c, stot,
        rng.permutation(len(comm)), objective, gamma, m,
    )
    if stats is not None:
        stats["visits"] = stats.get("visits", 0) + visits
        stats["moves"] = stats.get("moves", 0) + moves
    return comm


def refine_groups(
    ids: np.ndarray,
    group: np.ndarray,
    size: np.ndarray,
    s_tot: np.ndarray,
    comm_label: np.ndarray,
    eu: np.ndarray,
    ev: np.ndarray,
    ew: np.ndarray,
    gamma: float,
    seed: int,
) -> np.ndarray:
    """CPM refinement of every group in one native ``refine_batch``
    call; returns each node's refined community label (= the id of its
    founding member).

    Per node: ``ids`` (distinct), ``group`` (the unit refined on its
    own: a community, or one hash sub-bucket of an oversized one),
    ``size`` (aggregate node count), ``s_tot`` (the node's whole
    community size, the well-connectedness total) and ``comm_label``
    (seeds the group's visit permutation). ``eu``/``ev``/``ew``: half
    edges as node positions with ``ids[eu] <= ids[ev]``, sorted by
    ``(ids[eu], ids[ev])``; loops and edges between groups are ignored,
    repeated pairs add up. Inside a
    group the kernel sees members ordered by id and edges in that
    sorted order — the canonical order its permutation and float
    accumulation are defined over.
    """
    n = len(ids)
    order = np.lexsort((ids, group))
    gs = group[order]
    start = np.flatnonzero(np.r_[True, gs[1:] != gs[:-1]])
    counts = np.diff(np.append(start, n))
    # node position -> group index / index within its group
    g_of = np.empty(n, dtype=np.int64)
    g_of[order] = np.repeat(np.arange(len(start)), counts)
    loc = np.empty(n, dtype=np.int64)
    loc[order] = np.arange(n) - np.repeat(start, counts)
    intra = g_of[eu] == g_of[ev]
    eu, ev, ew = eu[intra], ev[intra], ew[intra]
    eorder = np.argsort(g_of[eu], kind="stable")
    eu, ev, ew = eu[eorder], ev[eorder], ew[eorder]
    head = order[start]
    founder = _nk.refine_batch(
        np.append(start, n),
        np.searchsorted(g_of[eu], np.arange(len(start) + 1)),
        size[order], s_tot[head], comm_label[head],
        loc[eu], loc[ev], ew, gamma, seed,
    )
    refined = np.empty(n, dtype=np.int64)
    refined[order] = ids[order[np.repeat(start, counts) + founder]]
    return refined


def seq_community_tail(
    nodes: pd.DataFrame,
    edges: pd.DataFrame,
    objective: str,
    gamma: float,
    m: float,
    seed: int,
    max_levels: int = 10,
    stats: dict | None = None,
) -> pd.DataFrame:
    """Run the remaining levels sequentially; returns (id, community).

    nodes: (id, agg_count, k[, community]); edges: symmetrized
    (src, dst, weight). A ``community`` column seeds the first level's
    local moving (maintain_p handoff from the distributed levels). For
    ``objective='cpm'`` each level is full Leiden: local moving,
    refinement (:func:`refine_groups`), contraction by the refined
    partition with maintained P communities. For modularity it is
    sequential Louvain. ``stats``: see :func:`_local_move` — accumulates
    deterministic visit/move counters across all levels.
    """
    nodes = nodes.sort_values("id")
    rng = np.random.default_rng(seed)

    ids = nodes["id"].to_numpy(dtype=np.int64)
    size = nodes["agg_count"].to_numpy(dtype=np.int64)
    strength = nodes["k"].to_numpy(dtype=np.float64)
    eu, ev, ew, loop_w = _half_edges(edges, ids)

    n0 = len(ids)
    # orig→current supernode position; labels of the final partition
    orig_to_cur = np.arange(n0, dtype=np.int64)
    final_label = ids.copy()
    # CPM levels maintain P across levels; a community column on the
    # input seeds it (handoff from the distributed levels above)
    if "community" in nodes.columns:
        init_label = nodes["community"].to_numpy(dtype=np.int64)
    else:
        init_label = ids.copy()

    converged = False
    for _ in range(max_levels):
        n = len(ids)
        indptr, nbr, wgt = _nk.csr_build(n, eu, ev, ew)
        labels = np.unique(init_label)
        comm_slot = np.searchsorted(labels, init_label).astype(np.int64)
        comm_slot = _local_move(
            indptr, nbr, wgt, size, strength, comm_slot, labels,
            objective, gamma, m, rng, stats=stats,
        )
        comm_label = labels[comm_slot]
        n_comms = len(np.unique(comm_label))
        if n_comms == n:
            # no compression: every community is a singleton, so the
            # supernode ids already carried by final_label ARE the
            # partition (one node per community)
            converged = True
            break
        if objective == "cpm":
            comm_size = np.zeros(len(labels), dtype=np.int64)
            np.add.at(comm_size, comm_slot, size)
            refined = refine_groups(
                ids, comm_slot, size, comm_size[comm_slot], comm_label,
                eu, ev, ew, gamma, seed,
            )
            if len(np.unique(refined)) == n:
                # refinement kept every node singleton — no compression;
                # the P communities local moving just found ARE the
                # answer (same exit as the distributed level loop)
                converged = True
                final_label = comm_label[orig_to_cur]
                break
            group_label = refined
        else:
            group_label = comm_label

        # --- contraction (one lexsort + segment sums) ---
        new_ids, group_idx = np.unique(group_label, return_inverse=True)
        gn = len(new_ids)
        new_size = np.zeros(gn, dtype=np.int64)
        np.add.at(new_size, group_idx, size)
        new_loop = np.zeros(gn, dtype=np.float64)
        np.add.at(new_loop, group_idx, loop_w)
        gu, gv = group_idx[eu], group_idx[ev]
        intra = gu == gv
        np.add.at(new_loop, gu[intra], ew[intra])
        cu = np.minimum(gu[~intra], gv[~intra])
        cv_ = np.maximum(gu[~intra], gv[~intra])
        cw = ew[~intra]
        key = cu * gn + cv_
        ukey, kinv = np.unique(key, return_inverse=True)
        new_ew = np.zeros(len(ukey), dtype=np.float64)
        np.add.at(new_ew, kinv, cw)
        new_eu = (ukey // gn).astype(np.int64)
        new_ev = (ukey % gn).astype(np.int64)
        # maintain_p: refined supernodes start the next level inside the
        # P community local moving just assigned their members (all
        # members of a refined community share it by construction); for
        # modularity the next level restarts from singletons
        if objective == "cpm":
            new_init = np.empty(gn, dtype=np.int64)
            new_init[group_idx] = comm_label  # any member's P community
        else:
            new_init = new_ids.copy()
        # strength from the contracted half edges + doubled loops
        new_strength = np.zeros(gn, dtype=np.float64)
        np.add.at(new_strength, new_eu, new_ew)
        np.add.at(new_strength, new_ev, new_ew)
        new_strength += 2.0 * new_loop

        orig_to_cur = group_idx[orig_to_cur]
        final_label = new_ids[orig_to_cur]
        ids, size, strength, loop_w = new_ids, new_size, new_strength, new_loop
        eu, ev, ew = new_eu, new_ev, new_ew
        init_label = new_init
    if not converged and objective == "cpm":
        # max_levels exhausted without a convergence break: final labels
        # are refined-partition supernode ids — a strictly finer
        # partition than Leiden's answer for this edge case. Map each
        # supernode through its maintained P community (identity for
        # modularity, whose labels are the supernodes).
        final_label = init_label[orig_to_cur]
    orig_ids = nodes["id"].to_numpy(dtype=np.int64)
    return pd.DataFrame({"id": orig_ids, "community": final_label})


def run_tail_distributed(
    level_edges, level_vertices, objective: str, gamma: float, m: float,
    seed: int,
):
    """Execute the sequential tail as ONE task
    (:func:`graft.algos.community.run_one_task`: the whole level graph
    is one Arrow batch on one executor).
    Returns a DataFrame (id long, community long)."""
    from pyspark.sql import functions as F

    from graft.algos.community import run_one_task

    # Ship only the canonical half of the symmetrized table (r6): the
    # kernel's _half_edges keeps src < dst rows plus loops and DISCARDS
    # the mirrored direction, so filtering it out here halves the
    # single-task cogroup shuffle and the Arrow batch — bit-identical
    # result (strength comes from the nodes' k column, never recomputed
    # from these rows).
    edges = level_edges.where(F.col("src") <= F.col("dst")).select(
        "src", "dst", "weight"
    )
    return run_one_task(
        lambda v, e: seq_community_tail(v, e, objective, gamma, m, seed),
        "id long, community long", edges,
        level_vertices.select("id", "community", "agg_count", "k"),
    )
