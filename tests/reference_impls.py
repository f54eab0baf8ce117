"""Clean-room single-node oracles for testing the Spark engine.

Written from the semantics in SURVEY.md §1.4 (this is NOT copied from
/root/reference — plain numpy/dict implementations used purely as test
oracles, the role networkx/leidenalg play in the reference's own test
strategy, SURVEY.md §5 item 2).
"""

from __future__ import annotations

import numpy as np


def _symmetrize(edges: list[tuple[int, int, float]]):
    """(u,v,w) undirected list → dict adjacency with both directions,
    self-loops once, duplicate pairs collapsed to min weight."""
    adj: dict[int, dict[int, float]] = {}
    for u, v, w in edges:
        for a, b in ((u, v), (v, u)) if u != v else ((u, u),):
            adj.setdefault(a, {})
            if b in adj[a]:
                adj[a][b] = min(adj[a][b], w)
            else:
                adj[a][b] = w
    return adj


def pagerank_ref(
    edges, alpha: float = 0.85, tol: float = 1e-6, max_iter: int = 500
) -> dict[int, float]:
    """Weighted PageRank, identical update rule to graft.algos.pagerank."""
    adj = _symmetrize(edges)
    nodes = sorted(adj)
    idx = {v: i for i, v in enumerate(nodes)}
    n = len(nodes)
    s = np.array([sum(adj[v].values()) for v in nodes])
    r = np.full(n, 1.0 / n)
    for _ in range(max_iter):
        new = np.full(n, (1.0 - alpha) / n)
        share = r / s
        for v in nodes:
            for u, w in adj[v].items():
                new[idx[u]] += alpha * share[idx[v]] * w
        if np.abs(new - r).sum() < tol:
            r = new
            break
        r = new
    return {v: float(r[idx[v]]) for v in nodes}


def components_ref(edges) -> dict[int, int]:
    """Union-find; component label = min vertex id in the component."""
    parent: dict[int, int] = {}

    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for u, v, _ in edges:
        ru, rv = find(u), find(v)
        if ru != rv:
            parent[max(ru, rv)] = min(ru, rv)
    return {v: find(v) for v in parent}


def triangles_ref(edges) -> int:
    adj = _symmetrize(edges)
    nbr = {v: {u for u in adj[v] if u != v} for v in adj}
    total = 0
    for v in nbr:
        for u in nbr[v]:
            if u > v:
                total += sum(1 for w in nbr[v] & nbr[u] if w > u)
    return total


def triangles_per_vertex_ref(edges) -> dict[int, int]:
    adj = _symmetrize(edges)
    nbr = {v: {u for u in adj[v] if u != v} for v in adj}
    out = {v: 0 for v in nbr}
    for v in nbr:
        for u in nbr[v]:
            if u > v:
                for w in nbr[v] & nbr[u]:
                    if w > u:
                        out[v] += 1
                        out[u] += 1
                        out[w] += 1
    return out


def kcore_ref(edges, k) -> set:
    """Sequential vertex peeling on the undirected simple graph: the
    k-core's vertices (those with a non-loop edge for k ≤ 1)."""
    adj: dict[int, set[int]] = {}
    for u, v, _ in edges:
        if u == v:
            continue
        adj.setdefault(u, set()).add(v)
        adj.setdefault(v, set()).add(u)
    changed = True
    while changed:
        changed = False
        for v in list(adj):
            if len(adj[v]) < k:
                for u in adj[v]:
                    adj[u].discard(v)
                del adj[v]
                changed = True
    return {v for v in adj if adj[v]}


def ktruss_ref(edges, k) -> set:
    """Sequential support peeling on the undirected simple graph: the
    k-truss's edges, oriented (min, max)."""
    es = set()
    adj: dict[int, set[int]] = {}
    for u, v, _ in edges:
        if u == v:
            continue
        a, b = min(u, v), max(u, v)
        es.add((a, b))
        adj.setdefault(a, set()).add(b)
        adj.setdefault(b, set()).add(a)
    changed = True
    while changed:
        changed = False
        for (a, b) in sorted(es):
            support = len(adj[a] & adj[b])
            if support < k - 2:
                es.discard((a, b))
                adj[a].discard(b)
                adj[b].discard(a)
                changed = True
    return es


def lpa_ref(edges, max_iter: int = 20) -> dict[int, int]:
    """Synchronous weighted LPA, tie-break (max weight, min label) —
    mirrors graft.algos.lpa exactly, including the changed==0 stop."""
    adj = _symmetrize(edges)
    labels = {v: v for v in adj}
    for _ in range(max_iter):
        new = {}
        for v in adj:
            scores: dict[int, float] = {}
            for u, w in adj[v].items():
                if u == v:
                    continue
                scores[labels[u]] = scores.get(labels[u], 0.0) + w
            if scores:
                new[v] = min(
                    (lbl for lbl in scores),
                    key=lambda L: (-scores[L], L),
                )
            else:
                new[v] = labels[v]
        if new == labels:
            break
        labels = new
    return labels


def modularity_ref(edges, labels: dict[int, int]) -> float:
    """Q = Σ_c [Σin_c/(2m) − (Σtot_c/(2m))²], m single-counted, loops once
    in m and twice in strength (SURVEY.md §2.3 A7)."""
    adj = _symmetrize(edges)
    m = sum(w for u, v, w in dedup_undirected(edges))
    sin: dict[int, float] = {}
    stot: dict[int, float] = {}
    for v in adj:
        c = labels[v]
        k = sum(2 * w if u == v else w for u, w in adj[v].items())
        stot[c] = stot.get(c, 0.0) + k
    for u, v, w in dedup_undirected(edges):
        if labels[u] == labels[v]:
            c = labels[u]
            sin[c] = sin.get(c, 0.0) + (2 * w)  # double-count convention
    q = 0.0
    for c in stot:
        q += sin.get(c, 0.0) / (2 * m) - (stot[c] / (2 * m)) ** 2
    return q


def cpm_ref(edges, labels: dict[int, int], gamma: float) -> float:
    """CPM (single-counted Python convention, SURVEY.md §1.4 item 1):
    Σ_c [w_in_c − γ·n_c(n_c−1)/2]."""
    sin: dict[int, float] = {}
    size: dict[int, int] = {}
    for v in labels:  # the partition defines the vertex universe
        c = labels[v]
        size[c] = size.get(c, 0) + 1
    for u, v, w in dedup_undirected(edges):
        if labels[u] == labels[v]:
            c = labels[u]
            sin[c] = sin.get(c, 0.0) + w
    return sum(
        sin.get(c, 0.0) - gamma * n * (n - 1) / 2.0 for c, n in size.items()
    )


def dedup_undirected(edges):
    """Each undirected edge once (min-weight on duplicates), loops kept."""
    seen: dict[tuple[int, int], float] = {}
    for u, v, w in edges:
        key = (min(u, v), max(u, v))
        seen[key] = min(seen[key], w) if key in seen else w
    return [(u, v, w) for (u, v), w in seen.items()]


def random_graph(n: int, p: float, seed: int, weighted: bool = True):
    """Deterministic G(n, p) with optional uniform weights in [0.5, 1.5]."""
    rng = np.random.default_rng(seed)
    edges = []
    for u in range(n):
        for v in range(u + 1, n):
            if rng.random() < p:
                w = float(rng.uniform(0.5, 1.5)) if weighted else 1.0
                edges.append((u, v, round(w, 3)))
    return edges


def planted_partition_graph(
    n_comms: int, comm_size: int, p_in: float, p_out: float, seed: int
):
    """Deterministic planted-partition graph: dense blocks + sparse
    inter-block noise — the mid-size community-detection testbed."""
    rng = np.random.default_rng(seed)
    n = n_comms * comm_size
    edges = []
    for u in range(n):
        for v in range(u + 1, n):
            p = p_in if u // comm_size == v // comm_size else p_out
            if rng.random() < p:
                edges.append((u, v, 1.0))
    return edges


def skewed_graph(n: int, n_edges: int, seed: int):
    """Power-law-ish hub-heavy graph (the transcript-graph shape)."""
    rng = np.random.default_rng(seed)
    u = (rng.random(n_edges) ** 3.0 * n).astype(np.int64)
    v = (rng.random(n_edges) * n).astype(np.int64)
    return [
        (int(a), int(b), 1.0) for a, b in zip(u, v) if a != b
    ]


def refine_visit_order(ids, seed, comm_id):
    """The refine kernel's visit order for one community: ids sorted,
    then permuted by the community's seeded stream."""
    ids_sorted = sorted(ids)
    rng = np.random.default_rng((seed * 1_000_003 + comm_id) % (2**63))
    return [ids_sorted[i] for i in rng.permutation(len(ids_sorted))]


def refine_subset_ref(ids, n_v, intra_edges, gamma, order, s_tot=None):
    """Clean-room implementation of the reference's merge_nodes_subset
    semantics (custom_leiden.py:349-459) with the remaining-communities
    set maintained EXPLICITLY and every gate recomputed from scratch —
    the slow-but-unarguable twin used to differentially test the
    engine's incremental refinement kernel (graft.algos.leiden).

    ids: vertices of one community S; n_v: aggregate node counts;
    intra_edges: single-counted (u, v, w) within S, no self-loops;
    order: full visit order (the gate filter preserves it); s_tot:
    total size of the whole community when ``ids`` is one hash
    sub-bucket of it (default: the size of ``ids``).
    Returns {vertex: refined community label}.
    """
    adj: dict[int, dict[int, float]] = {v: {} for v in ids}
    for u, v, w in intra_edges:
        if u == v:
            continue
        adj[u][v] = adj[u].get(v, 0.0) + w
        adj[v][u] = adj[v].get(u, 0.0) + w
    if s_tot is None:
        s_tot = sum(n_v[v] for v in ids)
    comm = {v: v for v in ids}
    members: dict[int, set[int]] = {v: {v} for v in ids}
    remaining = set(ids)

    def v_in_remaining(v):
        return sum(
            w for u, w in adj[v].items() if comm[u] in remaining
        )

    def c_in_remaining(c):
        # cut from community c's members to members of OTHER remaining
        # communities — recomputed from scratch (no incremental state)
        total = 0.0
        for x in members[c]:
            for u, w in adj[x].items():
                if comm[u] != c and comm[u] in remaining:
                    total += w
        return total

    def n_c(c):
        return sum(n_v[x] for x in members[c])

    # R-selection happens once, before any merges (reference order)
    r_set = [
        v
        for v in order
        if v_in_remaining(v) >= gamma * n_v[v] * (s_tot - n_v[v])
    ]
    for v in r_set:
        if len(members[comm[v]]) > 1:
            continue  # only still-singleton nodes move
        t_comms = [
            c
            for c in sorted(remaining)
            if c_in_remaining(c) >= gamma * n_c(c) * (s_tot - n_c(c))
        ]
        best, best_delta = None, 0.0
        for c in t_comms:
            if c == comm[v]:
                continue
            k_vc = sum(w for u, w in adj[v].items() if comm[u] == c)
            delta = k_vc - gamma * n_v[v] * n_c(c)
            if delta > best_delta:
                best, best_delta = c, delta
        if best is not None:
            old = comm[v]
            members[best].add(v)
            members[old].discard(v)
            comm[v] = best
            remaining.discard(old)
    return comm


def local_move_ref(
    indptr, nbr, wgt, size, strength, comm, n_c, stot, perm,
    objective: str, gamma: float, m: float,
) -> tuple[int, int]:
    """Queue-greedy local moving over a CSR graph, in plain Python —
    the twin of graft._native.local_move with the same arguments, the
    same in-place updates of ``comm`` / ``n_c`` / ``stot`` and the same
    (visits, moves) result. A FIFO queue starts in ``perm`` order; each
    pop moves the node to the neighbor community of largest positive
    delta (CPM or modularity; ties to the smallest slot), and a move
    re-enqueues the mover's neighbors outside its new community.
    Candidate weights accumulate in ascending-neighbor order (CSR rows
    are ascending), so floats match the kernel bit for bit."""
    from collections import deque

    comm_py = comm.tolist()
    q = deque(perm.tolist())
    in_q = bytearray([1]) * len(comm_py)
    two_m_sq = 2.0 * m * m
    n_visits = 0
    n_moves = 0
    while q:
        v = q.popleft()
        in_q[v] = 0
        n_visits += 1
        s, e = int(indptr[v]), int(indptr[v + 1])
        if s == e:
            continue
        cv = comm_py[v]
        sv_ = int(size[v])
        kv = float(strength[v])
        kt: dict = {}
        for u, w in zip(nbr[s:e].tolist(), wgt[s:e].tolist()):
            c = comm_py[u]
            kt[c] = kt.get(c, 0.0) + w
        k_own = kt.get(cv, 0.0)
        best = -1
        best_delta = 0.0
        if objective == "cpm":
            base = k_own - gamma * sv_ * (int(n_c[cv]) - sv_)
            for c, k in sorted(kt.items()):
                if c == cv:
                    continue
                delta = (k - gamma * sv_ * int(n_c[c])) - base
                if delta > best_delta:
                    best, best_delta = c, delta
        else:
            sc = float(stot[cv])
            for c, k in sorted(kt.items()):
                if c == cv:
                    continue
                delta = (k - k_own) / m - kv * (
                    float(stot[c]) - sc + kv
                ) / two_m_sq
                if delta > best_delta:
                    best, best_delta = c, delta
        if best >= 0:
            n_moves += 1
            n_c[cv] -= sv_
            n_c[best] += sv_
            stot[cv] -= kv
            stot[best] += kv
            comm[v] = best
            comm_py[v] = best
            for u in nbr[s:e].tolist():
                if comm_py[u] != best and not in_q[u]:
                    q.append(u)
                    in_q[u] = 1
    return n_visits, n_moves


def greedy_louvain_ref(
    edges,
    objective: str = "cpm",
    gamma: float = 1.0,
    seed: int = 0,
    max_levels: int = 10,
):
    """Sequential multi-level greedy optimization (CPM or modularity) —
    the quality yardstick an external engine like leidenalg provides in
    the reference's own tests (examples/leiden-alg.py:12-23). Clean-room
    pass-until-stable local moving + aggregation.

    Returns {original vertex: community label}.
    """
    rng = np.random.default_rng(seed)
    # level state: adjacency (no loops), per-node loop weight, node
    # sizes, and which original vertices each supernode carries
    sym = _symmetrize(edges)
    adj = {
        v: {u: w for u, w in nbrs.items() if u != v}
        for v, nbrs in sym.items()
    }
    loop = {v: sym[v].get(v, 0.0) for v in sym}
    size = {v: 1 for v in adj}
    carry = {v: [v] for v in adj}
    m = sum(w for _, _, w in dedup_undirected(edges))

    def strength(v):
        return sum(adj[v].values()) + 2.0 * loop[v]

    final = {}
    for _ in range(max_levels):
        comm = {v: v for v in adj}
        members = {v: {v} for v in adj}
        n_c = dict(size)  # CPM community sizes
        stot = {v: strength(v) for v in adj}  # modularity Σtot
        moved_any = True
        nodes = list(adj)
        while moved_any:
            moved_any = False
            for v in [nodes[i] for i in rng.permutation(len(nodes))]:
                cv = comm[v]
                k_to: dict[int, float] = {}
                for u, w in adj[v].items():
                    k_to[comm[u]] = k_to.get(comm[u], 0.0) + w
                k_own = k_to.get(cv, 0.0)
                kv = strength(v)
                best, best_delta = None, 0.0
                for c, k in sorted(k_to.items()):
                    if c == cv:
                        continue
                    if objective == "cpm":
                        delta = (k - gamma * size[v] * n_c[c]) - (
                            k_own - gamma * size[v] * (n_c[cv] - size[v])
                        )
                    else:
                        # same closed form as the engine's _select_moves
                        delta = (k - k_own) / m - kv * (
                            stot[c] - stot[cv] + kv
                        ) / (2.0 * m * m)
                    if delta > best_delta:
                        best, best_delta = c, delta
                if best is not None:
                    members[cv].discard(v)
                    members[best].add(v)
                    n_c[cv] -= size[v]
                    n_c[best] += size[v]
                    stot[cv] -= kv
                    stot[best] += kv
                    comm[v] = best
                    moved_any = True
        live = {c for c, ms in members.items() if ms}
        if len(live) == len(adj):  # no compression — converged
            for v in adj:
                for orig in carry[v]:
                    final[orig] = comm[v]
            break
        # aggregate: one supernode per community
        new_adj: dict[int, dict[int, float]] = {c: {} for c in live}
        new_loop = {c: 0.0 for c in live}
        new_size = {c: 0 for c in live}
        new_carry: dict[int, list[int]] = {c: [] for c in live}
        for c in live:
            for v in members[c]:
                new_size[c] += size[v]
                new_carry[c].extend(carry[v])
                new_loop[c] += loop[v]
        for v, nbrs in adj.items():
            cv = comm[v]
            for u, w in nbrs.items():
                cu = comm[u]
                if cu != cv:
                    new_adj[cv][cu] = new_adj[cv].get(cu, 0.0) + w
                else:
                    new_loop[cv] += w / 2.0  # symmetric pair halves
        adj, loop, size, carry = new_adj, new_loop, new_size, new_carry
        for v in adj:
            for orig in carry[v]:
                final[orig] = v
    else:
        for v in adj:
            for orig in carry[v]:
                final[orig] = v
    return final


def scc_ref(directed_edges) -> dict:
    """Strongly connected components by explicit mutual reachability
    (DFS closure per vertex — fine at test scale). Label = min id in
    the SCC, matching the engine and the driver's transitive-closure
    oracle."""
    adj: dict = {}
    verts: set = set()
    for e in directed_edges:
        u, v = e[0], e[1]
        adj.setdefault(u, set()).add(v)
        verts.update((u, v))

    def reach(s):
        seen, stack = set(), [s]
        while stack:
            x = stack.pop()
            for y in adj.get(x, ()):
                if y not in seen:
                    seen.add(y)
                    stack.append(y)
        return seen

    r = {v: reach(v) for v in verts}
    return {
        v: min([v] + [u for u in r[v] if v in r[u]]) for v in verts
    }


def brandes_betweenness_ref(
    edges, normalized: bool = True, sources=None
) -> dict:
    """Textbook Brandes betweenness on the undirected simple graph
    (networkx.betweenness_centrality semantics). ``sources`` restricts
    the accumulation (no rescale) for partial-betweenness checks."""
    from collections import deque

    adj: dict = {}
    verts: set = set()
    for e in edges:
        u, v = e[0], e[1]
        verts.update((u, v))
        if u != v:
            adj.setdefault(u, set()).add(v)
            adj.setdefault(v, set()).add(u)
    bc = {v: 0.0 for v in verts}
    for s in (sources if sources is not None else verts):
        stack, preds = [], {v: [] for v in verts}
        sigma = {v: 0.0 for v in verts}
        sigma[s] = 1.0
        dist = {s: 0}
        q = deque([s])
        while q:
            v = q.popleft()
            stack.append(v)
            for w in adj.get(v, ()):
                if w not in dist:
                    dist[w] = dist[v] + 1
                    q.append(w)
                if dist[w] == dist[v] + 1:
                    sigma[w] += sigma[v]
                    preds[w].append(v)
        delta = {v: 0.0 for v in verts}
        while stack:
            w = stack.pop()
            for v in preds[w]:
                delta[v] += sigma[v] / sigma[w] * (1 + delta[w])
            if w != s:
                bc[w] += delta[w]
    n = len(verts)
    if normalized and n > 2:
        scale = 1.0 / ((n - 1) * (n - 2))
    else:
        scale = 0.5
    return {v: bc[v] * scale for v in verts}


def brandes_edge_betweenness_ref(
    edges, normalized: bool = True, sources=None
) -> dict:
    """Textbook Brandes EDGE betweenness on the undirected simple graph
    (networkx.edge_betweenness_centrality semantics): ``{(u, v): b}``
    with u < v, normalized 1/(n(n−1)) else halved."""
    from collections import deque

    adj: dict = {}
    verts: set = set()
    for e in edges:
        u, v = e[0], e[1]
        verts.update((u, v))
        if u != v:
            adj.setdefault(u, set()).add(v)
            adj.setdefault(v, set()).add(u)
    eb: dict = {}
    for u in adj:
        for v in adj[u]:
            if u < v:
                eb[(u, v)] = 0.0
    for s in (sources if sources is not None else verts):
        stack, preds = [], {v: [] for v in verts}
        sigma = {v: 0.0 for v in verts}
        sigma[s] = 1.0
        dist = {s: 0}
        q = deque([s])
        while q:
            v = q.popleft()
            stack.append(v)
            for w in adj.get(v, ()):
                if w not in dist:
                    dist[w] = dist[v] + 1
                    q.append(w)
                if dist[w] == dist[v] + 1:
                    sigma[w] += sigma[v]
                    preds[w].append(v)
        delta = {v: 0.0 for v in verts}
        while stack:
            w = stack.pop()
            for v in preds[w]:
                c = sigma[v] / sigma[w] * (1 + delta[w])
                eb[(min(v, w), max(v, w))] += c
                delta[v] += c
    n = len(verts)
    if normalized and n > 1:
        scale = 1.0 / (n * (n - 1))
    else:
        scale = 0.5
    return {e: b * scale for e, b in eb.items()}


def all_pairs_hops_ref(edges) -> dict:
    """BFS hop distances between every reachable (s, v) pair on the
    undirected simple graph: ``{(s, v): d}`` including (s, s): 0."""
    from collections import deque

    adj: dict = {}
    verts: set = set()
    for e in edges:
        u, v = e[0], e[1]
        verts.update((u, v))
        if u != v:
            adj.setdefault(u, set()).add(v)
            adj.setdefault(v, set()).add(u)
    dist = {}
    for s in verts:
        dist[(s, s)] = 0
        q = deque([s])
        while q:
            v = q.popleft()
            for w in adj.get(v, ()):
                if (s, w) not in dist:
                    dist[(s, w)] = dist[(s, v)] + 1
                    q.append(w)
    return dist


def closeness_ref(edges, wf_improved: bool = True) -> dict:
    """networkx.closeness_centrality on the undirected simple graph."""
    dist = all_pairs_hops_ref(edges)
    verts = {v for e in edges for v in (e[0], e[1])}
    n = len(verts)
    out = {}
    for v in verts:
        reach = [d for (s, t), d in dist.items() if t == v]
        sd = sum(reach)
        r = len(reach)
        if sd == 0:
            out[v] = 0.0
            continue
        c = (r - 1) / sd
        if wf_improved:
            c *= (r - 1) / (n - 1)
        out[v] = c
    return out


def harmonic_ref(edges) -> dict:
    """networkx.harmonic_centrality on the undirected simple graph."""
    dist = all_pairs_hops_ref(edges)
    verts = {v for e in edges for v in (e[0], e[1])}
    return {
        v: sum(1.0 / d for (s, t), d in dist.items() if t == v and d > 0)
        for v in verts
    }
