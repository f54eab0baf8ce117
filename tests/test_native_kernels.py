"""Equivalence pins for the native (C) community-detection kernels.

The C kernels in graft/_native/kernels.c are the only production
implementation of the tail's CSR build, local moving and refinement.
Each is pinned BIT-IDENTICAL to its slow Python reference in
tests/reference_impls.py — identical visit schedules, identical float
accumulation order, identical tie-breaks, identical rng streams — by
feeding both the same inputs and asserting exact equality of every
output and work counter.
"""

from __future__ import annotations

import os
import subprocess
import sys
import textwrap

import numpy as np
import pandas as pd
import pytest

from graft import _native as nk
from tests.reference_impls import (
    local_move_ref,
    refine_subset_ref,
    refine_visit_order,
)

_REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _random_graph(rng, n=300, m=1800, weighted=True):
    src = rng.integers(0, n, size=m)
    dst = rng.integers(0, n, size=m)
    w = (
        np.round(rng.random(m) * 3 + 0.01, 3)
        if weighted
        else np.ones(m)
    )
    raw = pd.DataFrame({"src": src, "dst": dst, "weight": w})
    sym = pd.concat(
        [raw, raw.rename(columns={"src": "dst", "dst": "src"})],
        ignore_index=True,
    )
    epdf = sym.groupby(["src", "dst"], as_index=False)["weight"].min()
    strength = epdf.groupby("src", sort=True)["weight"].sum()
    nodes = pd.DataFrame(
        {
            "id": strength.index.to_numpy(),
            "agg_count": 1,
            "k": strength.to_numpy(),
        }
    )
    m_half = float(epdf["weight"].sum()) / 2.0
    return nodes, epdf, m_half


def _hub_graph(rng, n=200, hub_deg=150):
    """A star-heavy graph: the hub's gather spans >= 64 neighbors."""
    spokes = rng.choice(np.arange(1, n), size=hub_deg, replace=False)
    extra_src = rng.integers(1, n, size=400)
    extra_dst = rng.integers(1, n, size=400)
    raw = pd.DataFrame(
        {
            "src": np.concatenate([np.zeros(hub_deg, dtype=np.int64), extra_src]),
            "dst": np.concatenate([spokes, extra_dst]),
            "weight": np.round(rng.random(hub_deg + 400) + 0.1, 3),
        }
    )
    sym = pd.concat(
        [raw, raw.rename(columns={"src": "dst", "dst": "src"})],
        ignore_index=True,
    )
    epdf = sym.groupby(["src", "dst"], as_index=False)["weight"].min()
    strength = epdf.groupby("src", sort=True)["weight"].sum()
    nodes = pd.DataFrame(
        {
            "id": strength.index.to_numpy(),
            "agg_count": 1,
            "k": strength.to_numpy(),
        }
    )
    return nodes, epdf, float(epdf["weight"].sum()) / 2.0


def _pin_local_move(monkeypatch, nodes, epdf, objective, gamma, m_half,
                    seed, warm=None):
    """Run the whole tail and check every level's native local_move call
    against local_move_ref on a copy of the same inputs: exact comm,
    slot aggregates, visits and moves. Returns the tail's labels and the
    largest degree any pinned call saw."""
    from graft.algos import seq_tail

    real = nk.local_move
    calls = []

    def pinned(indptr, nbr, wgt, size, strength, comm, n_c, stot, perm,
               objective, gamma, m):
        ref = [comm.copy(), n_c.copy(), stot.copy()]
        want = local_move_ref(
            indptr, nbr, wgt, size, strength, *ref, perm, objective,
            gamma, m,
        )
        got = real(indptr, nbr, wgt, size, strength, comm, n_c, stot,
                   perm, objective, gamma, m)
        assert got == want
        np.testing.assert_array_equal(comm, ref[0])
        np.testing.assert_array_equal(n_c, ref[1])
        np.testing.assert_array_equal(stot, ref[2])
        calls.append(int(np.diff(indptr).max()))
        return got

    monkeypatch.setattr(nk, "local_move", pinned)
    n_in = nodes if warm is None else nodes.assign(community=warm)
    stats: dict = {}
    out = seq_tail.seq_community_tail(
        n_in, epdf, objective, gamma, m_half, seed, stats=stats
    )
    monkeypatch.undo()
    assert calls and stats["visits"] >= len(nodes)
    return out, max(calls)


def test_rng_stream_is_bit_exact():
    assert nk.rng_ok()
    rs = np.random.default_rng(7)
    for sd in [0, 1, 1234, 2**62 + 99, *rs.integers(0, 2**63, size=20)]:
        for n in [1, 2, 7, 33, 257]:
            got = nk.permutation(int(sd), n)
            ref = np.random.default_rng(int(sd)).permutation(n)
            assert np.array_equal(got, ref), (sd, n)


def test_csr_build_matches_lexsort():
    rng = np.random.default_rng(3)
    n = 50
    eu = rng.integers(0, n - 1, size=200)
    ev = eu + rng.integers(1, 5, size=200)
    ev = np.minimum(ev, n - 1)
    keep = eu < ev
    key = eu[keep] * n + ev[keep]
    uniq = np.unique(key)
    eu_u, ev_u = uniq // n, uniq % n
    ew = np.round(np.random.default_rng(4).random(len(uniq)), 3)
    got = nk.csr_build(n, eu_u, ev_u, ew)
    su = np.concatenate([eu_u, ev_u])
    sv = np.concatenate([ev_u, eu_u])
    sw = np.concatenate([ew, ew])
    order = np.lexsort((sv, su))
    indptr = np.zeros(n + 1, dtype=np.int64)
    np.add.at(indptr, su + 1, 1)
    indptr = np.cumsum(indptr)
    assert np.array_equal(got[0], indptr)
    assert np.array_equal(got[1], sv[order])
    assert np.array_equal(got[2], sw[order])


@pytest.mark.parametrize("objective", ["cpm", "modularity"])
@pytest.mark.parametrize("seed", [1234, 7, 991])
def test_tail_c_equals_python(monkeypatch, objective, seed):
    rng = np.random.default_rng(seed)
    nodes, epdf, m_half = _random_graph(rng)
    _pin_local_move(monkeypatch, nodes, epdf, objective, 0.05, m_half, seed)


def test_tail_c_equals_python_hub(monkeypatch):
    rng = np.random.default_rng(42)
    nodes, epdf, m_half = _hub_graph(rng)
    for objective in ("cpm", "modularity"):
        _, max_deg = _pin_local_move(
            monkeypatch, nodes, epdf, objective, 0.05, m_half, 1234
        )
        assert max_deg >= 64


def test_tail_c_equals_python_warm_seed(monkeypatch):
    rng = np.random.default_rng(5)
    nodes, epdf, m_half = _random_graph(rng, n=200, m=900)
    cold, _ = _pin_local_move(
        monkeypatch, nodes, epdf, "cpm", 0.05, m_half, 1234
    )
    _pin_local_move(
        monkeypatch, nodes, epdf, "cpm", 0.05, m_half, 1234,
        warm=cold["community"].to_numpy(),
    )


def test_tail_c_equals_python_unweighted(monkeypatch):
    rng = np.random.default_rng(11)
    nodes, epdf, m_half = _random_graph(rng, weighted=False)
    _pin_local_move(monkeypatch, nodes, epdf, "cpm", 0.05, m_half, 1234)


def test_refine_bucket_native_equals_python_loop():
    """The batched native bucket refinement must equal the reference
    refinement of each (community, _b) group exactly (same visit order,
    same full-community s_tot, trivial groups included)."""
    from graft.algos.leiden import _refine_bucket_native

    rng = np.random.default_rng(17)
    rows = []
    edge_rows = []
    # 40 communities of varied size incl. singletons, edge-less groups,
    # and a community split into two _b sub-buckets
    next_id = 0
    for c in range(40):
        k = int(rng.integers(1, 12))
        n_sub = 2 if c == 7 else 1
        members = np.arange(next_id, next_id + k)
        next_id += k
        s_tot_full = int(k + rng.integers(0, 5))
        for b in range(n_sub):
            sub = members[b::n_sub]
            for mid in sub:
                rows.append(
                    {
                        "id": int(mid), "community": 1000 + c,
                        "agg_count": int(rng.integers(1, 3)),
                        "s_tot_full": s_tot_full, "_b": b,
                    }
                )
            if len(sub) > 1 and c % 5 != 3:  # some groups edge-less
                for _ in range(int(rng.integers(1, 2 * len(sub)))):
                    u, v = sorted(rng.choice(sub, size=2, replace=False))
                    edge_rows.append(
                        {
                            "community": 1000 + c, "_b": b,
                            "u": int(u), "v": int(v),
                            "weight": float(np.round(rng.random() + 0.1, 3)),
                        }
                    )
    nodes_pdf = pd.DataFrame(rows).sample(frac=1.0, random_state=3)
    edges_pdf = pd.DataFrame(edge_rows).sample(frac=1.0, random_state=4)
    got = _refine_bucket_native(nodes_pdf, edges_pdf, 0.25, 1234)
    got = dict(zip(got["id"], got["refined"]))
    assert len(got) == len(nodes_pdf)
    want: dict = {}
    for (c, b), nsub in nodes_pdf.groupby(["community", "_b"]):
        ids = nsub["id"].tolist()
        esub = edges_pdf[
            (edges_pdf["community"] == c) & (edges_pdf["_b"] == b)
        ]
        want.update(
            refine_subset_ref(
                ids,
                dict(zip(nsub["id"], nsub["agg_count"])),
                list(zip(esub["u"], esub["v"], esub["weight"])),
                0.25,
                refine_visit_order(ids, 1234, int(c)),
                s_tot=int(nsub["s_tot_full"].iloc[0]),
            )
        )
    assert got == want
    # a bucket whose edge side is empty refines every member to itself
    alone = _refine_bucket_native(nodes_pdf, pd.DataFrame(), 0.25, 1234)
    assert (alone["id"] == alone["refined"]).all()


def test_missing_compiler_fails_loudly(tmp_path):
    """Without a C compiler the kernels cannot build: lib() raises
    naming the compiler, and the tail raises instead of returning
    labels."""
    empty_bin = tmp_path / "bin"
    empty_bin.mkdir()
    script = textwrap.dedent(
        """
        import pandas as pd
        from graft import _native
        from graft.algos.seq_tail import seq_community_tail

        try:
            _native.lib()
        except RuntimeError as exc:
            assert "`cc " in str(exc), exc
        else:
            raise SystemExit("lib() loaded without a compiler")
        nodes = pd.DataFrame({"id": [1, 2, 3], "agg_count": 1,
                              "k": [1.0, 2.0, 1.0]})
        edges = pd.DataFrame({"src": [1, 2, 2, 3], "dst": [2, 1, 3, 2],
                              "weight": 1.0})
        try:
            seq_community_tail(nodes, edges, "cpm", 0.1, 2.0, 1)
        except RuntimeError:
            print("LOUD")
        else:
            raise SystemExit("the tail returned labels without a compiler")
        """
    )
    env = {
        "PATH": str(empty_bin),
        "PYTHONPATH": _REPO,
        "GRAFT_CKERN_CACHE": str(tmp_path / "ckern"),
        "HOME": str(tmp_path),
    }
    proc = subprocess.run(
        [sys.executable, "-c", script], env=env, capture_output=True,
        text=True, timeout=120,
    )
    assert proc.returncode == 0, proc.stderr + proc.stdout
    assert proc.stdout.strip() == "LOUD"
