"""ctypes loader for the native sequential-tail kernels.

The C sources in ``kernels.c`` are the only implementation of the
community-detection tail's CSR build, queue local moving and batched
refinement; slow Python references of the last two live in
``tests/reference_impls.py``, and ``tests/test_native_kernels.py`` pins
the kernels to them exactly. This module compiles the sources on first
use with the system C compiler (``cc -O2 -ffp-contract=off``), caches
the shared object under a content-hashed path in ``GRAFT_CKERN_CACHE``
(default: ``graft-ckern`` in the temp dir), and exposes thin numpy
wrappers.

A C compiler is therefore required on the driver and on every executor:
when the compile fails, :func:`lib` raises ``RuntimeError`` with the
compiler command and its stderr. On first load it also checks that the C
permutation generator reproduces
``np.random.default_rng(seed).permutation(n)`` bit-for-bit for a spread
of seeds and lengths (the refine kernel draws that stream); if numpy's
stream ever changes, the check raises too.
"""

from __future__ import annotations

import ctypes
import hashlib
import os
import subprocess
import tempfile
import threading

import numpy as np

_SRC = os.path.join(os.path.dirname(os.path.abspath(__file__)), "kernels.c")

_lib: ctypes.CDLL | None = None
_lock = threading.Lock()

_I64 = ctypes.POINTER(ctypes.c_int64)
_F64 = ctypes.POINTER(ctypes.c_double)


def _compile() -> ctypes.CDLL:
    with open(_SRC, "rb") as fh:
        src = fh.read()
    digest = hashlib.sha256(src).hexdigest()[:16]
    cache = os.environ.get("GRAFT_CKERN_CACHE") or os.path.join(
        tempfile.gettempdir(), "graft-ckern"
    )
    os.makedirs(cache, exist_ok=True)
    so_path = os.path.join(cache, f"kernels-{digest}.so")
    if not os.path.exists(so_path):
        fd, tmp = tempfile.mkstemp(dir=cache, suffix=".so.tmp")
        os.close(fd)
        cmd = [
            "cc", "-O2", "-ffp-contract=off", "-fPIC", "-shared",
            "-o", tmp, _SRC,
        ]
        try:
            try:
                subprocess.run(cmd, check=True, capture_output=True, text=True)
            except (OSError, subprocess.CalledProcessError) as exc:
                stderr = getattr(exc, "stderr", None) or str(exc)
                raise RuntimeError(
                    "graft native kernels: the C compiler command "
                    f"`{' '.join(cmd)}` failed; graft requires `cc` on the "
                    f"driver and every executor.\n{stderr}"
                ) from exc
            os.replace(tmp, so_path)  # atomic; concurrent compiles race benignly
        finally:
            if os.path.exists(tmp):
                os.unlink(tmp)
    lib = ctypes.CDLL(so_path)
    lib.np_permutation.argtypes = [ctypes.c_uint64, ctypes.c_int64, _I64]
    lib.np_permutation.restype = None
    lib.csr_build.argtypes = [
        ctypes.c_int64, ctypes.c_int64, _I64, _I64, _F64, _I64, _I64, _F64,
    ]
    lib.csr_build.restype = None
    lib.local_move.argtypes = [
        ctypes.c_int64, ctypes.c_int64, _I64, _I64, _F64, _I64, _F64,
        _I64, _I64, _F64, _I64, ctypes.c_int, ctypes.c_double,
        ctypes.c_double, _I64, _I64,
    ]
    lib.local_move.restype = None
    lib.refine_batch.argtypes = [
        ctypes.c_int64, _I64, _I64, _I64, _I64, _I64, _I64, _I64, _F64,
        ctypes.c_double, ctypes.c_int64, ctypes.c_int64, ctypes.c_int64,
        _I64,
    ]
    lib.refine_batch.restype = None
    return lib


def _check_rng(L: ctypes.CDLL) -> None:
    """Raise unless the C permutation matches numpy's stream exactly."""
    rs = np.random.default_rng(99)
    seeds = [0, 1, 2, 1234, 2**32 - 1, 2**32, 2**62 + 12345] + [
        int(x) for x in rs.integers(0, 2**63, size=40)
    ]
    lens = [1, 2, 3, 5, 17, 64, 255, 1000]
    for sd in seeds:
        for n in lens:
            out = np.empty(n, dtype=np.int64)
            L.np_permutation(ctypes.c_uint64(sd), ctypes.c_int64(n), _as_i64(out))
            if not np.array_equal(out, np.random.default_rng(sd).permutation(n)):
                raise RuntimeError(
                    "graft native kernels: the C permutation generator no "
                    f"longer matches numpy {np.__version__}'s "
                    f"default_rng({sd}).permutation({n})"
                )


def lib() -> ctypes.CDLL:
    """The compiled kernel library, built and RNG-checked on first use.
    Raises ``RuntimeError`` when the compile or the RNG check fails."""
    global _lib
    with _lock:
        if _lib is None:
            L = _compile()
            _check_rng(L)
            _lib = L
    return _lib


def rng_ok() -> bool:
    """True once the C permutation is checked against numpy's stream
    (:func:`lib` raises instead of loading a mismatching library)."""
    lib()
    return True


def _as_i64(a: np.ndarray) -> ctypes.POINTER(ctypes.c_int64):
    return a.ctypes.data_as(_I64)


def _as_f64(a: np.ndarray) -> ctypes.POINTER(ctypes.c_double):
    return a.ctypes.data_as(_F64)


def permutation(seedval: int, n: int) -> np.ndarray:
    """np.random.default_rng(seedval).permutation(n) via the C stream."""
    L = lib()
    out = np.empty(n, dtype=np.int64)
    L.np_permutation(ctypes.c_uint64(seedval), ctypes.c_int64(n), _as_i64(out))
    return out


def csr_build(
    n: int, eu: np.ndarray, ev: np.ndarray, ew: np.ndarray
) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    """Both-direction CSR (indptr, nbr, wgt) of the unique half edges
    ``eu < ev`` by a two-pass counting sort, each row's neighbors
    ascending: the canonical accumulation order of local moving."""
    L = lib()
    mh = len(eu)
    eu = np.ascontiguousarray(eu, dtype=np.int64)
    ev = np.ascontiguousarray(ev, dtype=np.int64)
    ew = np.ascontiguousarray(ew, dtype=np.float64)
    indptr = np.empty(n + 1, dtype=np.int64)
    nbr = np.empty(2 * mh, dtype=np.int64)
    wgt = np.empty(2 * mh, dtype=np.float64)
    L.csr_build(
        ctypes.c_int64(n), ctypes.c_int64(mh), _as_i64(eu), _as_i64(ev),
        _as_f64(ew), _as_i64(indptr), _as_i64(nbr), _as_f64(wgt),
    )
    return indptr, nbr, wgt


def _inout(a: np.ndarray, dtype) -> np.ndarray:
    """An array the kernel writes in place: it must already have the
    kernel's dtype and layout, since a converted copy would swallow the
    writes."""
    if a.dtype != dtype or not a.flags.c_contiguous:
        raise TypeError(f"expected a C-contiguous {np.dtype(dtype)} array")
    return a


def local_move(
    indptr: np.ndarray,
    nbr: np.ndarray,
    wgt: np.ndarray,
    size: np.ndarray,
    strength: np.ndarray,
    comm: np.ndarray,
    n_c: np.ndarray,
    stot: np.ndarray,
    perm: np.ndarray,
    objective: str,
    gamma: float,
    m: float,
) -> tuple[int, int]:
    """Queue-greedy local moving (see kernels.c); mutates ``comm`` and
    the per-slot aggregates ``n_c`` / ``stot`` in place. Returns
    (visits, moves)."""
    L = lib()
    indptr = np.ascontiguousarray(indptr, dtype=np.int64)
    nbr = np.ascontiguousarray(nbr, dtype=np.int64)
    wgt = np.ascontiguousarray(wgt, dtype=np.float64)
    size = np.ascontiguousarray(size, dtype=np.int64)
    strength = np.ascontiguousarray(strength, dtype=np.float64)
    perm = np.ascontiguousarray(perm, dtype=np.int64)
    n = len(comm)
    n_slots = len(n_c)
    visits = np.zeros(1, dtype=np.int64)
    moves = np.zeros(1, dtype=np.int64)
    L.local_move(
        ctypes.c_int64(n), ctypes.c_int64(n_slots), _as_i64(indptr),
        _as_i64(nbr), _as_f64(wgt), _as_i64(size), _as_f64(strength),
        _as_i64(_inout(comm, np.int64)), _as_i64(_inout(n_c, np.int64)),
        _as_f64(_inout(stot, np.float64)), _as_i64(perm),
        ctypes.c_int(1 if objective == "cpm" else 0),
        ctypes.c_double(gamma), ctypes.c_double(m),
        _as_i64(visits), _as_i64(moves),
    )
    return int(visits[0]), int(moves[0])


def refine_batch(
    node_start: np.ndarray,
    edge_start: np.ndarray,
    sizes: np.ndarray,
    s_tot: np.ndarray,
    comm_label: np.ndarray,
    eu: np.ndarray,
    ev: np.ndarray,
    ew: np.ndarray,
    gamma: float,
    seed: int,
) -> np.ndarray:
    """Batched CPM refinement over groups (see kernels.c); returns the
    group-local index of each member's founding member."""
    L = lib()
    n_groups = len(node_start) - 1
    node_start = np.ascontiguousarray(node_start, dtype=np.int64)
    edge_start = np.ascontiguousarray(edge_start, dtype=np.int64)
    sizes = np.ascontiguousarray(sizes, dtype=np.int64)
    s_tot = np.ascontiguousarray(s_tot, dtype=np.int64)
    comm_label = np.ascontiguousarray(comm_label, dtype=np.int64)
    eu = np.ascontiguousarray(eu, dtype=np.int64)
    ev = np.ascontiguousarray(ev, dtype=np.int64)
    ew = np.ascontiguousarray(ew, dtype=np.float64)
    out = np.empty(int(node_start[-1]), dtype=np.int64)
    max_k = int(np.max(np.diff(node_start))) if n_groups else 0
    max_e = int(np.max(np.diff(edge_start))) if n_groups else 0
    L.refine_batch(
        ctypes.c_int64(n_groups), _as_i64(node_start), _as_i64(edge_start),
        _as_i64(sizes), _as_i64(s_tot), _as_i64(comm_label), _as_i64(eu),
        _as_i64(ev), _as_f64(ew), ctypes.c_double(gamma),
        ctypes.c_int64(seed), ctypes.c_int64(max_k), ctypes.c_int64(max_e),
        _as_i64(out),
    )
    return out
