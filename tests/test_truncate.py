"""truncate() spill-dir semantics (VERDICT r1 'wrong' #2): the spill
root must be configurable to a shared filesystem for cluster runs, and
retired spills must be deletable so convergence loops don't accumulate
unbounded directories."""

from __future__ import annotations

import os
import sys
import threading

import pytest

from graft import checkpoint
from graft.checkpoint import drop_spill, truncate


@pytest.fixture()
def fresh_spill_root():
    """Reset the module-level spill root around a test."""
    old_root = checkpoint._spill_root
    checkpoint._spill_root = None
    yield
    checkpoint._spill_root = old_root


def test_truncate_honors_configured_dir(spark, tmp_path, fresh_spill_root):
    spark.conf.set("spark.graft.spillDir", str(tmp_path))
    try:
        df = truncate(spark.range(10))
        assert df.count() == 10
        path = df._graft_spill_path
        assert path.startswith(str(tmp_path))
        assert os.path.isdir(path)
    finally:
        spark.conf.unset("spark.graft.spillDir")


def test_truncate_honors_env_dir(spark, tmp_path, fresh_spill_root, monkeypatch):
    monkeypatch.setenv("SPARK_GRAFT_SPILL_DIR", str(tmp_path))
    df = truncate(spark.range(5))
    assert df.count() == 5
    assert df._graft_spill_path.startswith(str(tmp_path))


def test_drop_spill_deletes_retired_state(spark, tmp_path, fresh_spill_root):
    spark.conf.set("spark.graft.spillDir", str(tmp_path))
    try:
        a = truncate(spark.range(10))
        b = truncate(a.selectExpr("id + 1 AS id"))
        pa = a._graft_spill_path
        drop_spill(a)
        assert not os.path.exists(pa)
        # the successor is intact and readable
        assert b.count() == 10
        # no-op on non-truncated frames
        drop_spill(spark.range(3))
    finally:
        spark.conf.unset("spark.graft.spillDir")


def test_concurrent_truncates_get_distinct_paths(spark, tmp_path, fresh_spill_root):
    """Threads sharing one session each spill to their own path and read
    back their own rows (a shared name would let one thread's
    overwrite-mode spill replace another's)."""
    spark.conf.set("spark.graft.spillDir", str(tmp_path))
    n_threads = 8
    start = threading.Barrier(n_threads)
    results: dict = {}
    errors: list = []

    def work(i: int) -> None:
        try:
            start.wait(timeout=60)
            df = truncate(spark.range(i * 1000, i * 1000 + 10 + i))
            results[i] = (df._graft_spill_path, sorted(r.id for r in df.collect()))
        except BaseException as exc:  # reported by the main thread
            errors.append(exc)

    interval = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)
    try:
        threads = [threading.Thread(target=work, args=(i,)) for i in range(n_threads)]
        for t in threads:
            t.start()
        for t in threads:
            t.join(timeout=300)
    finally:
        sys.setswitchinterval(interval)
        spark.conf.unset("spark.graft.spillDir")
    assert not errors, errors
    assert not any(t.is_alive() for t in threads)
    assert len({path for path, _ in results.values()}) == n_threads
    for i, (_, ids) in results.items():
        assert ids == list(range(i * 1000, i * 1000 + 10 + i))
