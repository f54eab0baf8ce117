"""truncate() spill-dir semantics (VERDICT r1 'wrong' #2): the spill
root must be configurable to a shared filesystem for cluster runs, and
retired spills must be deletable so convergence loops don't accumulate
unbounded directories. scratch() ownership: what an operator call
wrote or persisted is released when its scratch closes, except the
spills it keeps."""

from __future__ import annotations

import os
import sys
import threading

import pytest

from graft import checkpoint
from graft.checkpoint import _is_persisted, drop_spill, scratch, truncate


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


@pytest.fixture()
def spill_root(spark, tmp_path, fresh_spill_root):
    spark.conf.set("spark.graft.spillDir", str(tmp_path))
    yield
    spark.conf.unset("spark.graft.spillDir")


def _exists(df) -> bool:
    return os.path.isdir(df._graft_spill_path)


def test_scratch_nested_keep_joins_the_parent(spark, spill_root):
    with scratch() as outer:
        with scratch() as inner:
            kept = truncate(spark.range(3))
            dropped = truncate(spark.range(4))
            inner.keep(kept)
        assert not _exists(dropped)
        assert kept.count() == 3
        handed = truncate(kept.selectExpr("id * 2 AS id"))
        outer.keep(handed)
    # the parent did not keep the inner result: released with it
    assert not _exists(kept)
    # kept by the outermost scratch: the caller's
    assert sorted(r.id for r in handed.collect()) == [0, 2, 4]
    drop_spill(handed)


def test_scratch_raise_drops_everything(spark, spill_root):
    with pytest.raises(RuntimeError, match="injected"):
        with scratch() as outer:
            with scratch() as inner:
                a = truncate(spark.range(3))
                inner.keep(a)
            cached = outer.persist(spark.range(5))
            cached.count()
            b = truncate(spark.range(4))
            outer.keep(b)
            raise RuntimeError("injected")
    assert not _exists(a) and not _exists(b)
    assert not _is_persisted(cached)


def test_scratch_never_evicts_a_caller_persisted_frame(spark, spill_root):
    callers = spark.range(10).persist()
    callers.count()
    try:
        with scratch() as s:
            assert s.persist(callers) is callers
            s.release(callers)
            assert _is_persisted(callers)
            own = s.persist(spark.range(7))
            own.count()
            early = s.persist(spark.range(8))
            s.release(early)
            assert not _is_persisted(early)
            assert _is_persisted(own)
        assert _is_persisted(callers)
        assert not _is_persisted(own)
    finally:
        callers.unpersist()


def test_threads_keep_separate_scratches(spark, spill_root):
    """Thread 0's truncate runs while thread 1's scratch is the last one
    opened: it still belongs to thread 0's scratch, and closing that
    scratch leaves thread 1's open scratch intact."""
    t1_open = threading.Event()
    t0_closed = threading.Event()
    seen: dict = {}
    errors: list = []

    def t0() -> None:
        try:
            with scratch():
                assert t1_open.wait(60)
                seen["t0"] = truncate(spark.range(3))
            seen["t0 left"] = _exists(seen["t0"])
        except BaseException as exc:  # reported by the main thread
            errors.append(exc)
        finally:
            t0_closed.set()

    def t1() -> None:
        try:
            with scratch() as s:
                t1_open.set()
                assert t0_closed.wait(120)
                df = truncate(spark.range(4))
                seen["t1 rows"] = df.count()
                s.keep(df)
            seen["t1"] = df
        except BaseException as exc:
            errors.append(exc)

    threads = [threading.Thread(target=t) for t in (t0, t1)]
    for t in threads:
        t.start()
    for t in threads:
        t.join(timeout=300)
    assert not errors, errors
    assert seen["t0 left"] is False
    assert seen["t1 rows"] == 4
    # the outermost keep handed thread 1's spill to its caller
    assert _exists(seen["t1"])
    drop_spill(seen["t1"])
