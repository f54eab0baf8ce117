"""The one-time engine warmup in graft.session (r6).

The warmup must (a) run at most once per Spark context, (b) honor the
GRAFT_NO_SESSION_WARM opt-out, and (c) never touch caller data — it is
pure engine initialization, so a warmed session returns identical query
results (the whole oracle battery runs through get_spark and pins
that globally).
"""

import graft.session as gs
from graft.session import get_spark


def test_warmup_runs_once_per_context():
    spark = get_spark("warm-test")
    app_id = spark.sparkContext.applicationId
    assert app_id in gs._warmed_app_ids
    n_before = len(gs._warmed_app_ids)
    # getOrCreate reuse path: no second warmup entry for the same JVM
    again = get_spark("warm-test-2")
    assert again.sparkContext.applicationId == app_id
    assert len(gs._warmed_app_ids) == n_before


def test_warmup_opt_out(monkeypatch):
    spark = get_spark("warm-test")
    app_id = spark.sparkContext.applicationId
    monkeypatch.setenv("GRAFT_NO_SESSION_WARM", "1")
    gs._warmed_app_ids.discard(app_id)
    gs._warm_session(spark)
    # opt-out: the guard returns before recording (and before running)
    assert app_id not in gs._warmed_app_ids
    monkeypatch.delenv("GRAFT_NO_SESSION_WARM")
    gs._warm_session(spark)
    assert app_id in gs._warmed_app_ids


def test_warmed_session_queries_normally():
    spark = get_spark("warm-test")
    assert spark.range(10).count() == 10
    assert spark.sql("select 1 + 1 as v").collect()[0]["v"] == 2


class _FakeSpark:
    """Just what ``_warm_session`` reads from a session."""

    def __init__(self, master: str):
        self.sparkContext = type(
            "Ctx", (), {"master": master, "applicationId": f"fake-{master}"}
        )()


def _record_steps(monkeypatch, calls, fail=()):
    for name in ("_warm_scheduler", "_warm_parquet", "_warm_python_worker"):
        def step(spark, _name=name):
            calls.append(_name)
            if _name in fail:
                raise RuntimeError(f"{_name} failed")
        monkeypatch.setattr(gs, name, step)


def test_failing_parquet_step_still_warms_python_workers(spark, monkeypatch):
    calls = []
    real_worker = gs._warm_python_worker
    _record_steps(monkeypatch, calls, fail=("_warm_parquet",))

    def worker(s):
        calls.append("_warm_python_worker")
        real_worker(s)

    monkeypatch.setattr(gs, "_warm_python_worker", worker)
    monkeypatch.delenv("GRAFT_NO_SESSION_WARM", raising=False)
    app_id = spark.sparkContext.applicationId
    gs._warmed_app_ids.discard(app_id)
    gs._warm_session(spark)
    assert calls == ["_warm_scheduler", "_warm_parquet", "_warm_python_worker"]
    assert app_id in gs._warmed_app_ids


def test_non_local_master_skips_parquet_step(monkeypatch):
    calls = []
    _record_steps(monkeypatch, calls)
    monkeypatch.delenv("GRAFT_NO_SESSION_WARM", raising=False)
    fake = _FakeSpark("spark://head:7077")
    try:
        gs._warm_session(fake)
        assert calls == ["_warm_scheduler", "_warm_python_worker"]
    finally:
        gs._warmed_app_ids.discard(fake.sparkContext.applicationId)


def test_concurrent_warmups_run_once(monkeypatch):
    import sys
    import threading

    calls = []
    _record_steps(monkeypatch, calls)
    monkeypatch.delenv("GRAFT_NO_SESSION_WARM", raising=False)
    fake = _FakeSpark("local[2]")
    start = threading.Barrier(8)

    def go():
        start.wait()
        gs._warm_session(fake)

    threads = [threading.Thread(target=go) for _ in range(8)]
    interval = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)
    try:
        for t in threads:
            t.start()
        for t in threads:
            t.join(timeout=30)
        assert not any(t.is_alive() for t in threads)
        assert calls.count("_warm_scheduler") == 1
    finally:
        sys.setswitchinterval(interval)
        gs._warmed_app_ids.discard(fake.sparkContext.applicationId)
