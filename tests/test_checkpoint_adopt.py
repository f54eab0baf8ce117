"""A checkpoint save adopts a spilled leaf's parquet files: a superstep
state that ``truncate`` already wrote is hard-linked into the step
directory (copied where linking fails) instead of written a second time
by Spark, so a checkpointed run starts no more Spark jobs than the same
run without a Checkpointer. Any other frame is still written."""

from __future__ import annotations

import errno
import os
import uuid

import pytest
from pyspark.sql import functions as F

from graft import fixtures
from graft.algos.components import connected_components
from graft.algos.leiden import leiden
from graft.algos.lpa import label_propagation
from graft.algos.pagerank import pagerank
from graft.checkpoint import (
    Checkpointer,
    _footer_rows,
    drop_spill,
    row_count,
    truncate,
)
from graft.graph import Graph


def _jobs_in_fresh_group(spark, fn):
    """(fn's result, job ids started while it ran) under a new group."""
    sc = spark.sparkContext
    group = f"adopt-{uuid.uuid4().hex}"
    sc.setJobGroup(group, "checkpoint adoption probe")
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    return out, list(sc.statusTracker().getJobIdsForGroup(group))


def _part_rows(path):
    """``[partition id, rows]`` of a parquet directory, as a save's
    metrics record spells them."""
    out: dict[int, int] = {}
    for name, rows in _footer_rows(path):
        pid = int(name.split("-", 2)[1])
        out[pid] = out.get(pid, 0) + rows
    return sorted([p, n] for p, n in out.items())


CALLS = {
    "pagerank_fixed": lambda g, ck: pagerank(
        g, fixed_iterations=3, sequential_threshold=0, checkpointer=ck
    ),
    "pagerank_tol": lambda g, ck: pagerank(
        g, max_iter=3, tol=0.0, sequential_threshold=0, checkpointer=ck
    ),
    "lpa": lambda g, ck: label_propagation(g, checkpointer=ck),
    "cc": lambda g, ck: connected_components(
        g, sequential_threshold=0, checkpointer=ck
    ),
    "leiden_bsp": lambda g, ck: leiden(
        g, gamma=0.1, seed=5, sequential_tail_edges=0, checkpointer=ck
    ),
}


@pytest.mark.parametrize("name", sorted(CALLS))
def test_checkpointed_run_starts_no_extra_job(spark, tmp_path, spill_dir, name):
    """Each run gets a fresh Graph, so neither reuses the other's
    memoized counts or caches."""
    call = CALLS[name]
    rows = fixtures.clique_ring_edges()

    def run(ck):
        g = Graph.from_undirected(fixtures.edges_df(spark, rows))
        out, jobs = _jobs_in_fresh_group(spark, lambda: call(g, ck).collect())
        g.unpersist()
        return sorted(
            tuple(round(v, 9) if isinstance(v, float) else v for v in r)
            for r in out
        ), jobs

    plain, plain_jobs = run(None)
    ck = Checkpointer(spark, str(tmp_path / "ck"), name)
    saved, saved_jobs = run(ck)
    assert saved == plain
    assert ck.metrics(), "the run saved no checkpoint"
    assert len(saved_jobs) == len(plain_jobs), (plain_jobs, saved_jobs)


def test_adopted_step_outlives_its_spill(spark, tmp_path, spill_dir):
    ck = Checkpointer(spark, str(tmp_path), "job")
    leaf = truncate(
        spark.range(0, 500, 1, 3).withColumn("v", F.col("id") * 3)
    )
    rows = sorted(leaf.collect())
    spill_parts = _part_rows(leaf._graft_spill_path)

    saved, jobs = _jobs_in_fresh_group(spark, lambda: ck.save(7, leaf, sweep=7))
    table, table_jobs = _jobs_in_fresh_group(
        spark, lambda: ck.save_table("t", leaf)
    )
    assert jobs == [] and table_jobs == []
    assert ck.metrics()[-1]["partition_rows"] == spill_parts

    drop_spill(leaf)
    assert not os.path.exists(leaf._graft_spill_path)
    assert ck.latest_step() == 7
    for df in (saved, ck.load(7), table, ck.load_table("t")):
        assert sorted(df.collect()) == rows
    assert _part_rows(ck._step_dir(7)) == spill_parts
    assert _part_rows(ck._table_dir("t")) == spill_parts


def test_save_copies_when_linking_fails(spark, tmp_path, spill_dir, monkeypatch):
    def cross_device(src, dst):
        raise OSError(errno.EXDEV, "Invalid cross-device link")

    monkeypatch.setattr(os, "link", cross_device)
    ck = Checkpointer(spark, str(tmp_path), "job")
    leaf = truncate(spark.range(0, 50, 1, 2))
    ck.save(0, leaf)
    step = ck._step_dir(0)
    assert os.path.exists(os.path.join(step, "_SUCCESS"))
    parts = [n for n in os.listdir(step) if n.startswith("part-")]
    assert parts
    assert all(os.stat(os.path.join(step, n)).st_nlink == 1 for n in parts)
    drop_spill(leaf)
    assert sorted(r.id for r in ck.load(0).collect()) == list(range(50))


def test_save_writes_a_frame_that_is_not_a_leaf(spark, tmp_path, spill_dir):
    """msf saves a union of its working edges and its forest: a derived
    frame, so Spark writes it."""
    ck = Checkpointer(spark, str(tmp_path), "job")
    work = truncate(spark.range(0, 30).select(F.lit("w").alias("kind"), "id"))
    forest = truncate(spark.range(30, 40).select(F.lit("f").alias("kind"), "id"))
    combined = work.unionByName(forest)
    expect = sorted(combined.collect())
    _, jobs = _jobs_in_fresh_group(spark, lambda: ck.save(0, combined))
    assert jobs
    assert os.path.exists(os.path.join(ck._step_dir(0), "_SUCCESS"))
    assert sorted(ck.load(0).collect()) == expect


def test_loaded_step_is_counted_from_footers(spark, tmp_path):
    ck = Checkpointer(spark, str(tmp_path), "job")
    ck.save(3, spark.range(0, 123, 1, 4))
    loaded = ck.load(3)
    n, jobs = _jobs_in_fresh_group(spark, lambda: row_count(loaded))
    assert n == 123 and jobs == []
    step, resumed = ck.resume()
    n, jobs = _jobs_in_fresh_group(spark, lambda: row_count(resumed))
    assert (step, n) == (3, 123) and jobs == []
