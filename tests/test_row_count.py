"""Job-free row counts of the parquet leaves graft writes
(``checkpoint.row_count``), and the level-loop paths that rely on them."""

from __future__ import annotations

import os
import uuid

from pyspark.sql import functions as F

from graft import checkpoint
from graft.checkpoint import Checkpointer, drop_spill, row_count, truncate
from graft.graph import Graph


def _jobs_in_fresh_group(spark, fn):
    """(fn's result, job ids started while it ran) under a new group."""
    sc = spark.sparkContext
    group = f"row-count-{uuid.uuid4().hex}"
    sc.setJobGroup(group, "row_count probe")
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    return out, list(sc.statusTracker().getJobIdsForGroup(group))


def test_row_count_reads_footers_without_jobs(spark, tmp_path, spill_dir):
    ck = Checkpointer(spark, str(tmp_path / "ck"), "job")
    leaves = {
        "empty spill": truncate(spark.range(10).where(F.col("id") < 0)),
        "spill": truncate(spark.range(0, 1000, 1, 3)),
        "table": ck.save_table("t", spark.range(0, 77, 1, 2)),
    }
    for name, df in leaves.items():
        n, jobs = _jobs_in_fresh_group(spark, lambda: row_count(df))
        assert jobs == [], name
        assert n == df.count(), name
    # a frame derived from a leaf is not a leaf: it is counted by a job
    derived = leaves["spill"].where(F.col("id") % 2 == 0)
    n, jobs = _jobs_in_fresh_group(spark, lambda: row_count(derived))
    assert n == 500 and jobs


def test_drop_spill_never_deletes_a_checkpoint_table(spark, tmp_path):
    ck = Checkpointer(spark, str(tmp_path), "job")
    table = ck.save_table("t", spark.range(5))
    drop_spill(table)
    drop_spill(ck.load_table("t"))
    assert ck.has_table("t")
    assert ck.load_table("t").count() == 5


def test_save_partition_rows_sum_to_state_rows(spark, tmp_path):
    ck = Checkpointer(spark, str(tmp_path), "job")
    state = spark.range(0, 1234, 1, 5).withColumn("v", F.col("id") * 2)
    ck.save(0, state, sweep=0)
    rec = ck.metrics()[-1]
    pids = [p for p, _ in rec["partition_rows"]]
    assert pids == sorted(set(pids))
    assert sum(n for _, n in rec["partition_rows"]) == state.count()


def test_singleton_refinement_returns_moved_labels_without_leaks(
    spark, tmp_path, spill_dir
):
    """A BSP level whose refinement keeps every vertex singleton ends
    the level loop with the moved partition as the labels. A perfect
    matching seeded with communities that hold no edge (and no local
    moving) gives exactly that level; every spill the run wrote except
    the returned labels' own is gone afterwards."""
    import importlib

    leiden_mod = importlib.import_module("graft.algos.leiden")
    edges = [(2 * i, 2 * i + 1, 1.0) for i in range(4)]
    g = Graph.from_undirected(
        spark.createDataFrame(edges, "src long, dst long, weight double")
    )
    seed = spark.createDataFrame(
        [(v, v % 2) for v in range(8)], "id long, community long"
    )
    labels = leiden_mod.leiden(
        g, gamma=0.1, max_sweeps=0, sequential_tail_edges=0,
        initial_membership=seed,
    )
    assert {r.id: r.community for r in labels.collect()} == {
        v: v % 2 for v in range(8)
    }
    root = checkpoint._spill_root
    assert os.listdir(root) == [os.path.basename(labels._graft_spill_path)]
