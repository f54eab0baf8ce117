"""SparkSession factory with scale-appropriate defaults.

Local testing runs on ``local[N]``; on a real cluster the same settings
apply (AQE, Arrow, adaptive skew-join) and only executor topology changes
— the engine is launched via ``spark-submit --py-files graft.zip``.
"""

from __future__ import annotations

import logging
import os
import shutil
import tempfile
import threading

from pyspark.sql import SparkSession

# Defaults chosen for the 100-TB design point, harmless locally:
# - AQE on: runtime shuffle-partition coalescing + skew-join splitting is
#   the first line of defense against transcript-graph hub skew.
# - Arrow on: every pandas UDF (Leiden refinement kernel, CSR packing)
#   moves batches, not rows.
# - shuffle.partitions is a local default; clusters override via
#   spark-submit --conf (AQE coalescing makes the initial number mostly
#   a ceiling, not a tuning knob).
_DEFAULTS = {
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    "spark.sql.shuffle.partitions": "32",
    "spark.sql.files.maxPartitionBytes": "128m",
    "spark.ui.enabled": "false",
    # local mode: the driver JVM hosts every executor thread. 16g is the
    # measured sweet spot on this 32-core box: 8g thrashes GC under 32
    # concurrent task buffers, while 48g made the identical superstep
    # job 1.8-2.6x SLOWER at local[32] (G1 with a huge young gen —
    # repeated profiling rounds r2, tools/prof_scaling2.py).
    "spark.driver.memory": "16g",
}


def get_spark(
    app_name: str = "graft",
    master: str | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) a SparkSession.

    ``master`` defaults to ``local[$SPARK_GRAFT_CPUS]`` (env, default 32)
    so the bench harness can run the identical job at two parallelism
    levels (the sandbox stand-in for N vs 4N executors).
    """
    if master is None:
        cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
        master = f"local[{cpus}]"
    builder = SparkSession.builder.appName(app_name).master(master)
    conf = dict(_DEFAULTS)
    if extra_conf:
        conf.update(extra_conf)
    for k, v in conf.items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    _warm_session(spark)
    return spark


# app ids whose one-time engine warmup already ran (getOrCreate returns
# the same context many times; the warmup must run once per JVM, not
# once per call); the lock makes check-and-record atomic across threads
_warmed_app_ids: set[str] = set()
_warm_lock = threading.Lock()
_log = logging.getLogger(__name__)


def _warm_scheduler(spark: SparkSession) -> None:
    """Job scheduler + codegen'd aggregate."""
    spark.range(16).selectExpr("sum(id)").collect()


def _warm_parquet(spark: SparkSession) -> None:
    """Parquet write/read + committer + file-index machinery, through a
    tempdir on this process's host (so only on a ``local`` master,
    whose executors share that filesystem)."""
    d = tempfile.mkdtemp(prefix="graft-warm-")
    try:
        p = os.path.join(d, "w.parquet")
        spark.range(4).write.mode("overwrite").parquet(p)
        spark.read.parquet(p).count()
    finally:
        shutil.rmtree(d, ignore_errors=True)


def _warm_python_worker(spark: SparkSession) -> None:
    """Python worker fork + worker-side pandas/pyarrow import."""

    def _ident(batches):
        yield from batches

    spark.range(4).mapInPandas(_ident, "id long").collect()


def _warm_session(spark: SparkSession) -> None:
    """One-time engine warmup on a freshly created context.

    A new Spark JVM pays first-use costs that belong to the SESSION, not
    to whichever query happens to run first: scheduler + whole-stage
    codegen (janino) compilation, the parquet writer/reader + output
    committer class loading, and the Python worker pool fork with its
    worker-side pandas/numpy imports. Unwarmed, the first user action
    absorbed ~3.5s of that in the r6 measurements (first parquet query
    6.1s cold vs 2.4s after warmup; first pandas-UDF op 1.75s vs 0.45s).

    Everything here runs on synthetic literals or a throwaway tempdir —
    no caller table, path, or configuration is touched, so no query
    result or input scan is ever precomputed. Each step is best-effort
    on its own: one that fails (say the parquet step on an unusual
    filesystem) leaves the others to run, and a session that cannot be
    warmed is handed back unwarmed rather than failing creation.
    Disable with ``GRAFT_NO_SESSION_WARM=1`` (e.g. when profiling
    cold-start itself).
    """
    if os.environ.get("GRAFT_NO_SESSION_WARM"):
        return
    app_id = spark.sparkContext.applicationId
    with _warm_lock:
        if app_id in _warmed_app_ids:
            return
        _warmed_app_ids.add(app_id)
    master = spark.sparkContext.master
    steps = [_warm_scheduler]
    if master == "local" or master.startswith("local["):
        steps.append(_warm_parquet)
    steps.append(_warm_python_worker)
    for step in steps:
        try:
            step(spark)
        except Exception:
            _log.warning("session warmup step %s failed", step.__name__,
                         exc_info=True)
