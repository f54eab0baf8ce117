"""Per-superstep checkpointing with per-partition lineage + metrics.

north_rule requirement: "resumable from checkpoint with per-partition
lineage + metrics". Every iterative algorithm in graft.algos accepts an
optional :class:`Checkpointer`; when present, each superstep's vertex
state is written to parquet together with a metrics record (iteration
number, move/delta counts, quality, per-partition row counts), and a run
can resume from the latest complete superstep.

Without a checkpoint dir, algorithms still call
``localCheckpoint(eager=True)`` per superstep to truncate lineage —
mandatory for iterative DataFrame loops, otherwise the plan grows
without bound (the Spark analog of the reference's host-driven while
loop, csrc/src/leiden_kernel.cu:1028-1214).
"""

from __future__ import annotations

import atexit
import itertools
import json
import os
import shutil
import tempfile
import threading
from typing import Any

import pyarrow as pa
import pyarrow.fs as pafs
import pyarrow.parquet as pq
from pyspark.sql import DataFrame, SparkSession


class Checkpointer:
    """Writes superstep state + metrics under ``root/<job>/``.

    Layout::

        root/<job>/metrics.jsonl             one JSON line per superstep
        root/<job>/step=<i>/...parquet       vertex state at superstep i
        root/<job>/step=<i>/_SUCCESS         atomicity marker (Spark's)
    """

    def __init__(self, spark: SparkSession, root: str, job: str):
        self.spark = spark
        self.dir = os.path.join(root, job)
        os.makedirs(self.dir, exist_ok=True)
        self._metrics_path = os.path.join(self.dir, "metrics.jsonl")

    def _step_dir(self, step: int) -> str:
        return os.path.join(self.dir, f"step={step}")

    def save(self, step: int, state: DataFrame, **metrics: Any) -> DataFrame:
        """Persist state + metrics; returns the re-read (lineage-free) state.

        The metrics record includes per-partition row counts — the
        "per-partition lineage" the north rule asks for: it pins which
        partition held how many rows at each superstep, so a resumed run
        can be audited against the original. The counts are rows per
        WRITE task (``[partition id, rows]``, the id taken from each
        ``part-NNNNN`` file name), read from the parquet footers the
        write just produced — no Spark job. The Checkpointer root is a
        local directory (``__init__`` creates it with ``os.makedirs``).
        """
        path = self._step_dir(step)
        state.write.mode("overwrite").parquet(path)
        reread = _parquet_leaf(
            self.spark.read.schema(state.schema).parquet(path), path
        )
        part_counts: dict[int, int] = {}
        for name, rows in _footer_rows(path):
            pid = int(name.split("-", 2)[1])
            part_counts[pid] = part_counts.get(pid, 0) + rows
        rec = {
            "step": step,
            "partition_rows": sorted([p, n] for p, n in part_counts.items()),
            **metrics,
        }
        with open(self._metrics_path, "a") as f:
            f.write(json.dumps(rec) + "\n")
        return reread

    def metrics(self) -> list[dict]:
        if not os.path.exists(self._metrics_path):
            return []
        with open(self._metrics_path) as f:
            return [json.loads(line) for line in f if line.strip()]

    def latest_step(self) -> int | None:
        """Largest step with a complete (_SUCCESS-marked) state write."""
        best = None
        if not os.path.isdir(self.dir):
            return None
        for name in os.listdir(self.dir):
            if name.startswith("step="):
                step = int(name.split("=", 1)[1])
                if os.path.exists(os.path.join(self.dir, name, "_SUCCESS")):
                    best = step if best is None else max(best, step)
        return best

    def load(self, step: int) -> DataFrame:
        return self.spark.read.parquet(self._step_dir(step))

    def resume(self) -> tuple[int, DataFrame] | None:
        """(latest step, its state) or None if nothing checkpointed."""
        step = self.latest_step()
        if step is None:
            return None
        return step, self.load(step)

    # --- named artifacts (multi-table state, e.g. a Leiden level's
    #     edges + vertices + child→parent mapping) ---

    def _table_dir(self, name: str) -> str:
        return os.path.join(self.dir, "table", name)

    def save_table(self, name: str, df: DataFrame) -> DataFrame:
        path = self._table_dir(name)
        df.write.mode("overwrite").parquet(path)
        return _parquet_leaf(self.spark.read.schema(df.schema).parquet(path), path)

    def has_table(self, name: str) -> bool:
        return os.path.exists(os.path.join(self._table_dir(name), "_SUCCESS"))

    def load_table(self, name: str) -> DataFrame:
        path = self._table_dir(name)
        return _parquet_leaf(self.spark.read.parquet(path), path)


def _parquet_leaf(df: DataFrame, path: str) -> DataFrame:
    """Mark ``df`` as a plain read of the parquet files graft wrote at
    ``path``, so :func:`row_count` may answer from their footers. This
    mark is separate from the spill mark: :func:`drop_spill` ignores
    it, so a checkpoint table is never deleted as a spill."""
    df._graft_parquet_path = path  # type: ignore[attr-defined]
    return df


# what reading footers raises when pyarrow cannot open a root
_UNREADABLE = (OSError, ValueError, pa.ArrowException)


def _footer_rows(path: str) -> list[tuple[str, int]]:
    """``(file name, rows)`` of every data file under a parquet
    directory, from the footers alone (Spark's hidden ``_``/``.``
    files are skipped, as its reader does)."""
    if "://" in path:
        fs, root = pafs.FileSystem.from_uri(path)
    else:
        fs, root = pafs.LocalFileSystem(), os.path.abspath(path)
    out = []
    for info in fs.get_file_info(pafs.FileSelector(root)):
        name = info.base_name
        if info.is_file and not name.startswith(("_", ".")):
            out.append((name, pq.read_metadata(info.path, filesystem=fs).num_rows))
    return out


def row_count(df: DataFrame) -> int:
    """Rows of ``df`` without a Spark job when graft wrote it: a
    :func:`truncate` spill or a :class:`Checkpointer` table is counted
    from its parquet footers (about a millisecond for a few files, where
    a ``count()`` job costs tens to hundreds of milliseconds). Any other
    frame — including one derived from such a leaf — and a root pyarrow
    cannot open fall back to ``df.count()``."""
    path = getattr(df, "_graft_parquet_path", None)
    if path is not None:
        try:
            return sum(rows for _, rows in _footer_rows(path))
        except _UNREADABLE:
            pass
    return df.count()


_spill_root: str | None = None
# spill names are unique per process: threads sharing a session must
# never get the same path, or one's overwrite-mode spill replaces the
# other's
_spill_ids = itertools.count()
_spill_lock = threading.Lock()


def _resolve_spill_root(spark: SparkSession) -> str:
    """Spill root for superstep lineage truncation, cluster-real:

    1. ``spark.graft.spillDir`` conf (any Hadoop-visible shared path);
    2. ``SPARK_GRAFT_SPILL_DIR`` env;
    3. the session's checkpoint dir, if one was set;
    4. a driver-local tempdir (``local[*]`` only — executors on other
       hosts cannot read the driver's /tmp, so on a real cluster one of
       the shared options above must be configured).
    """
    conf_dir = spark.conf.get("spark.graft.spillDir", None)
    if not conf_dir:
        conf_dir = os.environ.get("SPARK_GRAFT_SPILL_DIR") or None
    if not conf_dir:
        ckpt = spark.sparkContext._jsc.sc().getCheckpointDir()
        if ckpt.isDefined():
            conf_dir = ckpt.get()
    if conf_dir:
        root = os.path.join(
            conf_dir.rstrip("/"), f"graft-spill-{os.getpid()}"
        )
        # local-path best effort; remote URIs are created by the write
        if "://" not in root:
            os.makedirs(root, exist_ok=True)
            atexit.register(shutil.rmtree, root, ignore_errors=True)
        return root
    root = tempfile.mkdtemp(prefix="graft-spill-")
    atexit.register(shutil.rmtree, root, ignore_errors=True)
    return root


def truncate(df: DataFrame) -> DataFrame:
    """Cut lineage between supersteps via a parquet spill round-trip.

    Why not ``localCheckpoint``: Spark's LogicalRDD *preserves* the
    estimated statistics of the plan it truncates, and Catalyst's
    size-only estimator multiplies join children's sizeInBytes. A
    superstep that references its state twice (self-join shapes like
    conflict resolution or quality evaluation) therefore *squares* the
    carried estimate every iteration — after ~10 supersteps the driver
    spends minutes multiplying thousand-digit BigIntegers inside
    SizeInBytesOnlyStatsPlanVisitor. A parquet round-trip resets leaf
    stats to the true file size (keeping AQE/broadcast decisions sane)
    and is the same mechanism a cluster run uses for reliable
    per-superstep checkpoints.

    The returned DataFrame carries its spill path; iterative loops call
    :func:`drop_spill` on retired supersteps so long convergence runs
    do not accumulate unbounded spill directories.
    """
    global _spill_root
    spark = df.sparkSession
    with _spill_lock:
        if _spill_root is None:
            _spill_root = _resolve_spill_root(spark)
        path = os.path.join(_spill_root, f"t{next(_spill_ids)}")
    df.write.mode("overwrite").parquet(path)
    # pin the schema on reread: skips the footer-inference job that
    # otherwise runs once per superstep (driver planning latency adds up
    # across hundreds of sweeps)
    out = _parquet_leaf(spark.read.schema(df.schema).parquet(path), path)
    out._graft_spill_path = path  # type: ignore[attr-defined]
    return out


def drop_spill(df: DataFrame) -> None:
    """Delete the spill files backing a truncated DataFrame (no-op for
    frames that did not come from :func:`truncate`). Only call once the
    frame — and everything derived from it without an intervening
    truncate — is dead."""
    path = getattr(df, "_graft_spill_path", None)
    if path and "://" not in path:
        shutil.rmtree(path, ignore_errors=True)


def with_spill_inputs(df: DataFrame, *spills: DataFrame) -> DataFrame:
    """Hand ``spills`` — :func:`truncate` outputs that only the lazy
    ``df`` reads — to ``df``'s consumer: once it has truncated ``df``
    they are dead, and it drops them via :func:`spill_inputs`. Returns
    ``df``."""
    df._graft_spill_inputs = spills  # type: ignore[attr-defined]
    return df


def spill_inputs(df: DataFrame) -> tuple[DataFrame, ...]:
    """The spills handed over with :func:`with_spill_inputs`; empty for
    any other frame, including one derived from ``df`` (its inputs'
    spills then stay on disk until the spill root is removed)."""
    return getattr(df, "_graft_spill_inputs", ())
