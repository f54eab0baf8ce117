"""Superstep state: lineage truncation, the lifetime of an operator's
intermediates, and per-superstep checkpoints.

Iterative algorithms cut lineage every superstep with :func:`truncate`,
a parquet spill round-trip (otherwise the plan grows without bound —
the Spark analog of the reference's host-driven while loop,
csrc/src/leiden_kernel.cu:1028-1214); :func:`scratch` releases the
spills and persisted frames of one operator call. With a
:class:`Checkpointer` (north_rule: "resumable from checkpoint with
per-partition lineage + metrics") each superstep's state is also saved
with a metrics record (iteration, move/delta counts, quality,
per-partition row counts), and a run resumes from the latest complete
superstep.
"""

from __future__ import annotations

import atexit
import itertools
import json
import os
import shutil
import tempfile
import threading
from contextlib import contextmanager
from typing import Any, Iterator

import pyarrow as pa
import pyarrow.fs as pafs
import pyarrow.parquet as pq
from pyspark.sql import Column, DataFrame, Observation, SparkSession


class Checkpointer:
    """Writes superstep state + metrics under ``root/<job>/``.

    Layout::

        root/<job>/metrics.jsonl             one JSON line per superstep
        root/<job>/step=<i>/...parquet       vertex state at superstep i
        root/<job>/step=<i>/_SUCCESS         atomicity marker, written last
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

        The state is written by :func:`_save`: a graft parquet leaf (a
        :func:`truncate` result, as every superstep's state is) is
        adopted without a Spark job. The metrics record includes
        per-partition row counts — the "per-partition lineage" the north
        rule asks for: it pins which partition held how many rows at
        each superstep, so a resumed run can be audited against the
        original. The counts are rows per WRITE task (``[partition id,
        rows]``, the id taken from each ``part-NNNNN`` file name), read
        from the parquet footers of the step's files — no Spark job. The
        Checkpointer root is a local directory (``__init__`` creates it
        with ``os.makedirs``).
        """
        path = self._step_dir(step)
        reread = _save(self.spark, state, path)
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
        path = self._step_dir(step)
        return _parquet_leaf(self.spark.read.parquet(path), path)

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
        return _save(self.spark, df, self._table_dir(name))

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


def _save(spark: SparkSession, df: DataFrame, path: str) -> DataFrame:
    """Make ``path`` a parquet table of ``df``'s rows; returns its
    re-read leaf. A graft parquet leaf on a local root is adopted with
    no Spark job: the directory is replaced by hard links to the leaf's
    data files (same ``part-NNNNN`` names; a copy where linking fails,
    e.g. across filesystems), ``_SUCCESS`` written last so a reader
    never takes a half-made directory as complete. The links share no
    state with the source, so dropping a spill keeps its adopted copy;
    a leaf already at ``path`` is left as it is. Any other frame, or a
    remote path on either side, is written by Spark."""
    src = getattr(df, "_graft_parquet_path", None)
    if src is None or "://" in src or "://" in path:
        df.write.mode("overwrite").parquet(path)
    elif os.path.abspath(src) != os.path.abspath(path):
        names = [n for n in os.listdir(src) if not n.startswith(("_", "."))]
        shutil.rmtree(path, ignore_errors=True)
        os.makedirs(path)
        for name in names:
            a, b = os.path.join(src, name), os.path.join(path, name)
            try:
                os.link(a, b)
            except OSError:
                shutil.copyfile(a, b)
        with open(os.path.join(path, "_SUCCESS"), "w"):
            pass
    return _parquet_leaf(spark.read.schema(df.schema).parquet(path), path)


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


def spill(df: DataFrame) -> DataFrame:
    """:func:`truncate` without a :func:`scratch` owner: the caller
    alone releases the leaf (a Graph's memoized adjacency)."""
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

    The spill belongs to the calling thread's innermost open
    :func:`scratch` (to the caller when none is open); loops release a
    retired superstep's spill early with :func:`drop_spill`.
    """
    out = spill(df)
    stack = _scratch_stack()
    if stack:
        stack[-1]._paths.append(out._graft_spill_path)
    return out


def observed(df: DataFrame, **aggs: Column) -> tuple[DataFrame, Observation]:
    """``df`` with the aggregates ``aggs`` (name → column) attached, and
    the Observation holding their values once the :func:`truncate` of
    that frame has run: a loop's stop test or per-step scalar then costs
    no Spark job of its own. ``obs.get[name]`` is None for a sum, min or
    max over no rows."""
    obs = Observation()
    return df.observe(obs, *(c.alias(n) for n, c in aggs.items())), obs


def _remove_spill(path: str | None) -> None:
    if path and "://" not in path:
        shutil.rmtree(path, ignore_errors=True)


def drop_spill(df: DataFrame) -> None:
    """Delete the spill files backing a truncated DataFrame (no-op for
    frames that did not come from :func:`truncate`). Only call once the
    frame — and everything derived from it without an intervening
    truncate — is dead."""
    _remove_spill(getattr(df, "_graft_spill_path", None))


def _is_persisted(df: DataFrame) -> bool:
    """True when the frame already carries a storage level.
    ``persist()`` on such a frame returns the same object, so a later
    ``unpersist()`` would release a cache its caller made."""
    try:
        lvl = df.storageLevel
        return bool(lvl.useMemory or lvl.useDisk)
    except Exception:
        return False


class Scratch:
    """The intermediates of one operator call; see :func:`scratch`."""

    def __init__(self, parent: "Scratch | None") -> None:
        self._parent = parent
        self._paths: list[str] = []
        self._kept: set[str] = set()
        self._persisted: list[DataFrame] = []

    def persist(self, df: DataFrame) -> DataFrame:
        """``df`` persisted. A frame that already is (a cache of the
        caller's) is returned as it is and never released here."""
        if _is_persisted(df):
            return df
        df = df.persist()
        self._persisted.append(df)
        return df

    def release(self, df: DataFrame) -> None:
        """Unpersist ``df`` now if this scratch persisted it (a level
        loop releases each level's edges once it is contracted away)."""
        for i, own in enumerate(self._persisted):
            if own is df:
                del self._persisted[i]
                df.unpersist()
                return

    def keep(self, *dfs: DataFrame) -> None:
        """Hand the spills backing ``dfs`` (the operator's result, or
        the leaves a lazy result reads) to the enclosing scratch when
        this one exits normally — to the caller when this scratch is
        the outermost."""
        for df in dfs:
            path = getattr(df, "_graft_spill_path", None)
            if path in self._paths:
                self._kept.add(path)

    def _close(self, hand_on: bool) -> None:
        for df in self._persisted:
            df.unpersist()
        for path in self._paths:
            if hand_on and path in self._kept:
                if self._parent is not None:
                    self._parent._paths.append(path)
            else:
                _remove_spill(path)


_scratches = threading.local()


def _scratch_stack() -> list[Scratch]:
    stack = getattr(_scratches, "stack", None)
    if stack is None:
        stack = _scratches.stack = []
    return stack


@contextmanager
def scratch() -> Iterator[Scratch]:
    """Own the intermediates of one operator call. While it is open,
    every :func:`truncate` on this thread registers its spill here
    (threads sharing a session keep separate scratches); frames are
    persisted through :meth:`Scratch.persist`. On exit every frame
    this scratch persisted is unpersisted, and every registered spill
    is deleted except, on a normal exit, those handed on with
    :meth:`Scratch.keep`; a raise deletes them all. Scratches nest: a
    kept spill joins the enclosing scratch, which releases it in turn
    unless it keeps it too."""
    stack = _scratch_stack()
    s = Scratch(stack[-1] if stack else None)
    stack.append(s)
    ok = False
    try:
        yield s
        ok = True
    finally:
        stack.pop()
        s._close(ok)
