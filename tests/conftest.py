import os
import shutil

import pytest
from pyspark.sql import DataFrame

from graft import checkpoint
from graft.session import get_spark


@pytest.fixture(scope="session")
def spark():
    s = get_spark("graft-tests", master="local[4]", extra_conf={
        "spark.sql.shuffle.partitions": "4",
    })
    yield s
    s.stop()


@pytest.fixture()
def spill_dir(spark, tmp_path):
    """A fresh spill root under ``tmp_path`` for the test's duration."""
    old_root = checkpoint._spill_root
    checkpoint._spill_root = None
    spark.conf.set("spark.graft.spillDir", str(tmp_path / "spill"))
    yield
    spark.conf.unset("spark.graft.spillDir")
    checkpoint._spill_root = old_root


@pytest.fixture()
def leftover_spills(spill_dir):
    """A function returning the directories under the fresh spill root
    that a call's result ``out`` does not read (``out.inputFiles()``; a
    scalar result reads none), i.e. the spills the call left behind.
    It then empties the root, so the next call is judged alone; ``out``
    is unreadable afterwards."""
    def leftover(out) -> list[str]:
        root = checkpoint._spill_root
        if root is None or not os.path.isdir(root):
            return []
        read = out.inputFiles() if isinstance(out, DataFrame) else []
        left = []
        for name in sorted(os.listdir(root)):
            prefix = f"/{os.path.basename(root)}/{name}/"
            if not any(prefix in f for f in read):
                left.append(name)
            shutil.rmtree(os.path.join(root, name), ignore_errors=True)
        return left
    return leftover


@pytest.fixture()
def persisted_rdds(spark):
    """A function returning the ids of the RDDs the SparkContext holds
    persisted, for tests that assert a call leaves that set as it
    found it. The fixture first releases every cache and persisted RDD
    that earlier tests left in the shared session: such a leftover can
    leave the set at any later moment (the context holds persisted RDDs
    by weak reference, so a dropped ``localCheckpoint`` frame goes once
    Spark lets go of its plan and the JVM collects garbage — seen
    mid-call in the level-loop test), which would read as the call
    releasing an RDD it never touched."""
    jsc = spark.sparkContext._jsc
    spark.catalog.clearCache()
    left = jsc.getPersistentRDDs()
    for k in left.keySet().toArray():
        left.get(k).unpersist(False)
    return lambda: {int(k) for k in jsc.getPersistentRDDs().keySet().toArray()}
