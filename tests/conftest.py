import pytest

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
