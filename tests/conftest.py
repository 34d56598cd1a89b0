from __future__ import annotations

import sys
from pathlib import Path

import pytest

REPO = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(REPO))

SF_SMOKE = "/root/testdata/sf0.001"
SF_CORRECT = "/root/testdata/sf0.01"


@pytest.fixture(scope="session")
def spark():
    from bigdatabowl2024_25_spark.session import get_spark

    s = get_spark(app_name="bdb-tests", shuffle_partitions=8)
    yield s
    s.stop()


@pytest.fixture
def checkpoint_dir(spark, tmp_path):
    """Sets the SparkContext's checkpoint dir (so every `boundary.cut`
    is a reliable checkpoint) for one test, and clears it afterwards."""
    sc = spark.sparkContext
    path = tmp_path / "checkpoints"
    sc.setCheckpointDir(str(path))
    yield path
    # the Scala var setter name contains '$', hence getattr
    getattr(sc._jsc.sc(), "checkpointDir_$eq")(
        sc._jvm.scala.Option.apply(None)
    )
