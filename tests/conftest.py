from __future__ import annotations

import sys
from contextlib import contextmanager
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


@pytest.fixture
def distributed_vocab(monkeypatch):
    """Sends the tokenizer trainers down their distributed merge loops:
    a test-sized vocab is otherwise collected and merged driver-side
    (`bpe.SMALL_VOCAB_WORDS`)."""
    from bigdatabowl2024_25_spark.operators import bpe

    monkeypatch.setattr(bpe, "SMALL_VOCAB_WORDS", 0)


@contextmanager
def job_group(sc, name):
    """Runs the body under Spark job group `name` and yields a callable
    returning the ids of the jobs started in that group so far. On exit
    it clears the group and the description and interrupt flag that
    `setJobGroup` also sets, so the thread's later jobs are ungrouped."""
    sc.setJobGroup(name, name)
    try:
        yield lambda: list(sc.statusTracker().getJobIdsForGroup(name))
    finally:
        for prop in ("spark.jobGroup.id", "spark.job.description",
                     "spark.job.interruptOnCancel"):
            sc.setLocalProperty(prop, None)
