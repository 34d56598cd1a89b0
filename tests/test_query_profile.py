"""`scripts/query_profile.py` on one small query: every Spark job of the
profiled run carries a `<query>/<phase>` job group, and each union branch
is timed. The event-log join needs a session started with an event log,
so it is left to the command itself."""

from __future__ import annotations

import sys

from bigdatabowl2024_25_spark import suite
from conftest import REPO, SF_SMOKE, job_group

sys.path.insert(0, str(REPO / "scripts"))

from query_profile import Tracer, profile_query  # noqa: E402

Q74 = "q74_near_dup_clusters"


def test_q74_profile_labels_every_job(spark):
    suite.load_all()
    sc = spark.sparkContext
    ungrouped = set(sc.statusTracker().getJobIdsForGroup(None))
    with job_group(sc, "test_query_profile") as outer:
        rec = profile_query(spark, Q74, SF_SMOKE, Tracer())
    # the query's own groups replace the caller's, and none is dropped
    assert outer() == []
    assert set(sc.statusTracker().getJobIdsForGroup(None)) <= ungrouped
    assert all(g.startswith(f"{Q74}/") for g in rec["jobs"])
    assert rec["jobs"][f"{Q74}/collect"]
    assert set(rec["branches"]) == {"cc", "pr", "hub", "auth", "trust"}
    assert rec["construct_s"] > 0 and rec["collect_s"] > 0
    assert rec["construct_jobs"] == len(rec["jobs"][f"{Q74}/construct"]) > 0
    assert any(rows for _, _, rows in rec["plan_rows"])
