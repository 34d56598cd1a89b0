"""End-to-end pipeline tests on the synthetic BDB fixtures
(SURVEY.md §5 strategy 2): every stage runs, produces the FIXTURES.md
A6 stage contracts, and hand-checkable invariants hold."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from bigdatabowl2024_25_spark.pipelines import (
    cleaning,
    matchup,
    openness_prep,
    qb_stats,
    radius_stage,
    read_order,
)
from bigdatabowl2024_25_spark.schemas import PRIMARY_KEYS
from bigdatabowl2024_25_spark.sources.io import assert_unique_key
from conftest import job_group
from tests.fixtures_bdb import N_FRAMES, SNAP_FRAME, build_fixtures

N_GAMES, N_PLAYS = 2, 3
N_ROUTE_RUNNERS = 5
AFTER_SNAP_FRAMES = N_FRAMES - SNAP_FRAME  # frames 26..40


@pytest.fixture(scope="module")
def t(spark):
    return build_fixtures(spark, n_games=N_GAMES, plays_per_game=N_PLAYS)


@pytest.fixture(scope="module")
def cpd(t):
    df = openness_prep.build_cleaned_player_data(
        t["tracking"], t["plays"], t["players"], t["player_play"]
    ).cache()
    df.count()
    return df


@pytest.fixture(scope="module")
def radius(cpd):
    df = radius_stage.build_radius_data(cpd, density=3.0).cache()
    df.count()
    return df


def test_fixture_keys(t):
    for name, keys in PRIMARY_KEYS.items():
        if name == "tracking":
            continue  # football rows have null nflId
        assert_unique_key(t[name], keys)


def test_cleaning_stage(t):
    out = cleaning.clean_tracking(t["tracking"], t["plays"])
    assert out.count() == t["tracking"].count()
    assert "defensiveTeam" in out.columns


def test_cleaned_player_data_shape(cpd):
    # grain: per AFTER_SNAP frame per route runner
    expected = N_GAMES * N_PLAYS * N_ROUTE_RUNNERS * AFTER_SNAP_FRAMES
    assert cpd.count() == expected
    assert_unique_key(cpd, ["gameId", "playId", "frameId", "nflId"])
    for c in ["routeRan", "throw_speed", "fx", "fy",
              "pff_defensiveCoverageAssignment"]:
        assert c in cpd.columns, c
    # wide defender block complete and non-null (11 defenders/frame)
    for i in (1, 6, 11):
        for p in ("x", "y", "s"):
            col = f"{p}_{i}"
            assert col in cpd.columns, col
            assert cpd.filter(F.col(col).isNull()).count() == 0


def test_ball_anchoring(cpd):
    # fx is the mean ball x over frames pass+2..pass+7; ball flies
    # downfield after release, so fx must be ahead of the LOS (40)
    row = cpd.select("fx", "fy").first()
    assert row.fx > 40.0
    assert abs(row.fy - 26.6) < 1e-9


def _kernel_input(df):
    """After `df` was collected: the final AQE plan's nodes between the
    openness kernel (MapInPandas) and its shuffle exchange, and the
    exchange itself."""

    def children(n):
        if n.getClass().getSimpleName().endswith("QueryStageExec"):
            return [n.plan()]
        ch = n.children()
        return [ch.apply(i) for i in range(ch.size())]

    stack = [df._jdf.queryExecution().executedPlan().executedPlan()]
    while stack:
        n = stack.pop()
        if n.nodeName() == "MapInPandas":
            path, n = [], children(n)[0]
            while n.nodeName() != "Exchange":
                path.append(n)
                n = children(n)[0]
            return path, n
        stack.extend(children(n))
    raise AssertionError("no MapInPandas in the final plan")


def test_kernel_exchange_not_coalesced(spark, cpd):
    """AQE sizes partitions by bytes and packs a keyed exchange of the
    sub-MB kernel input into one task; the explicit partition count
    keeps one kernel task per core (fixture: 6 plays). density 2.0,
    not the `radius` fixture's 3.0: a plan equal to a cached one would
    read the cache instead of running the kernel."""
    df = radius_stage.build_radius_data(cpd, density=2.0)
    df.collect()
    path, exchange = _kernel_input(df)
    assert not any(
        n.nodeName() == "AQEShuffleRead" and n.hasCoalescedPartition()
        for n in path
    )
    assert (
        exchange.outputPartitioning().numPartitions()
        == spark.sparkContext.defaultParallelism
    )


def test_radius_data_partition_invariant(spark, cpd, radius, monkeypatch):
    """The kernel seeds each row from its identity: running it on one
    partition gives the same radius_data as one partition per core."""
    monkeypatch.setattr(
        type(spark.sparkContext), "defaultParallelism", property(lambda sc: 1)
    )
    one = radius_stage.build_radius_data(cpd, density=3.0)
    rows = one.collect()
    monkeypatch.undo()
    assert _kernel_input(one)[1].outputPartitioning().numPartitions() == 1

    def key(r):
        return r.gameId, r.playId, r.nflId, r.frameId

    per_core = radius.select(one.columns).collect()
    assert len(rows) == len(per_core) > 0
    assert {key(r): r for r in rows} == {key(r): r for r in per_core}


def test_radius_data(radius):
    assert radius.count() > 0
    assert_unique_key(radius, ["gameId", "playId", "frameId", "nflId"])
    # secondId: dense_rank(frameId)-1 per play → 0..AFTER_SNAP_FRAMES-1
    ids = radius.select("secondId").distinct()
    assert ids.agg(F.min("secondId")).first()[0] == 0
    assert ids.agg(F.max("secondId")).first()[0] == AFTER_SNAP_FRAMES - 1
    assert radius.filter(F.col("open_count").isNull()).count() == 0


def test_openness_by_route(radius):
    agg = radius_stage.openness_by_route(radius)
    assert agg.count() > 0
    assert set(agg.columns) == {
        "routeRan", "pff_defensiveCoverageAssignment", "secondId",
        "avg_openness",
    }


def test_dropback_timing(t):
    timing = read_order.dropback_timing(t["tracking"], t["plays"], t["players"])
    rows = timing.collect()
    assert len(rows) == N_GAMES * N_PLAYS
    for r in rows:
        # read cadence: +5 frames (0.5 s) per read
        assert r.secondRead == r.firstRead + 5
        assert r.fifthRead == r.firstRead + 20


def test_reads_data(radius):
    reads = read_order.reads_data(radius)
    rows = reads.collect()
    assert len(rows) == N_GAMES * N_PLAYS
    for r in rows:
        targets = [r.firstTarget, r.secondTarget, r.thirdTarget,
                   r.fourthTarget, r.fifthTarget]
        assert sorted(targets) == [101, 102, 103, 104, 105]


def test_seconds_data(radius):
    sd = read_order.seconds_data(radius)
    assert sd.count() == N_GAMES * N_PLAYS * AFTER_SNAP_FRAMES
    assert_unique_key(sd, ["gameId", "playId", "frameId"])


def test_qb_stats_end_to_end(t, radius):
    timing = read_order.dropback_timing(t["tracking"], t["plays"], t["players"])
    reads = read_order.reads_data(radius)
    pr = qb_stats.play_reads(
        t["tracking"], t["plays"], t["player_play"], t["players"], timing, reads
    )
    rows = pr.collect()
    assert len(rows) == N_GAMES * N_PLAYS
    for r in rows:
        assert 1 <= r.read_index <= 5
        assert r.expected_receiver in (101, 102, 103, 104, 105)
        assert r.qb == "OFF_0"

    press = qb_stats.press_data(pr)
    prows = press.collect()
    assert len(prows) == 1  # one QB in the fixture
    p = prows[0]
    assert 0.0 <= p.effective_read_percentage <= 1.0
    assert p.snaps == N_GAMES * N_PLAYS
    assert qb_stats.top_press(press, 10).count() == 1

    ent = qb_stats.qb_route_entropy(pr, t["player_play"]).collect()
    assert len(ent) == 1 and ent[0].route_entropy >= 0.0


def test_matchup_counts(t):
    trees = matchup.route_trees(t["tracking"], t["plays"], t["player_play"])
    rows = trees.collect()
    assert len(rows) == N_GAMES * N_PLAYS
    for r in rows:
        assert len(r.route_tree.split(" ")) == N_ROUTE_RUNNERS
    mc = matchup.matchup_counts(trees)
    out = mc.collect()
    assert len(out) > 0
    for r in out:
        assert r.total_matchups >= r.matchups


def _persisted_rdds(spark) -> set:
    """Ids of the persisted RDDs. Compare as sets: the ContextCleaner may
    drop other tests' lingering RDDs meanwhile, so only ids a call added
    show a leak."""
    return set(spark.sparkContext._jsc.getPersistentRDDs().keySet())


def _columns(schema):
    """(name, type) per column; a parquet read-back is nullable throughout."""
    return [(f.name, f.dataType.simpleString()) for f in schema]


def test_full_dag_materialized(spark, t, tmp_path, monkeypatch):
    """SURVEY §3: the five-stage DAG with parquet stage tables — every
    stage persists, reads back, and feeds the next; stage keys hold."""
    from bigdatabowl2024_25_spark.pipelines import dag

    written = {}
    write = dag.write_table

    def recording_write(df, path, *args, partition_by=(), **kwargs):
        written[os.path.basename(path)] = (df.schema, list(partition_by))
        return write(df, path, *args, partition_by=partition_by, **kwargs)

    monkeypatch.setattr(dag, "write_table", recording_write)
    persisted = _persisted_rdds(spark)
    # run_dag writes its stages from builder threads: every job it
    # starts must still carry the caller's job group
    sc = spark.sparkContext
    tracker = sc.statusTracker()
    ungrouped = set(tracker.getJobIdsForGroup(None))
    with job_group(sc, "test_run_dag") as jobs:
        out = dag.run_dag(spark, t, str(tmp_path / "stages"), density=3.0)
    assert set(tracker.getJobIdsForGroup(None)) <= ungrouped
    assert jobs()
    # the play_context cut is released once press_data is written
    assert not _persisted_rdds(spark) - persisted
    # each stage reads back with the schema it was written with, its
    # partition columns last (no schema inference: gameId stays bigint)
    assert set(written) == set(out)
    for name, df in out.items():
        schema, parts = written[name]
        want = [f for f in schema if f.name not in parts]
        want += [schema[c] for c in parts]
        assert _columns(df.schema) == _columns(want), name
        if "gameId" in df.columns:
            assert dict(df.dtypes)["gameId"] == "bigint", name
    expected = {
        "cleaned_player_data",
        "radius_data",
        "reads_data",
        "seconds_data",
        "dropback_timing",
        "press_data",
        "matchups",
    }
    assert set(out) == expected
    for name, df in out.items():
        assert df.count() > 0, name
    assert_unique_key(out["radius_data"], ["gameId", "playId", "nflId", "frameId"])
    assert_unique_key(out["reads_data"], ["gameId", "playId"])
    assert_unique_key(out["dropback_timing"], ["gameId", "playId"])
    assert_unique_key(out["press_data"], ["nflId"])
    # partition layout: gameId directories exist for the frame tables
    assert any(
        d.startswith("gameId=")
        for d in os.listdir(tmp_path / "stages" / "radius_data")
    )


def test_run_dag_releases_its_cut_when_a_branch_raises(
    spark, t, tmp_path, monkeypatch
):
    """A failing branch must not strand the dropback branch's
    play_context cut: the scope releases it as the error propagates."""
    from bigdatabowl2024_25_spark.boundary import BoundaryCaches
    from bigdatabowl2024_25_spark.pipelines import dag

    cuts = []
    cut = BoundaryCaches.cut

    def counting_cut(self, df, eager=True):
        cuts.append(df)
        return cut(self, df, eager)

    def failing_build(*args):
        raise RuntimeError("injected cleaned_player_data failure")

    monkeypatch.setattr(BoundaryCaches, "cut", counting_cut)
    monkeypatch.setattr(
        openness_prep, "build_cleaned_player_data", failing_build
    )
    persisted = _persisted_rdds(spark)
    with pytest.raises(RuntimeError, match="injected"):
        dag.run_dag(spark, t, str(tmp_path / "stages"), density=3.0)
    # the sibling branch finished (and cut) before the error surfaced
    assert len(cuts) == 1
    assert not _persisted_rdds(spark) - persisted


def test_cover_threshold_disguise_data(spark):
    """cover_threshold.R:8-37 as one call (round 12): rowSums with NA
    propagation, `[ -]`→`.` label normalization, the dynamic
    prob_<actual> lookup, both disguise arms AT the 0.8 boundary
    (R's `> .8` is strict: exactly 0.8 with a wrong prediction IS
    disguised), the documented NULL arm for a class with no prob
    column, and the broadcast sum(dig) rollup."""
    from bigdatabowl2024_25_spark.pipelines.cover_threshold import (
        disguise_data,
    )

    rows = [
        # right prediction, low own prob -> not disguised (:31 OR arm)
        (0, "Cover-1", "Cover-1", 0.2, 0.3),
        # wrong + own prob exactly 0.8 (NOT > .8) -> disguised
        (1, "Cover-1", "2 Man", 0.8, 0.1),
        # wrong + own prob above threshold -> confident, not disguised
        (2, "2 Man", "Cover-1", 0.1, 0.9),
        # normalization: 'Cover 1' == 'Cover-1' after [ -] -> '.'
        (3, "Cover 1", "Cover-1", 0.0, 0.0),
        # a class with NO prob column -> NULL (R would hard-error)
        (4, "Quarters", "Cover-1", 0.5, 0.5),
        # NULL prob -> rowSums NA-propagates; lookup NULL -> NULL dig
        (5, "Cover-1", "2 Man", None, 0.4),
    ]
    df = spark.createDataFrame(
        rows,
        "play long, actual_coverage string, predicted_coverage string,"
        " `prob_Cover-1` double, `prob_2 Man` double",
    )
    got = {r.play: r for r in disguise_data(df).collect()}
    assert got[0].disguised == 0 and got[0].prob_sum == 0.5
    assert got[1].disguised == 1
    assert got[2].disguised == 0
    assert got[3].disguised == 0  # normalized labels compare equal
    assert got[3].actual_norm == "Cover.1"
    assert got[4].disguised is None
    assert got[5].disguised is None and got[5].prob_sum is None
    # sum(dig) rollup skips NULLs and rides every row
    assert {r.n_disguised for r in got.values()} == {1}
    import pytest

    with pytest.raises(ValueError, match="probability columns"):
        disguise_data(df.select("play", "actual_coverage",
                                "predicted_coverage"))
