"""Stage 2 — Openness_Data_Frame_Prep.R: build `cleaned_player_data`,
the wide per-frame feature table (grain: gameId, playId, frameId,
route-runner nflId; FIXTURES.md A6).

Reference steps → Spark:
- SQL J1 + pushed-down WHERE (`Openness_Data_Frame_Prep.R:8-15`) →
  broadcast join + filter (Catalyst pushes it into the parquet scan).
- defender labeling by physical row order (`:34-36`, W9) → explicit
  row_number over nflId (any stable 1-11 labeling satisfies downstream
  use — SURVEY.md §2.5 W9).
- pivot_wider to x_1…s_11 (`:38-43`, A8) → groupBy.pivot with explicit
  values 1..11 (skips the distinct-values job).
- assigned-defender join via pff_primaryDefensiveCoverageMatchupNflId
  (`:63`, J3 asymmetric keys).
- ball rows after pass_forward +2..+7 (`:70-74`, W10) → event-anchored
  window range, averaged per play to one (fx, fy).
- per-QB median ball throw speed (`:87-90`, A2).

Scale: every join in this stage is fact ⋈ dim (plays, player_play
aggregates, per-play ball rows) → broadcast; the only wide shuffle is
the defender pivot, one hash aggregate on (gameId, playId, frameId).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..operators.aggregates import group_median, pivot_wide
from ..operators.relational import dim_join
from ..operators.windows import event_anchored_range, row_number_by


def after_snap_dropbacks(tracking: DataFrame, plays: DataFrame) -> DataFrame:
    """`SELECT * FROM all_weeks LEFT JOIN plays … WHERE
    frameType='AFTER_SNAP' AND isDropback=1`
    (`Openness_Data_Frame_Prep.R:8-15`)."""
    return dim_join(tracking, plays, on=["gameId", "playId"], how="left").filter(
        (F.col("frameType") == "AFTER_SNAP") & F.col("isDropback")
    )


def defenders_wide(base: DataFrame) -> DataFrame:
    """Defender rows (club == defensiveTeam, cross-column predicate P4)
    → stable per-frame labels 1..11 (W9) → wide pivot (A8)."""
    d = base.filter(F.col("club") == F.col("defensiveTeam")).select(
        "gameId", "playId", "frameId", "nflId", "x", "y", "s"
    )
    labeled = row_number_by(
        d, ["gameId", "playId", "frameId"], ["nflId"], "defLabel"
    )
    wide = pivot_wide(
        labeled,
        ids=["gameId", "playId", "frameId"],
        pivot_col="defLabel",
        pivot_values=list(range(1, 12)),
        aggs=[
            F.first("x").alias("x"),
            F.first("y").alias("y"),
            F.first("s").alias("s"),
        ],
        fill=None,
    )
    # Spark names multi-agg pivot columns "<label>_<agg>"; the
    # reference layout is x_1…s_11 (`Openness_Data_Frame_Prep.R:38-43`)
    renames = {
        f"{i}_{c}": f"{c}_{i}" for i in range(1, 12) for c in ("x", "y", "s")
    }
    return wide.withColumnsRenamed(renames)


def route_runner_frames(base: DataFrame, player_play: DataFrame) -> DataFrame:
    """Route-runner tracking frames with routeRan and the coverage
    assignment of the defender matched on them (J3,
    `Openness_Data_Frame_Prep.R:63`)."""
    runners = player_play.filter(F.col("wasRunningRoute")).select(
        "gameId",
        "playId",
        "nflId",
        "routeRan",
        "pff_primaryDefensiveCoverageMatchupNflId",
    )
    def_assign = player_play.select(
        "gameId",
        "playId",
        F.col("nflId").alias("pff_primaryDefensiveCoverageMatchupNflId"),
        "pff_defensiveCoverageAssignment",
    )
    runners = runners.join(
        def_assign,
        ["gameId", "playId", "pff_primaryDefensiveCoverageMatchupNflId"],
        "left",
    ).drop("pff_primaryDefensiveCoverageMatchupNflId")
    return base.select(
        "gameId", "playId", "frameId", "nflId", "x", "y", "s", "dir",
        "possessionTeam",
    ).join(F.broadcast(runners), ["gameId", "playId", "nflId"], "inner")


def ball_release(base: DataFrame) -> DataFrame:
    """Ball position just after release: frames evt+2..evt+7 after
    pass_forward (W10, `Openness_Data_Frame_Prep.R:70-74`), averaged to
    one (fx, fy) per play. (The reference keeps the 6 raw rows and
    dedups later; the mean is the same intent with a deterministic
    single row.)"""
    ball = base.filter(F.col("displayName") == "football")
    win = event_anchored_range(
        ball,
        ["gameId", "playId"],
        event_col="event",
        event_value="pass_forward",
        frame_col="frameId",
        lo_offset=2,
        hi_offset=7,
    )
    return win.groupBy("gameId", "playId").agg(
        F.avg("x").alias("fx"), F.avg("y").alias("fy")
    )


def throw_speeds(base: DataFrame, players: DataFrame, player_play: DataFrame) -> DataFrame:
    """Per-QB median ball speed in the release window (A2,
    `Openness_Data_Frame_Prep.R:87-90`) joined back per play."""
    qbs = (
        player_play.join(
            F.broadcast(players.filter(F.col("position") == "QB")), ["nflId"]
        )
        .select("gameId", "playId", F.col("displayName").alias("qb"))
        .distinct()
    )
    ball = base.filter(F.col("displayName") == "football")
    win = event_anchored_range(
        ball,
        ["gameId", "playId"],
        event_col="event",
        event_value="pass_forward",
        frame_col="frameId",
        lo_offset=2,
        hi_offset=7,
    ).select("gameId", "playId", "s")
    per_qb = group_median(
        win.join(F.broadcast(qbs), ["gameId", "playId"]), ["qb"], "s", "throw_speed"
    )
    return qbs.join(F.broadcast(per_qb), ["qb"]).select(
        "gameId", "playId", "throw_speed"
    )


def build_cleaned_player_data(
    tracking: DataFrame, plays: DataFrame, players: DataFrame, player_play: DataFrame
) -> DataFrame:
    """The stage output (`Openness_Data_Frame_Prep.R:101`)."""
    base = after_snap_dropbacks(tracking, plays)
    runners = route_runner_frames(base, player_play)
    dwide = defenders_wide(base)
    ball = ball_release(base)
    speeds = throw_speeds(base, players, player_play)
    return (
        runners.join(dwide, ["gameId", "playId", "frameId"], "inner")
        .join(F.broadcast(ball), ["gameId", "playId"], "left")
        .join(F.broadcast(speeds), ["gameId", "playId"], "left")
        .drop("possessionTeam")
    )
