"""Stage 5 — QBReadStats.R: per-QB read metrics and the PRESS score.

Reference → Spark:
- throw frame from the pass_forward event (`QBReadStats.R:96`)
- nearest-read assignment: argmin across the five read-frame columns
  (`:102-114`, F12) after the nearest-column null fill (`:70-93`, F11)
- expected receiver: dynamic lookup of firstTarget..fifthTarget by the
  assigned read (`:118-121`, F13)
- per-QB rates: effective_read_percentage / stuck / throw-to-first
  (`:142-144,206-211`, A4)
- PRESS: z-normalized combination using global mean/stddev (`:157,
  220,344-345`, A9); qualified top-10 (`:230-247`, O2)
- target-route entropy per QB (`:330-341`, A11).

`play_reads` is `play_context` (everything but the read targets: read
frames, throw frames, read index, targeted receiver, QB) followed by
`with_targets` (the reads_data join and the three columns that need
targets), so `pipelines.dag` can build the first half while the
openness kernel is still producing what reads_data needs.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions.scalar import argmin_across, coalesce_nearest, dynamic_lookup
from ..operators.aggregates import entropy
from ..operators.relational import top_k

PLAY = ["gameId", "playId"]
READS = ["firstRead", "secondRead", "thirdRead", "fourthRead", "fifthRead"]
TARGETS = ["firstTarget", "secondTarget", "thirdTarget", "fourthTarget", "fifthTarget"]


def throw_frames(tracking: DataFrame) -> DataFrame:
    """Per-play frame offset of the throw: pass_forward frame − snap
    frame (`QBReadStats.R:96-99`)."""
    after = tracking.filter(F.col("frameType") == "AFTER_SNAP")
    return after.groupBy(*PLAY).agg(
        (
            F.max(F.when(F.col("event") == "pass_forward", F.col("frameId")))
            - F.min("frameId")
        ).alias("throw_offset")
    )


def play_context(
    tracking: DataFrame,
    plays: DataFrame,
    player_play: DataFrame,
    players: DataFrame,
    dropback_timing: DataFrame,
) -> DataFrame:
    """Everything `play_reads` needs but the read targets: per play, the
    nearest-filled read frames, the throw offset, which read window the
    throw fell in (`read_index`, `stuck_to_first`), the targeted
    receiver and the QB. It does not read `reads_data`, so it can be
    built while the openness kernel runs."""
    reads = dropback_timing
    for i, c in enumerate(READS):
        # F11: a null read column is filled from its nearest sibling
        reads = reads.withColumn(
            c, coalesce_nearest([F.col(r) for r in READS], i)
        )
    base = throw_frames(tracking).join(F.broadcast(reads), PLAY)
    base = base.withColumn(
        "read_index",
        argmin_across(
            [F.col(c).cast("double") for c in READS],
            F.col("throw_offset").cast("double"),
        ).cast("int"),
    )
    targeted = player_play.filter(F.col("wasTargettedReceiver")).select(
        *PLAY, F.col("nflId").alias("targeted_receiver")
    )
    qbs = (
        player_play.join(
            F.broadcast(players.filter(F.col("position") == "QB")), ["nflId"]
        )
        .select(*PLAY, "nflId", F.col("displayName").alias("qb"))
        .distinct()
    )
    return (
        base.join(F.broadcast(targeted), PLAY, "left")
        .join(F.broadcast(qbs), PLAY)
        .withColumn(
            "stuck_to_first",
            F.when(F.col("read_index") == 1, 1).otherwise(0),
        )
    )


def with_targets(context: DataFrame, reads_data: DataFrame) -> DataFrame:
    """`play_context` joined to the read targets (`reads_data`): the
    expected receiver of the read the throw fell in, and whether the QB
    threw to them or to the first read."""
    out = context.join(F.broadcast(reads_data), PLAY).withColumn(
        "expected_receiver",
        dynamic_lookup(
            {str(i + 1): F.col(t) for i, t in enumerate(TARGETS)},
            F.col("read_index").cast("string"),
        ),
    )
    return out.withColumn(
        "is_expected_receiver",
        F.when(
            F.col("targeted_receiver") == F.col("expected_receiver"), 1
        ).otherwise(0),
    ).withColumn(
        "threw_to_first",
        F.when(F.col("targeted_receiver") == F.col("firstTarget"), 1).otherwise(0),
    )


def play_reads(
    tracking: DataFrame,
    plays: DataFrame,
    player_play: DataFrame,
    players: DataFrame,
    dropback_timing: DataFrame,
    reads_data: DataFrame,
) -> DataFrame:
    """Play-level read assignment: which read window the throw fell in,
    who the expected receiver was, whether the QB hit them."""
    return with_targets(
        play_context(tracking, plays, player_play, players, dropback_timing),
        reads_data,
    )


def press_data(play_reads_df: DataFrame, min_snaps: int = 1) -> DataFrame:
    """Per-QB PRESS table (`QBReadStats.R:263`): rates + z-normalized
    composite. Global normalization uses a single-row broadcastable
    aggregate, not a collect."""
    per_qb = play_reads_df.groupBy("nflId", "qb").agg(
        (F.sum("is_expected_receiver") / F.count("*")).alias(
            "effective_read_percentage"
        ),
        (F.sum("stuck_to_first") / F.count("*")).alias("stuck_to_pre_rate"),
        (F.sum("threw_to_first") / F.count("*")).alias("throw_to_pre_rate"),
        F.count("*").alias("snaps"),
    )
    stats = per_qb.agg(
        F.avg("effective_read_percentage").alias("mu_eff"),
        F.coalesce(F.stddev_samp("effective_read_percentage"), F.lit(1.0)).alias(
            "sd_eff"
        ),
        F.avg("throw_to_pre_rate").alias("mu_pre"),
        F.coalesce(F.stddev_samp("throw_to_pre_rate"), F.lit(1.0)).alias("sd_pre"),
    )
    out = per_qb.crossJoin(F.broadcast(stats)).withColumn(
        "PRESS",
        (F.col("effective_read_percentage") - F.col("mu_eff"))
        / F.when(F.col("sd_eff") == 0, 1.0).otherwise(F.col("sd_eff"))
        - (F.col("throw_to_pre_rate") - F.col("mu_pre"))
        / F.when(F.col("sd_pre") == 0, 1.0).otherwise(F.col("sd_pre")),
    )
    out = out.withColumn(
        "qualified_press",
        F.when(F.col("snaps") >= min_snaps, F.col("PRESS")),
    )
    return out.select(
        "nflId", "qb", "effective_read_percentage", "stuck_to_pre_rate",
        "throw_to_pre_rate", "snaps", "PRESS", "qualified_press",
    )


def top_press(press: DataFrame, k: int = 10) -> DataFrame:
    """O2: `arrange(desc(qualified_press)) %>% slice(1:10)`
    (`QBReadStats.R:230-247`)."""
    return top_k(
        press.filter(F.col("qualified_press").isNotNull()),
        [F.col("qualified_press").desc(), F.col("nflId").asc()],
        k,
    )


def qb_route_entropy(
    play_reads_df: DataFrame, player_play: DataFrame
) -> DataFrame:
    """A11: entropy of the targeted-route distribution per QB
    (`QBReadStats.R:330-341`)."""
    routes = player_play.filter(F.col("wasTargettedReceiver")).select(
        *PLAY, "routeRan"
    )
    j = play_reads_df.select(*PLAY, "qb").join(routes, PLAY)
    return entropy(j, ["qb"], "routeRan", "route_entropy")
