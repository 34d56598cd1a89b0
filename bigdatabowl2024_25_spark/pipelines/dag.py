"""The full five-stage DAG with materialized parquet stage tables.

The reference links its scripts through SQLite tables — each stage
persists its output and the next stage reads it back
(`Openness_Data_Frame_Prep.R:101` → `radius_model.R:201-203` →
`BuildingReadOrder.R:8-11` → `QBReadStats.R:20-42`). This runner keeps
that materialized-pipeline architecture (stage tables are
checkpoints: the radius stage costs hours at full scale and must be
restartable), swapping SQLite for partitioned parquet.

Stage tables are partitioned by gameId — at 100 TB the frame-level
tables are play-local, so downstream per-play windows and joins read
only the partitions they touch, and a failed downstream stage restarts
without recomputing the kernel stage.

Dependency graph (`t` = the input tables):

    t → cleaned_player_data → radius_data → reads_data ─┬→ press_data
                                          → seconds_data │
    t → dropback_timing ────────────────────────────────┘
    t → matchups

Independent branches run at the same time through
`concurrency.build_concurrently`: the radius chain (whose reads_data
and seconds_data writes overlap each other), dropback_timing and
matchups. press_data runs once all three have finished. A stage write
is a job of a few small tasks, so run one after another they leave
most cores idle; run side by side, the short branches fill the cores
the radius chain's tail does not use. Each stage's own plan, table,
path and partitioning are unchanged.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from ..concurrency import build_concurrently
from ..sources.io import write_table
from . import matchup, openness_prep, qb_stats, radius_stage, read_order


def run_dag(
    spark: SparkSession,
    tables: dict[str, DataFrame],
    out_dir: str,
    density: float = 100.0,
) -> dict[str, DataFrame]:
    """Execute clean → openness-prep → radius → read-order → qb-stats
    (+ matchups), materializing every stage table under `out_dir` and
    reading it back before the next stage consumes it.

    `tables` needs: tracking, plays, players, player_play.
    Returns the stage DataFrames (read back from parquet).
    """
    t, plays = tables["tracking"], tables["plays"]
    players, player_play = tables["players"], tables["player_play"]

    def stage(name: str, df: DataFrame, partition_by=("gameId",)) -> DataFrame:
        write_table(df, f"{out_dir}/{name}", partition_by=list(partition_by))
        return spark.read.parquet(f"{out_dir}/{name}")

    def radius_chain() -> dict[str, DataFrame]:
        cpd = stage(
            "cleaned_player_data",
            openness_prep.build_cleaned_player_data(
                t, plays, players, player_play
            ),
        )
        radius = stage(
            "radius_data", radius_stage.build_radius_data(cpd, density=density)
        )
        return {
            "cleaned_player_data": cpd,
            "radius_data": radius,
            **build_concurrently({
                "reads_data": lambda: stage(
                    "reads_data", read_order.reads_data(radius)
                ),
                "seconds_data": lambda: stage(
                    "seconds_data", read_order.seconds_data(radius)
                ),
            }),
        }

    built = build_concurrently({
        "radius": radius_chain,
        "dropback_timing": lambda: stage(
            "dropback_timing", read_order.dropback_timing(t, plays, players)
        ),
        "matchups": lambda: stage(
            "matchups",
            matchup.matchup_counts(matchup.route_trees(t, plays, player_play)),
            partition_by=(),
        ),
    })
    out = {**built["radius"], "dropback_timing": built["dropback_timing"]}
    reads = qb_stats.play_reads(
        t, plays, player_play, players, out["dropback_timing"], out["reads_data"]
    )
    out["press_data"] = stage(
        "press_data", qb_stats.press_data(reads), partition_by=()
    )
    out["matchups"] = built["matchups"]
    return out
