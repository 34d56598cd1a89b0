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
    t → dropback_timing ⇢ play_context (cut) ────────────┘
    t → matchups

(⇢: a cut, not a stage table; released once press_data is written.)

Independent branches run at the same time through
`concurrency.build_concurrently`: the radius chain (whose reads_data
and seconds_data writes overlap each other), the dropback branch and
matchups. A stage write is a job of a few small tasks, so run one after
another they leave most cores idle; run side by side, the short
branches fill the cores the radius chain's tail does not use.

The radius chain is the critical path, and its kernel stage the
longest link. So every part of press_data that does not need
reads_data runs off it: the dropback branch reads dropback_timing back
and cuts `qb_stats.play_context` over it (the read frames, throw
frames, read index, targeted receiver and QB) while cleaned_player_data
and the kernel run. Once all three branches are done, press_data only
joins that cut to reads_data and aggregates. The cut lives in a
`BoundaryCaches` scope that releases it after press_data is written,
or when a branch raises.

Each stage is read back with the schema it was written with (data
columns, then the partition columns, as Spark lays out a partitioned
table), so a read-back runs no schema-inference job. Each stage's own
plan, table, path and partitioning are unchanged.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StructType

from ..boundary import BoundaryCaches
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
        fields = [f for f in df.schema if f.name not in partition_by]
        fields += [df.schema[c] for c in partition_by]
        return spark.read.schema(StructType(fields)).parquet(f"{out_dir}/{name}")

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

    with BoundaryCaches() as caches:

        def dropback() -> tuple[DataFrame, DataFrame]:
            timing = stage(
                "dropback_timing", read_order.dropback_timing(t, plays, players)
            )
            context = qb_stats.play_context(t, plays, player_play, players, timing)
            # the one builder that adds to the scope
            return timing, caches.cut(context)

        built = build_concurrently({
            "radius": radius_chain,
            "dropback": dropback,
            "matchups": lambda: stage(
                "matchups",
                matchup.matchup_counts(matchup.route_trees(t, plays, player_play)),
                partition_by=(),
            ),
        })
        timing, context = built["dropback"]
        out = {**built["radius"], "dropback_timing": timing}
        reads = qb_stats.with_targets(context, out["reads_data"])
        out["press_data"] = stage(
            "press_data", qb_stats.press_data(reads), partition_by=()
        )
    out["matchups"] = built["matchups"]
    return out
