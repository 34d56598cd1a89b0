"""Stage 3 — radius_model.R: score openness per route-runner frame and
aggregate by route × coverage × second.

The reference's chunked process pool (50k rows, cores−1 workers,
`radius_model.R:210-255`, X3) disappears: `score_openness` is a
mapInPandas operator over one partition per core (see Scale). The
windowed dense_rank (`:257-261`, W1) and group mean (`:265-268`, A1)
run as ordinary window/agg over the scored output.

Scale: the kernel is embarrassingly parallel, and its input is tiny in
bytes but heavy in Python compute (a Monte-Carlo draw per row). AQE
sizes partitions by bytes, so it coalesces a keyed
`repartition(cols)` exchange of a sub-MB input into ONE task and the
kernel runs on one core. The kernel input is therefore repartitioned to
an explicit count — the context's default parallelism, one task per
core (`local[N]`'s N; not `spark.sql.shuffle.partitions`, which a plain
session leaves at 200 near-empty Python tasks) — and AQE never coalesces a
shuffle whose partition count the plan states. The hash key is the
full row identity, which spreads rows more evenly than the few
(gameId, playId) keys of a small batch; the output does not depend on
the layout, because the kernel seeds each row from its identity.
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions.kernels import score_openness, wide_to_defender_array
from ..operators.aggregates import group_median
from ..operators.windows import dense_rank_id


def build_radius_data(
    cleaned_player_data: DataFrame, density: float = 100.0
) -> DataFrame:
    """`radius_data` (`radius_model.R:270`): cleaned_player_data +
    open_count + secondId."""
    cpd = wide_to_defender_array(cleaned_player_data)
    kernel_in = cpd.select(
        "gameId", "playId", "nflId", "frameId", "s", "dir", "x", "y",
        F.coalesce(F.col("throw_speed"), F.lit(18.0)).alias("ball_speed"),
        F.coalesce(F.col("fx"), F.col("x")).alias("fx"),
        F.coalesce(F.col("fy"), F.col("y")).alias("fy"),
        "defenders",
    ).repartition(
        cleaned_player_data.sparkSession.sparkContext.defaultParallelism,
        "gameId", "playId", "nflId", "frameId",
    )
    scored = score_openness(kernel_in, density=density)
    out = cleaned_player_data.join(
        scored, ["gameId", "playId", "nflId", "frameId"], "inner"
    )
    return dense_rank_id(out, ["gameId", "playId"], ["frameId"], "secondId")


def build_radius_data_closed_form(cleaned_player_data: DataFrame) -> DataFrame:
    """Kernel-free `radius_data` variant: the toward-ball X1 boundary in
    closed form, field-clamped, entirely in codegen SQL (zero Python) —
    so the whole five-stage DAG becomes oracle-checkable end to end.

    Along the heading toward the ball, the Apollonius boundary
    (`radius_model.R:47-54`) collapses to `r = s·|w| / (s + bs)` (the
    classic interception-point fraction; u·w = −|w| in the quadratic of
    `functions/kernels.py:50`). The interception point is then clamped
    to the field polygon — the `killer_plot_function.R:58-70` variant —
    and `open_count` is the number of wide-pivot defenders strictly
    farther from the runner than the clamped radius.

    Uses the same wide→array adapter as the MC kernel, so a pivot or
    adapter regression in cleaned_player_data corrupts open_count and
    fails the oracle hash. All math is IEEE exact-rounded ops
    (+,−,×,÷,sqrt, comparisons): bit-identical across engines."""
    cpd = wide_to_defender_array(cleaned_player_data)
    s = F.col("s")
    bs = F.coalesce(F.col("throw_speed"), F.lit(18.0))
    fx = F.coalesce(F.col("fx"), F.col("x"))
    fy = F.coalesce(F.col("fy"), F.col("y"))
    wx, wy = fx - F.col("x"), fy - F.col("y")
    wd = F.sqrt(wx * wx + wy * wy)
    r_cap = F.lit(math.hypot(120.0, 53.3))
    fr = F.when(bs <= s, r_cap).otherwise(s * wd / (s + bs))
    # interception point, clamped to the field (0..120 × 0..53.3)
    ix = F.when(wd == 0.0, F.col("x")).otherwise(F.col("x") + fr * (wx / wd))
    iy = F.when(wd == 0.0, F.col("y")).otherwise(F.col("y") + fr * (wy / wd))
    cx = F.least(F.greatest(ix, F.lit(0.0)), F.lit(120.0))
    cy = F.least(F.greatest(iy, F.lit(0.0)), F.lit(53.3))
    fr_clamped = F.sqrt(
        (cx - F.col("x")) * (cx - F.col("x"))
        + (cy - F.col("y")) * (cy - F.col("y"))
    )
    x0, y0 = F.col("x"), F.col("y")
    out = cpd.withColumn("free_radius", fr_clamped).withColumn(
        "open_count",
        F.size(
            F.filter(
                F.col("defenders"),
                lambda d: F.sqrt(
                    (d["x"] - x0) * (d["x"] - x0) + (d["y"] - y0) * (d["y"] - y0)
                )
                > F.col("free_radius"),
            )
        ).cast("double"),
    )
    return dense_rank_id(
        out.drop("defenders"), ["gameId", "playId"], ["frameId"], "secondId"
    )


def openness_by_route(radius_data: DataFrame) -> DataFrame:
    """`group_by(routeRan, coverage, secondId) %>%
    summarise(mean(open_count, na.rm=T))` (`radius_model.R:265-268`,
    A1 — Spark avg skips nulls natively)."""
    return radius_data.groupBy(
        "routeRan", "pff_defensiveCoverageAssignment", "secondId"
    ).agg(F.avg("open_count").alias("avg_openness"))
