"""Parity queries: window operators (SURVEY.md §2.5, W1-W12).

The reference's signature pattern — partition by (gameId, playId),
order by frameId — maps here to partition by user_id, order by event
time. `events.ts` exits only as epoch micros (`ts_us`), never as a raw
timestamp; all orderings are made total with the unique event_id so
window results are deterministic under any partitioning.

Consolidation note (round 2): the driver records at most 50 parity
queries, so the one-operator-per-query layout of round 1 is folded
into multi-operator queries. Every Wn operator keeps its own column
(or join branch) inside a merged query; COVERAGE.md maps operators to
the query+column exercising them. Merging W1/W2/W4/W8/+sessionize into
one select is also the better scale shape: five round-1 queries each
shuffled events on user_id once; the merged query computes all five
window families off a SINGLE exchange (plan-pinned in test_plans.py).

Float note: running sums go through decimal casts (see stable.py) —
DuckDB evaluates window sums with a segment tree whose association
order differs from Spark's running fold, so double sums would drift.
"""

from __future__ import annotations

from pyspark.sql import Window
from pyspark.sql import functions as F

from ..operators.windows import (
    argmax_row,
    dense_rank_id,
    event_anchored_range,
    event_time_window_filter,
    filter_to_group_extremes,
    rolling_anomaly,
    filter_to_group_min,
    group_min_offset,
    row_number_by,
    sessionize,
)
from ..sources.io import load_table
from .registry import query

DEC = "decimal(25,6)"


def _events(spark, sf_dir):
    return load_table(spark, sf_dir, "events")


@query(
    "q20_event_windows",
    oracle=f"""
    WITH g AS (
        SELECT user_id, event_id, epoch_us(ts) AS ts_us, value,
               CASE WHEN lag(epoch_us(ts)) OVER
                        (PARTITION BY user_id ORDER BY epoch_us(ts),
                         event_id) IS NULL
                      OR epoch_us(ts) - lag(epoch_us(ts)) OVER
                        (PARTITION BY user_id ORDER BY epoch_us(ts),
                         event_id) > 1800000000
                    THEN 1 ELSE 0 END AS b
        FROM events
    )
    SELECT event_id, user_id,
           DENSE_RANK() OVER (PARTITION BY user_id ORDER BY ts_us) - 1
             AS second_id,
           CAST(SUM(CAST(value AS {DEC})) OVER (
               PARTITION BY user_id ORDER BY ts_us, event_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
           ) AS DOUBLE) AS cum_value,
           ts_us - MIN(ts_us) OVER (PARTITION BY user_id) AS adj_time_us,
           ROW_NUMBER() OVER (PARTITION BY user_id
               ORDER BY CASE WHEN user_id % 2 = 0 THEN -value ELSE value END,
                        event_id) AS read_order,
           CAST(SUM(b) OVER (PARTITION BY user_id ORDER BY ts_us, event_id
                             ROWS UNBOUNDED PRECEDING) - 1 AS BIGINT)
               AS session_id
    FROM g
    """,
)
def q20_event_windows(spark, sf_dir):
    """W1 dense_rank secondId (`radius_model.R:257-261`), W2 running
    sum (`BuildingReadOrder.R:88-94`), W4 group-min offset
    (`BuildingReadOrder.R:108-111`), W8 conditional-sort-key
    row_number (`BuildingReadOrder.R:151-157`), and gap
    sessionization — all per-user windows computed off ONE exchange on
    user_id (different orderings re-sort within the partition; they
    never re-shuffle). The round-1 versions were five separate queries
    scanning and shuffling events five times."""
    e = _events(spark, sf_dir)
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts_us", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    base = dense_rank_id(e, ["user_id"], ["ts_us"], "second_id")
    base = base.withColumn(
        "cum_value",
        F.sum(F.col("value").cast(DEC)).over(w).cast("double"),
    )
    base = group_min_offset(base, ["user_id"], "ts_us", "ts_us", "adj_time_us")
    key = F.when(F.col("user_id") % 2 == 0, -F.col("value")).otherwise(
        F.col("value")
    )
    base = row_number_by(
        base, ["user_id"], [key, F.col("event_id")], "read_order"
    )
    base = sessionize(
        base,
        ["user_id"],
        "ts_us",
        gap=1_800_000_000,
        order_by=["ts_us", "event_id"],
    )
    return base.select(
        "event_id",
        "user_id",
        "second_id",
        "cum_value",
        "adj_time_us",
        "read_order",
        "session_id",
    )


@query(
    "q22_user_read_profile",
    oracle=f"""
    WITH cum AS (
        SELECT user_id, epoch_us(ts) AS ts_us,
               CAST(SUM(CAST(value AS {DEC})) OVER (
                   PARTITION BY user_id ORDER BY epoch_us(ts), event_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
               ) AS DOUBLE) AS cum_value
        FROM events
    ),
    reads AS (
        SELECT user_id,
               MIN(CASE WHEN cum_value >= 1000.0 THEN ts_us END)
                 AS first_read_us,
               MIN(CASE WHEN cum_value >= 1000.0 THEN ts_us END) + 5000000
                 AS second_read_us,
               MIN(CASE WHEN cum_value >= 1000.0 THEN ts_us END) + 20000000
                 AS fifth_read_us
        FROM cum GROUP BY user_id
    ),
    first_evt AS (
        SELECT user_id, event_id AS first_event_id,
               event_type AS first_event_type FROM (
            SELECT user_id, event_id, event_type,
                   epoch_us(ts) AS t,
                   MIN(epoch_us(ts)) OVER (PARTITION BY user_id) AS mn
            FROM events
        ) WHERE t = mn
    ),
    top_evt AS (
        SELECT user_id, event_id AS top_event_id, value AS top_value FROM (
            SELECT user_id, event_id, value,
                   ROW_NUMBER() OVER (PARTITION BY user_id
                       ORDER BY value DESC, event_id ASC) AS rn
            FROM events
        ) WHERE rn = 1
    ),
    extremes AS (
        SELECT user_id, event_id AS extreme_event_id, value AS extreme_value,
               CASE WHEN value = mn THEN 'L' ELSE 'R' END AS side
        FROM (
            SELECT event_id, user_id, value,
                   MIN(value) OVER (PARTITION BY user_id) AS mn,
                   MAX(value) OVER (PARTITION BY user_id) AS mx
            FROM events
        ) WHERE value = mn OR value = mx
    )
    SELECT r.user_id, r.first_read_us, r.second_read_us, r.fifth_read_us,
           f.first_event_id, f.first_event_type,
           t.top_event_id, t.top_value,
           x.extreme_event_id, x.extreme_value, x.side
    FROM reads r
    JOIN first_evt f ON f.user_id = r.user_id
    JOIN top_evt t ON t.user_id = r.user_id
    JOIN extremes x ON x.user_id = r.user_id
    """,
)
def q22_user_read_profile(spark, sf_dir):
    """Per-user read profile merging four round-1 queries: W3
    first-crossing + W11 fixed read cadence
    (`BuildingReadOrder.R:97-106,116-122`), W5 filter-to-group-min snap
    frame (`BuildingReadOrder.R:128-130`), W7/O3 deterministic argmax
    (`QBReadStats.R:182-184`), W6 filter-to-group-extremes + side label
    (`BuildingReadOrder.R:133-137`). All four branches shuffle on
    user_id once and join on it — no extra exchange families."""
    e = _events(spark, sf_dir)
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts_us", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    cum = e.select(
        "user_id",
        "ts_us",
        F.sum(F.col("value").cast(DEC)).over(w).cast("double").alias("cum_value"),
    )
    first = F.min(F.when(F.col("cum_value") >= 1000.0, F.col("ts_us")))
    reads = cum.groupBy("user_id").agg(
        first.alias("first_read_us"),
        (first + 5_000_000).alias("second_read_us"),
        (first + 20_000_000).alias("fifth_read_us"),
    )
    first_evt = filter_to_group_min(e, ["user_id"], "ts_us").select(
        "user_id",
        F.col("event_id").alias("first_event_id"),
        F.col("event_type").alias("first_event_type"),
    )
    top_evt = argmax_row(
        e, ["user_id"], [F.col("value").desc(), F.col("event_id").asc()]
    ).select(
        "user_id",
        F.col("event_id").alias("top_event_id"),
        F.col("value").alias("top_value"),
    )
    wu = Window.partitionBy("user_id")
    extremes = (
        filter_to_group_extremes(e, ["user_id"], "value")
        .withColumn(
            "side",
            F.when(F.col("value") == F.min("value").over(wu), "L").otherwise("R"),
        )
        .select(
            "user_id",
            F.col("event_id").alias("extreme_event_id"),
            F.col("value").alias("extreme_value"),
            "side",
        )
    )
    return (
        reads.join(first_evt, ["user_id"])
        .join(top_evt, ["user_id"])
        .join(extremes, ["user_id"])
    )


@query(
    "q28_daily_label",
    oracle="""
    SELECT event_id,
           ROW_NUMBER() OVER (
               PARTITION BY user_id, epoch_us(ts) // 86400000000
               ORDER BY epoch_us(ts), event_id) AS label
    FROM events
    """,
)
def q28_daily_label(spark, sf_dir):
    """W9: stable positional labeling — the reference recycles physical
    row order for defender labels 1..11
    (`Openness_Data_Frame_Prep.R:34-36`); we label per (user, day) by
    an explicit key. Day boundary via integer epoch math: timezone-free.
    Kept separate from q20_event_windows because its partitioning is
    (user_id, day) — folding it in would force a second exchange into
    the single-shuffle plan."""
    e = _events(spark, sf_dir).withColumn(
        "day", F.expr("ts_us div 86400000000")
    )
    return row_number_by(
        e, ["user_id", "day"], ["ts_us", "event_id"], "label"
    ).select("event_id", "label")


@query(
    "q29_anchored_windows",
    oracle="""
    SELECT 'anchored' AS kind, event_id, user_id, event_type FROM (
        SELECT event_id, user_id, event_type, epoch_us(ts) AS t,
               MAX(CASE WHEN event_type = 'signup' THEN epoch_us(ts) END)
                   OVER (PARTITION BY user_id) AS anchor
        FROM events
    ) WHERE t BETWEEN anchor + 2000000 AND anchor + 7000000
    UNION ALL
    SELECT 'slice' AS kind, event_id, user_id, event_type FROM (
        SELECT event_id, user_id, event_type, epoch_us(ts) AS t,
               MAX(CASE WHEN event_type = 'signup' THEN epoch_us(ts) END)
                   OVER (PARTITION BY user_id) AS t0,
               MAX(CASE WHEN event_type = 'purchase' THEN epoch_us(ts) END)
                   OVER (PARTITION BY user_id) - 2000000 AS t1
        FROM events
    ) WHERE t BETWEEN t0 AND t1
    UNION ALL
    SELECT 'anomaly' AS kind, event_id, user_id, event_type FROM (
        SELECT event_id, user_id, event_type,
               CAST(FLOOR(value * 1000000.0) AS HUGEINT) AS q,
               SUM(CAST(FLOOR(value * 1000000.0) AS HUGEINT)) OVER w AS s,
               SUM(CAST(FLOOR(value * 1000000.0) AS HUGEINT)
                   * CAST(FLOOR(value * 1000000.0) AS HUGEINT)) OVER w
                 AS ss,
               COUNT(value) OVER w AS c
        FROM events
        WINDOW w AS (PARTITION BY user_id
                     ORDER BY epoch_us(ts), event_id
                     ROWS BETWEEN 10 PRECEDING AND 1 PRECEDING)
    ) WHERE c = 10
      AND (q*c - s)*(q*c - s)*1 > 4*c*(c*ss - s*s)
    UNION ALL
    SELECT 'cusum_' || flag AS kind, event_id, user_id, event_type FROM (
        SELECT event_id, user_id, event_type, q, p, tu,
               CASE WHEN q IS NULL THEN NULL
                    WHEN p - LEAST(CAST(0 AS HUGEINT),
                                   MIN(p) OVER cw2) > 200000000
                         THEN 'up'
                    WHEN GREATEST(CAST(0 AS HUGEINT),
                                  MAX(p) OVER cw2) - p > 200000000
                         THEN 'down'
               END AS flag
        FROM (
            SELECT event_id, user_id, event_type, epoch_us(ts) AS tu, q,
                   SUM(COALESCE(q - 50000000, 0)) OVER cw AS p
            FROM (SELECT event_id, user_id, event_type, ts,
                         CAST(FLOOR(value * 1000000.0) AS HUGEINT) AS q
                  FROM events)
            WINDOW cw AS (PARTITION BY user_id
                          ORDER BY epoch_us(ts), event_id
                          ROWS UNBOUNDED PRECEDING)
        )
        WINDOW cw2 AS (PARTITION BY user_id ORDER BY tu, event_id
                       ROWS UNBOUNDED PRECEDING)
    ) WHERE flag IS NOT NULL
    """,
)
def q29_anchored_windows(spark, sf_dir):
    """W10 event-anchored offsets — ball rows x+2..x+7 after
    `pass_forward` (`Openness_Data_Frame_Prep.R:70-74`) — unioned with
    W12, the line_set ≤ t ≤ ball_snap − 2 s per-play filter the
    reference runs as a per-group Python loop (`DefPosModel.ipynb`
    cell 1). Both are pure window expressions (zero driver
    round-trips); a `kind` tag keeps the branches distinguishable in
    the hash compare."""
    e = _events(spark, sf_dir)
    anchored = event_anchored_range(
        e,
        ["user_id"],
        event_col="event_type",
        event_value="signup",
        frame_col="ts_us",
        lo_offset=2_000_000,
        hi_offset=7_000_000,
    ).select(
        F.lit("anchored").alias("kind"), "event_id", "user_id", "event_type"
    )
    sliced = event_time_window_filter(
        e,
        ["user_id"],
        ts_col="ts_us",
        start_cond=F.col("event_type") == "signup",
        end_cond=F.col("event_type") == "purchase",
        end_shift=F.lit(-2_000_000),
    ).select(
        F.lit("slice").alias("kind"), "event_id", "user_id", "event_type"
    )
    # 'anomaly' (round 9): trailing-10 z-score outliers at t=2 over the
    # per-user value series (`windows.rolling_anomaly`) — membership of
    # the flagged set depends on the exact integer window stats, so the
    # hash compare pins the whole cross-multiplied rule. Separate
    # partitioning (user only, not user+signup anchor) rides the same
    # exchange as the other two branches.
    anomalies = (
        rolling_anomaly(
            e,
            "value",
            ["user_id"],
            ["ts_us", "event_id"],
            n=10,
            t_num=2,
        )
        .filter(F.col("is_anomaly"))
        .select(
            F.lit("anomaly").alias("kind"),
            "event_id",
            "user_id",
            "event_type",
        )
    )
    # 'cusum' (round 10): CUSUM drift flags (`windows.cusum_flags`,
    # Page 1954) over the same per-user value series — level-shift
    # detection beside the point-spike 'anomaly' rule; k = 50.0,
    # h = 200.0 in micro-units. Direction rides the kind tag
    # ('cusum_up'/'cusum_down'); the oracle replays the prefix-sum −
    # running-extrema identity in HUGEINT.
    from ..operators.windows import cusum_flags

    cus = (
        cusum_flags(
            e,
            "value",
            ["user_id"],
            ["ts_us", "event_id"],
            k_scaled=50_000_000,
            h_scaled=200_000_000,
        )
        .filter(F.col("cusum_flag").isNotNull())
        .select(
            F.concat(F.lit("cusum_"), F.col("cusum_flag")).alias("kind"),
            "event_id",
            "user_id",
            "event_type",
        )
    )
    return (
        anchored.unionByName(sliced)
        .unionByName(anomalies)
        .unionByName(cus)
    )
