"""Window operators (SURVEY.md §2.5, W1-W12).

The reference's signature pattern: partition by (gameId, playId)
[± nflId], order by frameId. All grouped-mutate dplyr idioms and the
notebooks' per-group Python loops become window expressions — one
shuffle per distinct partitioning, no driver-side iteration.

Scale: windows partitioned by play are massively parallel (16k plays →
16k independent groups); the orderBy inside a window sorts within
groups only. Chains of windows over the same partitioning reuse the
same exchange (Catalyst ReuseExchange), so the idiomatic cost is ONE
shuffle per stage.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F


def dense_rank_id(
    df: DataFrame, partition: list[str], order_by: list[Column | str], out: str
) -> DataFrame:
    """W1: `mutate(secondId = dense_rank(frameId) - 1)` per play
    (`radius_model.R:257-261`)."""
    w = Window.partitionBy(*partition).orderBy(*order_by)
    # long, not int: DuckDB/ANSI rank functions are BIGINT, and parity
    # hashing is cleanest when both sides agree on width
    return df.withColumn(out, (F.dense_rank().over(w) - 1).cast("long"))


def running_sum(
    df: DataFrame,
    partition: list[str],
    order_by: list[Column | str],
    value: Column | str,
    out: str,
) -> DataFrame:
    """W2: per-play cumulative distance (`BuildingReadOrder.R:88-94`).
    `order_by` must be a total order for float determinism."""
    w = (
        Window.partitionBy(*partition)
        .orderBy(*order_by)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    v = F.col(value) if isinstance(value, str) else value
    return df.withColumn(out, F.sum(v).over(w))


def first_crossing(
    df: DataFrame,
    partition: list[str],
    cond: Column,
    order_key: Column | str,
    out: str,
) -> DataFrame:
    """W3: first frame where cumulative distance ≥ dropbackDistance —
    `min(frameId[cumulative_distance >= dropbackDistance])`
    (`BuildingReadOrder.R:97-106`). Unbounded window min over a
    conditional key."""
    w = Window.partitionBy(*partition)
    k = F.col(order_key) if isinstance(order_key, str) else order_key
    return df.withColumn(out, F.min(F.when(cond, k)).over(w))


def group_min_offset(
    df: DataFrame, partition: list[str], value: Column | str, base: Column | str, out: str
) -> DataFrame:
    """W4: `adj_time = time_to_complete_dropback - min(frameId)` per play
    (`BuildingReadOrder.R:108-111`)."""
    w = Window.partitionBy(*partition)
    v = F.col(value) if isinstance(value, str) else value
    b = F.col(base) if isinstance(base, str) else base
    return df.withColumn(out, v - F.min(b).over(w))


def filter_to_group_min(
    df: DataFrame, partition: list[str], key: str
) -> DataFrame:
    """W5: `filter(frameId == min(frameId))` per play
    (`BuildingReadOrder.R:128-130`)."""
    w = Window.partitionBy(*partition)
    return (
        df.withColumn("__mn", F.min(key).over(w))
        .filter(F.col(key) == F.col("__mn"))
        .drop("__mn")
    )


def filter_to_group_extremes(
    df: DataFrame, partition: list[str], key: str
) -> DataFrame:
    """W6: `filter(y == min(y) | y == max(y))` per play → outside
    receivers (`BuildingReadOrder.R:133-137`)."""
    w = Window.partitionBy(*partition)
    return (
        df.withColumn("__mn", F.min(key).over(w))
        .withColumn("__mx", F.max(key).over(w))
        .filter((F.col(key) == F.col("__mn")) | (F.col(key) == F.col("__mx")))
        .drop("__mn", "__mx")
    )


def argmax_row(
    df: DataFrame, partition: list[str], order_by: list[Column]
) -> DataFrame:
    """W7/O3: per-group top-1 row with deterministic tie-break —
    `slice_max(open_count, n=1, with_ties=FALSE)` (`QBReadStats.R:182-184`,
    `BuildingReadOrder.R:141-146`). Callers append a unique key to
    `order_by`."""
    w = Window.partitionBy(*partition).orderBy(*order_by)
    return (
        df.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .drop("__rn")
    )


def row_number_by(
    df: DataFrame, partition: list[str], order_by: list[Column | str], out: str
) -> DataFrame:
    """W8/W9: a 1-based long row number per `partition`, in `order_by`
    order, as column `out`.

    W8 is read order via a conditional sort key —
    `arrange(..., if_else(firstSide=="R", -y, y))`
    (`BuildingReadOrder.R:151-157`); pass the conditional expression as
    an order_by Column. W9 is per-frame defender labels 1..11: the
    reference recycles physical row order (`def_data$defLabel <-
    rep(1:11)`, `Openness_Data_Frame_Prep.R:34-36`) — fragile; any
    stable per-frame labeling satisfies downstream use, so we label by
    an explicit key (nflId)."""
    w = Window.partitionBy(*partition).orderBy(*order_by)
    return df.withColumn(out, F.row_number().over(w).cast("long"))


def event_anchored_range(
    df: DataFrame,
    partition: list[str],
    event_col: str,
    event_value: str,
    frame_col: str,
    lo_offset: int,
    hi_offset: int,
) -> DataFrame:
    """W10: rows at frame offsets [lo,hi] after an event — ball
    positions `x+2..x+7` after `pass_forward`
    (`Openness_Data_Frame_Prep.R:70-74`). The reference indexes global
    row numbers; within-play frame offsets are the intended semantics."""
    w = Window.partitionBy(*partition)
    anchor = F.max(
        F.when(F.col(event_col) == event_value, F.col(frame_col))
    ).over(w)
    return df.withColumn("__evt", anchor).filter(
        F.col(frame_col).between(F.col("__evt") + lo_offset, F.col("__evt") + hi_offset)
    ).drop("__evt")


def event_time_window_filter(
    df: DataFrame,
    partition: list[str],
    ts_col: str,
    start_cond: Column,
    end_cond: Column,
    end_shift: Column | None = None,
) -> DataFrame:
    """W12: keep rows with line_set ≤ t ≤ ball_snap − 2s per play — the
    per-group Python loop of `DefPosModel.ipynb` cell 1
    (`get_play_time_window_events`) as a pure window expression: no
    loop, no driver round-trips, one shuffle."""
    w = Window.partitionBy(*partition)
    ts = F.col(ts_col)
    start = F.max(F.when(start_cond, ts)).over(w)
    end = F.max(F.when(end_cond, ts)).over(w)
    if end_shift is not None:
        end = end + end_shift
    return (
        df.withColumn("__t0", start)
        .withColumn("__t1", end)
        .filter(ts.between(F.col("__t0"), F.col("__t1")))
        .drop("__t0", "__t1")
    )


def sessionize(
    df: DataFrame,
    partition: list[str],
    ts_col: str,
    gap: int,
    order_by: list[Column | str] | None = None,
    out: str = "session_id",
) -> DataFrame:
    """Batch sessionization: consecutive rows of a key belong to the
    same session until a gap > `gap` (ts units); session ids are
    0-based per key in time order. lag → boundary flag → running sum:
    two window passes over ONE partitioning (a single shuffle), the
    batch twin of streaming/replay.session_slices (same gap semantics
    as `session_window`), and the generalized form of the reference's
    line_set→ball_snap play slicing (W12). `order_by` (default
    [ts_col]) should extend ts with a unique tiebreak for a total
    order; the gap itself always compares `ts_col` (equal-ts rows are
    gap 0 → same session under any tie order)."""
    order = list(order_by) if order_by is not None else [ts_col]
    w = Window.partitionBy(*partition).orderBy(*order)
    prev = F.lag(ts_col).over(w)
    boundary = F.when(
        prev.isNull() | ((F.col(ts_col) - prev) > gap), 1
    ).otherwise(0)
    run = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    return df.withColumn(out, F.sum(boundary).over(run) - 1)


def rolling_anomaly(
    df: DataFrame,
    value_col: str,
    partition: list[str],
    order_by: list[Column | str],
    n: int,
    t_num: int = 2,
    t_den: int = 1,
    scale: int = 1_000_000,
    out: str = "is_anomaly",
) -> DataFrame:
    """Trailing-window z-score anomaly flag — the time-series outlier
    detector every metrics pipeline runs: a row is anomalous when its
    value deviates from the mean of its key's previous `n` rows by
    more than t = t_num/t_den population standard deviations.

    INTEGER-EXACT: float mean/stddev drift across engines in the last
    ulp, so the rule is evaluated in quantized micro-units with the
    comparison cross-multiplied to clear every division —
        |x − μ| > t·σ   ⟺   (q·c − S)²·t_den² > t_num²·c·(c·SS − S²)
    with q = floor(value·scale), S = Σq, SS = Σq² over the trailing
    window and c its row count. All terms are decimal(38,0): exact,
    associative, bit-identical on any engine (the q38/q92
    scaled-integer discipline). Rows with fewer than `n` trailing
    values (series head) or a NULL value are never flagged.

    Cost: ONE shuffle on `partition` — the stats, count, and flag all
    ride a single window frame (ROWS n PRECEDING .. 1 PRECEDING), so
    the operator adds no exchange beyond the keyed sort any rolling
    statistic needs; skew is bounded by the streaming frame, state is
    O(n) per open window.

    Overflow is an ERROR, not a silent miss (round-10 ADVICE fix):
    the decimal(38,0) products lhs²·t_den² and t_num²·c·(c·SS − S²)
    overflow to NULL past |q| ≈ 1e19, and coalescing that NULL to
    False would report "not anomalous" for exactly the wildest
    values. Every row's |q| is therefore asserted ≤ the largest bound
    that provably cannot overflow either side (|lhs| ≤ 2nQ and
    c·(c·SS − S²) ≤ n³Q², both within 10³⁸−1), so a too-large value
    fails the job loudly — lower `scale` or pre-clip to proceed."""
    from math import isqrt

    w = (
        Window.partitionBy(*partition)
        .orderBy(*order_by)
        .rowsBetween(-n, -1)
    )
    q = F.floor(F.col(value_col) * F.lit(float(scale))).cast(
        "decimal(20,0)"
    )
    worst = max(4 * n * n * t_den * t_den, t_num * t_num * n * n * n)
    q_bound = isqrt((10**38 - 1) // worst)
    bad = q.isNotNull() & (F.abs(q) > F.lit(q_bound).cast("decimal(20,0)"))
    df = df.filter(
        F.when(
            bad,
            F.raise_error(
                F.concat(
                    F.lit(
                        "rolling_anomaly: |value*scale| exceeds the "
                        f"overflow-safe bound {q_bound} (value "
                    ),
                    F.col(value_col).cast("string"),
                    F.lit(f", scale {scale}); lower scale or pre-clip"),
                )
            ).cast("boolean"),
        ).otherwise(F.lit(True))
    )
    s = F.sum(q).over(w)
    ss = F.sum((q * q).cast("decimal(38,0)")).over(w)
    c = F.count(q).over(w)
    cd = c.cast("decimal(20,0)")
    lhs = (q * cd - s).cast("decimal(38,0)")
    flag = (c == F.lit(n)) & (
        (lhs * lhs) * F.lit(t_den * t_den)
        > F.lit(t_num * t_num) * cd * (cd * ss - s * s)
    )
    return df.withColumn(out, F.coalesce(flag, F.lit(False)))


def cusum_flags(
    df: DataFrame,
    value_col: str,
    partition: list[str],
    order_by: list[Column | str],
    k_scaled: int,
    h_scaled: int,
    scale: int = 1_000_000,
    out: str = "cusum_flag",
) -> DataFrame:
    """CUSUM drift / changepoint detection (Page 1954) — the
    level-shift complement of `rolling_anomaly` (which catches point
    spikes but adapts to, and thus misses, a persistent mean shift):
    a row is flagged when the one-sided cumulative sum of deviations
    from the reference level exceeds the decision threshold,

        S⁺_t = max(0, S⁺_{t−1} + (q_t − k))   >  h    (upward)
        S⁻_t = max(0, S⁻_{t−1} − (q_t − k))   >  h    (downward)

    with q = floor(value·scale) and k = `k_scaled`, h = `h_scaled`
    both in the same micro-units (k: reference mean + allowance;
    h: decision interval).

    The recursion LOOKS inherently sequential, but the classic
    identity S⁺_t = P_t − min_{j≤t} P_j (P = prefix sum of
    deviations; and S⁻_t = max_{j≤t} P_j − P_t) turns it into two
    frames on ONE sorted window — a running sum and a running
    min/max — so the operator costs a single shuffle on `partition`
    and stays whole-stage-codegen, bit-exact on any engine (all
    int64/decimal arithmetic; the oracle replays the same windows in
    HUGEINT). Appends `out` ('up'/'down'/NULL): which side tripped
    (up wins if both). NULL values contribute ZERO deviation (the
    series just pauses) and are never flagged themselves."""
    q = F.floor(F.col(value_col) * F.lit(float(scale))).cast(
        "decimal(38,0)"
    )
    d = F.coalesce(q - F.lit(k_scaled).cast("decimal(38,0)"),
                   F.lit(0).cast("decimal(38,0)"))
    w = (
        Window.partitionBy(*partition)
        .orderBy(*order_by)
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    # two projections: Spark forbids nesting a window fn inside
    # another window fn's argument
    staged = df.withColumn("__cs_q", q).withColumn(
        "__cs_p", F.sum(d).over(w)
    )
    zero = F.lit(0).cast("decimal(38,0)")
    # the empty prefix P_0 = 0 participates in the extrema (S starts
    # at 0), hence the least/greatest against zero
    s_up = F.col("__cs_p") - F.least(
        zero, F.min("__cs_p").over(w)
    )
    s_dn = F.greatest(zero, F.max("__cs_p").over(w)) - F.col("__cs_p")
    h = F.lit(h_scaled).cast("decimal(38,0)")
    return staged.withColumn(
        out,
        F.when(F.col("__cs_q").isNull(), F.lit(None).cast("string"))
        .when(s_up > h, F.lit("up"))
        .when(s_dn > h, F.lit("down")),
    ).drop("__cs_q", "__cs_p")
