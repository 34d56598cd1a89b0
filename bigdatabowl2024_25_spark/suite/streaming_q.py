"""Parity query: the Structured Streaming slice (SURVEY.md §2.10),
driver-verified.

q93 runs a REAL streaming job inside the query callable: the events
table is re-partitioned into multiple parquet files in a temp dir,
replayed through `readStream` (one file per micro-batch), aggregated
with the tumbling-window operator (`streaming/replay.py
tumbling_counts`, the secondId bucketing of `BuildingReadOrder.R:32-36`
as a streaming aggregate), and drained to completion with an
availableNow trigger into a memory sink. Complete-mode output over a
fully-drained stream equals the batch aggregate BY CONSTRUCTION
(count/decimal-sum are order-free), so the DuckDB oracle is the plain
batch SQL — which is exactly the stream==batch equivalence the local
pytest pins, now surfaced as a CORRECTNESS row instead of being
driver-invisible (round-4 VERDICT item 7).

Window starts are projected as epoch micros (`unix_micros` on the
window struct's LTZ bound), never raw timestamps, so the driver's
unknown session timezone cannot perturb the hash.
"""

from __future__ import annotations

import tempfile
import uuid
from contextlib import contextmanager

from pyspark.sql import functions as F

from ..boundary import BoundaryCaches, cut
from ..sources.io import load_table
from ..streaming.replay import (
    dedup_stream,
    session_slices,
    stateful_running_totals,
    stream_from_dir,
    stream_stream_join,
    streaming_anomaly,
    streaming_cusum,
    tumbling_counts,
)
from .registry import query
from .stable import DEC

#: tumbling width: 10 s of event time; session gap: 30 s — both
#: expressed in micros for the DuckDB side
_W_US = 10_000_000
_GAP_US = 30_000_000
#: stream-stream join lookback: views within 24 h before a click
_LOOKBACK_US = 86_400_000_000


@contextmanager
def _scoped_shuffle_partitions(spark, n: int):
    """Temporarily size `spark.sql.shuffle.partitions` to `n` for the
    streaming drains (restored in finally). Stateful Structured
    Streaming pins its state-store partitioning to this conf at query
    start and — unlike the batch side — has NO AQE to coalesce the
    empty partitions away, so a vanilla 200-partition session pays
    200 task launches per stateful stage per micro-batch of pure
    scheduler overhead on a fixture-sized stream. Sizing to the
    cluster's core count is exactly the sizing a real deployment
    uses; results are partition-count-invariant (pinned by the
    stream==batch oracle and the replay tests). Measured on q93 at
    sf0.01 in a vanilla local[16] session: 228 s -> 61 s (3.7x)."""
    conf = spark.conf
    prev = conf.get("spark.sql.shuffle.partitions")
    conf.set("spark.sql.shuffle.partitions", str(n))
    try:
        yield
    finally:
        conf.set("spark.sql.shuffle.partitions", prev)


def _drain(agg, prefix, mode="complete"):
    """Run a streaming query to completion (availableNow) into a
    memory sink and return its driver-resident table."""
    name = f"{prefix}_{uuid.uuid4().hex[:8]}"
    q = (
        agg.writeStream.format("memory")
        .queryName(name)
        .outputMode(mode)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    spark = agg.sparkSession
    out = spark.table(name)
    return out, q


#: the portable-HLL oracle CTEs are shared with q38 (same events
#: table, same register math) — the streaming branch must converge to
#: the identical registers/estimate
from .sketch_q import _HLL_CTES  # noqa: E402

# ---- 'corpus' branch: the daily-crawl streaming loop -----------------
# `pipelines.corpus.stream_prepare` replayed over two micro-batches
# (originals, then exact clones under shifted ids). The surviving
# CONTENT-KEY SET is batch-order-free — whichever era lands in batch 0,
# exactly one doc per distinct content survives across the union of
# d=<n> sink partitions — so the oracle re-derives the expected keys
# (profile filter on raw text, key on the redacted+normalized text)
# without depending on the file source's batch assignment. Winner
# identity and delta-state layout stay pytest-side
# (tests/test_corpus_pipeline.py), which ARE order-dependent.
from .dedup import _BT_CTES, _h64  # noqa: E402
from .text import _W_NE, _redact_sql  # noqa: E402

_CORP_MIN_TOK = 5
_CORP_MAX_DUP = 0.5
_CORP_DUP_FRAC = (
    f"CASE WHEN len({_W_NE}) > 0 THEN "
    f"1.0 - CAST(len(list_distinct({_W_NE})) AS DOUBLE) / len({_W_NE}) "
    f"ELSE 0.0 END"
)
_CORP_NORM_RED = (
    "trim(regexp_replace(regexp_replace(lower("
    + _redact_sql("text")
    + "), '[^a-z0-9 ]', '', 'g'), ' +', ' ', 'g'))"
)
_CORP_CTE = f"""
    corpus_keys AS (
        SELECT DISTINCT {_h64(_CORP_NORM_RED)} AS ck
        FROM documents
        WHERE len({_W_NE}) >= {_CORP_MIN_TOK}
          AND ({_CORP_DUP_FRAC}) <= {_CORP_MAX_DUP!r}
    )
"""


@query(
    "q93_streaming_windows",
    oracle=f"""
    WITH {_HLL_CTES},
    {_CORP_CTE},
    {_BT_CTES}
    SELECT 'tumbling' AS kind, user_id,
           (epoch_us(ts) // {_W_US}) * {_W_US} AS win_start_us,
           COUNT(*) AS n_events,
           CAST(SUM(CAST(value AS DECIMAL(25,6))) AS DOUBLE) AS sum_value
    FROM events
    GROUP BY 2, 3
    UNION ALL
    SELECT 'session' AS kind, user_id, MIN(tu) AS win_start_us,
           COUNT(*) AS n_events,
           CAST(SUM(CAST(v AS DECIMAL(25,6))) AS DOUBLE) AS sum_value
    FROM (
        SELECT user_id, tu, v,
               SUM(CASE WHEN prev IS NULL OR tu - prev > {_GAP_US}
                        THEN 1 ELSE 0 END)
                 OVER (PARTITION BY user_id ORDER BY tu, rid
                       ROWS UNBOUNDED PRECEDING) AS sid
        FROM (
            SELECT user_id, epoch_us(ts) AS tu, value AS v,
                   ROW_NUMBER() OVER () AS rid,
                   LAG(epoch_us(ts)) OVER (PARTITION BY user_id
                                           ORDER BY epoch_us(ts)) AS prev
            FROM events)
    ) GROUP BY user_id, sid
    UNION ALL
    SELECT 'stateful' AS kind, user_id,
           CAST(NULL AS BIGINT) AS win_start_us,
           COUNT(*) AS n_events, CAST(NULL AS DOUBLE) AS sum_value
    FROM events GROUP BY user_id
    UNION ALL
    SELECT 'dedup' AS kind, user_id,
           CAST(NULL AS BIGINT) AS win_start_us,
           COUNT(*) AS n_events,
           CAST(SUM(CAST(value AS DECIMAL(25,6))) AS DOUBLE) AS sum_value
    FROM events GROUP BY user_id
    UNION ALL
    SELECT 'join' AS kind, c.user_id,
           CAST(NULL AS BIGINT) AS win_start_us,
           COUNT(*) AS n_events,
           CAST(SUM(CAST(v.value AS DECIMAL(25,6))) AS DOUBLE) AS sum_value
    FROM events c JOIN events v
      ON c.user_id = v.user_id
     AND c.event_type = 'click' AND v.event_type = 'view'
     AND epoch_us(v.ts) BETWEEN epoch_us(c.ts) - {_LOOKBACK_US}
                            AND epoch_us(c.ts)
    GROUP BY c.user_id
    UNION ALL
    SELECT 'hll' AS kind, bucket AS user_id,
           CAST(NULL AS BIGINT) AS win_start_us,
           CAST(maxrho AS BIGINT) AS n_events,
           CAST(NULL AS DOUBLE) AS sum_value
    FROM hregs
    UNION ALL
    SELECT 'hll_est' AS kind, NULL, NULL, est_micro,
           CAST(n_empty AS DOUBLE)
    FROM hest
    UNION ALL
    SELECT 'corpus' AS kind, ck AS user_id,
           CAST(NULL AS BIGINT) AS win_start_us,
           CAST(1 AS BIGINT) AS n_events,
           CAST(NULL AS DOUBLE) AS sum_value
    FROM corpus_keys
    UNION ALL
    SELECT 'batch' AS kind, k.ck AS user_id, f.doc_id AS win_start_us,
           CAST(1 AS BIGINT) AS n_events, CAST(NULL AS DOUBLE) AS sum_value
    FROM btfin1 f JOIN btd1k k ON k.doc_id = f.doc_id
    UNION ALL
    SELECT 'batch' AS kind, k.ck AS user_id, f.doc_id AS win_start_us,
           CAST(2 AS BIGINT) AS n_events, CAST(NULL AS DOUBLE) AS sum_value
    FROM btfin2 f JOIN btd2k k ON k.doc_id = f.doc_id
    UNION ALL
    SELECT 'anomaly' AS kind, user_id, tu AS win_start_us,
           CAST(CASE WHEN c = 5
                     AND (q*c - s)*(q*c - s) > 4*c*(c*ss - s*s)
                THEN 1 ELSE 0 END AS BIGINT) AS n_events,
           v AS sum_value
    FROM (
        SELECT user_id, tu, v,
               CAST(FLOOR(v * 1000000.0) AS HUGEINT) AS q,
               SUM(CAST(FLOOR(v * 1000000.0) AS HUGEINT)) OVER aw AS s,
               SUM(CAST(FLOOR(v * 1000000.0) AS HUGEINT)
                   * CAST(FLOOR(v * 1000000.0) AS HUGEINT)) OVER aw AS ss,
               COUNT(v) OVER aw AS c
        FROM (SELECT user_id, epoch_us(ts) AS tu, MIN(value) AS v
              FROM events GROUP BY 1, 2)
        WINDOW aw AS (PARTITION BY user_id ORDER BY tu
                      ROWS BETWEEN 5 PRECEDING AND 1 PRECEDING)
    )
    UNION ALL
    SELECT kind, user_id, win_start_us, n_events, sum_value
    FROM (
        -- 'cusum': in-order replay; 'ooo' (round 11): the SAME flags
        -- re-derived for the out-of-order replay + reorder buffer —
        -- the buffer restores event-time order, so both branches
        -- must match this one batch recurrence
        SELECT u.kind, c.user_id, c.tu AS win_start_us,
               CAST(CASE WHEN q IS NULL THEN NULL
                         WHEN p - LEAST(CAST(0 AS HUGEINT), minp)
                              > 200000000 THEN 1
                         WHEN GREATEST(CAST(0 AS HUGEINT), maxp) - p
                              > 200000000 THEN 2
                         ELSE 0 END AS BIGINT) AS n_events,
               v AS sum_value
        FROM (
            SELECT user_id, tu, v, q, p,
                   MIN(p) OVER cu2 AS minp, MAX(p) OVER cu2 AS maxp
            FROM (
                SELECT user_id, tu, v, q,
                       SUM(COALESCE(q - 50000000, 0)) OVER cu1 AS p
                FROM (SELECT user_id, epoch_us(ts) AS tu,
                             MIN(value) AS v,
                             CAST(FLOOR(MIN(value) * 1000000.0)
                                  AS HUGEINT) AS q
                      FROM events GROUP BY 1, 2)
                WINDOW cu1 AS (PARTITION BY user_id ORDER BY tu
                               ROWS UNBOUNDED PRECEDING)
            )
            WINDOW cu2 AS (PARTITION BY user_id ORDER BY tu
                           ROWS UNBOUNDED PRECEDING)
        ) c
        CROSS JOIN (SELECT 'cusum' AS kind UNION ALL SELECT 'ooo') u
    )
    """,
)
def q93_streaming_windows(spark, sf_dir):
    """§2.10 all three stateful-streaming families through REAL
    streams: the events table replayed file-per-micro-batch,
    aggregated as (a) tumbling 10 s windows (`tumbling_counts`, the
    secondId bucketing of `BuildingReadOrder.R:32-36`), (b) 30 s-gap
    session windows (`session_slices`, the line_set→ball_snap
    per-play slice, W12), (c) the custom
    `applyInPandasWithState` operator (`stateful_running_totals`,
    W2's cross-batch running totals), and (d, round 6) a stream-stream
    range join (`stream_stream_join`, clicks ⋈ views within a 24 h
    lookback — the streaming analogue of the q35/q36 as-of/range
    joins), (round 11) the out-of-order CUSUM replay through the
    per-key watermark reorder buffer (the 'ooo' branch below), and
    (e, round 6) cross-batch streaming dedup
    (`dedup_stream` over an input with planted re-deliveries — see the
    branch comment below), each drained via availableNow and
    union-tagged.

    The stateful branch keeps only its COUNTS: per-key event counts
    grow monotonically across update-mode emissions, so max(n_events)
    per key is the final state and equals the batch COUNT(*) for any
    file arrival order; the state's float running sum is
    arrival-order-dependent in the last ulp, so it stays pytest-side
    (test_stateful_running_totals) and the hash row carries NULL.

    Complete mode + no watermark ⇒ a fully-drained stream equals the
    batch aggregate BY CONSTRUCTION (count/decimal-sum are order-free
    and no state is evicted), so the DuckDB oracle is plain batch SQL;
    for sessions, the oracle sessionizes with the classic
    LAG-gap/running-sum idiom — gap-split semantics are tie-order
    insensitive (equal timestamps always co-session), so the two
    engines' session ids agree. Window starts exit as epoch micros,
    immune to the driver's session timezone."""
    events = load_table(spark, sf_dir, "events").select(
        "user_id", "ts", "value", "event_type"
    )
    with tempfile.TemporaryDirectory() as tmp, _scoped_shuffle_partitions(
        spark, spark.sparkContext.defaultParallelism
    ):
        # 4 files ⇒ 4 micro-batches: the stream genuinely crosses
        # batch boundaries, which is what makes the equivalence worth
        # checking (a 1-batch replay would be batch mode in disguise)
        events.repartition(4).write.parquet(f"{tmp}/in")
        schema = spark.read.parquet(f"{tmp}/in").schema

        tumb_agg = tumbling_counts(
            stream_from_dir(spark, f"{tmp}/in", schema),
            ts_col="ts", key="user_id", width="10 seconds",
            watermark=None, sum_cast=DEC,
        )
        tumb_tbl, q1 = _drain(tumb_agg, "q93_tumb")
        tumb = tumb_tbl.select(
            F.lit("tumbling").alias("kind"),
            "user_id",
            F.unix_micros(F.col("window.start")).alias("win_start_us"),
            "n_events",
            "sum_value",
        )

        sess_agg = session_slices(
            stream_from_dir(spark, f"{tmp}/in", schema),
            ts_col="ts", key="user_id", gap="30 seconds",
            watermark=None, sum_cast=DEC,
        )
        sess_tbl, q2 = _drain(sess_agg, "q93_sess")
        sess = sess_tbl.select(
            F.lit("session").alias("kind"),
            "user_id",
            F.unix_micros(F.col("session_window.start")).alias(
                "win_start_us"
            ),
            "n_events",
            "sum_value",
        )

        state_agg = stateful_running_totals(
            stream_from_dir(spark, f"{tmp}/in", schema),
            key="user_id", val="value",
        )
        state_tbl, q3 = _drain(state_agg, "q93_state", mode="update")
        state = (
            state_tbl
            # update mode emits one row per key per touching batch;
            # counts are monotone, so the max IS the final state
            .groupBy("user_id")
            .agg(F.max("n_events").alias("n_events"))
            .select(
                F.lit("stateful").alias("kind"),
                "user_id",
                F.lit(None).cast("bigint").alias("win_start_us"),
                "n_events",
                F.lit(None).cast("double").alias("sum_value"),
            )
        )

        # stream-stream join branch: clicks ⋈ views within a 24 h
        # lookback, both sides replayed as real streams. No watermark
        # (full-history replay ⇒ equals the batch join exactly; the
        # watermarked production path is pytest-pinned); the per-user
        # rollup of the drained pairs is batch post-processing, like
        # the stateful branch's max.
        clicks = stream_from_dir(spark, f"{tmp}/in", schema).filter(
            F.col("event_type") == "click"
        ).select("user_id", "ts")
        views = stream_from_dir(spark, f"{tmp}/in", schema).filter(
            F.col("event_type") == "view"
        ).select("user_id", "ts", "value")
        pairs = stream_stream_join(
            clicks, views, key="user_id", ts_col="ts",
            lookback="24 hours", watermark=None,
        )
        pairs_tbl, q4 = _drain(pairs, "q93_join", mode="append")
        joined = (
            pairs_tbl
            .groupBy(F.col("l_key").alias("user_id"))
            .agg(
                F.count("*").alias("n_events"),
                F.sum(F.col("r_value").cast(DEC))
                .cast("double")
                .alias("sum_value"),
            )
            .select(
                F.lit("join").alias("kind"),
                "user_id",
                F.lit(None).cast("bigint").alias("win_start_us"),
                "n_events",
                "sum_value",
            )
        )

        # streaming-dedup branch (round 6): a SECOND input dir planted
        # with re-deliveries — every user_id % 7 == 0 event written
        # twice — replayed over 4 micro-batches so duplicates land in
        # DIFFERENT batches than their originals. `dedup_stream` must
        # swallow them via cross-batch state; after a full drain the
        # per-user rollup equals the batch aggregate over the CLEAN
        # events table, which is the oracle.
        ev_id = load_table(spark, sf_dir, "events").select(
            "event_id", "user_id", "ts", "value"
        )
        dupes = ev_id.filter(F.col("user_id") % 7 == 0)
        ev_id.unionByName(dupes).repartition(4).write.parquet(
            f"{tmp}/in_dup"
        )
        dup_schema = spark.read.parquet(f"{tmp}/in_dup").schema
        clean = dedup_stream(
            stream_from_dir(spark, f"{tmp}/in_dup", dup_schema),
            keys=["event_id"],
        )
        clean_tbl, q5 = _drain(clean, "q93_dedup", mode="append")
        deduped = (
            clean_tbl.groupBy("user_id")
            .agg(
                F.count("*").alias("n_events"),
                F.sum(F.col("value").cast(DEC))
                .cast("double")
                .alias("sum_value"),
            )
            .select(
                F.lit("dedup").alias("kind"),
                "user_id",
                F.lit(None).cast("bigint").alias("win_start_us"),
                "n_events",
                "sum_value",
            )
        )

        # streaming-HLL branch (round 8): the SAME portable-sketch
        # operator (`sketch.hll_build` — filter/select + a max
        # aggregate) runs unchanged on the stream; complete mode over
        # a full drain must converge to exactly the batch registers
        # (max is order-free), so the oracle is q38's batch
        # re-derivation. This is the "sketches as streaming state"
        # pattern: the register table IS the running cardinality state
        # a 100 TB ingest keeps per day, updated per micro-batch in
        # fixed memory.
        from ..operators.sketch import hll_build, hll_estimate

        regs_stream = hll_build(
            stream_from_dir(spark, f"{tmp}/in", schema), "user_id"
        )
        regs_tbl, q6 = _drain(regs_stream, "q93_hll")
        hll_regs = regs_tbl.select(
            F.lit("hll").alias("kind"),
            F.col("bucket").cast("bigint").alias("user_id"),
            F.lit(None).cast("bigint").alias("win_start_us"),
            F.col("maxrho").cast("bigint").alias("n_events"),
            F.lit(None).cast("double").alias("sum_value"),
        )
        hll_est = hll_estimate(regs_tbl).select(
            F.lit("hll_est").alias("kind"),
            F.lit(None).cast("bigint").alias("user_id"),
            F.lit(None).cast("bigint").alias("win_start_us"),
            F.col("est_micro").alias("n_events"),
            F.col("n_empty").cast("double").alias("sum_value"),
        )

        # 'corpus' branch (round 9, VERDICT item 6): the exactly-once
        # daily-crawl loop (`pipelines.corpus.stream_prepare` —
        # foreachBatch + idempotent d=<n> delta partitions + Bloom
        # delta folds) replayed over TWO real micro-batches: the
        # documents table, then exact clones under +1e6 ids, written
        # as two parquet files so cross-batch exact dedup must fire
        # through the d<n state reads. The branch hashes the surviving
        # content-key set with a per-key survivor count (must be 1) —
        # batch-order-free, so the file source's mtime-based batch
        # assignment can't flake the row (see _CORP_CTE).
        from ..operators.text import normalize_text, portable_hash64
        from ..pipelines.corpus import CorpusConfig, stream_prepare

        docs = load_table(spark, sf_dir, "documents").select(
            "doc_id", "text"
        )
        docs.coalesce(1).write.mode("append").parquet(f"{tmp}/corp_in")
        docs.select(
            (F.col("doc_id") + 1_000_000).alias("doc_id"), "text"
        ).coalesce(1).write.mode("append").parquet(f"{tmp}/corp_in")
        corp_schema = spark.read.parquet(f"{tmp}/corp_in").schema
        stream_prepare(
            stream_from_dir(spark, f"{tmp}/corp_in", corp_schema),
            sink_dir=f"{tmp}/corp_out",
            state_dir=f"{tmp}/corp_state",
            checkpoint=f"{tmp}/corp_ckpt",
            cfg=CorpusConfig(
                min_tokens=_CORP_MIN_TOK,
                max_dup_word_frac=_CORP_MAX_DUP,
                max_top_bigram_frac=1.0,
                near_dup=False,
            ),
        )
        corpus = (
            spark.read.parquet(f"{tmp}/corp_out")
            .groupBy(
                portable_hash64(normalize_text(F.col("text"))).alias(
                    "user_id"
                )
            )
            .agg(F.count("*").alias("n_events"))
            .select(
                F.lit("corpus").alias("kind"),
                "user_id",
                F.lit(None).cast("bigint").alias("win_start_us"),
                "n_events",
                F.lit(None).cast("double").alias("sum_value"),
            )
        )

        # 'anomaly' branch (round 10): the streaming twin of
        # `windows.rolling_anomaly` (q29) — per-user trailing-5
        # integer-exact z-score flags maintained in
        # applyInPandasWithState across micro-batches. Positional
        # window semantics make the flags ORDER-SENSITIVE, so unlike
        # the order-free branches this one replays THREE time-ordered
        # range files (mtimes pinned: the file source replays in
        # mtime order); the (user, ts) series is deduped first via
        # MIN(value) so batch and stream can never disagree on tie
        # content. Every row exits with its flag, value-hashed
        # against the q29-style HUGEINT window re-derivation.
        import glob as _glob
        import os as _os
        import time as _time

        anom_src = (
            load_table(spark, sf_dir, "events")
            .groupBy("user_id", "ts_us")
            .agg(F.min("value").alias("value"))
        )
        anom_src.repartitionByRange(
            3, "ts_us"
        ).sortWithinPartitions("ts_us").write.parquet(f"{tmp}/anom_in")
        _afiles = sorted(_glob.glob(f"{tmp}/anom_in/part-*.parquet"))
        _abase = int(_time.time())
        for _i, _fp in enumerate(_afiles):
            _os.utime(_fp, (_abase + _i, _abase + _i))
        anom_schema = spark.read.parquet(f"{tmp}/anom_in").schema
        an_tbl, q7 = _drain(
            streaming_anomaly(
                stream_from_dir(spark, f"{tmp}/anom_in", anom_schema),
                n=5,
            ),
            "q93_anom",
            mode="update",
        )
        anomaly = an_tbl.select(
            F.lit("anomaly").alias("kind"),
            "user_id",
            F.col("ts_us").alias("win_start_us"),
            F.col("is_anomaly").cast("bigint").alias("n_events"),
            F.col("value").alias("sum_value"),
        )

        # 'cusum' (round 10): the CUSUM twin rides the SAME
        # time-ordered replay files — three more int64s of state per
        # key (prefix sum + folded extrema), flags bit-equal to the
        # q29 batch operator at the same k=50/h=200 micro-unit
        # parameters; the oracle replays the prefix-sum identity on
        # the deduped series.
        cu_tbl, q8 = _drain(
            streaming_cusum(
                stream_from_dir(spark, f"{tmp}/anom_in", anom_schema),
                k_scaled=50_000_000,
                h_scaled=200_000_000,
            ),
            "q93_cusum",
            mode="update",
        )
        cusum = cu_tbl.select(
            F.lit("cusum").alias("kind"),
            "user_id",
            F.col("ts_us").alias("win_start_us"),
            F.when(F.col("cusum_flag") == "up", 1)
            .when(F.col("cusum_flag") == "down", 2)
            .when(F.col("value").isNotNull(), 0)
            .cast("bigint")
            .alias("n_events"),
            F.col("value").alias("sum_value"),
        )

        # 'ooo' branch (round 11, VERDICT item 2): the SAME CUSUM
        # recurrence under OUT-OF-ORDER delivery. The three range
        # files replay MIDDLE, FIRST, LAST (mtimes pinned), so greedy
        # state without a buffer would corrupt every flag; the
        # per-key watermark reorder buffer (reorder_delay_us spanning
        # the full disorder) holds rows and releases them in
        # event-time order once a per-user flush row (NULL value,
        # far-future ts — itself never released, so it never emits)
        # advances the watermark past the real data. Flags must equal
        # the SAME batch recurrence as 'cusum' — the oracle row is
        # the identical SQL, tagged 'ooo'.
        bnds = anom_src.agg(
            F.min("ts_us").alias("lo"), F.max("ts_us").alias("hi")
        ).collect()[0]
        ooo_delay = int(bnds.hi) - int(bnds.lo) + 1
        ooo_dir = f"{tmp}/ooo_in"
        anom_src.repartitionByRange(
            3, "ts_us"
        ).sortWithinPartitions("ts_us").write.parquet(ooo_dir)
        _ofiles = sorted(_glob.glob(f"{ooo_dir}/part-*.parquet"))
        _obase = _abase + 100
        for _off, _fp in zip((1, 0, 2), _ofiles):
            _os.utime(_fp, (_obase + _off, _obase + _off))
        anom_src.select("user_id").distinct().select(
            "user_id",
            F.lit(int(bnds.hi) + ooo_delay + 1).alias("ts_us"),
            F.lit(None).cast("double").alias("value"),
        ).coalesce(1).write.mode("append").parquet(ooo_dir)
        for _fp in _glob.glob(f"{ooo_dir}/part-*.parquet"):
            if _fp not in _ofiles:
                _os.utime(_fp, (_obase + 3, _obase + 3))
        ooo_tbl, q9 = _drain(
            streaming_cusum(
                stream_from_dir(spark, ooo_dir, anom_schema),
                k_scaled=50_000_000,
                h_scaled=200_000_000,
                reorder_delay_us=ooo_delay,
            ),
            "q93_ooo",
            mode="update",
        )
        ooo = ooo_tbl.select(
            F.lit("ooo").alias("kind"),
            "user_id",
            F.col("ts_us").alias("win_start_us"),
            F.when(F.col("cusum_flag") == "up", 1)
            .when(F.col("cusum_flag") == "down", 2)
            .when(F.col("value").isNotNull(), 0)
            .cast("bigint")
            .alias("n_events"),
            F.col("value").alias("sum_value"),
        )

        # 'batch' branch (round 10, VERDICT item 3): the END-TO-END
        # `prepare_batch` daily loop — the batch twin of 'corpus'
        # above, and the last pipeline entry point to come under the
        # oracle. Two manufactured days replay through the REAL
        # pipeline function (profile filter → Bloom-assisted
        # incremental exact dedup → within-batch + vs-state LSH
        # near-dup → state carry); the oracle re-derives both days'
        # survivor sets in SQL (suite/dedup._BT_CTES — it shares the
        # q70/q72 banding machinery). Rows carry (content_key,
        # surviving doc_id, day): winner identity and per-day
        # membership are value-hashed, not just counts. Fixed doc_id
        # cutoffs keep the branch O(1) in sf. The stage-boundary
        # caches are load-bearing (without them day 2's plan nests
        # day 1's whole tree per self-reference — measured 85 s vs
        # ~6); scoping them in a BoundaryCaches and pinning the
        # ≤~50-row result with an eager cut keeps the
        # session cache clean across repeated runs (bench warm runs
        # measured SLOWER than cold when they leaked).
        from ..operators.text import normalize_text as _norm
        from ..operators.text import portable_hash64 as _ph64
        from ..pipelines.corpus import empty_state, prepare_batch

        bt_cfg = CorpusConfig(
            min_tokens=_CORP_MIN_TOK,
            max_dup_word_frac=_CORP_MAX_DUP,
            max_top_bigram_frac=1.0,
            redact=False,  # redaction is oracled in q60 + 'corpus'
            near_dup=True,
        )
        d0 = load_table(spark, sf_dir, "documents").select(
            "doc_id", "text"
        )
        bt_day1 = d0.filter(F.col("doc_id") < 50).unionByName(
            d0.filter(F.col("doc_id") < 15).select(
                (F.col("doc_id") + 800000).alias("doc_id"),
                F.concat(
                    F.col("text"), F.lit(" tail marker tokens")
                ).alias("text"),
            )
        )
        bt_day2 = (
            d0.filter(F.col("doc_id") < 20)
            .select((F.col("doc_id") + 810000).alias("doc_id"), "text")
            .unionByName(
                d0.filter(
                    (F.col("doc_id") >= 100) & (F.col("doc_id") < 130)
                ).select(
                    (F.col("doc_id") + 820000).alias("doc_id"), "text"
                )
            )
            .unionByName(
                d0.filter(
                    (F.col("doc_id") >= 100) & (F.col("doc_id") < 110)
                ).select(
                    (F.col("doc_id") + 830000).alias("doc_id"),
                    F.concat(
                        F.col("text"), F.lit(" tail2 marker")
                    ).alias("text"),
                )
            )
        )

        def _bt_rows(clean, day):
            return clean.select(
                F.lit("batch").alias("kind"),
                _ph64(_norm(F.col("text"))).alias("user_id"),
                F.col("doc_id").alias("win_start_us"),
                F.lit(day).cast("bigint").alias("n_events"),
                F.lit(None).cast("double").alias("sum_value"),
            )

        with BoundaryCaches() as bt_bc:
            bt_clean1, bt_state1 = prepare_batch(
                bt_day1, empty_state(spark, near_dup=True),
                cfg=bt_cfg, caches=bt_bc,
            )
            bt_clean2, _bt_state2 = prepare_batch(
                bt_day2, bt_state1, cfg=bt_cfg, caches=bt_bc
            )
            batch = cut(
                _bt_rows(bt_clean1, 1).unionByName(_bt_rows(bt_clean2, 2))
            )

        # the memory sink tables are driver-resident and tiny (one row
        # per user×window); an eager cut pins the rows so the temp
        # dir and memory sinks can be torn down
        out = cut(
            tumb.unionByName(sess)
            .unionByName(state)
            .unionByName(joined)
            .unionByName(deduped)
            .unionByName(hll_regs)
            .unionByName(hll_est)
            .unionByName(corpus)
            .unionByName(batch)
            .unionByName(anomaly)
            .unionByName(cusum)
            .unionByName(ooo)
        )
        q1.stop()
        q2.stop()
        q3.stop()
        q4.stop()
        q5.stop()
        q6.stop()
        q7.stop()
        q8.stop()
        q9.stop()
    return out
