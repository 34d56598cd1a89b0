"""Parity query: Count-Min sketch build + point queries. The oracle
re-derives the depth×width counters and the min-over-rows estimate in
SQL — deterministic because bucketing uses the portable md5 hash.
Width is deliberately small (64 < 150 distinct users) so collisions
actually occur and the min-over-rows logic is exercised, not idle.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from ..boundary import cut
from ..operators.sketch import (
    BLOOM_K,
    BLOOM_M,
    HLL_P,
    KMV_K,
    KMV_SPAN,
    bloom_build,
    bloom_contains,
    cms_build,
    cms_query,
    hll_build,
    hll_estimate,
    hll_merge,
    hll_numerator,
    hll_within_contract,
    kmv_build,
    kmv_estimate,
    kmv_merge,
    kmv_overlap,
    quantile_within_contract,
)
from ..sources.io import load_table
from .registry import query

_W, _D = 64, 4


def _h(expr: str) -> str:
    return f"CAST(concat('0x', substring(md5({expr}), 1, 15)) AS BIGINT)"


_BUCKET = _h("concat(CAST(r AS VARCHAR), ':', v)") + f" % {_W}"

# ---- portable-HLL oracle fragments (mirror operators.sketch) ---------

_HM, _HW = 1 << HLL_P, 60 - HLL_P
_HSCALE = _HW + 1

#: exact integer bitlen of the rank suffix — same comparison ladder as
#: the operator (no floating log2)
_HBITLEN = " + ".join(
    f"(CASE WHEN suffix >= {1 << i} THEN 1 ELSE 0 END)" for i in range(_HW)
)

_HLL_CTES = f"""
    hvals AS (
        SELECT {_h("CAST(user_id AS VARCHAR)")} AS h
        FROM events WHERE user_id IS NOT NULL
    ),
    hrho AS (
        SELECT h & {_HM - 1} AS bucket,
               {_HSCALE} - ({_HBITLEN}) AS rho
        FROM (SELECT h, h >> {HLL_P} AS suffix FROM hvals)
    ),
    hregs AS (
        SELECT bucket, MAX(rho) AS maxrho FROM hrho GROUP BY bucket
    ),
    hsum AS (
        SELECT SUM(1::BIGINT << ({_HSCALE} - maxrho))
               + ({_HM} - COUNT(*)) * (1::BIGINT << {_HSCALE}) AS s,
               CAST({_HM} - COUNT(*) AS BIGINT) AS n_empty
        FROM hregs
    ),
    hest AS (
        SELECT CAST(ROUND(
            CASE WHEN eraw <= {2.5 * _HM!r} AND n_empty > 0
                 THEN {float(_HM)!r} * ln({float(_HM)!r}
                      / CAST(n_empty AS DOUBLE))
                 ELSE eraw END * 1000000.0) AS BIGINT) AS est_micro,
               n_empty
        FROM (
            SELECT CAST({hll_numerator()!r} AS DOUBLE)
                   / CAST(s AS DOUBLE) AS eraw, n_empty
            FROM hsum
        )
    ),
    hgrho AS (
        SELECT grp, h & {_HM - 1} AS bucket,
               {_HSCALE} - ({_HBITLEN}) AS rho
        FROM (
            SELECT grp, h, h >> {HLL_P} AS suffix FROM (
                SELECT event_type AS grp,
                       {_h("CAST(event_id AS VARCHAR)")} AS h
                FROM events
                WHERE event_id IS NOT NULL AND event_type IS NOT NULL
            )
        )
    ),
    hgregs AS (
        SELECT grp, bucket, MAX(rho) AS maxrho
        FROM hgrho GROUP BY 1, 2
    ),
    hgsum AS (
        SELECT grp,
               SUM(1::BIGINT << ({_HSCALE} - maxrho))
               + ({_HM} - COUNT(*)) * (1::BIGINT << {_HSCALE}) AS s,
               CAST({_HM} - COUNT(*) AS BIGINT) AS n_empty
        FROM hgregs GROUP BY grp
    ),
    hgest AS (
        SELECT grp, CAST(ROUND(
            CASE WHEN eraw <= {2.5 * _HM!r} AND n_empty > 0
                 THEN {float(_HM)!r} * ln({float(_HM)!r}
                      / CAST(n_empty AS DOUBLE))
                 ELSE eraw END * 1000000.0) AS BIGINT) AS est_micro,
               n_empty
        FROM (
            SELECT grp, CAST({hll_numerator()!r} AS DOUBLE)
                   / CAST(s AS DOUBLE) AS eraw, n_empty
            FROM hgsum
        )
    )
"""

# ---- KMV oracle fragments (mirror operators.sketch KMV ops) ----------
# geometry imported from the operator, never duplicated: tuning KMV_K
# or the hash span must move the oracle in the same commit

_KK = KMV_K
_KSPAN = repr(KMV_SPAN)

#: the two sketched subsets: evens and multiples of 3 (overlap = %6)
_KSUB = {
    "2": "user_id % 2 = 0",
    "3": "user_id % 3 = 0",
}


def _kmv_est_sql(n: str, hmax: str) -> str:
    return (
        f"CASE WHEN {n} < {_KK} THEN CAST({n} AS DOUBLE) "
        f"ELSE {float(_KK - 1)!r} / (CAST({hmax} AS DOUBLE) / {_KSPAN}) END"
    )


_KMV_CTES = f"""
    kreg AS (SELECT DISTINCT h FROM hvals ORDER BY h LIMIT {_KK}),
    kr2 AS (
        SELECT DISTINCT {_h("CAST(user_id AS VARCHAR)")} AS h FROM events
        WHERE user_id IS NOT NULL AND {_KSUB["2"]}
        ORDER BY h LIMIT {_KK}
    ),
    kr3 AS (
        SELECT DISTINCT {_h("CAST(user_id AS VARCHAR)")} AS h FROM events
        WHERE user_id IS NOT NULL AND {_KSUB["3"]}
        ORDER BY h LIMIT {_KK}
    ),
    kuni AS (
        SELECT DISTINCT h FROM (
            SELECT h FROM kr2 UNION ALL SELECT h FROM kr3
        ) ORDER BY h LIMIT {_KK}
    ),
    kest AS (
        SELECT CAST(ROUND({_kmv_est_sql("COUNT(*)", "MAX(h)")}
                    * 1000000.0) AS BIGINT) AS est_micro
        FROM kreg
    ),
    kover AS (
        SELECT CAST(ROUND(jac * 1000000.0) AS BIGINT) AS jac_micro,
               CAST(ROUND(uni * 1000000.0) AS BIGINT) AS uni_micro,
               CAST(ROUND((jac * uni) * 1000000.0) AS BIGINT) AS int_micro
        FROM (
            SELECT CAST(SUM(CASE WHEN u.h IN (SELECT h FROM kr2)
                             AND u.h IN (SELECT h FROM kr3)
                            THEN 1 ELSE 0 END) AS DOUBLE)
                   / CAST(COUNT(*) AS DOUBLE) AS jac,
                   {_kmv_est_sql("COUNT(*)", "MAX(u.h)")} AS uni
            FROM kuni u
        )
    )
"""

# ---- Bloom oracle fragments (mirror operators.sketch bloom ops) ------

_BN_PROBE = 250  # probe ids 0..249: 150 present, 100 absent at sf0.01


def _bloom_pos_sql(val_expr: str) -> str:
    """All k seeded positions of a value (seed i prefixes 'i:' —
    portable_hash64's seed layout)."""
    return " UNION ALL ".join(
        f"SELECT {{key}}, "
        + _h(f"concat('{i}:', CAST({val_expr} AS VARCHAR))")
        + f" % {BLOOM_M} AS pos FROM {{src}}"
        for i in range(BLOOM_K)
    )


_BLOOM_CTES = f"""
    bloompos AS (
        {_bloom_pos_sql("user_id").format(
            key="0 AS z",
            src="events WHERE user_id IS NOT NULL")}
    ),
    bloomregs AS (
        SELECT CAST(pos // 63 AS BIGINT) AS word,
               bit_or(1::BIGINT << CAST(pos % 63 AS INT)) AS bits
        FROM bloompos GROUP BY 1
    ),
    bloomchk AS (
        SELECT id, MIN(CASE WHEN r.bits IS NOT NULL
                    AND (r.bits & (1::BIGINT
                        << CAST(p.pos % 63 AS INT))) != 0
                   THEN 1 ELSE 0 END) AS present
        FROM (
            SELECT DISTINCT id, pos FROM (
                {_bloom_pos_sql("id").format(
                    key="id", src=f"range({_BN_PROBE}) t(id)")}
            )
        ) p LEFT JOIN bloomregs r
          ON r.word = CAST(p.pos // 63 AS BIGINT)
        GROUP BY id
    )
"""

_BLOOM_ARMS = """
    UNION ALL
    SELECT 'bloomreg' AS kind, word AS user_id, bits AS est_count,
           CAST(NULL AS BIGINT) AS exact_n,
           CAST(NULL AS BOOLEAN) AS within
    FROM bloomregs
    UNION ALL
    SELECT 'bloom', id, CAST(present AS BIGINT), NULL, NULL
    FROM bloomchk
"""


# ---- histogram oracle fragments (mirror operators.sketch hist ops) ---

_HB = 64
_HV = "CAST(value AS DOUBLE)"
_HCLEAN = f"CASE WHEN isnan({_HV}) THEN NULL ELSE {_HV} END"
_HSPAN = "CASE WHEN hi > lo THEN hi - lo ELSE 1.0 END"
_HQS = [0.25, 0.5, 0.9]

_HIST_CTES = f"""
    hstat AS (
        SELECT MIN({_HCLEAN}) AS lo, MAX({_HCLEAN}) AS hi FROM events
    ),
    hbins AS (
        SELECT least(greatest(CAST(floor(
                   ({_HV} - lo) / ({_HSPAN}) * {float(_HB)!r}
               ) AS BIGINT), 0), {_HB - 1}) AS bin,
               COUNT(*) AS cnt
        FROM events CROSS JOIN hstat
        WHERE value IS NOT NULL AND NOT isnan({_HV})
        GROUP BY 1
    ),
    hcum AS (
        SELECT bin, cnt,
               SUM(cnt) OVER (ORDER BY bin
                   ROWS UNBOUNDED PRECEDING) AS cum,
               SUM(cnt) OVER () AS n
        FROM hbins
    ),
    hfirst AS (
        SELECT q, bin, cnt, cum, n FROM (
            SELECT q, h.*, ROW_NUMBER() OVER (
                PARTITION BY q ORDER BY bin) AS rn
            FROM (VALUES {", ".join(f"({q!r})" for q in _HQS)}) qs(q)
            CROSS JOIN hcum h
            WHERE CAST(cum AS DOUBLE) >= q * CAST(n AS DOUBLE)
        ) WHERE rn = 1
    ),
    hquant AS (
        SELECT q,
               lo + (CAST(bin AS DOUBLE)
                     + (q * CAST(n AS DOUBLE) - CAST(cum - cnt AS DOUBLE))
                       / CAST(cnt AS DOUBLE))
                   * ((hi - lo) / {float(_HB)!r}) AS value
        FROM hfirst CROSS JOIN hstat
    )
"""

_HIST_ARMS = f"""
    UNION ALL
    SELECT 'hist' AS kind, bin AS user_id, cnt AS est_count,
           CAST(NULL AS BIGINT) AS exact_n,
           CAST(NULL AS BOOLEAN) AS within
    FROM hbins
    UNION ALL
    SELECT 'histq', CAST(ROUND(q * 100.0) AS BIGINT),
           CAST(ROUND(value * 1000000.0) AS BIGINT), NULL, NULL
    FROM hquant
"""

_KMV_ARMS = f"""
    UNION ALL
    SELECT 'kmvreg' AS kind, CAST(NULL AS BIGINT) AS user_id,
           h AS est_count, CAST(NULL AS BIGINT) AS exact_n,
           CAST(NULL AS BOOLEAN) AS within
    FROM kreg
    UNION ALL
    SELECT 'kmvest', NULL, est_micro, NULL, NULL FROM kest
    UNION ALL
    SELECT 'kmvjac', NULL, jac_micro, NULL, NULL FROM kover
    UNION ALL
    SELECT 'kmvuni', NULL, uni_micro, NULL, NULL FROM kover
    UNION ALL
    SELECT 'kmvint', NULL, int_micro, NULL, NULL FROM kover
"""

_HLL_ARMS = f"""
    UNION ALL
    SELECT 'hllreg' AS kind, bucket AS user_id, CAST(maxrho AS BIGINT)
           AS est_count, CAST(NULL AS BIGINT) AS exact_n,
           CAST(NULL AS BOOLEAN) AS within
    FROM hregs
    UNION ALL
    SELECT 'hllest', NULL, est_micro, n_empty, NULL FROM hest
    UNION ALL
    SELECT 'hllmerge', NULL, est_micro, n_empty, NULL FROM hest
    UNION ALL
    SELECT concat('hllgrp:', grp) AS kind, bucket AS user_id,
           CAST(maxrho AS BIGINT) AS est_count,
           CAST(NULL AS BIGINT) AS exact_n,
           CAST(NULL AS BOOLEAN) AS within
    FROM hgregs
    UNION ALL
    SELECT concat('hllgest:', grp), NULL, est_micro, n_empty, NULL
    FROM hgest
"""

_ORACLE = f"""
    WITH vals AS (SELECT CAST(user_id AS VARCHAR) AS v FROM events),
    rows_ AS (SELECT unnest(range({_D})) AS r),
    counters AS (
        SELECT r, {_BUCKET} AS bucket, COUNT(*) AS cnt
        FROM vals CROSS JOIN rows_ GROUP BY 1, 2
    ),
    items AS (SELECT DISTINCT v FROM vals),
    probes AS (
        SELECT i.v, r.r AS r, {_h("concat(CAST(r.r AS VARCHAR), ':', i.v)")}
               % {_W} AS bucket
        FROM items i CROSS JOIN rows_ r
    ),
    {_HLL_CTES},
    {_KMV_CTES},
    {_BLOOM_CTES},
    {_HIST_CTES}
    SELECT 'cms' AS kind, CAST(p.v AS BIGINT) AS user_id,
           MIN(COALESCE(c.cnt, 0)) AS est_count,
           CAST(NULL AS BIGINT) AS exact_n,
           CAST(NULL AS BOOLEAN) AS within
    FROM probes p LEFT JOIN counters c
      ON c.r = p.r AND c.bucket = p.bucket
    GROUP BY 1, 2
    UNION ALL
    SELECT 'hll', NULL, NULL, COUNT(DISTINCT user_id), TRUE FROM events
    UNION ALL
    SELECT 'quantile', NULL, NULL, COUNT(*), TRUE FROM events
    {_HLL_ARMS}
    {_KMV_ARMS}
    {_BLOOM_ARMS}
    {_HIST_ARMS}
"""


@query("q38_cms_point_counts", oracle=_ORACLE)
def q38_cms_point_counts(spark, sf_dir):
    """The sketch family in one driver row, three branches:

    - 'cms': Count-Min estimates for every distinct user — counters
      shuffle (depth×width rows, fixed KBs at any input size), then
      the broadcast point-query; md5 bucketing makes the counters
      themselves oracle-reproducible, so this branch is value-exact.
      est ≥ true always; tightness pinned in tests/test_sketch.py.
    - 'hll' (round 6): HyperLogLog++ distinct-count vs the exact
      count. Registers are engine-internal, so the driver checks the
      ERROR CONTRACT instead: `within` must be TRUE (estimate inside
      4σ of exact); the oracle asserts exactly that, so a broken
      sketch flips the hash red.
    - 'quantile' (round 6): percentile_approx's rank guarantee
      (returned value's rank interval overlaps q·n ± n/accuracy),
      same contract-as-oracle pattern.

    At 100 TB these are the constant-memory replacements for
    COUNT(DISTINCT) / exact MEDIAN's full shuffles; the branches pin
    both that they run AND that their accuracy trades hold."""
    e = load_table(spark, sf_dir, "events")
    sketch = cms_build(e, "user_id", width=_W, depth=_D)
    items = e.select("user_id").distinct()
    null_tail = [
        F.lit(None).cast("bigint").alias("exact_n"),
        F.lit(None).cast("boolean").alias("within"),
    ]
    cms = cms_query(sketch, items, "user_id", width=_W, depth=_D).select(
        F.lit("cms").alias("kind"), "user_id", "est_count", *null_tail
    )
    hll = hll_within_contract(e, "user_id", rel_err=0.05).select(
        F.lit("hll").alias("kind"),
        F.lit(None).cast("bigint").alias("user_id"),
        F.lit(None).cast("bigint").alias("est_count"),
        "exact_n",
        "within",
    )
    quant = quantile_within_contract(e, "value", q=0.5, accuracy=1000).select(
        F.lit("quantile").alias("kind"),
        F.lit(None).cast("bigint").alias("user_id"),
        F.lit(None).cast("bigint").alias("est_count"),
        "exact_n",
        "within",
    )
    # round 8: the PORTABLE HLL — registers are a plain (bucket,
    # maxrho) table (persistable cross-day state, unlike the engine
    # sketch above), value-exact against the oracle's re-derivation:
    # - 'hllreg': every non-empty register;
    # - 'hllest': the estimate (micro-units) + empty-bucket count;
    # - 'hllmerge': the SAME numbers computed through the merge path
    #   (two disjoint halves sketched independently, bucket-wise max)
    #   — the oracle computes the whole-input estimate once, so a
    #   hash match PROVES merge(sketch(A), sketch(B)) ≡ sketch(A∪B).
    regs = hll_build(e, "user_id")
    null_flags = [
        F.lit(None).cast("bigint").alias("exact_n"),
        F.lit(None).cast("boolean").alias("within"),
    ]
    hllreg = regs.select(
        F.lit("hllreg").alias("kind"),
        F.col("bucket").cast("bigint").alias("user_id"),
        F.col("maxrho").cast("bigint").alias("est_count"),
        *null_flags,
    )

    def est_row(kind, est):
        return est.select(
            F.lit(kind).alias("kind"),
            F.lit(None).cast("bigint").alias("user_id"),
            F.col("est_micro").alias("est_count"),
            F.col("n_empty").alias("exact_n"),
            F.lit(None).cast("boolean").alias("within"),
        )

    hllest = est_row("hllest", hll_estimate(regs))
    even = hll_build(e.filter(F.pmod(F.col("user_id"), 2) == 0), "user_id")
    odd = hll_build(e.filter(F.pmod(F.col("user_id"), 2) == 1), "user_id")
    hllmerge = est_row("hllmerge", hll_estimate(hll_merge(even, odd)))

    # round 8 (late): the GROUPED ledger — one register set per
    # event_type, "distinct events per domain per day" shape, built in
    # the same single shuffle (`by=` widens the groupBy key). Sketching
    # event_id (not user_id: every type sees the same 150 users, so
    # grouped registers would degenerate to 5 copies) gives each group
    # distinct registers AND puts the per-group estimates in the
    # bias-corrected regime — the complement of the ungrouped 'hllest'
    # branch, which sits in linear counting (150 « 2^p):
    # - 'hllgrp:<type>': every register of every group, value-exact;
    # - 'hllgest:<type>': per-group estimate via hll_estimate(by=...).
    gregs = hll_build(
        e.filter(F.col("event_type").isNotNull()), "event_id",
        by=["event_type"],
    )
    hllgrp = gregs.select(
        F.concat(F.lit("hllgrp:"), F.col("event_type")).alias("kind"),
        F.col("bucket").cast("bigint").alias("user_id"),
        F.col("maxrho").cast("bigint").alias("est_count"),
        *null_flags,
    )
    hllgest = hll_estimate(gregs, by=["event_type"]).select(
        F.concat(F.lit("hllgest:"), F.col("event_type")).alias("kind"),
        F.lit(None).cast("bigint").alias("user_id"),
        F.col("est_micro").alias("est_count"),
        F.col("n_empty").alias("exact_n"),
        F.lit(None).cast("boolean").alias("within"),
    )

    # round 8: KMV — the set-algebra sketch. 'kmvreg' value-hashes the
    # 64 minimum hash registers; 'kmvest' the distinct-count estimate;
    # 'kmvjac'/'kmvuni'/'kmvint' estimate Jaccard/union/intersection
    # cardinality between two deterministic event subsets (user_id
    # even vs multiple of 3 — true overlap is the %6 class) without
    # ever joining the raw rows. NOTE: subset predicates use the `%`
    # operator, whose sign convention matches DuckDB's (unlike pmod).
    kregs = kmv_build(e, "user_id")
    kmvreg = kregs.select(
        F.lit("kmvreg").alias("kind"),
        F.lit(None).cast("bigint").alias("user_id"),
        F.col("h").alias("est_count"),
        *null_flags,
    )

    def one_val(kind, df, col):
        return df.select(
            F.lit(kind).alias("kind"),
            F.lit(None).cast("bigint").alias("user_id"),
            F.col(col).alias("est_count"),
            *null_flags,
        )

    kmvest = one_val("kmvest", kmv_estimate(kregs), "est_micro")
    kr2 = kmv_build(e.filter(F.col("user_id") % 2 == 0), "user_id")
    kr3 = kmv_build(e.filter(F.col("user_id") % 3 == 0), "user_id")
    ov = cut(kmv_overlap(kr2, kr3))  # 3 rows ride one plan
    kmv_over = (
        one_val("kmvjac", ov, "jaccard_micro")
        .unionByName(one_val("kmvuni", ov, "union_micro"))
        .unionByName(one_val("kmvint", ov, "inter_micro"))
    )

    # round 8 (late): the MEMBERSHIP sketch — portable Bloom filter.
    # 'bloomreg' value-hashes every (word, bits) register; 'bloom'
    # checks 250 probe ids (150 present, 100 absent) — no false
    # negatives by construction, and the false positives are
    # DETERMINISTIC (md5 positions), so both engines compute the
    # identical verdict vector and even the FP pattern is
    # hash-verified.
    bregs = bloom_build(e, "user_id")
    bloomreg = bregs.select(
        F.lit("bloomreg").alias("kind"),
        F.col("word").alias("user_id"),
        F.col("bits").alias("est_count"),
        *null_flags,
    )
    bprobes = spark.range(_BN_PROBE).select(
        F.col("id").alias("user_id")
    )
    bloomchk = bloom_contains(bregs, bprobes, "user_id").select(
        F.lit("bloom").alias("kind"),
        F.col("user_id"),
        F.col("maybe_present").cast("bigint").alias("est_count"),
        *null_flags,
    )

    # round 8: the distribution sketch — equi-width histogram
    # registers over data-derived bounds ('hist', register-exact) and
    # interpolated quantiles at 25/50/90 ('histq', micro-units; error
    # ≤ one bin width by construction). The bounds row is pinned so
    # events is scanned once for stats, once for binning.
    from ..operators.sketch import hist_bounds, hist_build, hist_quantile

    hb = cut(hist_bounds(e, "value"))
    hreg = hist_build(e, "value", hb, _HB)
    hist_rows = hreg.select(
        F.lit("hist").alias("kind"),
        F.col("bin").alias("user_id"),
        F.col("cnt").alias("est_count"),
        *null_flags,
    )
    histq = hist_quantile(hreg, _HQS, hb, _HB).select(
        F.lit("histq").alias("kind"),
        F.round(F.col("q") * 100.0).cast("bigint").alias("user_id"),
        F.round(F.col("value") * 1000000.0).cast("bigint").alias(
            "est_count"
        ),
        *null_flags,
    )
    return (
        cms.unionByName(hll)
        .unionByName(quant)
        .unionByName(hllreg)
        .unionByName(hllest)
        .unionByName(hllmerge)
        .unionByName(hllgrp)
        .unionByName(hllgest)
        .unionByName(kmvreg)
        .unionByName(kmvest)
        .unionByName(kmv_over)
        .unionByName(bloomreg)
        .unionByName(bloomchk)
        .unionByName(hist_rows)
        .unionByName(histq)
    )
