"""Frequency sketches: Count-Min over a grouped stream, plus the
point-query lookup. Deterministic (portable-hash rows) so the DuckDB
oracle reproduces the sketch counters bit-for-bit.

Why a sketch at 100 TB: exact per-key counts of a high-cardinality
column (URLs, doc fingerprints) need a shuffle keyed by that column —
the sketch needs a shuffle keyed by (depth × width) COUNTERS, a fixed
few KB regardless of input size, and merges by addition across
partitions/days (the same decomposable-agg algebra as
`skew.salted_agg` / `rollup.rollup_cascade`).

Estimate guarantee: est ≥ true; est ≤ true + ε·N with prob 1−δ for
width=⌈e/ε⌉, depth=⌈ln 1/δ⌉.
"""

from __future__ import annotations

from functools import reduce

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from .text import portable_hash64


def _bucket(col: Column, row: int, width: int) -> Column:
    """Row-r bucket index of a value: portable hash seeded by r."""
    return F.pmod(portable_hash64(col.cast("string"), seed=row), F.lit(width))


def cms_build(
    df: DataFrame, value_col: str, width: int = 256, depth: int = 4
) -> DataFrame:
    """Count-Min sketch of a column: (row, bucket, cnt) counters —
    depth×width rows total, built with ONE aggregate over an exploded
    (row, bucket) pair per input value. Merge sketches from different
    partitions/sources by summing cnt on (row, bucket)."""
    pairs = F.array(
        *[
            F.struct(
                F.lit(r).alias("row"),
                _bucket(F.col(value_col), r, width).alias("bucket"),
            )
            for r in range(depth)
        ]
    )
    return (
        df.select(F.explode(pairs).alias("p"))
        .groupBy(F.col("p.row").alias("row"), F.col("p.bucket").alias("bucket"))
        .agg(F.count("*").alias("cnt"))
    )


def cms_query(
    sketch: DataFrame, items: DataFrame, item_col: str, width: int = 256,
    depth: int = 4,
) -> DataFrame:
    """Point query: est(item) = min over rows of the item's counter.
    The sketch is tiny → broadcast; items never shuffle."""
    probes = items.select(
        F.col(item_col),
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(r).alias("row"),
                        _bucket(F.col(item_col), r, width).alias("bucket"),
                    )
                    for r in range(depth)
                ]
            )
        ).alias("p"),
    ).select(item_col, F.col("p.row").alias("row"), F.col("p.bucket").alias("bucket"))
    return (
        probes.join(F.broadcast(sketch), ["row", "bucket"], "left")
        .groupBy(item_col)
        .agg(F.min(F.coalesce(F.col("cnt"), F.lit(0))).alias("est_count"))
    )


#: portable-HLL geometry: the 60-bit portable hash splits into p
#: bucket bits (low) and w = 60 − p rank bits (high); registers are
#: scaled so Σ 2^(−M[j]) becomes an EXACT int64 sum (see hll_estimate)
HLL_P = 9
HLL_M = 1 << HLL_P
HLL_W = 60 - HLL_P


def _hll_alpha(m: int) -> float:
    """Flajolet et al. 2007 bias constant (m ≥ 128 form)."""
    return 0.7213 / (1.0 + 1.079 / m)


def hll_numerator(p: int = HLL_P) -> float:
    """The estimator numerator α_m·m²·2^(w+1) precomputed as ONE
    Python float — injected as the identical literal into the Spark
    plan and the DuckDB oracle, so there is no multiplication-order
    drift to reason about."""
    m, w = 1 << p, 60 - p
    return _hll_alpha(m) * float(m) ** 2 * float(1 << (w + 1))


def hll_build(
    df: DataFrame,
    value_col: str,
    p: int = HLL_P,
    by: list[str] | None = None,
) -> DataFrame:
    """PORTABLE HyperLogLog registers of a column: (bucket, maxrho)
    rows, ≤2^p of them, built with ONE aggregate. Unlike
    `approx_count_distinct` (whose registers are engine-internal bytes
    — see hll_within_contract), these registers are a plain table of
    the md5-derived hash: persistable as the running state of a
    100 TB corpus's cardinality-per-day ledger, mergeable across
    partitions/batches/engines by `hll_merge` (bucket-wise max — the
    same decomposable algebra as the CMS counters), and reproducible
    bit-for-bit by the DuckDB oracle.

    rho (the register value) is the 1-based position of the leading
    set bit counted from the top of the w rank bits (w+1 when they are
    all zero), computed as w+1−bitlen with bitlen the exact integer
    comparison ladder Σᵢ (suffix ≥ 2^i) — no floating log2, whose
    rounding at power-of-two boundaries would silently corrupt
    registers. NULLs are ignored (COUNT DISTINCT semantics).

    `by` adds grouping columns: one independent register set per group
    — the "distinct users per domain per day" ledger shape — at the
    identical single-shuffle cost (the groupBy key widens, the algebra
    is unchanged; pass the same `by` to hll_merge/hll_estimate)."""
    by = list(by or [])
    w = 60 - p
    h = portable_hash64(F.col(value_col).cast("string"))
    bucket = h.bitwiseAND(F.lit((1 << p) - 1))
    suffix = F.shiftright(h, p)
    bitlen = reduce(
        lambda a, b: a + b,
        [(suffix >= F.lit(1 << i)).cast("int") for i in range(w)],
    )
    rho = (F.lit(w + 1) - bitlen).cast("int")
    return (
        df.filter(F.col(value_col).isNotNull())
        .select(*by, bucket.alias("bucket"), rho.alias("rho"))
        .groupBy(*by, "bucket")
        .agg(F.max("rho").alias("maxrho"))
    )


def hll_merge(*sketches: DataFrame, by: list[str] | None = None) -> DataFrame:
    """Merge register tables from different partitions/days/sources:
    bucket-wise max. Exactly equals the sketch of the unioned inputs
    (max over a union is the max of maxes), so daily state never needs
    the raw data again."""
    by = list(by or [])
    merged = reduce(lambda a, b: a.unionByName(b), sketches)
    return merged.groupBy(*by, "bucket").agg(
        F.max("maxrho").alias("maxrho")
    )


def hll_estimate(
    regs: DataFrame,
    p: int = HLL_P,
    by: list[str] | None = None,
) -> DataFrame:
    """One row (est_micro, n_empty) from a register table — per group
    when `by` names grouping columns carried by the registers. The
    harmonic sum Σ 2^(−M[j]) is computed EXACTLY: scaled by 2^(w+1) it
    is an integer sum (2^(w+1−rho) per register, 2^(w+1) per empty
    bucket) that fits int64 at p=9 — order-free and associative, so
    the estimate is partition-deterministic. The only floating steps
    are the final division and (in the small-range regime, Flajolet's
    linear counting E = m·ln(m/V)) one ln — both absorbed by the
    micro-unit rounding (1-ulp drift sits ~9 orders below 0.5 µ)."""
    by = list(by or [])
    m, w = 1 << p, 60 - p
    scale = w + 1
    aggs = [
        (
            # coalesce: an EMPTY register table (no values sketched)
            # must yield s = m·2^scale → linear counting E = m·ln(1)
            # = 0, not a NULL that poisons the estimate
            F.coalesce(
                F.sum(
                    F.expr(
                        f"shiftleft(cast(1 as bigint), "
                        f"cast({scale} - maxrho as int))"
                    )
                ),
                F.lit(0).cast("bigint"),
            )
            + (F.lit(m) - F.count("*")) * F.lit(1 << scale)
        ).alias("s"),
        (F.lit(m) - F.count("*")).cast("bigint").alias("n_empty"),
    ]
    agg = regs.groupBy(*by).agg(*aggs) if by else regs.agg(*aggs)
    eraw = F.lit(hll_numerator(p)) / F.col("s").cast("double")
    e = F.when(
        (eraw <= F.lit(2.5 * m)) & (F.col("n_empty") > 0),
        F.lit(float(m)) * F.log(F.lit(float(m)) / F.col("n_empty").cast("double")),
    ).otherwise(eraw)
    return agg.select(
        *by,
        F.round(e * F.lit(1000000.0)).cast("bigint").alias("est_micro"),
        "n_empty",
    )


# ---- portable Bloom filter — the membership sketch ---------------------

#: Bloom geometry: m bits over k md5-seeded positions. 2 KiB of
#: registers; for n distinct keys the false-positive rate is
#: (1 − e^(−k·n/m))^k — ~1.2% at n = m/8 with k = 4.
BLOOM_M = 16384
BLOOM_K = 4

#: bits per int64 register word — 63, not 64: the DuckDB oracle
#: overflow-checks `1::BIGINT << 63`, and the sign bit buys nothing
_BLOOM_W = 63


def _bloom_positions(col: Column, m: int, k: int) -> list[Column]:
    """The k bit positions of a value: seeded portable hashes mod m —
    reproducible by the oracle byte-for-byte (seed i prefixes 'i:')."""
    s = col.cast("string")
    return [
        F.pmod(portable_hash64(s, seed=i), F.lit(m)) for i in range(k)
    ]


def bloom_build(
    df: DataFrame, value_col: str, m: int = BLOOM_M, k: int = BLOOM_K
) -> DataFrame:
    """PORTABLE Bloom filter of a column: (word, bits) int64 register
    rows — ≤⌈m/63⌉ of them, built with ONE aggregate (explode the k
    positions, bit_or per word; bit_or is idempotent/order-free, so
    the build is partition-deterministic and needs no distinct).
    Fifth member of the sketch family (CMS frequencies, HLL
    cardinality, KMV set algebra, histogram distribution — Bloom
    MEMBERSHIP): the "have we ever seen this key" prefilter that lets
    a daily-crawl dedup skip the state anti-join for the ~all-new
    majority of a batch. Merge across partitions/days with
    `bloom_merge` (bit-wise OR — the same decomposable algebra).
    NULLs are ignored; no false negatives, false-positive rate
    (1 − e^(−k·n/m))^k, and every verdict is DETERMINISTIC (md5
    positions), so even the false positives are oracle-reproducible."""
    pos = F.explode(
        F.array(*_bloom_positions(F.col(value_col), m, k))
    ).alias("pos")
    return (
        df.filter(F.col(value_col).isNotNull())
        .select(pos)
        .select(
            F.floor(F.col("pos") / _BLOOM_W).cast("bigint").alias(
                "word"
            ),
            F.pmod(F.col("pos"), F.lit(_BLOOM_W)).cast("int").alias(
                "bit"
            ),
        )
        .groupBy("word")
        .agg(
            F.bit_or(
                F.expr("shiftleft(cast(1 as bigint), bit)")
            ).alias("bits")
        )
    )


def bloom_merge(*sketches: DataFrame) -> DataFrame:
    """OR register tables from different partitions/days/sources —
    exactly equals the filter of the unioned inputs."""
    merged = reduce(lambda a, b: a.unionByName(b), sketches)
    return merged.groupBy("word").agg(F.bit_or("bits").alias("bits"))


def bloom_contains(
    regs: DataFrame,
    probes: DataFrame,
    value_col: str,
    m: int = BLOOM_M,
    k: int = BLOOM_K,
) -> DataFrame:
    """(value_col, maybe_present) per distinct probe: TRUE iff every
    one of the value's k bit positions is set. The register table is
    a few KB and broadcasts; probes never shuffle for the check
    itself (one distinct + one aggregate keyed by the probe). A
    duplicate position among a value's k seeds is counted once
    (distinct before the tally), so the all-bits test is exact."""
    ppos = (
        probes.select(F.col(value_col))
        .filter(F.col(value_col).isNotNull())
        .distinct()
        .select(
            value_col,
            F.explode(
                F.array(*_bloom_positions(F.col(value_col), m, k))
            ).alias("pos"),
        )
        .select(
            value_col,
            F.floor(F.col("pos") / _BLOOM_W).cast("bigint").alias(
                "word"
            ),
            F.pmod(F.col("pos"), F.lit(_BLOOM_W)).cast("int").alias(
                "bit"
            ),
        )
        .distinct()
    )
    # coalesce, not a bare expression: a probe word ABSENT from the
    # register table left-joins to NULL bits, and min() skips NULLs —
    # the miss must count as an explicit 0
    hit = F.coalesce(
        F.expr(
            "cast((bits & shiftleft(cast(1 as bigint), bit)) != 0 "
            "as int)"
        ),
        F.lit(0),
    )
    return (
        ppos.join(F.broadcast(regs), "word", "left")
        .groupBy(value_col)
        .agg((F.min(hit) == 1).alias("maybe_present"))
    )


def bloom_literal(
    regs: DataFrame, m: int = BLOOM_M
) -> list[int]:
    """Collect the register table into a dense Python word array —
    the form `bloom_maybe_contains` folds into a plan literal.
    JUSTIFIED driver collect: ≤⌈m/63⌉ rows (261 at the default m —
    2 KB), the same class as the IVF centroid and BPE merge-list
    collects; the point of a Bloom filter is precisely that its
    whole state fits anywhere."""
    n_words = (m + _BLOOM_W - 1) // _BLOOM_W
    arr = [0] * n_words
    for r in regs.collect():
        arr[int(r["word"])] = int(r["bits"])
    return arr


def bloom_maybe_contains(
    words: list[int],
    col: Column,
    m: int = BLOOM_M,
    k: int = BLOOM_K,
) -> Column:
    """MAP-SIDE membership test: TRUE iff every seeded position's bit
    is set in the literal word array. Pure codegen (array literal +
    shifts) — no join, no shuffle, no distinct — which is what makes
    the Bloom useful as a dedup prefilter at 100 TB: the ~all-new
    majority of a daily batch is cleared row-by-row inside the scan,
    and only "maybe seen" rows (true dups + the deterministic FP
    remainder) proceed to the exact state anti-join. No false
    negatives, so the split is lossless."""
    lit_words = F.array(
        *[F.lit(w).cast("bigint") for w in words]
    )
    checks = []
    for p in _bloom_positions(col, m, k):
        word = F.floor(p / _BLOOM_W).cast("int")
        bit = F.pmod(p, F.lit(_BLOOM_W)).cast("int")
        bits = F.element_at(lit_words, word + F.lit(1))
        # 2.0^bit is EXACT for bit ≤ 62 (powers of two carry no
        # mantissa), and F.shiftleft only takes a literal shift — the
        # double round-trip is the codegen-safe column-shift spelling
        mask = F.pow(F.lit(2.0), bit).cast("bigint")
        checks.append(bits.bitwiseAND(mask) != 0)
    return reduce(lambda a, b: a & b, checks)


# ---- fixed-bin histogram — the distribution sketch ---------------------


def hist_bounds(df: DataFrame, value_col: str) -> DataFrame:
    """Data-derived bounds: ONE broadcastable (lo, hi) stats row (the
    zorder pattern; NaNs scrubbed before max for the same reason)."""
    v = F.col(value_col).cast("double")
    clean = F.when(F.isnan(v), F.lit(None)).otherwise(v)
    return df.agg(
        F.min(clean).alias("lo"), F.max(clean).alias("hi")
    )


def _hist_lo_hi(df: DataFrame, bounds):
    """Resolve a bounds spec — (lo, hi) floats or a 1-row (lo, hi)
    frame (broadcast-joined in) — to (df', lo Column, hi Column)."""
    if isinstance(bounds, DataFrame):
        return df.crossJoin(F.broadcast(bounds)), F.col("lo"), F.col("hi")
    lo, hi = bounds
    return df, F.lit(float(lo)), F.lit(float(hi))


def hist_build(
    df: DataFrame,
    value_col: str,
    bounds,
    bins: int = 64,
) -> DataFrame:
    """Equi-width histogram registers (bin, cnt) over [lo, hi] — the
    DISTRIBUTION sketch completing the quartet (CMS = frequencies,
    HLL = cardinality, KMV = set algebra). `bounds` is (lo, hi) floats
    or a 1-row stats frame from `hist_bounds` (data-derived, the
    zorder pattern). Out-of-range values clamp to the edge bins;
    NULL/NaN drop. ≤`bins` rows, built with one codegen map + one
    aggregate; merge across partitions/days by summing cnt on bin
    (`hist_merge`); quantiles come from `hist_quantile` with error
    bounded by one bin width. Unlike percentile_approx's engine-
    internal KLL summary, these registers are a plain persistable
    table, reproducible exactly by the oracle."""
    src, lo_c, hi_c = _hist_lo_hi(df, bounds)
    v = F.col(value_col).cast("double")
    span = F.when(hi_c > lo_c, hi_c - lo_c).otherwise(F.lit(1.0))
    raw = F.floor((v - lo_c) / span * F.lit(float(bins))).cast("bigint")
    b = F.least(F.greatest(raw, F.lit(0)), F.lit(bins - 1))
    return (
        src.filter(v.isNotNull() & ~F.isnan(v))
        .select(b.alias("bin"))
        .groupBy("bin")
        .agg(F.count("*").alias("cnt"))
    )


def hist_merge(*hists: DataFrame) -> DataFrame:
    """Sum counts bin-wise — exactly the histogram of the unioned
    inputs (counts are additive), so daily distribution state
    composes without raw data."""
    merged = reduce(lambda a, b: a.unionByName(b), hists)
    return merged.groupBy("bin").agg(F.sum("cnt").alias("cnt"))


def hist_quantile(
    hist: DataFrame,
    qs: list[float],
    bounds,
    bins: int = 64,
) -> DataFrame:
    """Quantile estimates from histogram registers: for each q, walk
    the cumulative counts to the first bin covering rank q·n and
    linearly interpolate inside it — deterministic (the register walk
    is integer; the interpolation is one fixed IEEE expression), with
    error ≤ one bin width by construction. Returns (q, value). The
    register table is ≤`bins` rows, so the single-partition cumsum
    window is free."""
    from pyspark.sql import Window

    cum_w = Window.orderBy("bin").rowsBetween(
        Window.unboundedPreceding, 0
    )
    tot_w = Window.partitionBy()
    cum = hist.select(
        "bin",
        "cnt",
        F.sum("cnt").over(cum_w).alias("cum"),
        F.sum("cnt").over(tot_w).alias("n"),
    )
    qlit = F.explode(
        F.array(*[F.lit(float(q)) for q in qs])
    ).alias("q")
    target = F.col("q") * F.col("n").cast("double")
    hit = (
        cum.select(qlit, "bin", "cnt", "cum", "n")
        .filter(F.col("cum").cast("double") >= target)
    )
    first = hit.groupBy("q").agg(
        F.min_by(F.struct("bin", "cnt", "cum", "n"), F.col("bin")).alias("r")
    ).select("q", "r.bin", "r.cnt", "r.cum", "r.n")
    first, lo_c, hi_c = _hist_lo_hi(first, bounds)
    width = (hi_c - lo_c) / F.lit(float(bins))
    frac = (
        target - (F.col("cum") - F.col("cnt")).cast("double")
    ) / F.col("cnt").cast("double")
    value = lo_c + (F.col("bin").cast("double") + frac) * width
    return first.select("q", value.alias("value"))


# ---- KMV (k minimum values) — distinct-count sketch with SET algebra

#: default register count; σ ≈ 1/√(k−2) ≈ 13% at 64 — tune k per use
KMV_K = 64

#: unit-interval scale of portable_hash64 (16^15), as the exact float
#: literal both engines divide by
KMV_SPAN = float(16**15)


def kmv_build(df: DataFrame, value_col: str, k: int = KMV_K) -> DataFrame:
    """KMV sketch of a column: the k SMALLEST distinct portable hash
    values, as a plain (h) register table (Bar-Yossef et al. 2002 /
    Beyer et al. 2007). What it adds over the HLL: registers are
    actual sample hashes, so sketches support SET OPERATIONS — union
    by merge-and-trim, Jaccard/intersection estimation — which HLL
    registers cannot express. Like the HLL/CMS registers it is
    persistable cross-day state, deterministic (md5 hashes — no RNG),
    and oracle-reproducible bit-for-bit.

    Spark shape: distinct-hash → global k-smallest. orderBy().limit(k)
    compiles to TakeOrderedAndProject — per-partition top-k heaps and
    a k-row driver merge, NO global sort exchange, so at 100 TB the
    scan dominates and only k·partitions hashes move."""
    h = portable_hash64(F.col(value_col).cast("string"))
    return (
        df.filter(F.col(value_col).isNotNull())
        .select(h.alias("h"))
        .distinct()
        .orderBy("h")
        .limit(k)
    )


def kmv_merge(a: DataFrame, b: DataFrame, k: int = KMV_K) -> DataFrame:
    """Union of the underlying SETS at sketch size: k smallest of the
    merged registers. Exactly equals kmv_build over the unioned raw
    inputs (k-min of a union is the k-min of the per-side k-mins),
    so daily sketches compose without reprocessing."""
    return a.unionByName(b).distinct().orderBy("h").limit(k)


def _kmv_est(n_regs, hmax, k: int):
    """n̂ = (k−1)/u_(k); exact count when the sketch isn't full (the
    whole set is in the registers)."""
    return F.when(n_regs < k, n_regs.cast("double")).otherwise(
        F.lit(float(k - 1)) / (hmax.cast("double") / F.lit(KMV_SPAN))
    )


def kmv_estimate(regs: DataFrame, k: int = KMV_K) -> DataFrame:
    """One row (est_micro) — the distinct-count estimate of the
    sketched set, in micro-units (the division is the only floating
    step; both engines perform the identical IEEE sequence)."""
    agg = regs.agg(F.count("*").alias("n"), F.max("h").alias("hmax"))
    return agg.select(
        F.round(_kmv_est(F.col("n"), F.col("hmax"), k) * 1000000.0)
        .cast("bigint")
        .alias("est_micro")
    )


def kmv_overlap(a: DataFrame, b: DataFrame, k: int = KMV_K) -> DataFrame:
    """Set-overlap estimates from two sketches: one row
    (jaccard_micro, union_micro, inter_micro). The union sketch's
    registers are scored for membership in each input sketch
    (broadcast joins on k-row tables): Jaccard ≈ |in both|/|union
    registers|, union via the KMV estimator on the merged sketch,
    intersection = Jaccard × union — the standard KMV coincidence
    estimator. THE corpus question this answers at 100 TB: "how many
    documents/users do crawl A and crawl B share" without ever
    joining the raw data.

    Each input sketch appears twice in the plan (inside the union
    sketch and again in the membership join), yet its source is
    scanned once: the executed plan reads the sketch's hash exchange a
    second time through a ReusedExchange. So the call only builds a
    plan — it runs no Spark job and pins no storage."""
    uni = kmv_merge(a, b, k)
    flagged = (
        uni.join(
            F.broadcast(a.select(F.col("h"), F.lit(1).alias("__ina"))),
            "h",
            "left",
        )
        .join(
            F.broadcast(b.select(F.col("h"), F.lit(1).alias("__inb"))),
            "h",
            "left",
        )
    )
    agg = flagged.agg(
        F.count("*").alias("nu"),
        F.sum(
            (F.col("__ina").isNotNull() & F.col("__inb").isNotNull()).cast(
                "bigint"
            )
        ).alias("m"),
        F.max("h").alias("hmax"),
    )
    jac = F.col("m").cast("double") / F.col("nu").cast("double")
    uni_est = _kmv_est(F.col("nu"), F.col("hmax"), k)
    return agg.select(
        F.round(jac * 1000000.0).cast("bigint").alias("jaccard_micro"),
        F.round(uni_est * 1000000.0).cast("bigint").alias("union_micro"),
        F.round(jac * uni_est * 1000000.0).cast("bigint").alias("inter_micro"),
    )


def hll_within_contract(
    df: DataFrame, col: str, rel_err: float = 0.05
) -> DataFrame:
    """One row: exact distinct count + whether HyperLogLog++
    (`approx_count_distinct` at `rel_err` target standard deviation)
    landed within 4σ of it. The HLL register values are
    implementation-specific (not oracle-reproducible), but the ERROR
    CONTRACT is checkable exactly: the oracle asserts `within = TRUE`,
    so a broken sketch shows as a value mismatch. At scale HLL is the
    constant-memory replacement for COUNT(DISTINCT)'s shuffle of every
    key; this operator documents (and pins) the accuracy trade."""
    bound = 4.0 * rel_err
    return df.agg(
        F.countDistinct(col).alias("exact_n"),
        F.approx_count_distinct(col, rel_err).alias("__est"),
    ).select(
        "exact_n",
        (
            F.abs(F.col("__est") - F.col("exact_n"))
            <= F.col("exact_n") * bound
        ).alias("within"),
    )


def quantile_within_contract(
    df: DataFrame, col: str, q: float = 0.5, accuracy: int = 1000
) -> DataFrame:
    """One row: row count + whether `percentile_approx`'s q-quantile
    honors its documented RANK guarantee: the returned value's rank is
    within n/accuracy of q·n. The KLL/GK summary itself is engine-
    internal, but rank error is exactly checkable from the data —
    the oracle asserts `within = TRUE`.

    The estimate is a one-row aggregate broadcast into the rank sums,
    so the call only builds a plan: no job runs until the caller
    collects."""
    est = df.agg(F.percentile_approx(col, q, accuracy).alias("__est"))
    n = F.count(F.lit(1)).cast("double")
    # with duplicated values the estimate's rank is an INTERVAL
    # [count(<est)+1, count(<=est)]; the guarantee holds iff that
    # interval overlaps [q·n − n/acc, q·n + n/acc]
    rank_hi = F.sum((F.col(col) <= F.col("__est")).cast("long")).cast("double")
    rank_lo = (
        F.sum((F.col(col) < F.col("__est")).cast("long")).cast("double") + 1
    )
    tol = n / accuracy + 1
    return df.crossJoin(F.broadcast(est)).agg(
        F.count(F.lit(1)).alias("exact_n"),
        (
            (rank_lo <= n * q + tol) & (rank_hi >= n * q - tol)
        ).alias("within"),
    )
