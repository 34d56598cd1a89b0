"""Count-Min sketch properties: one-sided error (est ≥ true), bounded
overestimate, and mergeability (sketch of parts == sketch of whole)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from bigdatabowl2024_25_spark.operators.sketch import cms_build, cms_query
from bigdatabowl2024_25_spark.sources.io import load_table
from conftest import job_group

SF = "/root/testdata/sf0.001"
W, D = 64, 4


@pytest.fixture(scope="module")
def events(spark):
    return load_table(spark, SF, "events").select("event_id", "user_id").cache()


def test_cms_one_sided_and_bounded(spark, events):
    sketch = cms_build(events, "user_id", width=W, depth=D)
    items = events.select("user_id").distinct()
    est = {
        r.user_id: r.est_count
        for r in cms_query(sketch, items, "user_id", width=W, depth=D).collect()
    }
    true = {
        r.user_id: r.c
        for r in events.groupBy("user_id").agg(F.count("*").alias("c")).collect()
    }
    n = sum(true.values())
    assert set(est) == set(true)
    for k, t in true.items():
        assert est[k] >= t, f"CMS must never underestimate ({k})"
        # ε = e/width ⇒ overshoot ≤ ε·N with high probability; allow 2×
        assert est[k] - t <= 2 * 2.72 * n / W, f"overshoot too large ({k})"


def test_cms_merge_equals_whole(spark, events):
    """Sketches are mergeable by summing counters — partition the
    input, sketch each part, sum, and the counters must equal the
    whole-input sketch exactly."""
    whole = cms_build(events, "user_id", width=W, depth=D)
    p1 = cms_build(events.filter(F.col("event_id") % 2 == 0), "user_id", W, D)
    p2 = cms_build(events.filter(F.col("event_id") % 2 == 1), "user_id", W, D)
    merged = (
        p1.unionByName(p2)
        .groupBy("row", "bucket")
        .agg(F.sum("cnt").alias("cnt"))
    )
    a = sorted(map(tuple, whole.collect()))
    b = sorted(map(tuple, merged.collect()))
    assert a == b


# ---- portable HyperLogLog ---------------------------------------------


def _regs(df):
    return {(r.bucket, r.maxrho) for r in df.collect()}


def test_hll_accuracy_known_cardinalities(spark):
    """Estimate within the m=512 error envelope across regimes: the
    linear-counting range (n ≪ m), the crossover, and the raw-HLL
    range (n ≫ m). σ ≈ 1.04/√512 ≈ 4.6%; allow 4σ."""
    from bigdatabowl2024_25_spark.operators.sketch import (
        hll_build,
        hll_estimate,
    )

    for n in (50, 500, 5000, 50000):
        df = spark.range(n).select(
            F.concat(F.lit("user-"), F.col("id")).alias("v")
        )
        est = hll_estimate(hll_build(df, "v")).collect()[0]
        e = est.est_micro / 1e6
        assert abs(e - n) <= 4 * 0.046 * n + 2, f"n={n} est={e}"


def test_hll_merge_equals_whole_and_partition_invariance(spark):
    """merge(sketch(A), sketch(B)) must equal sketch(A ∪ B) REGISTER
    FOR REGISTER (not just in estimate), and registers must not depend
    on partitioning. Overlapping parts are fine — max is idempotent."""
    from bigdatabowl2024_25_spark.operators.sketch import (
        hll_build,
        hll_merge,
    )

    whole = spark.range(3000).select(
        F.concat(F.lit("k"), F.col("id")).alias("v")
    )
    a = whole.filter(F.col("id") % 3 != 0)
    b = whole.filter(F.col("id") % 3 != 1)  # overlaps a on id%3==2
    merged = _regs(hll_merge(hll_build(a, "v"), hll_build(b, "v")))
    direct = _regs(hll_build(whole, "v"))
    assert merged == direct
    assert _regs(hll_build(whole.repartition(13), "v")) == direct


def test_hll_nulls_and_duplicates_ignored(spark):
    """COUNT DISTINCT semantics: NULLs contribute nothing; duplicate
    values leave the registers (and hence the estimate) unchanged."""
    from bigdatabowl2024_25_spark.operators.sketch import hll_build

    base = spark.createDataFrame(
        [(f"u{i}",) for i in range(200)], "v string"
    )
    noisy = base.union(
        spark.createDataFrame(
            [(None,)] * 5 + [("u7",)] * 50, "v string"
        )
    )
    assert _regs(hll_build(noisy, "v")) == _regs(hll_build(base, "v"))


# ---- KMV (k minimum values) ---------------------------------------------


def _hset(df):
    return {r.h for r in df.collect()}


def test_kmv_estimate_and_exact_regime(spark):
    """Estimator within the k=64 envelope (σ ≈ 1/√62 ≈ 12.7%; allow
    4σ) for n ≫ k, and EXACT when the set fits the registers."""
    from bigdatabowl2024_25_spark.operators.sketch import (
        kmv_build,
        kmv_estimate,
    )

    for n, tol in ((40, 0.0), (5000, 4 * 0.127), (50000, 4 * 0.127)):
        df = spark.range(n).select(
            F.concat(F.lit("v"), F.col("id")).alias("v")
        )
        est = kmv_estimate(kmv_build(df, "v")).collect()[0].est_micro / 1e6
        assert abs(est - n) <= tol * n, f"n={n} est={est}"


def test_kmv_merge_equals_whole(spark):
    """merge(kmv(A), kmv(B)) register-identical to kmv(A ∪ B), with
    overlapping inputs, and partition-invariant."""
    from bigdatabowl2024_25_spark.operators.sketch import (
        kmv_build,
        kmv_merge,
    )

    whole = spark.range(4000).select(
        F.concat(F.lit("m"), F.col("id")).alias("v")
    )
    a = whole.filter(F.col("id") < 2600)
    b = whole.filter(F.col("id") >= 1500)  # overlap [1500, 2600)
    merged = _hset(kmv_merge(kmv_build(a, "v"), kmv_build(b, "v")))
    direct = _hset(kmv_build(whole, "v"))
    assert merged == direct
    assert _hset(kmv_build(whole.repartition(11), "v")) == direct


def test_kmv_overlap_estimates(spark):
    """Jaccard/union/intersection estimates vs ground truth on sets
    with known 1/3 overlap (A = [0, 20k), B = [10k, 40k): J = 1/4,
    |A∪B| = 40k, |A∩B| = 10k). KMV overlap compounds two estimators,
    so the tolerance is loose (±60% on the intersection) — the point
    pinned here is unbiased-ish magnitude, not tightness; exactness
    is pinned by the oracle hash on the driver side."""
    from bigdatabowl2024_25_spark.operators.sketch import (
        kmv_build,
        kmv_overlap,
    )

    mk = lambda lo, hi: spark.range(lo, hi).select(  # noqa: E731
        F.concat(F.lit("o"), F.col("id")).alias("v")
    )
    ov = kmv_overlap(kmv_build(mk(0, 20000), "v"),
                     kmv_build(mk(10000, 40000), "v")).collect()[0]
    jac = ov.jaccard_micro / 1e6
    uni = ov.union_micro / 1e6
    inter = ov.inter_micro / 1e6
    assert abs(uni - 40000) <= 0.5 * 40000
    assert 0.05 <= jac <= 0.5
    assert abs(inter - 10000) <= 0.6 * 10000


def test_kmv_overlap_builds_a_plan_only(spark):
    """Calling `kmv_overlap` starts no Spark job and pins nothing: after
    the collect the persisted-RDD count is back at its entry value.
    Each input sketch is still computed once: the executed plan reads
    its exchange a second time (ReusedExchange)."""
    from bigdatabowl2024_25_spark.operators.sketch import (
        kmv_build,
        kmv_overlap,
    )

    sc = spark.sparkContext
    pinned = sc._jsc.getPersistentRDDs().size()
    a = kmv_build(spark.range(0, 3000).select(F.col("id").alias("v")), "v")
    b = kmv_build(spark.range(1000, 5000).select(F.col("id").alias("v")), "v")
    with job_group(sc, "test_kmv_overlap_call") as jobs:
        ov = kmv_overlap(a, b)
    assert jobs() == []
    ov.collect()
    assert sc._jsc.getPersistentRDDs().size() == pinned
    plan = ov._jdf.queryExecution().executedPlan().toString()
    assert "ReusedExchange" in plan


def test_quantile_within_contract_builds_a_plan_only(spark, monkeypatch):
    """Calling `quantile_within_contract` starts no Spark job: the
    percentile estimate is a one-row aggregate inside the plan, not a
    driver-side collect. Nor does calling q38 with its two declared
    eager pins (`cut`) passed through and its input already loaded
    (parquet schema inference is a job of its own): no hidden job is
    left in it. The contract row itself still holds."""
    from bigdatabowl2024_25_spark import suite
    from bigdatabowl2024_25_spark.operators.sketch import (
        quantile_within_contract,
    )
    from bigdatabowl2024_25_spark.suite import sketch_q

    suite.load_all()
    sc = spark.sparkContext
    e = load_table(spark, SF, "events")
    monkeypatch.setattr(sketch_q, "load_table", lambda *_: e)
    monkeypatch.setattr(sketch_q, "cut", lambda df: df)
    with job_group(sc, "test_quantile_call") as jobs:
        out = quantile_within_contract(e, "value", q=0.5, accuracy=1000)
    assert jobs() == []
    with job_group(sc, "test_q38_call") as jobs:
        q38 = suite.QUERIES["q38_cms_point_counts"](spark, SF)
    assert jobs() == []
    row = out.collect()[0]
    assert row.exact_n == e.count() and row.within is True
    assert q38.filter(F.col("kind") == "quantile").first().within is True


def test_hll_grouped_ledger(spark):
    """Grouped registers (`by=`) — the per-domain cardinality ledger:
    each group's registers/estimate must equal an independent sketch
    of that group alone, and grouped merge must equal the grouped
    sketch of the union."""
    from bigdatabowl2024_25_spark.operators.sketch import (
        hll_build,
        hll_estimate,
        hll_merge,
    )

    df = spark.range(6000).select(
        F.concat(F.lit("g"), F.col("id")).alias("v"),
        (F.col("id") % 3).cast("string").alias("dom"),
    )
    grouped = hll_build(df, "v", by=["dom"])
    for dom in ("0", "1", "2"):
        alone = _regs(hll_build(df.filter(F.col("dom") == dom), "v"))
        sliced = {
            (r.bucket, r.maxrho)
            for r in grouped.filter(F.col("dom") == dom)
            .select("bucket", "maxrho").collect()
        }
        assert sliced == alone, dom
    ests = {
        r.dom: r.est_micro / 1e6
        for r in hll_estimate(grouped, by=["dom"]).collect()
    }
    assert set(ests) == {"0", "1", "2"}
    for dom, e in ests.items():
        assert abs(e - 2000) <= 4 * 0.046 * 2000 + 2, (dom, e)
    # grouped merge across two day-batches == grouped sketch of union
    d1 = df.filter(F.col("id") < 4000)
    d2 = df.filter(F.col("id") >= 3000)
    merged = hll_merge(
        hll_build(d1, "v", by=["dom"]),
        hll_build(d2, "v", by=["dom"]),
        by=["dom"],
    )
    assert sorted(map(tuple, merged.collect())) == sorted(
        map(tuple, grouped.collect())
    )


def test_hll_estimate_empty_registers_is_zero(spark):
    """An empty/all-NULL input must estimate 0 distinct (linear
    counting with V = m), not NULL (review finding: the exact sum was
    NULL over zero register rows)."""
    from bigdatabowl2024_25_spark.operators.sketch import (
        HLL_M,
        hll_build,
        hll_estimate,
    )

    empty = spark.createDataFrame([(None,)], "v string")
    row = hll_estimate(hll_build(empty, "v")).collect()[0]
    assert row.est_micro == 0 and row.n_empty == HLL_M


# ---- fixed-bin histogram (distribution sketch) --------------------------


def test_hist_quantiles_within_bin_width(spark):
    """Quantile estimates land within one bin width of the exact
    quantile; edge values clamp; NULL/NaN drop; merge = whole."""
    import numpy as np

    from bigdatabowl2024_25_spark.operators.sketch import (
        hist_bounds,
        hist_build,
        hist_merge,
        hist_quantile,
    )

    vals = [float(v) for v in np.random.default_rng(7).normal(50, 12, 4000)]
    df = spark.createDataFrame(
        [(v,) for v in vals] + [(None,), (float("nan"),)], "v double"
    )
    hb = hist_bounds(df, "v").localCheckpoint()
    reg = hist_build(df, "v", hb, 64)
    assert reg.agg(F.sum("cnt")).collect()[0][0] == len(vals)
    lo, hi = hb.collect()[0]
    width = (hi - lo) / 64
    got = {
        r.q: r.value
        for r in hist_quantile(reg, [0.1, 0.5, 0.9], hb, 64).collect()
    }
    for q, est in got.items():
        exact = float(np.quantile(vals, q))
        assert abs(est - exact) <= width + 1e-9, (q, est, exact)
    # merge property: per-half histograms sum to the whole
    a = spark.createDataFrame([(v,) for v in vals[:2500]], "v double")
    b = spark.createDataFrame([(v,) for v in vals[2500:]], "v double")
    merged = hist_merge(
        hist_build(a, "v", hb, 64), hist_build(b, "v", hb, 64)
    )
    assert sorted(map(tuple, merged.collect())) == sorted(
        map(tuple, reg.collect())
    )
    # out-of-range values clamp to edge bins under FIXED bounds
    wide = spark.createDataFrame([(-1e9,), (1e9,)], "v double")
    bins = {r.bin for r in hist_build(wide, "v", (0.0, 100.0), 64).collect()}
    assert bins == {0, 63}


def test_bloom_membership(spark):
    """Portable Bloom: no false negatives ever, deterministic
    verdicts, merge ≡ whole, and a sane false-positive rate at the
    designed load."""
    from bigdatabowl2024_25_spark.operators.sketch import (
        BLOOM_K,
        BLOOM_M,
        bloom_build,
        bloom_contains,
        bloom_merge,
    )

    present = list(range(500))
    df = spark.createDataFrame([(v,) for v in present], "v long")
    regs = bloom_build(df, "v")

    probes = spark.range(0, 2000).select(F.col("id").alias("v"))
    got = {
        r["v"]: r["maybe_present"]
        for r in bloom_contains(regs, probes, "v").collect()
    }
    # no false negatives: every inserted key answers TRUE
    assert all(got[v] for v in present)
    # false positives exist but stay near theory:
    # (1 - e^(-k n / m))^k ≈ 0.12% at n=500, m=16384, k=4
    import math

    fp = sum(1 for v in range(500, 2000) if got[v])
    bound = (1 - math.exp(-BLOOM_K * 500 / BLOOM_M)) ** BLOOM_K
    assert fp / 1500 <= bound * 5 + 0.01

    # merge of disjoint halves == filter of the union, register-exact
    a = spark.createDataFrame([(v,) for v in present[:250]], "v long")
    b = spark.createDataFrame([(v,) for v in present[250:]], "v long")
    merged = bloom_merge(bloom_build(a, "v"), bloom_build(b, "v"))
    assert sorted(map(tuple, merged.collect())) == sorted(
        map(tuple, regs.collect())
    )

    # determinism under repartitioning (bit_or is order-free)
    again = bloom_build(df.repartition(7), "v")
    assert sorted(map(tuple, again.collect())) == sorted(
        map(tuple, regs.collect())
    )

    # NULLs ignored on both sides
    withnull = spark.createDataFrame(
        [(1,), (None,)], "v long"
    )
    assert bloom_build(withnull, "v").count() <= 4
    out = bloom_contains(regs, withnull, "v").collect()
    assert [r["v"] for r in out] == [1]
