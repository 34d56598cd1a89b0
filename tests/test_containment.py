"""Containment (asymmetric near-dup) — prefix-filtered join vs a
brute-force python reference, incl. the snippet⊂page case the
symmetric Jaccard funnel misses by construction."""

from __future__ import annotations

import itertools

import pytest
from pyspark.sql import functions as F

from bigdatabowl2024_25_spark.operators.dedup import (
    containment_pairs,
    jaccard_pairs,
    lsh_candidates,
    minhash_signatures,
    shingle_hashes,
    with_shingles,
)
from conftest import job_group


def _shingle_sets(docs: dict[int, str], n: int = 3) -> dict[int, set]:
    out = {}
    for i, text in docs.items():
        w = text.split()
        out[i] = {
            " ".join(w[j : j + n]) for j in range(max(len(w) - n + 1, 1))
        }
    return out


DOCS = {
    # a long page ...
    0: "alpha beta gamma delta epsilon zeta eta theta iota kappa "
    "lam mu nu xi omicron pi rho sigma tau upsilon",
    # ... and a short snippet fully contained in it (quote case)
    1: "zeta eta theta iota kappa lam mu",
    # an unrelated doc
    2: "one two three four five six seven eight nine ten",
    # a partial overlap below threshold
    3: "alpha beta gamma delta nine ten eleven twelve thirteen",
}

T = 0.8


def test_containment_matches_brute_force(spark):
    df = spark.createDataFrame(
        list(DOCS.items()), "doc_id long, text string"
    )
    got = {
        (r.id_a, r.id_b): r.containment
        for r in containment_pairs(
            with_shingles(df, "text", "doc_id"), "doc_id", threshold=T
        ).collect()
    }
    sets = _shingle_sets(DOCS)
    want = {}
    for a, b in itertools.permutations(DOCS, 2):
        c = len(sets[a] & sets[b]) / len(sets[a])
        if c >= T:
            want[(a, b)] = c
    assert set(got) == set(want)
    for k, v in want.items():
        assert abs(got[k] - v) < 1e-12, (k, got[k], v)
    # the quote case: snippet 1 ⊆ page 0, but not the converse
    assert (1, 0) in got and (0, 1) not in got


def test_containment_catches_what_jaccard_misses(spark):
    """Snippet⊆page has Jaccard ≈ |snippet|/|page| — under any sane
    symmetric threshold — while containment(snippet→page) = 1.0."""
    df = spark.createDataFrame(
        list(DOCS.items()), "doc_id long, text string"
    )
    shingled = with_shingles(df, "text", "doc_id")
    hashes = shingle_hashes(shingled, "doc_id")
    sigs = minhash_signatures(shingled, "doc_id", k=8, hashes=hashes)
    cand = lsh_candidates(sigs, "doc_id", k=8, bands=4)
    jac = {
        (r.id_a, r.id_b)
        for r in jaccard_pairs(
            cand, shingled, "doc_id", threshold=0.4, hashes=hashes
        ).collect()
    }
    assert (0, 1) not in jac and (1, 0) not in jac
    con = {
        (r.id_a, r.id_b): r.containment
        for r in containment_pairs(
            shingled, "doc_id", threshold=0.9, hashes=hashes
        ).collect()
    }
    assert con[(1, 0)] == 1.0


def test_containment_partition_invariance(spark):
    df = spark.createDataFrame(
        list(DOCS.items()), "doc_id long, text string"
    )
    base = containment_pairs(
        with_shingles(df, "text", "doc_id"), "doc_id", threshold=T
    )
    a = {tuple(r) for r in base.collect()}
    b = {
        tuple(r)
        for r in containment_pairs(
            with_shingles(df.repartition(7), "text", "doc_id"),
            "doc_id",
            threshold=T,
        ).collect()
    }
    assert a == b


def test_containment_plan_stays_jvm_side(spark):
    df = spark.createDataFrame(
        list(DOCS.items()), "doc_id long, text string"
    )
    plan = containment_pairs(
        with_shingles(df, "text", "doc_id"), "doc_id", threshold=T
    )._jdf.queryExecution().executedPlan().toString()
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_hash_sets_verify_matches_exploded_join(spark):
    """Round-16 internals pin: the array_intersect verify layout
    (`hash_sets`) must produce the exact intersection/size integers
    the old explode-join-reaggregate produced — including candidates
    with ZERO overlap, which the old inner-join form dropped before
    the threshold filter and the new form scores as 0.0. The second
    input duplicates some (doc, h) rows: the sets' precondition is
    enforced, so the sizes and scores must not move (a row count as n
    would bias Jaccard low, since array_intersect dedups)."""
    from bigdatabowl2024_25_spark.operators.dedup import hash_sets

    df = spark.createDataFrame(
        list(DOCS.items()), "doc_id long, text string"
    )
    sh = with_shingles(df, "text", "doc_id")
    hashes = shingle_hashes(sh, "doc_id")
    dup = hashes.unionAll(hashes.filter(F.col("doc_id").isin(0, 1)))
    ref = _shingle_sets(DOCS)
    # all unordered candidate pairs, including zero-overlap ones
    cands = spark.createDataFrame(
        [(a, b) for a in DOCS for b in DOCS if a < b],
        "id_a long, id_b long",
    )
    for h in (hashes, dup):
        sets = {
            r["doc"]: (set(r["hs"]), r["n"])
            for r in hash_sets(h, "doc_id").collect()
        }
        for i, s in ref.items():
            assert sets[i][1] == len(sets[i][0]) == len(s)
        got = {
            (r["id_a"], r["id_b"]): r["jaccard"]
            for r in jaccard_pairs(
                cands, sh, "doc_id", threshold=0.01, hashes=h
            ).collect()
        }
        for (a, b) in [(a, b) for a in DOCS for b in DOCS if a < b]:
            sa, sb = ref[a], ref[b]
            j = len(sa & sb) / len(sa | sb)
            if j >= 0.01:
                assert abs(got[(a, b)] - j) < 1e-12, (a, b)
            else:
                assert (a, b) not in got


def test_containment_duplicate_hash_rows(spark):
    """Duplicated (doc, h) rows must not shorten the prefix filter's
    distinct prefix. The snippet's rarest shingle ("g h zz", df 1) is
    the one it does not share with the page, and its prefix holds
    5 − ⌈0.8·5⌉ + 1 = 2 shingles. Numbering raw rows, the duplicated
    snippet's prefix would be that shingle twice, and the pair
    (containment 4/5) would be lost without error."""
    docs = {10: "a b c d e f g h i j", 11: "c d e f g h zz"}
    df = spark.createDataFrame(
        list(docs.items()), "doc_id long, text string"
    )
    sh = with_shingles(df, "text", "doc_id")
    hashes = shingle_hashes(sh, "doc_id")
    dup = hashes.unionAll(hashes.filter(F.col("doc_id") == 11))
    for h in (hashes, dup):
        got = {
            (r.id_a, r.id_b): r.containment
            for r in containment_pairs(
                sh, "doc_id", threshold=T, hashes=h
            ).collect()
        }
        assert got == {(11, 10): 0.8}


@pytest.mark.parametrize("threshold", [0.0, -0.5])
def test_pair_scorers_reject_non_positive_threshold(spark, threshold):
    """threshold <= 0 is refused before any plan is built: ValueError,
    and no Spark job runs."""
    df = spark.createDataFrame(
        list(DOCS.items()), "doc_id long, text string"
    )
    sh = with_shingles(df, "text", "doc_id")
    cands = spark.createDataFrame([(0, 1)], "id_a long, id_b long")
    with job_group(spark.sparkContext, "test_threshold_check") as jobs:
        with pytest.raises(ValueError, match="threshold must be > 0"):
            jaccard_pairs(cands, sh, "doc_id", threshold=threshold)
        with pytest.raises(ValueError, match="threshold must be > 0"):
            containment_pairs(sh, "doc_id", threshold=threshold)
    assert jobs() == []
