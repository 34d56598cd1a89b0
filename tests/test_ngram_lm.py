"""N-gram LM perplexity scoring (operators/ngram_lm.py): agreement
with a pure-Python reference, exact partition invariance (decimal
log-prob sums), the quality-filter ordering property, prune-only-
raises-perplexity, and the broadcast-model single-shuffle plan."""

from __future__ import annotations

import math
import re

from pyspark.sql import functions as F

from bigdatabowl2024_25_spark.operators.ngram_lm import (
    BOS,
    lm_perplexity,
    lm_train,
)

CORPUS = [
    (0, "the cat sat on the mat"),
    (1, "the dog sat on the log"),
    (2, "the cat and the dog"),
    (3, "a cat sat"),
    (4, "the the the the"),
]


def _norm(s: str) -> list[str]:
    s = re.sub(r"[^a-z0-9 ]", "", s.lower())
    s = re.sub(r" +", " ", s).strip()
    return [t for t in s.split(" ") if t]


def _ref_scores(corpus, alpha=0.1, min_count=1):
    pairs = []
    for _, text in corpus:
        toks = _norm(text)
        prev = BOS
        for t in toks:
            pairs.append((prev, t))
            prev = t
    cb: dict[tuple[str, str], int] = {}
    cu: dict[str, int] = {}
    for p in pairs:
        cb[p] = cb.get(p, 0) + 1
        cu[p[0]] = cu.get(p[0], 0) + 1
    cb = {k: v for k, v in cb.items() if v >= min_count}
    vocab = len({t for _, t in pairs}) + 1
    out = {}
    for doc_id, text in corpus:
        toks = _norm(text)
        if not toks:
            continue
        prev, lp = BOS, 0.0
        for t in toks:
            num = cb.get((prev, t), 0) + alpha
            den = cu.get(prev, 0) + alpha * vocab
            lp += math.log(num / den)
            prev = t
        ce = (-lp / len(toks)) / math.log(2)
        out[doc_id] = (len(toks), ce, 2.0**ce)
    return out


def _spark_scores(spark, corpus, min_count=1, repartition=None):
    df = spark.createDataFrame(corpus, "doc_id long, text string")
    if repartition:
        df = df.repartition(repartition)
    bigrams, contexts, vocab = lm_train(df, "text", "doc_id", min_count)
    got = lm_perplexity(
        df, "text", "doc_id", bigrams, contexts, vocab
    ).collect()
    return {
        r.doc_id: (r.n_tokens, r.cross_entropy_bits, r.perplexity)
        for r in got
    }


def test_matches_python_reference(spark):
    got = _spark_scores(spark, CORPUS)
    want = _ref_scores(CORPUS)
    assert got.keys() == want.keys()
    for k in want:
        assert got[k][0] == want[k][0]
        assert abs(got[k][1] - want[k][1]) < 1e-9, (k, got[k], want[k])
        assert abs(got[k][2] - want[k][2]) < 1e-9


def test_partition_invariance_exact(spark):
    """Decimal log-prob sums make scores BIT-identical under any
    partitioning — the suite-wide float policy, not a tolerance."""
    a = _spark_scores(spark, CORPUS)
    b = _spark_scores(spark, CORPUS, repartition=7)
    assert a == b


def test_quality_filter_ordering(spark):
    """The filter property the operator exists for: in-distribution
    text scores lower perplexity than character garbage."""
    docs = spark.read.parquet(
        "/root/testdata/sf0.001/documents.parquet"
    ).select("doc_id", "text")
    bigrams, contexts, vocab = lm_train(docs, "text", "doc_id")
    probe = spark.createDataFrame(
        [
            (1_000_001, docs.orderBy("doc_id").first().text),
            (1_000_002, "zq xv qq kjw zzkp wqx vvq jzx qpw kkz " * 4),
        ],
        "doc_id long, text string",
    )
    got = {
        r.doc_id: r.perplexity
        for r in lm_perplexity(
            probe, "text", "doc_id", bigrams, contexts, vocab
        ).collect()
    }
    assert got[1_000_001] < got[1_000_002], got
    assert all(p >= 1.0 for p in got.values())


def test_pruning_only_raises_perplexity(spark):
    """min_count pruning moves pruned bigram mass to the smoothed
    floor and must never LOWER any document's perplexity (context
    counts stay unpruned, so denominators are unchanged)."""
    full = _spark_scores(spark, CORPUS, min_count=1)
    pruned = _spark_scores(spark, CORPUS, min_count=2)
    assert pruned.keys() == full.keys()
    for k in full:
        assert pruned[k][2] >= full[k][2] - 1e-12
    # and something was actually pruned in this corpus
    assert any(pruned[k][2] > full[k][2] + 1e-9 for k in full)


def test_alpha_zero_rejected(spark):
    """α=0 would make unseen-bigram log-probs NULL and silently drop
    them from the sum while n_tokens still counts them — the operator
    must refuse instead of under-reporting perplexity."""
    import pytest

    df = spark.createDataFrame(CORPUS, "doc_id long, text string")
    bigrams, contexts, vocab = lm_train(df, "text", "doc_id")
    with pytest.raises(ValueError, match="alpha"):
        lm_perplexity(
            df, "text", "doc_id", bigrams, contexts, vocab, alpha=0.0
        )


def test_broadcast_model_never_shuffles_corpus(spark):
    """With a broadcast model the corpus is never shuffled for the
    joins: both model joins plan as BroadcastHashJoin and NO shuffle
    join exists anywhere. The remaining Exchanges all belong to the
    model side or the output: the bigram and context groupBys (each
    partially aggregated before its shuffle), the lazy vocab's
    distinct count and single-row aggregate (round 8 — previously an
    eager driver collect at build time), and the per-doc aggregate —
    none shuffles the exploded corpus rows themselves. Training
    persists nothing, so no storage outlives the call."""
    import re as _re

    persisted = set(spark.sparkContext._jsc.getPersistentRDDs().keySet())
    df = spark.createDataFrame(CORPUS, "doc_id long, text string")
    bigrams, contexts, vocab = lm_train(df, "text", "doc_id")
    out = lm_perplexity(df, "text", "doc_id", bigrams, contexts, vocab)
    plan = spark.sparkContext._jvm.PythonSQLUtils.explainString(
        out._jdf.queryExecution(), "formatted"
    )
    assert (
        len(_re.findall(r"\(\d+\) BroadcastHashJoin", plan)) == 2
    ), plan[:2000]
    assert "SortMergeJoin" not in plan and "ShuffledHashJoin" not in plan
    assert len(_re.findall(r"\(\d+\) Exchange\b", plan)) <= 5, plan[:2000]
    out.collect()
    assert not set(spark.sparkContext._jsc.getPersistentRDDs().keySet()) - persisted
