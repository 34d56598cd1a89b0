"""Tokenizer artifact persistence: every family roundtrips
bit-identically through the parquet artifact, order restored from the
explicit rank column, and corrupted artifacts fail loudly."""

from __future__ import annotations

import pytest

from bigdatabowl2024_25_spark.operators.bpe import (
    bpe_encode,
    bpe_train,
    byte_bpe_encode,
    byte_bpe_train,
    unigram_train,
    wordpiece_train,
)
from bigdatabowl2024_25_spark.operators.tokenizer_io import (
    load_tokenizer,
    save_tokenizer,
)

TEXTS = [
    "low lower lowest low low",
    "new newer newest new newer",
    "wide wider widest new low",
]


def _df(spark):
    return spark.createDataFrame(
        [(i, t) for i, t in enumerate(TEXTS)], "doc_id long, text string"
    )


def test_all_families_roundtrip(spark, tmp_path):
    df = _df(spark)
    models = {
        "bpe": bpe_train(df, "text", n_merges=8),
        "bbpe": byte_bpe_train(df, "text", n_merges=8),
        "wordpiece": wordpiece_train(df, "text", n_merges=6),
        "unigram": unigram_train(df, "text", target_vocab=12),
    }
    for fam, model in models.items():
        p = str(tmp_path / fam)
        save_tokenizer(spark, p, fam, model)
        fam2, model2 = load_tokenizer(spark, p)
        assert fam2 == fam
        assert model2 == model, fam  # bit-identical, order included

    # the loaded BPE merges drive an encode identical to the fresh ones
    fresh = {
        r.doc_id: list(r.bpe_tokens)
        for r in bpe_encode(df, "text", "doc_id", models["bpe"]).collect()
    }
    _, loaded = load_tokenizer(spark, str(tmp_path / "bpe"))
    again = {
        r.doc_id: list(r.bpe_tokens)
        for r in bpe_encode(df, "text", "doc_id", loaded).collect()
    }
    assert fresh == again
    # byte-BPE likewise (its mapped-alphabet strings must survive
    # parquet unicode round-tripping, 'Ġ' included)
    bfresh = {
        r.doc_id: list(r.bbpe_tokens)
        for r in byte_bpe_encode(
            df, "text", "doc_id", models["bbpe"]
        ).collect()
    }
    _, bloaded = load_tokenizer(spark, str(tmp_path / "bbpe"))
    bagain = {
        r.doc_id: list(r.bbpe_tokens)
        for r in byte_bpe_encode(df, "text", "doc_id", bloaded).collect()
    }
    assert bfresh == bagain
    # WordPiece / Unigram: encoding from the LOADED artifact must be
    # token-for-token the fresh encode (vocab order and li values are
    # load-bearing for greedy matching / Viterbi scores)
    from bigdatabowl2024_25_spark.operators.bpe import (
        unigram_encode,
        wordpiece_encode,
    )

    _, wp_loaded = load_tokenizer(spark, str(tmp_path / "wordpiece"))
    wfresh = {
        r.doc_id: list(r.wp_tokens)
        for r in wordpiece_encode(
            df, "text", "doc_id", models["wordpiece"]
        ).collect()
    }
    wagain = {
        r.doc_id: list(r.wp_tokens)
        for r in wordpiece_encode(df, "text", "doc_id", wp_loaded).collect()
    }
    assert wfresh == wagain
    _, uni_loaded = load_tokenizer(spark, str(tmp_path / "unigram"))
    ufresh = {
        r.doc_id: list(r.uni_tokens)
        for r in unigram_encode(
            df, "text", "doc_id", models["unigram"]
        ).collect()
    }
    uagain = {
        r.doc_id: list(r.uni_tokens)
        for r in unigram_encode(df, "text", "doc_id", uni_loaded).collect()
    }
    assert ufresh == uagain


def test_artifact_guards(spark, tmp_path):
    df = _df(spark)
    merges = bpe_train(df, "text", n_merges=4)

    with pytest.raises(ValueError, match="unknown family"):
        save_tokenizer(spark, str(tmp_path / "x"), "sentencepiece", merges)
    with pytest.raises(ValueError, match="empty"):
        save_tokenizer(spark, str(tmp_path / "x"), "bpe", [])
    # wrong-family payload shapes fail loudly instead of stringifying
    with pytest.raises(ValueError, match="list of str"):
        save_tokenizer(spark, str(tmp_path / "x"), "wordpiece", merges)
    with pytest.raises(ValueError, match="merge pairs"):
        save_tokenizer(spark, str(tmp_path / "x"), "bpe", ["a", "b"])
    with pytest.raises(ValueError, match="int"):
        save_tokenizer(
            spark, str(tmp_path / "x"), "unigram", [("a", 1.5)]
        )

    # mixed-family artifact rejected on load
    p1, p2, pm = (str(tmp_path / n) for n in ("a", "b", "mixed"))
    save_tokenizer(spark, p1, "bpe", merges)
    save_tokenizer(spark, p2, "wordpiece", ["a", "b", "##c"])
    spark.read.parquet(p1).union(spark.read.parquet(p2)).write.parquet(pm)
    with pytest.raises(ValueError, match="mixes families"):
        load_tokenizer(spark, pm)

    # gap-ranked artifact rejected (order is load-bearing)
    pg = str(tmp_path / "gappy")
    spark.read.parquet(p1).filter("rank <> 1").write.parquet(pg)
    with pytest.raises(ValueError, match="missing ranks"):
        load_tokenizer(spark, pg)


def test_unigram_numpy_integer_li_accepted(spark, tmp_path):
    """ADVICE r12: np.int64 is not a Python int — a vectorized trainer
    handing back numpy scalars has a valid payload and must roundtrip
    (coerced to Python int), not trip the shape guard."""
    import numpy as np

    p = str(tmp_path / "np_uni")
    save_tokenizer(
        spark, p, "unigram",
        [("a", np.int64(-12_345)), ("bc", np.int32(-7))],
    )
    fam, model = load_tokenizer(spark, p)
    assert fam == "unigram"
    assert model == [("a", -12_345), ("bc", -7)]
    assert all(type(li) is int for _, li in model)
    # floats (numpy or not) still rejected — li is an exact int64 log
    with pytest.raises(ValueError, match="int"):
        save_tokenizer(
            spark, str(tmp_path / "bad"), "unigram",
            [("a", np.float64(1.0))],
        )


def test_non_bmp_symbols_roundtrip(spark, tmp_path):
    """Round 13 edge audit: merge halves / pieces containing symbols
    OUTSIDE the Basic Multilingual Plane (surrogate-pair territory in
    UTF-16: '𝄞' U+1D11E, '😀' U+1F600) must survive the parquet
    roundtrip byte-exactly for every family — a truncated or
    surrogate-mangled symbol would silently corrupt every later
    encode."""
    cases = {
        "bpe": [("𝄞", "clef"), ("😀", "😀"), ("a", "𝄞😀")],
        "bbpe": [("Ġ", "𝄞"), ("𝄞Ġ", "😀")],
        "wordpiece": ["𝄞", "##😀", "𝄞😀x"],
        "unigram": [("𝄞", -12), ("😀a", -7)],
    }
    for fam, model in cases.items():
        p = str(tmp_path / f"nonbmp_{fam}")
        save_tokenizer(spark, p, fam, model)
        lf, lm = load_tokenizer(spark, p)
        assert lf == fam
        want = [tuple(x) if isinstance(x, (tuple, list)) else x
                for x in model]
        assert lm == want, (fam, lm)
