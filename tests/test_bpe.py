"""BPE induction against a direct-from-the-paper Python reference:
identical merge sequences (including lexicographic tie-breaks) and an
encoder that reproduces the reference segmentation."""

from __future__ import annotations

import re
from collections import Counter

from bigdatabowl2024_25_spark.operators.bpe import (
    _ranked_word_encoder,
    bpe_encode,
    bpe_train,
    word_frequencies,
)

EOW = "</w>"


def ref_bpe(texts: list[str], n_merges: int):
    """Sennrich et al. alg. 1 over word frequencies, ties broken by
    (count desc, pair asc)."""
    vocab = Counter()
    for t in texts:
        for w in t.split(" "):
            if w == "":  # irregular whitespace never trains a merge
                continue
            vocab[tuple(list(w) + [EOW])] += 1
    merges = []
    for _ in range(n_merges):
        pairs: Counter = Counter()
        for syms, n in vocab.items():
            for x, y in zip(syms, syms[1:]):
                pairs[(x, y)] += n
        if not pairs:
            break
        best = min(pairs.items(), key=lambda kv: (-kv[1], kv[0]))
        if best[1] < 2:
            break
        (a, b) = best[0]
        merges.append((a, b))
        new_vocab: Counter = Counter()
        for syms, n in vocab.items():
            out: list[str] = []
            for x in syms:
                if out and out[-1] == a and x == b:
                    out[-1] = a + b
                else:
                    out.append(x)
            new_vocab[tuple(out)] += n
        vocab = new_vocab
    return merges


def _replay(word, merges, eow=None):
    """Literal in-order replay of one word: every merge, in order, as
    one greedy left-to-right pass."""
    syms = list(word) + ([] if eow is None else [eow])
    for a, b in merges:
        out = []
        for s in syms:
            if out and out[-1] == a and s == b:
                out[-1] = a + b
            else:
                out.append(s)
        syms = out
    return syms


def ref_encode(text: str | None, merges) -> list[str] | None:
    """Literal in-order replay per word, after `bpe_encode`'s text
    contract: \\x01-\\x03 scrubbed, empty words dropped."""
    if text is None:
        return None
    out: list[str] = []
    for w in re.sub("[\x01-\x03]", "", text).split(" "):
        if w:
            out.extend(_replay(w, merges, EOW))
    return out


TEXTS = [
    "low lower lowest low low",
    "new newer newest new newer",
    "wide  wider widest new low",   # double space: no phantom '' word
    "low low low newer wide ",      # trailing space likewise
]


def test_bpe_train_matches_reference(spark):
    df = spark.createDataFrame([(t,) for t in TEXTS], "text string")
    got = bpe_train(df, "text", n_merges=12)
    want = ref_bpe(TEXTS, 12)
    assert got == want
    # determinism under partitioning
    got2 = bpe_train(df.repartition(5), "text", n_merges=12)
    assert got2 == want
    # the distributed loop on this corpus: test_bpe_train_batched_round_trips


def test_bpe_encode_matches_reference(spark):
    df = spark.createDataFrame(
        [(i, t) for i, t in enumerate(TEXTS)], "doc_id long, text string"
    )
    merges = bpe_train(df, "text", n_merges=10)
    rows = bpe_encode(df, "text", "doc_id", merges).collect()
    for r in rows:
        assert list(r.bpe_tokens) == ref_encode(r.text, merges)


def test_word_frequencies(spark):
    df = spark.createDataFrame([("a b a",), ("b a",)], "text string")
    wf = {r.word: r.n for r in word_frequencies(df, "text").collect()}
    assert wf == {"a": 3, "b": 2}


def test_bpe_encode_production_path_parity(spark):
    """The encode is TOKEN-FOR-TOKEN the literal in-order replay
    (`ref_encode`) on learned merges — including the degenerate docs
    ('', NULL, whitespace-only, control-char-bearing, duplicate and
    unseen words)."""
    texts = TEXTS + [
        "",
        None,
        "   ",
        "ab\x01cd low  low",
        "unseen zqx zqx low",
    ]
    df = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "doc_id long, text string"
    )
    merges = bpe_train(df, "text", n_merges=10)
    got = {
        r.doc_id: None if r.bpe_tokens is None else list(r.bpe_tokens)
        for r in bpe_encode(df, "text", "doc_id", merges).collect()
    }
    for i, t in enumerate(texts):
        assert got[i] == ref_encode(t, merges), (i, t, got[i])


def test_bpe_encode_32k_merges_runs(spark):
    """The production claim itself: a ≥32k-merge list must compile
    and run (the merge list rides the UDF closure, so the plan does
    not grow with it), and the junk tail — pairs whose symbols never
    co-occur — must be a no-op, leaving tokens equal to the reference
    replay of the real prefix alone."""
    df = spark.createDataFrame(
        [(i, t) for i, t in enumerate(TEXTS)], "doc_id long, text string"
    )
    real = bpe_train(df, "text", n_merges=10)
    junk = [(f"zz{i}", f"qq{i}") for i in range(32_000)]
    merges = real + junk
    assert len(merges) >= 32_000
    got = {
        r.doc_id: list(r.bpe_tokens)
        for r in bpe_encode(df, "text", "doc_id", merges).collect()
    }
    assert got == {i: ref_encode(t, real) for i, t in enumerate(TEXTS)}


def test_tokenizer_decode_roundtrips(spark):
    """Round-12 VERDICT item 7 — decode completeness: all four
    tokenizer families now roundtrip at DataFrame level (byte-BPE's
    lives in test_byte_bpe.py). Char-BPE and WordPiece restore the
    whitespace-normalized text exactly (alphabet-covered corpus → no
    [UNK]); Unigram restores it at word granularity, i.e. the
    space-free concatenation, per its documented no-word-marker
    contract. NULL → NULL and '' → '' on every decoder."""
    from bigdatabowl2024_25_spark.operators.bpe import (
        bpe_decode,
        unigram_decode,
        unigram_encode,
        unigram_train,
        wordpiece_decode,
        wordpiece_encode,
        wordpiece_train,
    )

    texts = TEXTS + ["", None]
    df = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "doc_id long, text string"
    )
    norm = {
        i: (None if t is None else " ".join(w for w in t.split(" ") if w))
        for i, t in enumerate(texts)
    }
    # char BPE
    merges = bpe_train(df, "text", n_merges=10)
    enc = bpe_encode(df, "text", "doc_id", merges)
    got = {
        r.doc_id: r.rt
        for r in bpe_decode(enc, "bpe_tokens", out_col="rt").collect()
    }
    assert got == norm
    # WordPiece
    vocab = wordpiece_train(df, "text", n_merges=8)
    wenc = wordpiece_encode(df, "text", "doc_id", vocab)
    wgot = {
        r.doc_id: r.rt
        for r in wordpiece_decode(wenc, "wp_tokens", out_col="rt").collect()
    }
    assert wgot == norm
    # Unigram: word-granularity inverse — space-free concatenation
    uvocab = unigram_train(df, "text", target_vocab=12)
    uenc = unigram_encode(df, "text", "doc_id", uvocab)
    ugot = {
        r.doc_id: r.rt
        for r in unigram_decode(uenc, "uni_tokens", out_col="rt").collect()
    }
    assert ugot == {
        i: (None if t is None else t.replace(" ", ""))
        for i, t in norm.items()
    }
    # the word_marker arm: a synthetic SentencePiece-style stream
    sp = spark.createDataFrame(
        [(0, ["▁low", "er", "▁new"]), (1, []), (2, None)],
        "doc_id long, toks array<string>",
    )
    spgot = {
        r.doc_id: r.rt
        for r in unigram_decode(
            sp, "toks", out_col="rt", word_marker="▁"
        ).collect()
    }
    assert spgot == {0: "lower new", 1: "", 2: None}


def test_ranked_word_encoder_matches_chain_fuzz():
    """Pure-python fuzz of the rank-indexed replay against literal
    in-order replay (the encode's exact semantics, including
    pathological duplicate/aliasing merge lists that no trainer would
    emit): 300 random (word, merge-list) pairs."""
    import random

    rng = random.Random(99)
    alpha = "abc"
    for trial in range(300):
        word = "".join(
            rng.choice(alpha) for _ in range(rng.randint(1, 10))
        )
        pool = list(alpha) + ["ab", "bc", "aa", "abc", "</w>"]
        merges = [
            (rng.choice(pool), rng.choice(pool))
            for _ in range(rng.randint(0, 12))
        ]
        enc = _ranked_word_encoder(merges, "</w>")
        assert enc(word) == _replay(word, merges, "</w>"), (
            trial,
            word,
            merges,
        )


def test_self_overlapping_merges_pinned():
    """Round 13 edge audit: merges whose PRODUCT contains the pair's
    own halves (('a','aa') → 'aaa', ('aa','a'), ('a','ab')) — the
    shapes where a stateful greedy pass could plausibly diverge from
    literal replay. Pinned literal cases: _ranked_word_encoder ≡
    literal in-order replay."""
    cases = [
        ("aaaa", [("a", "a"), ("a", "aa"), ("aa", "aa")]),
        ("aaaaa", [("a", "a"), ("aa", "a"), ("aaa", "aa")]),
        ("aabab", [("a", "b"), ("a", "ab"), ("aab", "ab")]),
        ("abab", [("a", "b"), ("ab", "ab")]),
        ("aaa", [("a", "a"), ("a", "a")]),  # duplicate rank replay
        ("banana", [("a", "n"), ("an", "an"), ("b", "anan")]),
    ]
    for word, merges in cases:
        enc = _ranked_word_encoder(merges, end_of_word=None)
        assert enc(word) == _replay(word, merges), (word, merges)


def test_self_overlapping_merges_spark_parity(spark):
    """The same self-overlap shapes through the Spark encode: it
    agrees symbol for symbol with _ranked_word_encoder and with
    literal in-order replay."""
    merges = [("a", "a"), ("a", "aa"), ("aa", "aa"), ("b", "aaa")]
    texts = ["aaaa", "aaaaa", "baaab", "ab aab baa", "aaaaaaa"]
    df = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "doc_id long, text string"
    )
    got = {
        r.doc_id: list(r.bpe_tokens)
        for r in bpe_encode(df, "text", "doc_id", merges).collect()
    }
    enc = _ranked_word_encoder(merges, end_of_word=EOW)
    for i, t in enumerate(texts):
        words = [w for w in t.split(" ") if w]
        assert got[i] == [p for w in words for p in enc(w)], (t, got[i])
        want = [p for w in words for p in _replay(w, merges, EOW)]
        assert got[i] == want, (t, got[i], want)


def test_bpe_encode_control_chars_scrubbed(spark):
    """Control chars \\x01-\\x03 in the TEXT are scrubbed before
    the encode — never phantom '' or merged tokens."""
    df = spark.createDataFrame(
        [(0, "ab\x03cd ef"), (1, "\x01x\x02"), (2, "ok")],
        "doc_id long, text string",
    )
    got = {
        r.doc_id: list(r.bpe_tokens)
        for r in bpe_encode(df, "text", "doc_id", []).collect()
    }
    assert got[0] == ["a", "b", "c", "d", EOW, "e", "f", EOW]
    assert got[1] == ["x", EOW]
    assert got[2] == ["o", "k", EOW]
    assert all("" not in toks for toks in got.values())


# ---- WordPiece ------------------------------------------------------


def _py_wordpiece_encode(text, vocab, unk="[UNK]", cont="##"):
    """Pure-Python greedy longest-match reference (the HF rule)."""
    if text is None:
        return None
    out = []
    for word in (w for w in text.split(" ") if w):
        pos, pieces = 0, []
        while pos < len(word):
            best = None
            for end in range(len(word), pos, -1):
                sub = word[pos:end]
                cand = sub if pos == 0 else cont + sub
                if cand in vocab and len(sub) > 0:
                    best = cand
                    break
            if best is None:
                pieces = [unk]
                break
            pieces.append(best)
            pos += len(best) - (len(cont) if best.startswith(cont) else 0)
        out.extend(pieces)
    return out


def test_wordpiece_train_matches_python_reference(spark):
    """Trainer vs a from-scratch reference over the q64 literal
    corpus: likelihood scoring (rare pairs first — 'holds' fully
    fuses before any stem of the frequent 'the'), lexicographic
    tie-break, alphabet + merge-product vocab layout."""
    from bigdatabowl2024_25_spark.operators.bpe import (
        _wordpiece_train_local,
        _wp_strip,
        wordpiece_train,
    )

    corpus = [
        (0, "the data table holds the data"),
        (1, "spark scans the data table fast"),
        (2, "the table scan reads data"),
        (3, "fast data scan in the table"),
    ]
    df = spark.createDataFrame(corpus, "doc_id long, text string")
    got = wordpiece_train(df, "text", n_merges=10)

    from collections import Counter

    wc = Counter(w for _, t in corpus for w in t.split(" ") if w)
    voc = [
        ([w[0]] + ["##" + c for c in w[1:]], n)
        for w, n in sorted(wc.items())
    ]
    merges = _wordpiece_train_local(voc, 10, "##")
    alpha = sorted({s for syms, _ in voc for s in syms})
    ref = alpha + [a + _wp_strip(b, "##") for a, b in merges]
    assert got == ref
    # the WordPiece signature: the rare word 'holds' is fully fused
    # within 10 merges while frequent 'the'/'data' are not
    assert "holds" in got and "the" not in got and "data" not in got


def test_wordpiece_train_distributed_matches_local(spark, distributed_vocab):
    """The size-adaptive paths are merge-for-merge identical: the
    distributed per-iteration loop reproduces the driver-side loop on
    the q64 literal corpus. 'holds' fully fusing requires CHAINED
    merges ('ho'+'##l' etc.), the exact case where the distributed
    loop used to leave '##' embedded mid-symbol ('h##o')."""
    from bigdatabowl2024_25_spark.operators.bpe import (
        _wordpiece_train_local,
        _wp_strip,
        wordpiece_train,
    )

    corpus = [
        "the data table holds the data",
        "spark scans the data table fast",
        "the table scan reads data",
        "fast data scan in the table",
    ]
    df = spark.createDataFrame([(t,) for t in corpus], "text string")
    wc = Counter(w for t in corpus for w in t.split(" ") if w)
    voc = [
        ([w[0]] + ["##" + c for c in w[1:]], n)
        for w, n in sorted(wc.items())
    ]
    merges = _wordpiece_train_local(voc, 10, "##")
    alpha = sorted({s for syms, _ in voc for s in syms})
    ref = alpha + [a + _wp_strip(b, "##") for a, b in merges]
    assert wordpiece_train(df, "text", n_merges=10) == ref
    assert "holds" in ref


def test_wordpiece_encode_greedy_rule_and_edges(spark):
    """Greedy longest-match with whole-word [UNK]: 'holdx' greedily
    takes 'hold' then dies on 'x' → the ENTIRE word is [UNK] (greedy
    never backtracks — the BERT contract); empty docs → [], NULL docs
    → NULL; result is partitioning-independent."""
    from bigdatabowl2024_25_spark.operators.bpe import wordpiece_encode

    vocab = [
        "##a", "##b", "##c", "##d", "##e", "##h", "##k", "##l", "##n",
        "##o", "##p", "##r", "##s", "##t", "d", "f", "h", "i", "r",
        "s", "t", "##rk", "ho", "in", "sc", "sp", "##bl", "hol",
        "hold", "##ds", "holds",
    ]
    rows = [
        (0, "the data table holds the data"),
        (1, "holdx holds hold"),
        (2, ""),
        (3, None),
        (4, "zzz  in"),  # double space: empty word never emits
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {
        r.doc_id: (list(r.wp_tokens) if r.wp_tokens is not None else None)
        for r in wordpiece_encode(df, "text", "doc_id", vocab).collect()
    }
    vs = set(vocab)
    for i, text in rows:
        assert got[i] == _py_wordpiece_encode(text, vs), (i, got[i])
    # the greedy-no-backtrack case explicitly: hold+##x would need
    # backtracking to h+##o+##l+##d+... — greedy gives [UNK]
    assert got[1] == ["[UNK]", "holds", "hold"]
    again = {
        r.doc_id: (list(r.wp_tokens) if r.wp_tokens is not None else None)
        for r in wordpiece_encode(
            df.repartition(5), "text", "doc_id", vocab
        ).collect()
    }
    assert again == got


def test_wordpiece_encode_fuzz_vs_reference(spark):
    """300 random docs over a random 60-piece vocab (seeded — one
    Spark job, python-reference compare per doc): greedy matches,
    [UNK] fallbacks, multi-word reassembly order, and the
    empty/whitespace edges all agree with the from-scratch rule."""
    import random

    from bigdatabowl2024_25_spark.operators.bpe import wordpiece_encode

    rng = random.Random(0xBDB10)
    alpha = "abcde"
    vocab = list(alpha) + ["##" + c for c in alpha]
    seen = set(vocab)
    while len(vocab) < 60:
        raw = "".join(
            rng.choice(alpha) for _ in range(rng.randint(2, 5))
        )
        p = raw if rng.random() < 0.5 else "##" + raw
        if p not in seen:
            seen.add(p)
            vocab.append(p)
    # drop some alphabet pieces so whole-word [UNK]s actually occur
    vocab = [p for p in vocab if p not in ("c", "##d")]
    docs = []
    for i in range(300):
        words = [
            "".join(
                rng.choice(alpha + ("f" if rng.random() < 0.1 else ""))
                for _ in range(rng.randint(1, 9))
            )
            for _ in range(rng.randint(0, 6))
        ]
        sep = "  " if rng.random() < 0.2 else " "
        docs.append((i, sep.join(words) if words else ""))
    docs += [(300, None), (301, "   ")]
    df = spark.createDataFrame(docs, "doc_id long, text string")
    got = {
        r.doc_id: (list(r.wp_tokens) if r.wp_tokens is not None else None)
        for r in wordpiece_encode(df, "text", "doc_id", vocab).collect()
    }
    vs = set(vocab)
    for i, text in docs:
        assert got[i] == _py_wordpiece_encode(text, vs), (
            i, text, got[i], _py_wordpiece_encode(text, vs)
        )


# ---- Unigram LM (SentencePiece model) -------------------------------


def _py_viterbi_word(word, vocab, unk):
    """DP reference: max Σ li, ties to the lexicographically smallest
    path string — the exact order the Spark fold's struct(-score,
    path) array_min implements."""
    best = {0: (0, "")}
    for i in range(1, len(word) + 1):
        cand = []
        for p, li in vocab.items():
            l = len(p)
            if l <= i and word[i - l:i] == p and (i - l) in best:
                s, path = best[i - l]
                cand.append((-(s + li), path + " " + p if path else p))
        if cand:
            neg, path = min(cand)
            best[i] = (-neg, path)
    if len(word) not in best:
        return [unk]
    return best[len(word)][1].split(" ")


def _py_viterbi(text, vocab, unk="[UNK]"):
    if text is None:
        return None
    out = []
    for w in (w for w in text.split(" ") if w):
        out.extend(_py_viterbi_word(w, vocab, unk))
    return out


def _py_unigram_train(texts, target_vocab, max_piece_len, n_em_iters,
                      min_count=2):
    """From-scratch hard-EM mirror of unigram_train (python math.log —
    can differ from the JVM by 1 ulp at round() boundaries, the
    documented python-reference tolerance; on the fixed corpora here
    the boundaries are far away)."""
    import math
    from collections import Counter

    wc = Counter(w for t in texts for w in t.split(" ") if w)
    chars = {c for w in wc for c in w}
    counts: Counter = Counter()
    for w, n in wc.items():
        for i in range(len(w)):
            for l in range(1, min(max_piece_len, len(w) - i) + 1):
                counts[w[i:i + l]] += n
    vocab = {
        p: c for p, c in counts.items() if c >= min_count or len(p) == 1
    }

    def scaled(v):
        tot = sum(v.values())
        return {
            p: round(math.log(c / tot) * 1e6) for p, c in v.items()
        }

    for _ in range(n_em_iters):
        li = scaled(vocab)
        recount: Counter = Counter()
        for w, n in wc.items():
            for p in _py_viterbi_word(w, li, None):
                if p is not None:
                    recount[p] += n
        vocab = {
            p: c for p, c in recount.items() if c > 0 and len(p) > 1
        }
        for c in chars:
            vocab[c] = max(recount.get(c, 0), 1)
    ranked = sorted(vocab.items(), key=lambda kv: (-kv[1], kv[0]))
    kept = {p: c for p, c in ranked[:target_vocab]}
    for c in chars:
        kept[c] = vocab[c]
    return sorted(scaled(kept).items())


_UNI_CORPUS = [
    (0, "the data table holds the data"),
    (1, "spark scans the data table fast"),
    (2, "the table scan reads data"),
    (3, "fast data scan in the table"),
]


def test_unigram_train_matches_python_reference(spark):
    """Hard-EM trainer vs the from-scratch mirror: seed counts, EM
    resegmentation, char coverage floor, pruning, and the final
    micro-int log-probs all agree (the 1/8, 1/10, 3/40 … mass table on
    this corpus sits far from any round() boundary)."""
    from bigdatabowl2024_25_spark.operators.bpe import unigram_train

    df = spark.createDataFrame(_UNI_CORPUS, "doc_id long, text string")
    got = unigram_train(
        df, "text", target_vocab=12, max_piece_len=6, n_em_iters=2
    )
    ref = _py_unigram_train(
        [t for _, t in _UNI_CORPUS], 12, 6, 2
    )
    assert got == ref
    # the unigram signature: whole frequent words become pieces
    pieces = {p for p, _ in got}
    assert {"the", "data", "table", "scan", "fast"} <= pieces


def test_unigram_encode_viterbi_edges_and_fuzz(spark):
    """Viterbi encode vs the DP reference using the SPARK-trained
    li values (so the check is exact — no libm in the loop): the
    literal corpus, UNK words, empty/NULL docs, then 200 seeded
    random docs over a random scored vocab; partition-invariant."""
    import random

    from bigdatabowl2024_25_spark.operators.bpe import (
        unigram_encode,
        unigram_train,
    )

    df = spark.createDataFrame(_UNI_CORPUS, "doc_id long, text string")
    vocab = unigram_train(
        df, "text", target_vocab=12, max_piece_len=6, n_em_iters=2
    )
    vd = dict(vocab)
    rows = list(_UNI_CORPUS) + [(4, ""), (5, None), (6, "zzz the  in")]
    enc_in = spark.createDataFrame(rows, "doc_id long, text string")
    got = {
        r.doc_id: (list(r.uni_tokens) if r.uni_tokens is not None else None)
        for r in unigram_encode(enc_in, "text", "doc_id", vocab).collect()
    }
    for i, text in rows:
        assert got[i] == _py_viterbi(text, vd), (i, text, got[i])
    again = {
        r.doc_id: (list(r.uni_tokens) if r.uni_tokens is not None else None)
        for r in unigram_encode(
            enc_in.repartition(7), "text", "doc_id", vocab
        ).collect()
    }
    assert again == got
    # fuzz: arbitrary (piece, li) vocab — scores are plain ints, so
    # the reference comparison is exact by construction
    rng = random.Random(0xBDB11)
    alpha = "abcd"
    fv = {c: -rng.randint(10**6, 4 * 10**6) for c in alpha}
    while len(fv) < 25:
        p = "".join(rng.choice(alpha) for _ in range(rng.randint(2, 5)))
        fv.setdefault(p, -rng.randint(10**6, 4 * 10**6))
    del fv["b"]  # some words must be unsegmentable
    fvocab = sorted(fv.items())
    docs = [
        (
            i,
            " ".join(
                "".join(
                    rng.choice(alpha + ("e" if rng.random() < 0.1 else ""))
                    for _ in range(rng.randint(1, 9))
                )
                for _ in range(rng.randint(0, 5))
            ),
        )
        for i in range(200)
    ]
    fdf = spark.createDataFrame(docs, "doc_id long, text string")
    gf = {
        r.doc_id: list(r.uni_tokens)
        for r in unigram_encode(fdf, "text", "doc_id", fvocab).collect()
    }
    for i, text in docs:
        assert gf[i] == _py_viterbi(text, fv), (i, text, gf[i])


def test_bpe_train_batched_round_trips(spark, distributed_vocab):
    """Round-11 merge batching: on a corpus whose frequent pairs are
    symbol-DISJOINT the distributed trainer learns many merges per
    driver round-trip (>=5x fewer collects), while staying merge-for-
    merge identical to the sequential local path; on the interacting
    TEXTS corpus it still matches exactly (the lemma falls back to
    small batches automatically)."""
    from bigdatabowl2024_25_spark.operators.bpe import bpe_train

    # 10 symbol-disjoint "families": head pair (A_i, B_i) occurs 3k_i
    # times across three per-family suffix variants, so every pair a
    # head merge CREATES — (A_iB_i, S_ij) — is bounded by k_i, far
    # below every other head's count: all 10 heads are provably the
    # next 10 sequential merges and fit ONE round-trip. (A naive
    # "repeat disjoint 2-letter words" corpus does NOT batch: the
    # (last_char, </w>) pair created by each merge has the full word
    # count and genuinely IS sequential BPE's next pick — verified
    # while building this test.)
    import string

    chars = string.ascii_letters + string.digits
    texts = []
    for i in range(10):
        a, b = chars[5 * i], chars[5 * i + 1]
        k = 100 - 2 * i
        for j in range(3):
            texts.append(" ".join([a + b + chars[5 * i + 2 + j]] * k))
    df = spark.createDataFrame([(t,) for t in texts], "text string")
    want = ref_bpe(texts, 10)
    stats = {}
    got = bpe_train(df, "text", n_merges=10, stats=stats)
    assert got == want and len(got) == 10
    assert stats["round_trips"] == 1  # 10x fewer collects than r10

    # interacting corpus: exactness beats batch size
    df2 = spark.createDataFrame([(t,) for t in TEXTS], "text string")
    stats2 = {}
    got2 = bpe_train(df2, "text", n_merges=12, stats=stats2)
    assert got2 == ref_bpe(TEXTS, 12)
    assert stats2["round_trips"] <= 12  # never worse than sequential


def test_trainers_release_their_cuts(spark, distributed_vocab):
    """The tokenizer trainers return Python lists, so no vocab cut may
    outlive the call: after each trainer's distributed loop returns,
    the persisted-RDD count is back at its value on entry (`<=`: the
    ContextCleaner may concurrently drop other tests' RDDs)."""
    from bigdatabowl2024_25_spark.operators.bpe import (
        bpe_train,
        unigram_train,
        wordpiece_train,
    )

    def n_persisted():
        return spark.sparkContext._jsc.getPersistentRDDs().size()

    df = spark.createDataFrame([(t,) for t in TEXTS], "text string")
    for train in (
        lambda: bpe_train(df, "text", n_merges=4),
        lambda: wordpiece_train(df, "text", n_merges=9),
        lambda: unigram_train(df, "text", target_vocab=20, word_marker="_"),
    ):
        before = n_persisted()
        assert train()
        assert n_persisted() <= before


def test_bpe_train_routes_large_vocab_to_distributed(spark):
    """The >65k-distinct-word gate (the production-scale route): a
    70k-word corpus must take the distributed batched loop (stats
    records round trips — the local path never fills it) and still
    match a from-scratch python reference on the same frequencies."""
    from pyspark.sql import functions as F

    from bigdatabowl2024_25_spark.operators.bpe import bpe_train

    df = spark.range(70_000).select(
        F.concat(
            F.lit("w"),
            F.col("id").cast("string"),
            F.lit(" common common"),
        ).alias("text")
    )
    stats = {}
    got = bpe_train(df, "text", n_merges=6, stats=stats)
    assert stats.get("round_trips", 0) >= 1  # distributed route taken
    assert len(got) == 6
    # python reference over the exact same word frequencies
    freqs = {"common": 140_000}
    for i in range(70_000):
        freqs[f"w{i}"] = 1
    vocab = [
        (list(w) + ["</w>"], n) for w, n in sorted(freqs.items())
    ]
    from bigdatabowl2024_25_spark.operators.bpe import _bpe_train_local

    assert got == _bpe_train_local(vocab, 6)


def test_safe_merge_batch_lemma_fuzz():
    """Property test for the batching lemma (pure python — simulates
    the distributed loop's collect-topK/accept/apply cycle exactly,
    no Spark): over hundreds of random corpora, applying
    _safe_merge_batch's accepted batches in order must reproduce the
    sequential trainer's merge list merge-for-merge. This fuzzes the
    two proof obligations (disjoint-contiguous count invariance and
    the new-pair bound) far beyond the handcrafted corpora."""
    import random
    from collections import Counter, namedtuple

    from bigdatabowl2024_25_spark.operators.bpe import (
        _bpe_train_local,
        _safe_merge_batch,
    )

    Row = namedtuple("Row", "a b cnt")

    def pair_counts(vocab):
        pc = Counter()
        for syms, n in vocab:
            for x, y in zip(syms, syms[1:]):
                pc[(x, y)] += n
        return pc

    def apply_merge(vocab, a, b):
        out = []
        for syms, n in vocab:
            nxt = []
            for s in syms:
                if nxt and nxt[-1] == a and s == b:
                    nxt[-1] = a + b
                else:
                    nxt.append(s)
            out.append((nxt, n))
        return out

    rng = random.Random(1234)
    for trial in range(300):
        alpha = "abcdef"[: rng.randint(2, 6)]
        words = {
            "".join(
                rng.choice(alpha)
                for _ in range(rng.randint(1, 6))
            ): rng.randint(1, 9)
            for _ in range(rng.randint(2, 12))
        }
        vocab = [(list(w) + ["</w>"], n) for w, n in sorted(words.items())]
        n_merges = rng.randint(1, 12)
        want = _bpe_train_local(
            [(list(s), n) for s, n in vocab], n_merges
        )

        topk = rng.choice([3, 5, 64])  # truncation paths too
        got, cur = [], [(list(s), n) for s, n in vocab]
        products = {"</w>"}  # the real loop's alias inventory
        for _ in range(200):  # bounded; breaks long before
            if len(got) >= n_merges:
                break
            pc = pair_counts(cur)
            rows = [
                Row(a, b, c)
                for (a, b), c in sorted(
                    pc.items(), key=lambda kv: (-kv[1], kv[0])
                )
            ][:topk]
            batch = _safe_merge_batch(
                rows, full=len(rows) < topk, products=products
            )
            batch = batch[: n_merges - len(got)]
            if not batch:
                break
            for r in batch:
                got.append((r.a, r.b))
                products.add(r.a + r.b)
                cur = apply_merge(cur, r.a, r.b)
        assert got == want, (trial, words, n_merges, topk, got, want)


def test_safe_merge_batch_alias_guard():
    """Round-12 ADVICE: the batching lemma's 'old-pair counts never
    rise' invariant has a hole when an accepted merge's product a+b
    ALIASES an already-existing symbol (its new pairs then add to an
    existing pair's count). The guard must stop the batch at the first
    such candidate — and must disable batching entirely when the
    symbol inventory is unknown (products=None)."""
    from collections import namedtuple

    from bigdatabowl2024_25_spark.operators.bpe import _safe_merge_batch

    Row = namedtuple("Row", "a b cnt")
    rows = [
        Row("x", "y", 90),
        Row("a", "b", 80),  # product 'ab' aliases an existing symbol
        Row("p", "q", 70),
    ]
    # no aliasing: all three are disjoint, floor-safe (full list) —
    # the whole prefix batches
    assert len(_safe_merge_batch(rows, full=True, products=set())) == 3
    # 'ab' already exists as a symbol: accept (x,y), stop before (a,b)
    assert (
        len(_safe_merge_batch(rows, full=True, products={"ab"})) == 1
    )
    # the FIRST merge aliasing is fine (sequential BPE picks the
    # argmax regardless) — the batch stops before the SECOND merge
    assert (
        len(_safe_merge_batch(rows, full=True, products={"xy"})) == 1
    )
    # same-batch product collision: (x,y) then a candidate whose
    # product equals 'xy' — construct ('x','y') vs ('xy' can only be
    # re-formed by an (x, y) pair, which shares symbols — covered by
    # disjointness — so exercise the batch_prods membership arm with
    # a crafted duplicate-product pair instead)
    rows2 = [Row("x", "yz", 90), Row("xy", "z", 80)]
    assert (
        len(_safe_merge_batch(rows2, full=True, products=set())) == 1
    )
    # unknown inventory: batching self-disables to 1 merge per trip
    assert len(_safe_merge_batch(rows, full=True, products=None)) == 1


def test_encode_tokenizers_id_contract(spark):
    """Round-12 edge audit: the reassembly path's id contract —
    rows with real ids encode exactly as the reference replay, NULL
    ids yield NULL output (no identity to reassemble by), and
    duplicate ids trip the in-plan assert (the groupBy would pool
    both rows' words and silently attach the merged stream to each)."""
    import pytest
    from pyspark.errors.exceptions.captured import SparkRuntimeException

    merges = [("l", "o"), ("lo", "w")]

    # NULL id → NULL output even though the text is encodable
    df = spark.createDataFrame(
        [(1, "low low"), (None, "lower"), (2, "")],
        "doc_id long, text string",
    )
    out = {
        r.doc_id: r.toks
        for r in bpe_encode(
            df, "text", "doc_id", merges, out_col="toks"
        ).collect()
    }
    assert out[None] is None
    assert list(out[1]) == ref_encode("low low", merges)
    assert list(out[1]) == ["low", "</w>", "low", "</w>"]
    assert list(out[2]) == []

    # duplicate ids → loud in-plan failure naming the id
    dup = spark.createDataFrame(
        [(7, "aa bb"), (7, "cc"), (8, "dd")],
        "doc_id long, text string",
    )
    bad = bpe_encode(dup, "text", "doc_id", merges, out_col="toks")
    with pytest.raises(SparkRuntimeException, match="duplicate id"):
        bad.collect()

    # identical duplicate rows are still collisions (words pool)
    same = spark.createDataFrame(
        [(7, "aa"), (7, "aa")], "doc_id long, text string"
    )
    with pytest.raises(SparkRuntimeException, match="duplicate id"):
        bpe_encode(
            same, "text", "doc_id", merges, out_col="toks"
        ).collect()


def test_unigram_word_marker_doc_roundtrip(spark):
    """Round 13 (VERDICT item 5): the opt-in SentencePiece-style '▁'
    word-marker mode completes the Unigram roundtrip at DOCUMENT
    granularity — train with word_marker, encode with the same
    marker, decode restores the whitespace-normalized text exactly
    (the gap the default deliberately leaves is closed only when
    opted in)."""
    from bigdatabowl2024_25_spark.operators.bpe import (
        unigram_decode,
        unigram_encode,
        unigram_train,
    )

    texts = [
        "the data table holds the data",
        "spark scans the data  table fast",
        "low lower lowest",
        "",
        None,
    ]
    df = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "doc_id long, text string"
    )
    uvocab = unigram_train(
        df, "text", target_vocab=16, word_marker="▁"
    )
    # every learned piece carries the marker only word-initially
    assert any(p.startswith("▁") for p, _ in uvocab)
    assert all("▁" not in p[1:] for p, _ in uvocab)
    uenc = unigram_encode(
        df, "text", "doc_id", uvocab, word_marker="▁"
    )
    got = {
        r.doc_id: r.rt
        for r in unigram_decode(
            uenc, "uni_tokens", out_col="rt", word_marker="▁"
        ).collect()
    }
    norm = {
        i: (None if t is None else " ".join(w for w in t.split(" ") if w))
        for i, t in enumerate(texts)
    }
    assert got == norm

    # DEFAULT stability: no marker → the learned vocabulary is
    # byte-identical to pre-round-13 behavior (no '▁' anywhere) and
    # the q64 'uni' oracle contract is untouched
    plain = unigram_train(df, "text", target_vocab=16)
    assert all("▁" not in p for p, _ in plain)

    # guards: multi-char marker; marker present in the corpus
    import pytest as _pytest

    with _pytest.raises(ValueError, match="single char"):
        unigram_train(df, "text", target_vocab=8, word_marker="▁▁")
    clash = spark.createDataFrame(
        [(0, "has a ▁ marker inside")], "doc_id long, text string"
    )
    with _pytest.raises(ValueError, match="occurs in the corpus"):
        unigram_train(clash, "text", target_vocab=8, word_marker="▁")


def test_unigram_encode_marker_tripwire(spark):
    """Round-13 review fix: the trainer's clash check covers only its
    own corpus — a SCORING document containing the marker must fail
    the encode job loudly (in-plan tripwire), never decode a word as
    two with no error anywhere. Marker shape is validated at encode
    too."""
    import pytest
    from pyspark.errors.exceptions.captured import SparkRuntimeException

    from bigdatabowl2024_25_spark.operators.bpe import (
        unigram_encode,
        unigram_train,
    )

    train = spark.createDataFrame(
        [(0, "the data table"), (1, "data table scan")],
        "doc_id long, text string",
    )
    vocab = unigram_train(train, "text", target_vocab=12, word_marker="▁")
    with pytest.raises(ValueError, match="single char"):
        unigram_encode(
            train, "text", "doc_id", vocab, word_marker="▁▁"
        )
    dirty = spark.createDataFrame(
        [(0, "clean words"), (1, "inter▁ior marker")],
        "doc_id long, text string",
    )
    with pytest.raises(SparkRuntimeException, match="hallucinate"):
        unigram_encode(
            dirty, "text", "doc_id", vocab, word_marker="▁"
        ).collect()
    # clean scoring corpora are unaffected by the tripwire
    got = unigram_encode(
        train, "text", "doc_id", vocab, word_marker="▁"
    ).collect()
    assert all(r.uni_tokens for r in got)
