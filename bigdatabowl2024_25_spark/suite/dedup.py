"""Parity queries: deduplication over `documents` — exact, MinHash
signatures, MinHash+LSH→Jaccard-verified near-dup pairs, SimHash.

The synthetic documents are all distinct, so near-dup structure is
manufactured deterministically inside the query: a copy of the first
docs with a small tail appended (high-Jaccard variants) and exact
copies under shifted ids. Both engines build the same union, so the
oracle stays an independent re-derivation.

Oracle SQL for minhash/banding is generated programmatically — same
hash (md5-prefix), same band keys, same thresholds.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from ..boundary import cut
from ..operators.dedup import (
    MINHASH_P,
    containment_pairs,
    decontaminate,
    exact_dedup,
    jaccard_pairs,
    lsh_candidates,
    minhash_coeffs,
    minhash_signatures,
    shingle_hashes,
    simhash,
    with_shingles,
)
from ..operators.graph import (
    hits,
    oracle_hits_sql,
    oracle_pagerank_sql,
    oracle_trustrank_sql,
    pagerank,
    trustrank,
)
from ..sources.io import load_table
from .registry import query

#: customer→supplier bipartite link graph (supplier ids offset into
#: their own node-id space); shared by the q74 'pr' branch and oracle
_PR_EDGES_CTE = (
    "SELECT DISTINCT o_custkey AS src, 1000000 + l_suppkey AS dst "
    "FROM lineitem JOIN orders ON l_orderkey = o_orderkey"
)
_PAGERANK_BLOCK = oracle_pagerank_sql(_PR_EDGES_CTE, iterations=3)

#: HITS reuses the SAME link graph — hubs land on the customer side,
#: authorities on the supplier side (bipartite, plus the pr branch's
#: shared derivation); 2 rounds keeps the q74 budget bounded
_HITS_BLOCK = oracle_hits_sql("SELECT * FROM pr_edges", iterations=2)

#: TrustRank seeds: a tenth of the supplier-side nodes by an
#: arithmetic predicate both engines evaluate identically
_TR_SEEDS_CTE = (
    "SELECT DISTINCT dst AS node FROM pr_edges WHERE dst % 10 = 3"
)
_TRUST_BLOCK = oracle_trustrank_sql(
    "SELECT * FROM pr_edges", _TR_SEEDS_CTE, iterations=2
)

# ---- shared SQL fragments (DuckDB side) --------------------------------

_NORM = (
    "trim(regexp_replace(regexp_replace(lower(text), '[^a-z0-9 ]', '', 'g'),"
    "' +', ' ', 'g'))"
)


def _h64(expr: str) -> str:
    return f"CAST(concat('0x', substring(md5({expr}), 1, 15)) AS BIGINT)"


_WORDS = "string_split(text, ' ')"


def _grams_sql(n: int) -> str:
    """DuckDB word n-grams mirroring operators.text.word_shingles:
    positions 1..len−n+1, words joined by single spaces."""
    parts = " || ' ' || ".join(
        f"{_WORDS}[i+{j}]" if j else f"{_WORDS}[i]" for j in range(n)
    )
    return (
        f"list_transform(range(1, greatest(len({_WORDS}) - {n - 2}, 1)), "
        f"i -> {parts})"
    )


_SHINGLES = _grams_sql(3)

#: decontamination gram length — 5-word grams (the published pipelines
#: use 8-13 on web documents; the synthetic docs are 10-99 words, so 5
#: keeps a meaningful gram count per doc at the same semantics)
_DECON_N = 5

#: DuckDB mirror of the bigram-LM scoring chain (operators.ngram_lm):
#: same normalize → BOS-pair explode → add-α logp → decimal-summed
#: cross entropy. Every double op is CAST-pinned so both engines
#: perform the identical IEEE sequence; ln/pow engine drift (~1 ulp)
#: is absorbed by the final micro-unit rounding.
_LM_CTES = f"""
    toks AS (SELECT doc_id, string_split({_NORM}, ' ') AS w FROM corpus),
    pairs AS (
        SELECT doc_id,
               CASE WHEN i = 1 THEN '<s>' ELSE w[i-1] END AS prev,
               w[i] AS tok
        FROM (SELECT doc_id, w, unnest(range(1, len(w)+1)) AS i
              FROM toks)
        WHERE w[i] <> ''
    ),
    ub AS (SELECT prev, tok, COUNT(*) AS cb FROM pairs GROUP BY 1, 2),
    ctx AS (SELECT prev, SUM(cb) AS cu FROM ub GROUP BY 1),
    voc AS (SELECT COUNT(DISTINCT tok) + 1 AS v FROM ub),
    lm_scored AS (
        SELECT p.doc_id,
               CAST(ln(
                   (CAST(COALESCE(b.cb, 0) AS DOUBLE)
                    + CAST(0.1 AS DOUBLE))
                   / (CAST(COALESCE(c.cu, 0) AS DOUBLE)
                      + CAST(0.1 AS DOUBLE) * CAST(v AS DOUBLE))
               ) AS DECIMAL(38,15)) AS lp
        FROM pairs p
        LEFT JOIN ub b USING (prev, tok)
        LEFT JOIN ctx c USING (prev)
        CROSS JOIN voc
    ),
    lm AS (
        SELECT doc_id, COUNT(*) AS n_tokens,
               CAST(ROUND(POW(CAST(2.0 AS DOUBLE),
                   (-CAST(SUM(lp) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE))
                   / CAST(0.6931471805599453 AS DOUBLE)
               ) * 1000000.0) AS BIGINT) AS ppl_micro
        FROM lm_scored GROUP BY doc_id
    )
"""

_K = 8
_BANDS = 4
_ROWS = _K // _BANDS

def _hashes_sql(src: str = "sh") -> str:
    """Distinct folded shingle hashes — ONE md5 per shingle (mirrors
    operators.dedup.shingle_hashes), parameterized by the shingle CTE
    so every consumer (q70/q71/q72/q74/q75) shares one definition."""
    return f"""
        SELECT DISTINCT doc_id, {_h64('shingle')} % {MINHASH_P} AS h
        FROM {src}
"""


_HASHES = _hashes_sql()

_SIG_MINS = ",\n           ".join(
    f"MIN((h * {a} + {b}) % {MINHASH_P}) AS mh_{i}"
    for i, (a, b) in enumerate(minhash_coeffs(_K))
)


def _oracle_band_keys(sigs_cte: str = "sigs") -> str:
    pieces = []
    for b in range(_BANDS):
        cols = ", ".join(
            f"CAST(mh_{b * _ROWS + j} AS VARCHAR)" for j in range(_ROWS)
        )
        pieces.append(
            f"SELECT doc_id AS doc, md5(concat_ws('_', '{b}', {cols}))"
            f" AS band_key FROM {sigs_cte}"
        )
    return " UNION ALL ".join(pieces)


# ---- q70 'substr' branch: ExactSubstr span dedup (k=8 tokens) --------
# Every repeated 8-token window keeps only its global-min (doc, pos)
# occurrence; the +100000 exact copies lose every window (fully cut,
# no row), the +200000 tail variants keep exactly their 3-token tail,
# originals keep everything. Chance cross-doc window repeats among the
# word-soup originals are deterministic and mirrored.
_SS_K = 8

_SS_CTES = f"""
    ssw AS (
        SELECT doc_id, list_filter(string_split(text, ' '), w -> w <> '')
          AS w
        FROM corpus
    ),
    ssocc AS (
        SELECT doc_id, i - 1 AS pos,
               {{h}} AS h
        FROM (SELECT doc_id, w,
                     unnest(range(1, len(w) - {_SS_K} + 2)) AS i
              FROM ssw)
    ),
    ssr AS (
        SELECT doc_id, pos,
               ROW_NUMBER() OVER (PARTITION BY h ORDER BY doc_id, pos)
                 AS rn,
               COUNT(*) OVER (PARTITION BY h) AS cnt
        FROM ssocc
    ),
    sslosers AS (SELECT doc_id, pos FROM ssr WHERE cnt > 1 AND rn > 1),
    ssidx AS (
        SELECT doc_id, unnest(w) AS word,
               generate_subscripts(w, 1) - 1 AS idx
        FROM ssw
    ),
    sskept AS (
        SELECT i.doc_id, i.idx, i.word
        FROM ssidx i
        LEFT JOIN sslosers l
          ON l.doc_id = i.doc_id
         AND i.idx BETWEEN l.pos AND l.pos + {_SS_K} - 1
        WHERE l.pos IS NULL
    ),
    ssout AS (
        SELECT doc_id, string_agg(word, ' ' ORDER BY idx) AS rebuilt,
               COUNT(*) AS n_kept
        FROM (SELECT DISTINCT doc_id, idx, word FROM sskept)
        GROUP BY doc_id
    )
""".format(
    h=_h64(f"array_to_string(w[i:i+{_SS_K - 1}], ' ')")
)


# ---- q93 'batch' branch: the prepare_batch daily loop ----------------
# (defined here so it shares the minhash/banding CTE machinery;
# consumed by suite/streaming_q.py next to its stream twin 'corpus'.
# It lives in q93 — NOT the benched q70 — for the q91 reason: the
# branch is O(1) fixture-sized, so its wall time is pure composition/
# scheduling overhead and would pollute the headline's sf-scaling
# signal.)
# Two manufactured days through `pipelines.corpus.prepare_batch` (the
# BATCH twin of the q93 'corpus' stream branch): day 1 = 50 originals
# + 15 same-batch tail variants (within-batch LSH near-dup fires);
# day 2 = 20 exact re-sends of history (dropped by the running key
# state), 30 unseen docs, and 10 same-batch tail variants of those
# (within-batch LSH again, now alongside the day-1 band-key state).
# The oracle replays the WHOLE loop in SQL: profile filter → keep-min
# exact dedup → band keys of survivors → greater-id candidate drop →
# seen-key/band-state carry into day 2. Ids grow monotonically across
# batches (the operator's documented assumption), so every pair's
# loser is its greatest id.
_BT_DUP = (
    "CASE WHEN len({w}) > 0 THEN "
    "1.0 - CAST(len(list_distinct({w})) AS DOUBLE) / len({w}) "
    "ELSE 0.0 END"
)


def _bt_day_ctes(tag: str, day_sql: str) -> str:
    """Profile → exact keep-min → band keys for one batch day."""
    from .text import _W_NE

    dup = _BT_DUP.format(w=_W_NE)
    return f"""
    bt{tag}raw AS ({day_sql}),
    bt{tag}p AS (
        SELECT doc_id, text FROM bt{tag}raw
        WHERE len({_W_NE}) >= 5 AND ({dup}) <= 0.5
    ),
    bt{tag}k AS (SELECT doc_id, text, {_h64(_NORM)} AS ck FROM bt{tag}p)
"""


_BT_DAY1 = """
    SELECT doc_id, text FROM documents WHERE doc_id < 50
    UNION ALL
    SELECT doc_id + 800000 AS doc_id, text || ' tail marker tokens'
      AS text FROM documents WHERE doc_id < 15
"""
_BT_DAY2 = """
    SELECT doc_id + 810000 AS doc_id, text FROM documents
    WHERE doc_id < 20
    UNION ALL
    SELECT doc_id + 820000 AS doc_id, text FROM documents
    WHERE doc_id >= 100 AND doc_id < 130
    UNION ALL
    SELECT doc_id + 830000 AS doc_id, text || ' tail2 marker'
      AS text FROM documents WHERE doc_id >= 100 AND doc_id < 110
"""


def _bt_band_ctes(tag: str, src: str) -> str:
    return f"""
    bt{tag}sh AS (SELECT doc_id, unnest({_SHINGLES}) AS shingle
                  FROM {src}),
    bt{tag}h AS ({_hashes_sql(f'bt{tag}sh')}),
    bt{tag}sig AS (SELECT doc_id, {_SIG_MINS} FROM bt{tag}h
                   GROUP BY doc_id),
    bt{tag}band AS ({_oracle_band_keys(f'bt{tag}sig')})
"""


_BT_CTES = (
    _bt_day_ctes("d1", _BT_DAY1)
    + ""","""
    + """
    btw1 AS (SELECT ck, MIN(doc_id) AS doc_id FROM btd1k GROUP BY ck),
    btt1 AS (SELECT w.doc_id, k.text FROM btw1 w
             JOIN btd1k k ON k.doc_id = w.doc_id),
"""
    + _bt_band_ctes("x1", "btt1")
    + ""","""
    + """
    btlose1 AS (
        SELECT DISTINCT greatest(a.doc, b.doc) AS doc
        FROM btx1band a JOIN btx1band b
          ON a.band_key = b.band_key AND a.doc <> b.doc
    ),
    btfin1 AS (SELECT doc_id FROM btt1
               WHERE doc_id NOT IN (SELECT doc FROM btlose1)),
    btseen AS (SELECT DISTINCT ck FROM btd1k),
    btstate AS (SELECT * FROM btx1band
                WHERE doc IN (SELECT doc_id FROM btfin1)),
"""
    + _bt_day_ctes("d2", _BT_DAY2)
    + ""","""
    + """
    btnew2 AS (SELECT * FROM btd2k
               WHERE ck NOT IN (SELECT ck FROM btseen)),
    btw2 AS (SELECT ck, MIN(doc_id) AS doc_id FROM btnew2 GROUP BY ck),
    btt2 AS (SELECT w.doc_id, k.text FROM btw2 w
             JOIN btnew2 k ON k.doc_id = w.doc_id),
"""
    + _bt_band_ctes("x2", "btt2")
    + ""","""
    + """
    btlose2 AS (
        SELECT DISTINCT greatest(n.doc, o.doc) AS doc
        FROM btx2band n
        JOIN (SELECT * FROM btstate
              UNION ALL SELECT * FROM btx2band) o
          ON o.band_key = n.band_key AND o.doc <> n.doc
    ),
    btfin2 AS (SELECT doc_id FROM btt2
               WHERE doc_id NOT IN (SELECT doc FROM btlose2))
"""
)


#: the manufactured corpus: originals ∪ exact copies ∪ near-dup variants
_CORPUS = """
    SELECT doc_id, text FROM documents
    UNION ALL
    SELECT doc_id + 100000 AS doc_id, text FROM documents WHERE doc_id < 40
    UNION ALL
    SELECT doc_id + 200000 AS doc_id, text || ' tail marker tokens'
      AS text FROM documents WHERE doc_id < 40
"""


def _corpus_df(spark, sf_dir):
    # round 15 NEGATIVE result (kept so it is not re-tried): widening
    # this scan with `sources.io.spread` made q70/q72 ~0.9 s SLOWER —
    # the union's branches already run as concurrent stages inside the
    # one collect job, so their single-task scans overlap each other,
    # while every corpus reference duplicated the repartition exchange
    # (a full text shuffle per consumer). `spread` pays only on
    # SERIALIZED passes (construction-time checkpoints, q71's DSIR
    # chain); lazy fan-out unions hide narrow scans for free.
    d = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    exact = d.filter(F.col("doc_id") < 40).select(
        (F.col("doc_id") + 100000).alias("doc_id"), "text"
    )
    near = d.filter(F.col("doc_id") < 40).select(
        (F.col("doc_id") + 200000).alias("doc_id"),
        F.concat(F.col("text"), F.lit(" tail marker tokens")).alias("text"),
    )
    return d.unionByName(exact).unionByName(near)


@query(
    "q70_corpus_hygiene",
    oracle=f"""
    WITH corpus AS ({_CORPUS}),
    {_SS_CTES},
    bgrams AS (
        SELECT DISTINCT {_h64('gram')} AS g
        FROM (SELECT unnest({_grams_sql(_DECON_N)}) AS gram
              FROM corpus WHERE doc_id < 40)
    ),
    cgrams AS (
        SELECT doc_id, {_h64('gram')} AS g
        FROM (SELECT doc_id, unnest({_grams_sql(_DECON_N)}) AS gram
              FROM corpus WHERE doc_id >= 40)
    ),
    {_LM_CTES},
    day2 AS (
        SELECT doc_id + 500000 AS doc_id, 'fresh ' || text AS text
        FROM documents WHERE doc_id < 30
        UNION ALL
        SELECT doc_id + 600000 AS doc_id, text
        FROM documents WHERE doc_id < 30
        UNION ALL
        SELECT doc_id + 700000 AS doc_id, 'fresh ' || text AS text
        FROM documents WHERE doc_id < 10
    ),
    seen AS (SELECT DISTINCT {_h64(_NORM)} AS content_key FROM corpus),
    d2k AS (SELECT doc_id, {_h64(_NORM)} AS content_key FROM day2),
    csh AS (SELECT doc_id, unnest({_SHINGLES}) AS shingle FROM corpus),
    chashes AS ({_hashes_sql('csh')}),
    csigs AS (SELECT doc_id, {_SIG_MINS} FROM chashes GROUP BY doc_id),
    cbanded AS ({_oracle_band_keys('csigs')}),
    nsh AS (SELECT doc_id, unnest({_SHINGLES}) AS shingle FROM day2),
    nhashes AS ({_hashes_sql('nsh')}),
    nsigs AS (SELECT doc_id, {_SIG_MINS} FROM nhashes GROUP BY doc_id),
    nbanded AS ({_oracle_band_keys('nsigs')}),
    incr_cands AS (
        SELECT DISTINCT least(n.doc, o.doc) AS id_a,
               greatest(n.doc, o.doc) AS id_b
        FROM nbanded n
        JOIN (SELECT * FROM cbanded UNION ALL SELECT * FROM nbanded) o
          ON o.band_key = n.band_key AND o.doc <> n.doc
    )
    SELECT 'exact' AS branch,
           {_h64(_NORM)} AS grp_key,
           MIN(doc_id) AS keeper_id,
           COUNT(*) AS n
    FROM corpus GROUP BY 2
    UNION ALL
    SELECT 'decontam' AS branch,
           doc_id AS grp_key,
           doc_id AS keeper_id,
           COUNT(DISTINCT g) AS n
    FROM cgrams
    WHERE g IN (SELECT g FROM bgrams)
    GROUP BY doc_id
    UNION ALL
    SELECT 'lm' AS branch,
           doc_id AS grp_key,
           n_tokens AS keeper_id,
           ppl_micro AS n
    FROM lm
    UNION ALL
    SELECT 'incr' AS branch,
           content_key AS grp_key,
           MIN(doc_id) AS keeper_id,
           COUNT(*) AS n
    FROM d2k
    WHERE content_key NOT IN (SELECT content_key FROM seen)
    GROUP BY content_key
    UNION ALL
    SELECT 'incr_near' AS branch,
           id_a AS grp_key,
           id_b AS keeper_id,
           CAST(1 AS BIGINT) AS n
    FROM incr_cands
    UNION ALL
    SELECT 'substr' AS branch,
           doc_id AS grp_key,
           n_kept AS keeper_id,
           {_h64('rebuilt')} AS n
    FROM ssout
    """,
)
def q70_corpus_hygiene(spark, sf_dir):
    """Corpus hygiene, two branches over the manufactured corpus
    (round-6 widening of the former q70_exact_dedup):

    - 'exact': normalized-content hash → keep-min-id groups. One
      shuffle on an 8-byte key; text never moves after hashing.
    - 'decontam': benchmark decontamination (`operators.dedup.
      decontaminate`) — the originals with doc_id < 40 play the
      benchmark/eval set, and every other corpus doc sharing a 5-word
      gram with them is flagged with its distinct-gram hit count. The
      manufactured +100000 exact copies and +200000 near variants are
      the planted contamination; chance vocabulary collisions among the
      ≥40 originals are deterministic and oracle-matched.

    - 'lm' (round-6 widening #2): the CCNet-style bigram-LM perplexity
      filter (`operators.ngram_lm`) trained on the corpus and scoring
      every corpus doc — duplicated text scores low, the tail-marker
      variants higher. Perplexity rides the bigint schema as
      micro-units (ROUND(ppl·1e6)); the oracle re-derives the whole
      train+score chain in SQL with CAST-pinned IEEE ops, so the LM
      layer's counts, smoothing, and decimal-summed cross entropy are
      all value-hash-checked (ln/pow 1-ulp engine drift sits 8 orders
      below the micro rounding grain).

    Unified schema (branch, grp_key, keeper_id, n): exact rows carry
    (content_key, keeper, copies); decontam rows carry (doc_id, doc_id,
    n_hits); lm rows carry (doc_id, n_tokens, ppl_micro); incr rows
    carry (content_key, keeper, batch_copies) — see the branch comment
    below."""
    from ..operators.ngram_lm import lm_perplexity, lm_train

    corpus = _corpus_df(spark, sf_dir)
    ex = exact_dedup(corpus, "text", "doc_id").select(
        F.lit("exact").alias("branch"),
        F.col("content_key").alias("grp_key"),
        F.col("keeper_id"),
        F.col("n_copies").alias("n"),
    )
    bench = corpus.filter(F.col("doc_id") < 40)
    cand = corpus.filter(F.col("doc_id") >= 40)
    dec = decontaminate(cand, bench, "text", "doc_id", n=_DECON_N).select(
        F.lit("decontam").alias("branch"),
        F.col("doc_id").alias("grp_key"),
        F.col("doc_id").alias("keeper_id"),
        F.col("n_hits").alias("n"),
    )
    # 'incr' (round-6 widening #3): the daily-batch path — a
    # manufactured day-2 batch (30 fresh prefixed docs, 30 re-sends of
    # history, 10 batch-internal dups of the fresh docs) deduped
    # against day 1's running key set via `incremental_exact_dedup`.
    # Survivors must be exactly the 30 fresh keys with keep-min ids;
    # n counts batch copies per surviving key (2 for the internally
    # duplicated ones).
    from ..operators.dedup import incremental_exact_dedup
    from ..operators.text import normalize_text, portable_hash64

    d0 = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    fresh = d0.filter(F.col("doc_id") < 30).select(
        (F.col("doc_id") + 500000).alias("doc_id"),
        F.concat(F.lit("fresh "), F.col("text")).alias("text"),
    )
    resend = d0.filter(F.col("doc_id") < 30).select(
        (F.col("doc_id") + 600000).alias("doc_id"), "text"
    )
    internal = d0.filter(F.col("doc_id") < 10).select(
        (F.col("doc_id") + 700000).alias("doc_id"),
        F.concat(F.lit("fresh "), F.col("text")).alias("text"),
    )
    day2 = fresh.unionByName(resend).unionByName(internal)
    hkey = portable_hash64(normalize_text(F.col("text")))
    keys1 = corpus.select(hkey.alias("content_key")).distinct()
    surv, _updated = incremental_exact_dedup(day2, keys1, "text", "doc_id")
    incr = surv.select(
        F.lit("incr").alias("branch"),
        F.col("content_key").alias("grp_key"),
        F.col("doc_id").alias("keeper_id"),
        F.col("n_copies").alias("n"),
    )

    # 'incr_near' (round-8, VERDICT item 7): the banded near-dup arm of
    # the daily-crawl loop — `incremental_lsh_candidates` pairs the
    # day-2 batch against day 1's persisted (doc, band_key) LSH state
    # and within itself, never history×history. Day-1 state is built
    # by running the same operator over the corpus with empty state
    # (its candidate output is never evaluated — only the banding).
    # Rows are the (least, greatest) candidate pairs; the oracle
    # re-derives both eras' band keys and the new-side join.
    from ..operators.dedup import incremental_lsh_candidates

    empty_banded = spark.createDataFrame([], "doc long, band_key string")
    _c1, day1_banded = incremental_lsh_candidates(
        corpus, empty_banded, "doc_id"
    )
    cands, _nb = incremental_lsh_candidates(day2, day1_banded, "doc_id")
    incr_near = cands.select(
        F.lit("incr_near").alias("branch"),
        F.col("id_a").alias("grp_key"),
        F.col("id_b").alias("keeper_id"),
        F.lit(1).cast("bigint").alias("n"),
    )

    # 'substr' (round 9): ExactSubstr span dedup (`dedup.
    # exact_substring_dedup`, Lee et al. 2022) at k=8 tokens over the
    # manufactured corpus — exact copies are fully cut (emit no row),
    # tail variants keep exactly their appended tail, originals pass
    # through; the rebuilt text of every survivor is value-hashed.
    from ..operators.dedup import exact_substring_dedup

    ess = exact_substring_dedup(corpus, "text", "doc_id", k=_SS_K)
    substr = ess.filter(F.col("n_kept") > 0).select(
        F.lit("substr").alias("branch"),
        F.col("doc_id").alias("grp_key"),
        F.col("n_kept").alias("keeper_id"),
        portable_hash64(F.col("text")).alias("n"),
    )

    # lm_train is fully lazy (the vocab size rides as a broadcast 1-row
    # frame) and persists nothing.
    bigrams, contexts, vocab = lm_train(corpus, "text", "doc_id")
    lm = lm_perplexity(
        corpus, "text", "doc_id", bigrams, contexts, vocab, alpha=0.1
    ).select(
        F.lit("lm").alias("branch"),
        F.col("doc_id").alias("grp_key"),
        F.col("n_tokens").cast("bigint").alias("keeper_id"),
        F.round(F.col("perplexity") * F.lit(1000000.0))
        .cast("bigint")
        .alias("n"),
    )
    return (
        ex.unionByName(dec)
        .unionByName(lm)
        .unionByName(incr)
        .unionByName(incr_near)
        .unionByName(substr)
    )


# ---- q71: signatures + selection filters --------------------------------

#: DSIR configuration shared by the Spark query and its oracle
_DSIR_DIM = 2048
_DSIR_ALPHA = 1.0
_DSIR_K = 25
_DSIR_SEED = "dsir:v1"

#: filtered raw-text words (the tokens()-then-drop-empties contract)
_RAW_WORDS = "list_filter(string_split(text, ' '), t -> t <> '')"

#: normalized filtered words for DSIR features (mirrors
#: dsir.dsir_features: normalize_text → tokens → drop '')
_NORM_WORDS = f"list_filter(string_split({_NORM}, ' '), t -> t <> '')"

#: micro-unit encoding of the exact decimal logw (ROUND half away from
#: zero on DECIMAL in both engines)
_LOGW_MICRO = "CAST(ROUND(logw * 1000000, 0) AS BIGINT)"


def _dsir_u_sql(id_expr: str) -> str:
    """weighted_fixed_k's (0,1] uniform under the dsir seed."""
    return (
        "((CAST(concat('0x', substring(md5(concat("
        f"'{_DSIR_SEED}', chr(31), CAST({id_expr} AS VARCHAR))), 1, 15)) "
        "AS BIGINT) + 1) / 1152921504606846976.0)"
    )


def _gopher_sql() -> str:
    """DuckDB mirror of operators.text.gopher_rules: same filtered
    single-space tokenization, regexp counts, and integer
    cross-multiplied thresholds; emits (doc_id, mask, keep)."""
    stop = ", ".join(
        f"'{s}'" for s in
        ("the", "be", "to", "of", "and", "that", "have", "with")
    )
    rules = [
        "(n BETWEEN 50 AND 100000)",
        "(3 * n <= chars AND chars <= 10 * n)",
        "(10 * n_sym <= n)",
        "(10 * n_bullet <= 9 * n_lines)",
        "(10 * n_ell <= 3 * n_lines)",
        "(5 * n_alpha >= 4 * n)",
        "(n_req >= 2)",
    ]
    mask = " + ".join(
        f"CASE WHEN {r} THEN {1 << i} ELSE 0 END"
        for i, r in enumerate(rules)
    )
    keep = " AND ".join(rules)
    return f"""
    gstats AS (
        SELECT doc_id,
               len(w) AS n,
               COALESCE(list_sum(list_transform(w, x -> length(x))), 0)
                 AS chars,
               len(regexp_extract_all(text, '#'))
                 + len(regexp_extract_all(text, '\\.\\.\\.')) AS n_sym,
               len(lns) AS n_lines,
               len(list_filter(lns,
                   l -> regexp_matches(ltrim(l), '^[-*•]'))) AS n_bullet,
               len(list_filter(lns,
                   l -> regexp_matches(rtrim(l), '\\.\\.\\.$'))) AS n_ell,
               len(list_filter(w,
                   x -> regexp_matches(x, '[A-Za-z]'))) AS n_alpha,
               len(list_filter([{stop}],
                   s -> list_contains(w, s))) AS n_req
        FROM (SELECT doc_id, {_RAW_WORDS} AS w,
                     string_split(text, chr(10)) AS lns, text
              FROM documents)
    ),
    gopher AS (
        SELECT doc_id, CAST({mask} AS BIGINT) AS mask,
               CASE WHEN {keep} THEN 1 ELSE 0 END AS keep
        FROM gstats
    )"""


_SIG_FOLD = _h64(
    "concat_ws('_', "
    + ", ".join(f"CAST(mh_{i} AS VARCHAR)" for i in range(_K))
    + ")"
)


@query(
    "q71_signatures_and_selection",
    oracle=f"""
    WITH sh AS (
        SELECT doc_id, unnest({_SHINGLES}) AS shingle FROM documents
    ),
    hashes AS ({_HASHES}),
    sigs AS (SELECT doc_id, {_SIG_MINS} FROM hashes GROUP BY doc_id),
    dwords AS (
        SELECT doc_id, lang, {_NORM_WORDS} AS w FROM documents
    ),
    dfeats AS (
        SELECT doc_id, lang,
               unnest(w || list_transform(
                   range(1, greatest(len(w), 1)),
                   i -> w[i] || ' ' || w[i+1])) AS feat
        FROM dwords
    ),
    fb AS (
        SELECT doc_id, lang, {_h64('feat')} % {_DSIR_DIM} AS bucket
        FROM dfeats
    ),
    tcnt AS (SELECT bucket, COUNT(*) AS ct FROM fb
             WHERE lang = 'en' GROUP BY 1),
    rcnt AS (SELECT bucket, COUNT(*) AS cr FROM fb GROUP BY 1),
    tot AS (SELECT (SELECT CAST(SUM(ct) AS DOUBLE) FROM tcnt) AS tt,
                   (SELECT CAST(SUM(cr) AS DOUBLE) FROM rcnt) AS tr),
    model AS (
        SELECT r.range AS bucket,
               CAST(ln((CAST(COALESCE(t.ct, 0) AS DOUBLE)
                        + CAST({_DSIR_ALPHA!r} AS DOUBLE))
                       / (tt + CAST({_DSIR_ALPHA * _DSIR_DIM!r} AS DOUBLE)))
                    AS DECIMAL(38,15))
               - CAST(ln((CAST(COALESCE(c.cr, 0) AS DOUBLE)
                          + CAST({_DSIR_ALPHA!r} AS DOUBLE))
                         / (tr + CAST({_DSIR_ALPHA * _DSIR_DIM!r} AS DOUBLE)))
                      AS DECIMAL(38,15)) AS lr
        FROM range(0, {_DSIR_DIM}) r
        LEFT JOIN tcnt t ON t.bucket = r.range
        LEFT JOIN rcnt c ON c.bucket = r.range
        CROSS JOIN tot
    ),
    wts AS (
        SELECT doc_id, COUNT(*) AS n_feats,
               CAST(SUM(lr) AS DECIMAL(38,15)) AS logw
        FROM fb JOIN model USING (bucket) GROUP BY doc_id
    ),
    keyed AS (
        SELECT doc_id, logw,
               ROUND(ln(-ln({_dsir_u_sql('doc_id')}))
                     - CAST(logw AS DOUBLE), 6) AS gkey
        FROM wts
    ),
    sel AS (
        SELECT doc_id, gkey, logw FROM keyed
        ORDER BY gkey NULLS LAST, doc_id LIMIT {_DSIR_K}
    ),
    {_gopher_sql()}
    SELECT 'sig' AS branch, doc_id,
           {_SIG_FOLD} AS a, CAST(NULL AS BIGINT) AS b
    FROM sigs
    UNION ALL
    SELECT 'dsir', doc_id, n_feats, {_LOGW_MICRO} FROM wts
    UNION ALL
    SELECT 'dsirk', doc_id,
           CAST(ROUND(gkey * 1000000.0) AS BIGINT), {_LOGW_MICRO}
    FROM sel
    UNION ALL
    SELECT 'gopher', doc_id, mask, keep FROM gopher
    """,
)
def q71_signatures_and_selection(spark, sf_dir):
    """Document signatures + the published selection-filter family
    over `documents`, unified as (branch, doc_id, a, b) — the round-9
    widening of the former q71_minhash_signatures:

    - 'sig': MinHash signatures (k=8) — one md5 per shingle folded
      into the 2^31−1 domain, ONE aggregate for all k permutation
      mins; the 8 mins are folded into a single portable hash so any
      signature change still flips the value hash. Docs with <3 words
      drop out (no shingles).
    - 'dsir'/'dsirk': DSIR importance weighting (`operators.dsir`,
      Xie et al. 2023) with target = the lang='en' docs and raw = all
      docs: per-doc (n_feats, logw micro-units), and the Gumbel top-25
      resample with its rounded rank key — the WHOLE chain (hashed
      unigram+bigram features, smoothed bucket multinomials, decimal
      log-ratio sums, log-space ES selection) re-derived in SQL.
    - 'gopher': the Gopher rule bitmask + keep verdict
      (`text.gopher_rules`, Rae et al. 2021) — integer-exact rule
      arithmetic, value-hashed per doc."""
    from ..operators.dsir import (
        dsir_features,
        dsir_gumbel_key,
        dsir_model,
        dsir_resample,
        dsir_weights,
    )
    from ..operators.text import gopher_rules, portable_hash64

    from ..sources.io import spread

    # every q71 branch is per-row compute (shingle/feature md5s, regex
    # rule counts) over a scan the file layout pins to ONE task —
    # widen it once; no-op on any input that is already ≥ cores wide
    d = spread(load_table(spark, sf_dir, "documents"))
    sigs = minhash_signatures(with_shingles(d, "text", "doc_id"), "doc_id", k=_K)
    sig = sigs.select(
        F.lit("sig").alias("branch"),
        "doc_id",
        portable_hash64(
            F.concat_ws(
                "_", *[F.col(f"mh_{i}").cast("string") for i in range(_K)]
            )
        ).alias("a"),
        F.lit(None).cast("bigint").alias("b"),
    )

    # round 15 (guide §2.4/§1.2 — remove redundant passes): the
    # pre-round-15 shape ran the hashed-feature explode (one md5 per
    # word+bigram over the whole corpus) TEN times in the fused plan —
    # separate target/raw `dsir_bucket_counts` each re-exploded, the
    # model's four consumers (tcnt/rcnt/tt/tr) replicated them, and the
    # dsir/dsirk branches duplicated the entire weights subtree (22
    # Generate nodes, 0 ReusedExchange — plans/r15/q71_*_before.txt).
    # Now: ONE explode feeds ONE conditional aggregate producing BOTH
    # multinomials (a bucket's target count = count of its rows from
    # lang='en' docs — identical integers by construction, target
    # buckets with zero mass stay absent via the __ct > 0 filter),
    # checkpointed at ≤ dim rows; and the per-doc weights frame is
    # checkpointed once (one row per doc — the natural boundary) so
    # 'dsir', 'dsirk', and the resample all read one materialization.
    fb = d.select(
        (F.col("lang") == "en").alias("__t"),
        F.explode(dsir_features(F.col("text"))).alias("feat"),
    ).select(
        "__t", (portable_hash64(F.col("feat")) % _DSIR_DIM).alias("bucket")
    )
    counts = cut(
        fb.groupBy("bucket").agg(
            F.count("*").alias("__cr"),
            F.sum(F.when(F.col("__t"), 1).otherwise(0)).alias("__ct"),
        )
    )
    raw_counts = counts.select("bucket", F.col("__cr").alias("c"))
    tgt_counts = counts.filter(F.col("__ct") > 0).select(
        "bucket", F.col("__ct").alias("c")
    )
    model = dsir_model(
        tgt_counts, raw_counts, dim=_DSIR_DIM, alpha=_DSIR_ALPHA
    )
    wts = cut(dsir_weights(d, "text", "doc_id", model, dim=_DSIR_DIM))
    logw_micro = F.round(F.col("logw") * F.lit(1000000), 0).cast("bigint")
    dsir = wts.select(
        F.lit("dsir").alias("branch"),
        "doc_id",
        F.col("n_feats").alias("a"),
        logw_micro.alias("b"),
    )
    sel = dsir_resample(wts, "doc_id", k=_DSIR_K, seed=_DSIR_SEED)
    gkey = dsir_gumbel_key("doc_id", seed=_DSIR_SEED)
    dsirk = sel.select(
        F.lit("dsirk").alias("branch"),
        "doc_id",
        F.round(gkey * F.lit(1000000.0)).cast("bigint").alias("a"),
        logw_micro.alias("b"),
    )

    g = gopher_rules(F.col("text"))
    gopher = d.select(
        F.lit("gopher").alias("branch"),
        "doc_id",
        g["gopher_mask"].alias("a"),
        F.when(g["gopher_keep"], 1).otherwise(0).cast("bigint").alias("b"),
    )
    return sig.unionByName(dsir).unionByName(dsirk).unionByName(gopher)


#: containment threshold for the q72 'contain' branch
_CONT_T = 0.9


@query(
    "q72_near_dup_pairs",
    oracle=f"""
    WITH corpus AS ({_CORPUS}),
    sh AS (
        SELECT doc_id, unnest({_SHINGLES}) AS shingle FROM corpus
    ),
    hashes AS ({_HASHES}),
    sigs AS (
        SELECT doc_id, {_SIG_MINS} FROM hashes GROUP BY doc_id
    ),
    banded AS ({_oracle_band_keys()}),
    cand AS (
        SELECT DISTINCT a.doc AS id_a, b.doc AS id_b
        FROM banded a JOIN banded b
          ON a.band_key = b.band_key AND a.doc < b.doc
    ),
    sizes AS (SELECT doc_id, COUNT(*) AS n FROM hashes GROUP BY doc_id),
    inter AS (
        SELECT c.id_a, c.id_b, COUNT(*) AS n_inter
        FROM cand c
        JOIN hashes a ON a.doc_id = c.id_a
        JOIN hashes b ON b.doc_id = c.id_b AND b.h = a.h
        GROUP BY c.id_a, c.id_b
    ),
    cont_inter AS (
        SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS n_inter
        FROM hashes a
        JOIN hashes b ON a.h = b.h AND a.doc_id <> b.doc_id
        GROUP BY 1, 2
    )
    SELECT 'jaccard' AS kind, i.id_a, i.id_b,
           CAST(i.n_inter AS DOUBLE) / (sa.n + sb.n - i.n_inter) AS score
    FROM inter i
    JOIN sizes sa ON sa.doc_id = i.id_a
    JOIN sizes sb ON sb.doc_id = i.id_b
    WHERE CAST(i.n_inter AS DOUBLE) / (sa.n + sb.n - i.n_inter) >= 0.4
    UNION ALL
    SELECT 'contain' AS kind, i.id_a, i.id_b,
           CAST(i.n_inter AS DOUBLE) / CAST(sa.n AS DOUBLE) AS score
    FROM cont_inter i
    JOIN sizes sa ON sa.doc_id = i.id_a
    WHERE CAST(i.n_inter AS DOUBLE) / CAST(sa.n AS DOUBLE)
          >= CAST({_CONT_T!r} AS DOUBLE)
    """,
)
def q72_near_dup_pairs(spark, sf_dir):
    """Two near-dup pair detectors over the manufactured corpus:
    'jaccard' — the full symmetric funnel, MinHash(k=8) → LSH banding
    (4 bands × 2 rows) → candidate pairs → exact n-gram Jaccard verify
    ≥ 0.4; 'contain' (round 9) — ASYMMETRIC containment ≥ 0.9 via
    rare-first prefix filtering (`dedup.containment_pairs`), catching
    the original⊂tail-variant embeddings whose Jaccard may sit under
    the symmetric threshold. The containment oracle is a BRUTE-FORCE
    scan over all shingle-sharing pairs, so the prefix filter's
    no-false-negative guarantee is driver-checked, not assumed.
    Neither path ever materializes the O(n²) pair space."""
    corpus = _corpus_df(spark, sf_dir)
    shingled = with_shingles(corpus, "text", "doc_id")
    # one shared explode+hash+distinct relation: the signature stage
    # and all three verify-stage consumers hang off the same subtree,
    # so Spark's ReuseExchange serves them from one shuffle write
    hashes = shingle_hashes(shingled, "doc_id")
    sigs = minhash_signatures(shingled, "doc_id", k=_K, hashes=hashes)
    cand = lsh_candidates(sigs, "doc_id", k=_K, bands=_BANDS)
    jac = jaccard_pairs(
        cand, shingled, "doc_id", threshold=0.4, hashes=hashes
    ).select(
        F.lit("jaccard").alias("kind"),
        "id_a",
        "id_b",
        F.col("jaccard").alias("score"),
    )
    con = containment_pairs(
        shingled, "doc_id", threshold=_CONT_T, hashes=hashes
    ).select(
        F.lit("contain").alias("kind"),
        "id_a",
        "id_b",
        F.col("containment").alias("score"),
    )
    return jac.unionByName(con)


_BITS = 16
_W_SUMS = ",\n           ".join(
    f"SUM(2 * ((h >> {b}) & 1) - 1) AS w_{b}" for b in range(_BITS)
)
_ASSEMBLE = " + ".join(
    f"CASE WHEN w_{b} > 0 THEN CAST({2**b} AS BIGINT) ELSE 0 END"
    for b in range(_BITS)
)


@query(
    "q73_simhash",
    oracle=f"""
    WITH toks AS (
        SELECT doc_id, {_h64("unnest(string_split(text, ' '))")} AS h
        FROM documents
    ),
    w AS (
        SELECT doc_id, {_W_SUMS} FROM toks GROUP BY doc_id
    )
    SELECT doc_id, {_ASSEMBLE} AS simhash FROM w
    """,
)
def q73_simhash(spark, sf_dir):
    """SimHash (16-bit) over whitespace tokens: sign of per-bit weight
    sums of portable token hashes. One explode + one aggregate."""
    d = load_table(spark, sf_dir, "documents")
    return simhash(d, "text", "doc_id", bits=_BITS)


@query(
    "q74_near_dup_clusters",
    oracle=f"""
    WITH RECURSIVE corpus AS ({_CORPUS}),
    sh AS (
        SELECT doc_id, unnest({_SHINGLES}) AS shingle FROM corpus
    ),
    hashes AS ({_HASHES}),
    sigs AS (
        SELECT doc_id, {_SIG_MINS} FROM hashes GROUP BY doc_id
    ),
    banded AS ({_oracle_band_keys()}),
    cand AS (
        SELECT DISTINCT a.doc AS id_a, b.doc AS id_b
        FROM banded a JOIN banded b
          ON a.band_key = b.band_key AND a.doc < b.doc
    ),
    sizes AS (SELECT doc_id, COUNT(*) AS n FROM hashes GROUP BY doc_id),
    inter AS (
        SELECT c.id_a, c.id_b, COUNT(*) AS n_inter
        FROM cand c
        JOIN hashes a ON a.doc_id = c.id_a
        JOIN hashes b ON b.doc_id = c.id_b AND b.h = a.h
        GROUP BY c.id_a, c.id_b
    ),
    pairs AS (
        SELECT i.id_a, i.id_b
        FROM inter i
        JOIN sizes sa ON sa.doc_id = i.id_a
        JOIN sizes sb ON sb.doc_id = i.id_b
        WHERE CAST(i.n_inter AS DOUBLE) / (sa.n + sb.n - i.n_inter) >= 0.4
    ),
    edges AS (
        SELECT id_a AS a, id_b AS b FROM pairs
        UNION SELECT id_b, id_a FROM pairs
    ),
    reach(node, label) AS (
        SELECT a, a FROM edges
        UNION
        SELECT e.b, r.label FROM reach r JOIN edges e ON e.a = r.node
    ),
    {_PAGERANK_BLOCK},
    {_HITS_BLOCK},
    {_TRUST_BLOCK}
    SELECT 'cc' AS kind, node, MIN(label) AS component,
           CAST(NULL AS BIGINT) AS rank_scaled
    FROM reach GROUP BY node
    UNION ALL
    SELECT 'pr', node, NULL, r FROM pr_r3
    UNION ALL
    SELECT 'hub', node, NULL, h FROM ht_h2
    UNION ALL
    SELECT 'auth', node, NULL, a FROM ht_a2
    UNION ALL
    SELECT 'trust', node, NULL, r FROM tr_r2
    """,
)
def q74_near_dup_clusters(spark, sf_dir):
    """End of the dedup funnel: verified near-dup pairs → connected
    components (`components.connected_components`) → (node, component).
    The component id IS the keeper (min doc id). Oracle re-derives
    components via a recursive transitive-closure CTE — an independent
    algorithm for the same semantics.

    'pr'/'hub'/'auth'/'trust' score the customer→supplier link graph
    with `graph.pagerank`, `graph.hits` and `graph.trustrank`; the
    oracle replays each one's integer recurrence."""
    from ..operators.components import connected_components
    from ..concurrency import build_concurrently

    # q74/q75 cluster on the SYMMETRIC jaccard pairs only — containment
    # is an asymmetric report (quote detection), not an equivalence
    def _build_cc():
        pairs = (
            q72_near_dup_pairs(spark, sf_dir)
            .filter(F.col("kind") == "jaccard")
            .select("id_a", "id_b")
        )
        return connected_components(pairs)

    # 'pr' (round 9): fixed-point PageRank (`graph.pagerank`) over the
    # customer→supplier link graph — the web-graph centrality signal a
    # corpus pipeline uses for domain-quality weighting. Integer
    # arithmetic end-to-end, so the DuckDB oracle re-derives it with
    # the same unrolled recurrence (`oracle_pagerank_sql`).
    # 'hub'/'auth' (round 10): HITS over the SAME graph — the
    # two-sided centrality PageRank can't express (on this bipartite
    # graph hubs are exactly the customers, authorities the
    # suppliers). Integer L1-normalized power iteration; the oracle
    # (`oracle_hits_sql`) replays the identical HUGEINT recurrence.
    # broadcast_scores: this graph's node table is dimension-sized
    # (customers + suppliers), so every per-round score join broadcasts.
    # 'trust' (round 10): TrustRank — teleport restricted to a seed
    # tenth of the supplier-side nodes (arithmetic predicate, so the
    # oracle derives the identical seed set). The spam-demotion
    # signal: trust flows OUT of the seeds; customers earn it only
    # through links. Same checkpoint'd edge list as 'pr'/'hub'.
    def _build_graphs():
        li = load_table(spark, sf_dir, "lineitem").select(
            "l_orderkey", "l_suppkey"
        )
        o = load_table(spark, sf_dir, "orders").select(
            "o_orderkey", "o_custkey"
        )
        # the fact⋈fact derivation feeds all three centrality
        # branches — EAGER cut (round 16, ADVICE r15): with
        # eager=False the concurrent pr/ht/tr builders raced to
        # materialize the lazy checkpoint and could compute the
        # distinct fact-join up to 3×; eager runs it exactly once in
        # this builder thread, still overlapped with the 'cc' branch
        # by the outer build_concurrently
        pr_edges = cut(
            li.join(o, li.l_orderkey == o.o_orderkey)
            .select(
                F.col("o_custkey").alias("src"),
                (F.lit(1000000) + F.col("l_suppkey")).alias("dst"),
            )
            .distinct()
        )
        seeds = pr_edges.select(F.col("dst").alias("node")).filter(
            F.col("node") % 10 == 3
        )
        return build_concurrently(
            {
                "pr": lambda: pagerank(pr_edges, iterations=3),
                "ht": lambda: hits(
                    pr_edges, iterations=2, broadcast_scores=True
                ),
                "tr": lambda: trustrank(pr_edges, seeds, iterations=2),
            }
        )

    # round 15: the five branches' construction-time jobs (the q72
    # funnel + eager CC strategy count on one side; the per-round
    # toRdd mini-executions of three centrality chains on the other)
    # are independent — overlap them instead of paying the measured
    # ~11.6 s serial construction wall (attribution in SCALE.md's
    # round-15 q74 section; results are identical, only job timing
    # changes). pr/ht/tr fan out AFTER pr_edges' eager checkpoint has
    # materialized, so all three plan against one already-computed
    # leaf.
    built = build_concurrently({"cc": _build_cc, "g": _build_graphs})
    cc = built["cc"].select(
        F.lit("cc").alias("kind"),
        "node",
        "component",
        F.lit(None).cast("bigint").alias("rank_scaled"),
    )
    pr = built["g"]["pr"].select(
        F.lit("pr").alias("kind"),
        "node",
        F.lit(None).cast("bigint").alias("component"),
        "rank_scaled",
    )
    ht = built["g"]["ht"]
    hub = ht.select(
        F.lit("hub").alias("kind"),
        "node",
        F.lit(None).cast("bigint").alias("component"),
        F.col("hub_scaled").alias("rank_scaled"),
    )
    auth = ht.select(
        F.lit("auth").alias("kind"),
        "node",
        F.lit(None).cast("bigint").alias("component"),
        F.col("auth_scaled").alias("rank_scaled"),
    )
    tr = built["g"]["tr"].select(
        F.lit("trust").alias("kind"),
        "node",
        F.lit(None).cast("bigint").alias("component"),
        "rank_scaled",
    )
    return (
        cc.unionByName(pr)
        .unionByName(hub)
        .unionByName(auth)
        .unionByName(tr)
    )


@query(
    "q75_dedup_survivors",
    oracle=f"""
    WITH RECURSIVE corpus AS ({_CORPUS}),
    sh AS (
        SELECT doc_id, unnest({_SHINGLES}) AS shingle FROM corpus
    ),
    hashes AS ({_HASHES}),
    sigs AS (
        SELECT doc_id, {_SIG_MINS} FROM hashes GROUP BY doc_id
    ),
    banded AS ({_oracle_band_keys()}),
    cand AS (
        SELECT DISTINCT a.doc AS id_a, b.doc AS id_b
        FROM banded a JOIN banded b
          ON a.band_key = b.band_key AND a.doc < b.doc
    ),
    sizes AS (SELECT doc_id, COUNT(*) AS n FROM hashes GROUP BY doc_id),
    inter AS (
        SELECT c.id_a, c.id_b, COUNT(*) AS n_inter
        FROM cand c
        JOIN hashes a ON a.doc_id = c.id_a
        JOIN hashes b ON b.doc_id = c.id_b AND b.h = a.h
        GROUP BY c.id_a, c.id_b
    ),
    pairs AS (
        SELECT i.id_a, i.id_b
        FROM inter i
        JOIN sizes sa ON sa.doc_id = i.id_a
        JOIN sizes sb ON sb.doc_id = i.id_b
        WHERE CAST(i.n_inter AS DOUBLE) / (sa.n + sb.n - i.n_inter) >= 0.4
    ),
    edges AS (
        SELECT id_a AS a, id_b AS b FROM pairs
        UNION SELECT id_b, id_a FROM pairs
    ),
    reach(node, label) AS (
        SELECT a, a FROM edges
        UNION
        SELECT e.b, r.label FROM reach r JOIN edges e ON e.a = r.node
    ),
    comp AS (SELECT node, MIN(label) AS component FROM reach GROUP BY node),
    keyed AS (
        SELECT c.doc_id, comp.node, comp.component,
               CAST(concat('0x', substring(md5(concat(
                   'split:v1', chr(31),
                   CAST(COALESCE(comp.component, c.doc_id) AS VARCHAR)
               )), 1, 15)) AS BIGINT) % 100 AS bucket
        FROM corpus c
        LEFT JOIN comp ON comp.node = c.doc_id
    ),
    bestk AS (
        SELECT component, doc_id AS keeper FROM (
            SELECT cm.component, c.doc_id,
                   ROW_NUMBER() OVER (PARTITION BY cm.component
                       ORDER BY len(c.text) DESC, c.doc_id ASC) AS rn
            FROM corpus c JOIN comp cm ON cm.node = c.doc_id
        ) WHERE rn = 1
    )
    SELECT 'surv' AS branch, doc_id FROM keyed
    WHERE node IS NULL OR component = doc_id
    UNION ALL
    SELECT 'train', doc_id FROM keyed WHERE bucket >= 20
    UNION ALL
    SELECT 'test', doc_id FROM keyed WHERE bucket < 20
    UNION ALL
    SELECT 'best', k.doc_id FROM keyed k
    LEFT JOIN bestk b ON b.component = k.component
    WHERE k.node IS NULL OR k.doc_id = b.keeper
    """,
)
def q75_dedup_survivors(spark, sf_dir):
    """The pipeline's final artifacts, unified as (branch, doc_id):

    - 'surv': the deduplicated corpus. A doc survives iff it is in no
      near-dup cluster, or it is its cluster's keeper (the min id =
      the component label). Left join against the tiny components
      relation — the corpus never shuffles.
    - 'train'/'test' (round 9): the LEAKAGE-PROOF split
      (`ml.cluster_safe_split`) — every near-dup cluster hashes its
      component id, so twins can never straddle the split and test
      metrics can't reward memorization; unclustered docs hash their
      own id (the `hash_split` rule, same md5 bucket convention). The
      oracle re-derives cluster keys from its independent
      transitive-closure components and the same bucket hash."""
    from ..ml import cluster_safe_split
    from ..operators.components import connected_components

    corpus = _corpus_df(spark, sf_dir).select("doc_id")
    comp = connected_components(
        q72_near_dup_pairs(spark, sf_dir)
        .filter(F.col("kind") == "jaccard")
        .select("id_a", "id_b")
    )
    surv = (
        corpus.join(
            F.broadcast(comp), corpus["doc_id"] == comp["node"], "left"
        )
        .filter(F.col("node").isNull() | (F.col("component") == F.col("doc_id")))
        .select(F.lit("surv").alias("branch"), "doc_id")
    )
    train, test = cluster_safe_split(corpus, "doc_id", comp)

    # 'best' (round 10): quality-aware keeper selection
    # (`dedup.best_quality_survivors`) — keep each cluster's LONGEST
    # member (ties → min id) instead of the min id: of two near-dup
    # captures ship the more complete one. On this corpus the
    # '+200000 tail marker' twins now beat their originals, so the
    # branch provably diverges from 'surv'. Corpus stays
    # shuffle-free (keeper election on the broadcast clustered
    # subset only).
    from ..operators.dedup import best_quality_survivors

    full = _corpus_df(spark, sf_dir)
    best = best_quality_survivors(
        full, comp, "doc_id", F.length("text")
    ).select(F.lit("best").alias("branch"), "doc_id")

    return (
        surv.unionByName(
            train.select(F.lit("train").alias("branch"), "doc_id")
        )
        .unionByName(test.select(F.lit("test").alias("branch"), "doc_id"))
        .unionByName(best)
    )
