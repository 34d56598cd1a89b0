"""Parity queries: text analysis over the `documents` table —
language ID, quality scoring, token counting, fingerprinting.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from ..boundary import BoundaryCaches, cut
from ..operators.text import (
    LANG_STOPWORDS,
    PII_PATTERNS,
    bm25,
    fingerprint,
    normalize_text,
    portable_hash64,
    predict_lang,
    quality_features,
    redact_pii,
    regex_token_count,
    repetition_features,
    tokens,
)
from ..operators.quality_clf import quality_keep, text_logit_scaled
from ..operators.urls import (
    registered_domain,
    url_host,
    url_keep,
    url_path_depth,
)
from ..sources.io import load_table
from .registry import query

# ---- q60 URL branch: manufactured per-doc URLs (synthetic docs have
# none), same construction on both engines — schemes, ad subdomains,
# two-level TLDs, spam paths all occur so every filter rule fires ----

_URL_BLOCKED = ("src3.com", "src7.co.uk")
_URL_SPAM_RE = "/spam/"

_URL_SQL = (
    "concat(CASE WHEN doc_id % 11 = 0 THEN 'ftp://' ELSE 'https://' END,"
    " CASE WHEN doc_id % 17 = 0 THEN 'src3.com:pw@' ELSE '' END,"
    " CASE WHEN doc_id % 5 = 0 THEN 'ads.'"
    " WHEN doc_id % 4 = 0 THEN 'www.' ELSE '' END,"
    " source,"
    " CASE WHEN doc_id % 3 = 0 THEN '.co.uk' ELSE '.com' END,"
    " '/p/', CAST(doc_id AS VARCHAR),"
    " CASE WHEN doc_id % 13 = 0 THEN '/spam/x' ELSE '' END)"
)

#: DuckDB mirrors of operators.urls (suffix list inlined; __url/__host
#: are pre-computed in the oracle's FROM subquery)
_URL_2L_IN = "('co.uk','org.uk','gov.uk','ac.uk','com.au','co.jp','co.in','com.br','com.cn','com.mx')"
_URL_PARTS = "string_split(__host, '.')"
_URL_DOMAIN_SQL = (
    f"CASE WHEN len({_URL_PARTS}) >= 3"
    f" AND ({_URL_PARTS}[-2] || '.' || {_URL_PARTS}[-1]) IN {_URL_2L_IN}"
    f" THEN {_URL_PARTS}[-3] || '.' || {_URL_PARTS}[-2] || '.' || {_URL_PARTS}[-1]"
    f" WHEN len({_URL_PARTS}) >= 2"
    f" THEN {_URL_PARTS}[-2] || '.' || {_URL_PARTS}[-1]"
    f" ELSE __host END"
)
_URL_PATH_SQL = (
    "regexp_extract(__url, '^[a-z][a-z0-9+.-]*://[^/?#]*(/[^?#]*)', 1)"
)
_URL_DEPTH_SQL = (
    f"length({_URL_PATH_SQL})"
    f" - length(replace({_URL_PATH_SQL}, '/', ''))"
)
_URL_KEEP_SQL = (
    "regexp_extract(__url, '^([a-z][a-z0-9+.-]*)://', 1)"
    " IN ('http','https')"
    f" AND NOT ({_URL_DOMAIN_SQL}) IN "
    + "('" + "','".join(_URL_BLOCKED) + "')"
    f" AND NOT regexp_matches(__url, '{_URL_SPAM_RE}')"
)


def _url_source(doc_id):
    """Deterministic URL per document, lowercase by construction.

    Every filter rule fires somewhere in the id space, including the
    round-10 userinfo evasion: docs ≡0 (mod 17) carry a BLOCKED domain
    as userinfo (``https://src3.com:pw@real-host/…``) — the host
    extract must skip it, or the blocklist is both evadable (blocked
    host hidden after '@') and over-blocking (innocent host judged by
    its userinfo)."""
    return F.concat(
        F.when(doc_id % 11 == 0, F.lit("ftp://")).otherwise(
            F.lit("https://")
        ),
        F.when(doc_id % 17 == 0, F.lit("src3.com:pw@")).otherwise(
            F.lit("")
        ),
        F.when(doc_id % 5 == 0, F.lit("ads."))
        .when(doc_id % 4 == 0, F.lit("www."))
        .otherwise(F.lit("")),
        F.col("source"),
        F.when(doc_id % 3 == 0, F.lit(".co.uk")).otherwise(F.lit(".com")),
        F.lit("/p/"),
        doc_id.cast("string"),
        F.when(doc_id % 13 == 0, F.lit("/spam/x")).otherwise(F.lit("")),
    )


_HITS = {
    lang: (
        f"len(list_filter(string_split(text,' '), w -> w IN "
        f"({', '.join(repr(w) for w in sw)})))"
    )
    for lang, sw in LANG_STOPWORDS.items()
}

_PRED = (
    f"CASE WHEN {_HITS['en']} >= {_HITS['es']}"
    f" AND {_HITS['en']} >= {_HITS['de']} THEN 'en'"
    f" WHEN {_HITS['es']} >= {_HITS['de']} THEN 'es'"
    f" ELSE 'de' END"
)


# ---- BM25 branch: fixed query terms over the corpus ------------------

_BM25_TERMS = ["data", "spark", "window"]

#: non-empty words (repetition features drop ''-tokens from irregular
#: whitespace, mirroring operators.text.repetition_features)
_W_NE = "list_filter(string_split(text,' '), w -> w <> '')"

# ---- q60 quality-classifier columns: pinned fastText-style weights --
# (a real deployment trains them via quality_clf.train_quality_weights;
# the driver branch pins a deterministic literal vector so scoring —
# the 100 TB path — is what the oracle hashes)

_QCLS_DIM = 64
_QCLS_W = [((i * 2654435761) % 2000001) - 1000000 for i in range(_QCLS_DIM)]
_QCLS_ARR = "[" + ", ".join(str(w) for w in _QCLS_W) + "]"
_QCLS_BUCKET = (
    "(CAST(concat('0x', substring(md5(t), 1, 15)) AS BIGINT)"
    f" % {_QCLS_DIM})"
)
_QCLS_LOGIT_SQL = (
    f"CAST(COALESCE(list_sum(list_transform({_W_NE},"
    f" t -> {_QCLS_ARR}[{_QCLS_BUCKET} + 1])), 0) AS BIGINT)"
)
_QCLS_KEEP_SQL = f"(len({_W_NE}) > 0 AND {_QCLS_LOGIT_SQL} >= 0)"



#: word bigrams (mirror of operators.text.word_shingles(w, 2))
_GRAMS2 = (
    f"list_transform(range(1, greatest(len({_W_NE}), 1)), "
    f"i -> {_W_NE}[i] || ' ' || {_W_NE}[i+1])"
)
_BM25_K1, _BM25_B = 1.2, 0.75


def _tf_sql(t: str) -> str:
    return f"len(list_filter(string_split(text,' '), w -> w = '{t}'))"


# ---- PII-redaction column: synthetic docs carry no PII, so both
# engines append the SAME deterministic PII spans (email, formatted
# phone, IPv4, grouped card number keyed off doc_id) before the
# redaction chain — the md5 of the redacted text then verifies every
# pattern actually fired, in the operator's EMAIL→CARD→PHONE→IP order.

def _pii_src_sql(id_expr: str) -> str:
    return (
        f"text || ' contact user' || CAST({id_expr} AS VARCHAR)"
        " || '@example.com or +1 (555) 123-'"
        f" || lpad(CAST(({id_expr}) % 10000 AS VARCHAR), 4, '0')"
        f" || ' ip 10.0.' || CAST(({id_expr}) % 256 AS VARCHAR) || '.7'"
        " || ' card 4111 1111 1111 1111 end'"
    )


def _redact_sql(expr: str) -> str:
    """DuckDB mirror of operators.text.redact_pii over `expr` (same
    pattern order)."""
    out = expr
    for name in ("EMAIL", "CARD", "PHONE", "IP"):
        out = (
            f"regexp_replace({out}, "
            f"'{PII_PATTERNS[name]}', '[{name}]', 'g')"
        )
    return out


_PII_SRC_SQL = _pii_src_sql("doc_id")
_PII_RED_SQL = _redact_sql(_PII_SRC_SQL)


def _pii_source(doc_id, text):
    """Spark mirror of _PII_SRC_SQL (same literal byte layout)."""
    return F.concat(
        text,
        F.lit(" contact user"),
        doc_id.cast("string"),
        F.lit("@example.com or +1 (555) 123-"),
        F.lpad((doc_id % 10000).cast("string"), 4, "0"),
        F.lit(" ip 10.0."),
        (doc_id % 256).cast("string"),
        F.lit(".7 card 4111 1111 1111 1111 end"),
    )


_BM25_STATS = (
    "SELECT COUNT(*) AS n_docs, "
    "CAST(SUM(CAST(len(string_split(text,' ')) AS DECIMAL(25,6))) "
    "AS DOUBLE) AS sum_dl, "
    + ", ".join(
        f"SUM(CASE WHEN {_tf_sql(t)} > 0 THEN 1 ELSE 0 END) AS df_{i}"
        for i, t in enumerate(_BM25_TERMS)
    )
    + " FROM documents"
)

#: mirror operators.text.bm25 term-by-term, same double constants and
#: same addition order (Python-computed constants injected via repr so
#: both engines parse the identical IEEE value)
_BM25_SCORE = " + ".join(
    f"(ln(1.0 + (CAST(n_docs AS DOUBLE) - CAST(df_{i} AS DOUBLE) + 0.5)"
    f" / (CAST(df_{i} AS DOUBLE) + 0.5))"
    f" * (CAST({_tf_sql(t)} AS DOUBLE) * CAST({_BM25_K1 + 1.0!r} AS DOUBLE)"
    f" / (CAST({_tf_sql(t)} AS DOUBLE) + CAST({_BM25_K1!r} AS DOUBLE)"
    f" * (CAST({1.0 - _BM25_B!r} AS DOUBLE) + CAST({_BM25_B!r} AS DOUBLE)"
    f" * CAST(len(string_split(text,' ')) AS DOUBLE)"
    f" / (sum_dl / CAST(n_docs AS DOUBLE))))))"
    for i, t in enumerate(_BM25_TERMS)
)


@query(
    "q60_text_profile",
    oracle=rf"""
    SELECT doc_id, lang,
           len(string_split(text, ' ')) AS n_tokens,
           len(regexp_extract_all(text, '\w+|[^\w\s]')) AS n_regex_tokens,
           length(text) AS char_len,
           CAST(list_sum(list_transform(string_split(text,' '), w -> length(w)))
                AS DOUBLE) / len(string_split(text,' ')) AS avg_word_len,
           CAST(len(regexp_extract_all(text, '[.,!?;:]')) AS DOUBLE)
             / length(text) AS punct_ratio,
           CAST(len(list_filter(string_split(text,' '),
                w -> w IN ('the','and','of','to','a','in','is'))) AS DOUBLE)
             / len(string_split(text,' ')) AS stopword_ratio,
           {_PRED} AS predicted_lang,
           CASE WHEN ({_PRED}) = lang THEN 1 ELSE 0 END AS is_match,
           md5(trim(regexp_replace(regexp_replace(lower(text),
               '[^a-z0-9 ]', '', 'g'), ' +', ' ', 'g'))) AS fp,
           CAST(concat('0x', substring(
               md5(trim(regexp_replace(regexp_replace(lower(text),
                   '[^a-z0-9 ]', '', 'g'), ' +', ' ', 'g'))), 1, 15))
             AS BIGINT) AS fp64,
           ROUND({_BM25_SCORE}, 6) AS bm25,
           CASE WHEN len({_W_NE}) > 0 THEN
               1.0 - CAST(len(list_distinct({_W_NE})) AS DOUBLE)
                     / len({_W_NE})
           ELSE 0.0 END AS dup_word_frac,
           CASE WHEN len({_GRAMS2}) > 0 THEN
               CAST(list_max(list_transform(list_distinct({_GRAMS2}),
                    g -> len(list_filter({_GRAMS2}, x -> x = g))))
                    AS DOUBLE) / len({_GRAMS2})
           ELSE 0.0 END AS top_bigram_frac,
           md5({_PII_RED_SQL}) AS pii_md5,
           __host AS url_host,
           {_URL_DOMAIN_SQL} AS url_domain,
           {_URL_DEPTH_SQL} AS url_depth,
           {_URL_KEEP_SQL} AS url_keep,
           {_QCLS_LOGIT_SQL} AS qcls_logit,
           {_QCLS_KEEP_SQL} AS qcls_keep
    FROM (SELECT *, lower({_URL_SQL}) AS __url,
                 regexp_extract(lower({_URL_SQL}),
                     '^[a-z][a-z0-9+.-]*://(?:[^/?#]*@)?([^/:?#@]+)',
                     1) AS __host
          FROM documents) documents
    CROSS JOIN ({_BM25_STATS}) s
    """,
)
def q60_text_profile(spark, sf_dir):
    """Per-document text profile — round 3 merge of four round-1
    queries (COVERAGE.md: q60-q63), all narrow per-row transforms, so
    ONE documents scan computes all of: token counting (whitespace +
    BPE-ish regex), quality scoring (length/punct/stopword ratios —
    single double divisions of exact integer counts), language ID via
    stopword-hit argmax with fixed tie preference, and md5 + portable
    60-bit fingerprints (the dedup layer's numeric key). At 100 TB this
    is THE text-feature extraction pass: every column codegen'd
    JVM-side, zero Python. Round 6 adds BM25 relevance (`text.bm25`),
    which costs one single-row stats aggregate (a SinglePartition
    exchange of one row, broadcast back) and a second corpus scan —
    the per-document columns themselves remain shuffle-free maps."""
    from ..sources.io import spread

    # single-chain query: every output column is per-row compute
    # (regex counts, array lambdas, md5s) evaluated in the scan
    # stage, which the one-row-group file pins to ONE task — widen it
    # (round 15, guide §2.5; no-op on inputs already ≥ cores wide)
    d = bm25(
        spread(load_table(spark, sf_dir, "documents")),
        "text",
        _BM25_TERMS,
        k1=_BM25_K1,
        b=_BM25_B,
    )
    t = F.col("text")
    q = quality_features(t)
    rep = repetition_features(t)
    pred = predict_lang(tokens(t))
    _url = _url_source(F.col("doc_id"))
    return d.select(
        "doc_id",
        "lang",
        F.size(tokens(t)).cast("bigint").alias("n_tokens"),
        regex_token_count(t).cast("bigint").alias("n_regex_tokens"),
        F.length(t).cast("bigint").alias("char_len"),
        q["avg_word_len"].alias("avg_word_len"),
        q["punct_ratio"].alias("punct_ratio"),
        q["stopword_ratio"].alias("stopword_ratio"),
        pred.alias("predicted_lang"),
        F.when(pred == F.col("lang"), 1).otherwise(0).alias("is_match"),
        fingerprint(t).alias("fp"),
        portable_hash64(normalize_text(t)).alias("fp64"),
        F.round(F.col("bm25"), 6).alias("bm25"),
        rep["dup_word_frac"].alias("dup_word_frac"),
        rep["top_bigram_frac"].alias("top_bigram_frac"),
        # round 8: PII redaction (`text.redact_pii`) — verified on
        # manufactured spans since the synthetic docs carry none; the
        # md5 flips if any pattern (or their order) drifts between the
        # operator and the oracle's regexp_replace chain
        F.md5(
            redact_pii(_pii_source(F.col("doc_id"), t)).cast("binary")
        ).alias("pii_md5"),
        # round 9: URL filtering (`operators.urls`) — the RefinedWeb
        # stage-0 columns on manufactured per-doc URLs: host extract,
        # eTLD+1, path depth, and the scheme/blocklist/pattern keep
        # flag; every rule fires somewhere in the id space
        url_host(_url).alias("url_host"),
        registered_domain(url_host(_url)).alias("url_domain"),
        url_path_depth(_url).alias("url_depth"),
        url_keep(
            _url,
            blocked_domains=_URL_BLOCKED,
            blocked_url_pattern=_URL_SPAM_RE,
        ).alias("url_keep"),
        # round 9: fastText-style quality classifier (`quality_clf`) —
        # pinned hashed-bag-of-words weights, integer-exact logit and
        # keep decision (scoring is the 100 TB path; training is the
        # offline MLlib fit in test_quality_clf)
        text_logit_scaled(t, _QCLS_W).alias("qcls_logit"),
        quality_keep(t, _QCLS_W, threshold=0.0).alias("qcls_keep"),
    )


#: chunking geometry for the q64 'chunk' branch
_CH_SIZE, _CH_OVER = 24, 6
_CH_STRIDE = _CH_SIZE - _CH_OVER

#: DuckDB mirror of operators.text.chunk_documents: starts every
#: stride up to len−overlap (≥1), windows sliced then re-joined
_CH_STARTS = (
    f"range(1, greatest(len({_W_NE}) - {_CH_OVER}, 1) + 1, {_CH_STRIDE})"
)
_CH_TEXT = (
    f"list_aggregate(words[s:s+{_CH_SIZE}-1], 'string_agg', ' ')"
)


# ---- q64 'pack' branch: greedy next-fit sequence packing ------------

_PK_CAP = 256

# DuckDB mirror of operators.text.pack_documents: the packing walk is
# inherently sequential per shard, so the oracle re-derives it with a
# recursive CTE stepping one doc (per shard) per iteration — an
# independent formulation of the same next-fit rule
_PK_CTES = f"""
    pk_base AS (
        SELECT lang, doc_id, CAST(len({_W_NE}) AS BIGINT) AS n,
               ROW_NUMBER() OVER (PARTITION BY lang ORDER BY doc_id) AS rn
        FROM documents WHERE len({_W_NE}) > 0
    ),
    pk(lang, rn, doc_id, n, bin, filled) AS (
        SELECT lang, rn, doc_id, n, CAST(0 AS BIGINT), n
        FROM pk_base WHERE rn = 1
        UNION ALL
        SELECT b.lang, b.rn, b.doc_id, b.n,
               CASE WHEN p.filled > 0 AND p.filled + b.n > {_PK_CAP}
                    THEN p.bin + 1 ELSE p.bin END,
               CASE WHEN p.filled > 0 AND p.filled + b.n > {_PK_CAP}
                    THEN b.n ELSE p.filled + b.n END
        FROM pk p JOIN pk_base b ON b.lang = p.lang AND b.rn = p.rn + 1
    )
"""

# ---- q64 'seq' branch: to_sequences (stage-8 chunk-then-pack) --------

#: capacity for the composed chunk->piece-id->pack walk; the pieces
#: are <=cap by construction so the own-bin rule never fires and the
#: recursive next-fit CTE is the same one 'pack' pins
_SQ_CAP = 32

_SQ_ORD = (
    "CAST(ROUND(((CAST(concat('0x', substring(md5("
    "'epoch:0' || chr(31) || lang || chr(31) || CAST(bin AS VARCHAR)"
    "), 1, 15)) AS BIGINT)) / 1152921504606846976.0) * 1000000.0) "
    "AS BIGINT)"
)

_SQ_CTES = f"""
    sq_pieces AS (
        SELECT doc_id, lang, i - 1 AS chunk_id,
               LEAST({_SQ_CAP}, len(w) - s + 1) AS n
        FROM (
            SELECT doc_id, lang, {_W_NE} AS w,
                   unnest(generate_series(
                       1, greatest(len({_W_NE}), 1), {_SQ_CAP})) AS s,
                   generate_subscripts(generate_series(
                       1, greatest(len({_W_NE}), 1), {_SQ_CAP}), 1) AS i
            FROM documents
        )
        -- w IS NOT NULL matters: DuckDB's LEAST/greatest IGNORE
        -- NULLs, so a NULL-text doc would otherwise fabricate a
        -- {_SQ_CAP}-token phantom piece (LEAST(cap, NULL) = cap)
        -- where Spark's posexplode(NULL starts) emits nothing
        WHERE w IS NOT NULL AND LEAST({_SQ_CAP}, len(w) - s + 1) > 0
    ),
    sq_base AS (
        SELECT lang, doc_id, chunk_id, n,
               ROW_NUMBER() OVER (
                   PARTITION BY lang
                   ORDER BY doc_id * 1000000 + chunk_id) AS rn
        FROM sq_pieces
    ),
    sq(lang, rn, doc_id, chunk_id, n, bin, filled) AS (
        SELECT lang, rn, doc_id, chunk_id, n, CAST(0 AS BIGINT), n
        FROM sq_base WHERE rn = 1
        UNION ALL
        SELECT b.lang, b.rn, b.doc_id, b.chunk_id, b.n,
               CASE WHEN p.filled > 0 AND p.filled + b.n > {_SQ_CAP}
                    THEN p.bin + 1 ELSE p.bin END,
               CASE WHEN p.filled > 0 AND p.filled + b.n > {_SQ_CAP}
                    THEN b.n ELSE p.filled + b.n END
        FROM sq p JOIN sq_base b ON b.lang = p.lang AND b.rn = p.rn + 1
    )
"""


# ---- q64 'budget' branch: token-budget corpus mixing ------------------

#: budgets (in whitespace tokens) per source domain; unlisted sources
#: drop (default_rate 0) — src2's huge budget pins the rate-1 path
_BUDGETS = {"src0": 700.0, "src1": 350.0, "src2": 1000000.0}

_BUDGET_U = (
    "CAST(concat('0x', substring(md5(concat('budget:v1', chr(31), "
    "CAST(doc_id AS VARCHAR))), 1, 15)) AS BIGINT)"
    " / 1152921504606846976.0"
)

_BUDGET_RATE = (
    "CASE source "
    + " ".join(
        f"WHEN '{d}' THEN least(1.0, {b!r} / CAST(tot AS DOUBLE))"
        for d, b in sorted(_BUDGETS.items())
    )
    + " ELSE 0.0 END"
)

# ---- q64 'para' branch: corpus-level paragraph dedup ------------------

#: the boilerplate footer every manufactured page shares — the repeated
#: paragraph the dedup must strip everywhere but its first occurrence
_PARA_FOOTER = "follow the data feed for table updates"

#: each doc becomes a 4-paragraph page: own text, the shared footer, a
#: 40-char self-excerpt, the footer AGAIN (within-doc repeat). The
#: synthetic docs are single-line, so paragraph structure is
#: manufactured in-query (the q90/q70 pattern) with '¶' as sep.
_PARA_CTES = f"""
    para_parts AS (
        SELECT doc_id, i - 1 AS pos, p AS para,
               -- mirror the operator's min_chars contract: count
               -- NON-WHITESPACE chars, not trimmed length
               length(regexp_replace(p, '\\s', '', 'g')) >= 1 AS elig
        FROM (
            SELECT doc_id,
                   unnest(string_split(ptext, '¶')) AS p,
                   generate_subscripts(string_split(ptext, '¶'), 1) AS i
            FROM (
                SELECT doc_id,
                       text || '¶{_PARA_FOOTER}¶'
                            || substring(text, 1, 40)
                            || '¶{_PARA_FOOTER}' AS ptext
                FROM documents
            )
        )
    ),
    para_kept AS (
        -- keep-first = rank 1 by (doc_id, pos) per exact paragraph;
        -- short/whitespace paragraphs bypass (elig mirrors the
        -- operator's min_chars=1). An independent formulation: the
        -- operator computes winners as min(struct), not row_number
        SELECT doc_id, pos, para FROM (
            SELECT doc_id, pos, para,
                   CASE WHEN elig THEN ROW_NUMBER() OVER (
                       PARTITION BY para ORDER BY doc_id, pos)
                        ELSE 1 END AS rn
            FROM para_parts
        ) WHERE rn = 1
    ),
    para_out AS (
        SELECT doc_id,
               string_agg(para, '¶' ORDER BY pos) AS rebuilt,
               COUNT(*) AS n_kept
        FROM para_kept GROUP BY doc_id
    ),
    parad_kept AS (
        -- document scope: keep-first WITHIN each doc — the shared
        -- footer survives in every page, only the within-page repeat
        -- drops (RefinedWeb's intra-document line removal)
        SELECT doc_id, pos, para FROM (
            SELECT doc_id, pos, para,
                   CASE WHEN elig THEN ROW_NUMBER() OVER (
                       PARTITION BY doc_id, para ORDER BY pos)
                        ELSE 1 END AS rn
            FROM para_parts
        ) WHERE rn = 1
    ),
    parad_out AS (
        SELECT doc_id,
               string_agg(para, '¶' ORDER BY pos) AS rebuilt,
               COUNT(*) AS n_kept
        FROM parad_kept GROUP BY doc_id
    )
"""


# ---- q64 'clean' branch: the corpus PIPELINE composition --------------

#: mixture rates over the real source domains; unlisted sources drop
_CLEAN_RATES = {"src0": 1.0, "src1": 0.5, "src2": 0.25}
_CLEAN_MIN_TOK, _CLEAN_MAX_DUP = 30, 0.6

#: mirror of sampling.hash_uniform(doc_id, "mix:v1")
_CLEAN_U = (
    "CAST(concat('0x', substring(md5(concat('mix:v1', chr(31), "
    "CAST(doc_id AS VARCHAR))), 1, 15)) AS BIGINT)"
    " / 1152921504606846976.0"
)

_CLEAN_RATE = (
    "CASE source "
    + " ".join(
        f"WHEN '{d}' THEN {r!r}" for d, r in sorted(_CLEAN_RATES.items())
    )
    + " ELSE 0.0 END"
)

#: the manufactured corpus: every doc plus an exact CLONE at id+100000
#: whose PII span is keyed by the ORIGINAL id (id % 100000), so each
#: original/clone pair redacts to identical pages and the exact-dedup
#: stage provably fires (keep-first keeps the original). The span also
#: makes redaction observable (synthetic docs carry no PII).
_CLEAN_CTES = f"""
    clean_pages AS (
        SELECT doc_id, source, {_pii_src_sql("doc_id % 100000")} AS text
        FROM (
            SELECT doc_id, source, text FROM documents
            UNION ALL
            SELECT doc_id + 100000, source, text FROM documents
        )
    ),
    clean_filtered AS (
        SELECT doc_id, source,
               CAST(len({_W_NE}) AS BIGINT) AS n_tokens,
               {_redact_sql("text")} AS rtext
        FROM clean_pages
        WHERE len({_W_NE}) >= {_CLEAN_MIN_TOK}
          AND (CASE WHEN len({_W_NE}) > 0 THEN
                   1.0 - CAST(len(list_distinct({_W_NE})) AS DOUBLE)
                         / len({_W_NE})
               ELSE 0.0 END) <= {_CLEAN_MAX_DUP!r}
    ),
    clean_kept AS (
        -- exact keep-first on the NORMALIZED REDACTED text (the
        -- pipeline dedups after redaction, so pages differing only
        -- in PII collapse); min doc_id wins
        SELECT doc_id, source, n_tokens, rtext FROM (
            SELECT *, ROW_NUMBER() OVER (
                PARTITION BY md5(trim(regexp_replace(regexp_replace(
                    lower(rtext), '[^a-z0-9 ]', '', 'g'),
                    ' +', ' ', 'g')))
                ORDER BY doc_id) AS rn
            FROM clean_filtered
        ) WHERE rn = 1
    ),
    clean_out AS (
        SELECT doc_id, n_tokens, rtext
        FROM clean_kept
        WHERE {_CLEAN_U} < ({_CLEAN_RATE})
    )
"""


# ---- q64 'dclean' branch: DSIR selection as prepare_corpus stage 7b ---
# The SAME composition as 'clean' with cfg.dsir_k set: of the hygienic
# survivors (clean_out), keep the _DCLEAN_K most target-like via
# Gumbel top-k over hashed-n-gram importance weights against an
# English target slice. The operator chain is oracled in q71; this
# branch value-hashes the COMPOSED stage — the model's raw side is the
# stage-0-7 survivor set itself (redacted pages), so a drift anywhere
# in the composition flips the selection.
_DCLEAN_DIM, _DCLEAN_ALPHA, _DCLEAN_K = 2048, 1.0, 20
_DCLEAN_SEED = "dsir:v1"


def _dc_words(col: str) -> str:
    """normalize_text → tokens → drop '' (dsir_features contract)."""
    return (
        "list_filter(string_split(trim(regexp_replace(regexp_replace("
        f"lower({col}), '[^a-z0-9 ]', '', 'g'), ' +', ' ', 'g')), ' '), "
        "t -> t <> '')"
    )


_DC_FEATS = (
    "unnest(w || list_transform(range(1, greatest(len(w), 1)), "
    "i -> w[i] || ' ' || w[i+1]))"
)
_DC_BUCKET = (
    "CAST(concat('0x', substring(md5(feat), 1, 15)) AS BIGINT) "
    f"% {_DCLEAN_DIM}"
)
_DCLEAN_U = (
    "((CAST(concat('0x', substring(md5(concat("
    f"'{_DCLEAN_SEED}', chr(31), CAST(doc_id AS VARCHAR))), 1, 15)) "
    "AS BIGINT) + 1) / 1152921504606846976.0)"
)

_DCLEAN_CTES = f"""
    dcw AS (SELECT doc_id, {_dc_words('rtext')} AS w FROM clean_out),
    dcf AS (SELECT doc_id, {_DC_FEATS} AS feat FROM dcw),
    dcfb AS (SELECT doc_id, {_DC_BUCKET} AS bucket FROM dcf),
    dctw AS (SELECT doc_id, {_dc_words('text')} AS w
             FROM documents WHERE lang = 'en' AND doc_id % 5 = 0),
    dctf AS (SELECT doc_id, {_DC_FEATS} AS feat FROM dctw),
    dctb AS (SELECT doc_id, {_DC_BUCKET} AS bucket FROM dctf),
    dct_cnt AS (SELECT bucket, COUNT(*) AS ct FROM dctb GROUP BY 1),
    dcr_cnt AS (SELECT bucket, COUNT(*) AS cr FROM dcfb GROUP BY 1),
    dctot AS (
        SELECT (SELECT CAST(SUM(ct) AS DOUBLE) FROM dct_cnt) AS tt,
               (SELECT CAST(SUM(cr) AS DOUBLE) FROM dcr_cnt) AS tr
    ),
    dcmodel AS (
        SELECT r.range AS bucket,
               CAST(ln((CAST(COALESCE(t.ct, 0) AS DOUBLE)
                        + CAST({_DCLEAN_ALPHA!r} AS DOUBLE))
                       / (tt + CAST({_DCLEAN_ALPHA * _DCLEAN_DIM!r}
                               AS DOUBLE)))
                    AS DECIMAL(38,15))
               - CAST(ln((CAST(COALESCE(c.cr, 0) AS DOUBLE)
                          + CAST({_DCLEAN_ALPHA!r} AS DOUBLE))
                         / (tr + CAST({_DCLEAN_ALPHA * _DCLEAN_DIM!r}
                                 AS DOUBLE)))
                      AS DECIMAL(38,15)) AS lr
        FROM range(0, {_DCLEAN_DIM}) r
        LEFT JOIN dct_cnt t ON t.bucket = r.range
        LEFT JOIN dcr_cnt c ON c.bucket = r.range
        CROSS JOIN dctot
    ),
    dcwts AS (
        SELECT doc_id, CAST(SUM(lr) AS DECIMAL(38,15)) AS logw
        FROM dcfb JOIN dcmodel USING (bucket) GROUP BY doc_id
    ),
    dckeyed AS (
        SELECT doc_id,
               ROUND(ln(-ln({_DCLEAN_U})) - CAST(logw AS DOUBLE), 6)
                 AS gkey
        FROM dcwts
    ),
    dcsel AS (
        SELECT doc_id FROM dckeyed
        ORDER BY gkey NULLS LAST, doc_id LIMIT {_DCLEAN_K}
    ),
    dclean_out AS (
        SELECT c.doc_id, c.n_tokens, c.rtext
        FROM clean_out c JOIN dcsel s ON s.doc_id = c.doc_id
    )
"""


# ---- q64 'tmix' branch: temperature (α=0.5) domain mixing -------------

_TMIX_BUDGET = 1200.0

_TMIX_U = (
    "CAST(concat('0x', substring(md5(concat('tmix:v1', chr(31), "
    "CAST(doc_id AS VARCHAR))), 1, 15)) AS BIGINT)"
    " / 1152921504606846976.0"
)

#: α=0.5 ⇒ pow = sqrt, correctly rounded in every engine; the
#: denominator folds the per-domain sqrt masses in ASCENDING order on
#: both sides (list_sort here, array_sort in the operator) so the
#: float sum is bit-identical
_TMIX_CTES = f"""
    tmix_tot AS (
        SELECT source,
               CAST(SUM(CAST(len({_W_NE}) AS DECIMAL(25,6))) AS DOUBLE)
                 AS mass
        FROM documents GROUP BY source
    ),
    tmix_den AS (
        SELECT list_aggregate(list_sort(list(sqrt(mass))), 'sum') AS den
        FROM tmix_tot
    ),
    tmix_out AS (
        SELECT d.doc_id, d.source,
               CAST(len({_W_NE}) AS BIGINT) AS w,
               length(d.text) AS bl
        FROM documents d
        JOIN tmix_tot t USING (source) CROSS JOIN tmix_den
        WHERE t.mass > 0
          AND {_TMIX_U} < least(1.0,
              {_TMIX_BUDGET!r} * (sqrt(t.mass) / den) / t.mass)
    )
"""


# ---- q64 'c4' branch: C4 line-level cleaning --------------------------

#: the manufactured page: a punctuated excerpt line, a javascript
#: boilerplate line (phrase-dropped), a tiny line (<5 words), an
#: unpunctuated excerpt (terminal-punct-dropped), and a keeper line;
#: docs at %13==0 get a curly brace (page-level drop), %17==5 get
#: 'lorem ipsum' (ditto)
_C4_PAGE = (
    "substring(text, 1, 60) || ' end of excerpt line.' || chr(10)"
    " || 'please enable javascript to view this page.' || chr(10)"
    " || 'tiny line.' || chr(10)"
    " || substring(text, 61, 40) || chr(10)"
    " || 'the final line has five words total.'"
    " || CASE WHEN doc_id % 13 = 0 THEN ' {' ELSE '' END"
    " || CASE WHEN doc_id % 17 = 5 THEN chr(10) || 'lorem ipsum text.'"
    " ELSE '' END"
)

_C4_KEEP = (
    "l -> regexp_matches(l, '[.!?\"]$')"
    " AND len(list_filter(string_split(l, ' '), w -> w <> '')) >= 5"
    " AND NOT contains(lower(l), 'javascript')"
    " AND NOT contains(lower(l), 'cookie policy')"
    " AND NOT contains(lower(l), 'privacy policy')"
    " AND NOT contains(lower(l), 'terms of use')"
    " AND NOT contains(lower(l), 'uses cookies')"
)

_C4_CTES = f"""
    c4_pages AS (SELECT doc_id, {_C4_PAGE} AS ptext FROM documents),
    c4_kept AS (
        SELECT doc_id,
               list_filter(string_split(ptext, chr(10)), {_C4_KEEP})
                 AS kept
        FROM c4_pages
        WHERE NOT contains(ptext, '{{')
          AND NOT contains(lower(ptext), 'lorem ipsum')
    ),
    c4_out AS (
        SELECT doc_id,
               list_aggregate(kept, 'string_agg', chr(10)) AS cleaned,
               len(kept) AS n_kept
        FROM c4_kept WHERE len(kept) >= 2
    )
"""


# ---- q64 'bpe' branches: fixed merge list + encode -------------------

#: the fixed training corpus (literals — sf-independent, like q90's
#: parity world) and the merge sequence bpe_train learns from it,
#: pinned here. The 'bpe_train' branch re-trains at query time and
#: emits the LEARNED merges against a VALUES oracle of these literals,
#: so any drift in the trainer flips the driver row red; the 'bpe'
#: encode branch then applies this same list to the documents table.
_BPE_CORPUS = [
    (0, "the data table holds the data"),
    (1, "spark scans the data table fast"),
    (2, "the table scan reads data"),
    (3, "fast data scan in the table"),
]


def _lit_df(spark, rows, schema):
    """Bounded-partition literal frame for the tokenizer trainers'
    driver-probe corpora — see `sources.io.literal_df` (measured
    round 14: 0.1-0.3 s saved per trainer call, all four families)."""
    from ..sources.io import literal_df

    return literal_df(spark, rows, schema)
_BPE_MERGES = [
    ("e", "</w>"), ("t", "a"), ("a", "ta"), ("ata", "</w>"),
    ("d", "ata</w>"), ("h", "e</w>"), ("t", "he</w>"), ("b", "l"),
    ("bl", "e</w>"), ("ta", "ble</w>"),
]

#: byte-level encode fixture: contractions, doubled/trailing spaces,
#: multi-byte UTF-8 — the edges that distinguish the GPT-2 class
_BBPE_FIXTURE = [
    (0, "the data scan"),
    (1, "it's fast,  really fast!"),
    (2, "naïve café 🎉 "),
]

#: the byte-level branches' pinned rows: the merge sequence
#: byte_bpe_train learns from _BPE_CORPUS and the exact (position,
#: token) stream byte_bpe_encode emits for _BBPE_FIXTURE — both
#: re-derived at query time, so trainer/encoder drift flips red
_BBPE_PINNED = [
    ('bbpe', 0, 0, 3, 'the'),
    ('bbpe', 0, 1, 5, 'Ġdata'),
    ('bbpe', 0, 2, 1, 'Ġ'),
    ('bbpe', 0, 3, 1, 's'),
    ('bbpe', 0, 4, 3, 'can'),
    ('bbpe', 1, 0, 1, 'i'),
    ('bbpe', 1, 1, 1, 't'),
    ('bbpe', 1, 2, 1, "'"),
    ('bbpe', 1, 3, 1, 's'),
    ('bbpe', 1, 4, 1, 'Ġ'),
    ('bbpe', 1, 5, 1, 'f'),
    ('bbpe', 1, 6, 1, 'a'),
    ('bbpe', 1, 7, 1, 's'),
    ('bbpe', 1, 8, 1, 't'),
    ('bbpe', 1, 9, 1, ','),
    ('bbpe', 1, 10, 1, 'Ġ'),
    ('bbpe', 1, 11, 1, 'Ġ'),
    ('bbpe', 1, 12, 1, 'r'),
    ('bbpe', 1, 13, 1, 'e'),
    ('bbpe', 1, 14, 1, 'a'),
    ('bbpe', 1, 15, 1, 'l'),
    ('bbpe', 1, 16, 1, 'l'),
    ('bbpe', 1, 17, 1, 'y'),
    ('bbpe', 1, 18, 1, 'Ġ'),
    ('bbpe', 1, 19, 1, 'f'),
    ('bbpe', 1, 20, 1, 'a'),
    ('bbpe', 1, 21, 1, 's'),
    ('bbpe', 1, 22, 1, 't'),
    ('bbpe', 1, 23, 1, '!'),
    ('bbpe', 2, 0, 1, 'n'),
    ('bbpe', 2, 1, 1, 'a'),
    ('bbpe', 2, 2, 1, 'Ã'),
    ('bbpe', 2, 3, 1, '¯'),
    ('bbpe', 2, 4, 1, 'v'),
    ('bbpe', 2, 5, 1, 'e'),
    ('bbpe', 2, 6, 1, 'Ġ'),
    ('bbpe', 2, 7, 1, 'c'),
    ('bbpe', 2, 8, 1, 'a'),
    ('bbpe', 2, 9, 1, 'f'),
    ('bbpe', 2, 10, 1, 'Ã'),
    ('bbpe', 2, 11, 1, '©'),
    ('bbpe', 2, 12, 1, 'Ġ'),
    ('bbpe', 2, 13, 1, 'ð'),
    ('bbpe', 2, 14, 1, 'Ł'),
    ('bbpe', 2, 15, 1, 'İ'),
    ('bbpe', 2, 16, 1, 'ī'),
    ('bbpe', 2, 17, 1, 'Ġ'),
    ('bbpe_train', 0, 0, 2, 't a'),
    ('bbpe_train', 1, 0, 3, 'a ta'),
    ('bbpe_train', 2, 0, 4, 'd ata'),
    ('bbpe_train', 3, 0, 2, 'h e'),
    ('bbpe_train', 4, 0, 3, 't he'),
    ('bbpe_train', 5, 0, 5, 'Ġ data'),
    ('bbpe_train', 6, 0, 2, 'b l'),
    ('bbpe_train', 7, 0, 3, 'bl e'),
    ('bbpe_train', 8, 0, 5, 'ta ble'),
    ('bbpe_train', 9, 0, 6, 'Ġ table'),
    ('bbpe_train', 10, 0, 2, 'a n'),
    ('bbpe_train', 11, 0, 3, 'c an'),
]
_BBPE_VALUES = ", ".join(
    f"('{k}', CAST({d} AS BIGINT), CAST({p} AS BIGINT), "
    f"CAST({b} AS BIGINT), '" + t.replace("'", "''") + "')"
    for k, d, p, b, t in _BBPE_PINNED
)

_BPE_TRAIN_VALUES = ", ".join(
    f"('bpe_train', CAST({i} AS BIGINT), CAST(0 AS BIGINT), "
    f"CAST({len(a) + len(b)} AS BIGINT), '{a} {b}')"
    for i, (a, b) in enumerate(_BPE_MERGES)
)


def _bpe_word_sql(var: str) -> str:
    """Greedy BPE encode of one word as pure string rewriting: wrap
    every char in ‹› markers (plus the ‹</w>› terminal), then apply
    each merge as a left-to-right non-overlapping replace of ‹a›‹b› →
    ‹ab› — exactly the fold semantics of operators.bpe._merge_pair
    (each symbol carries its own markers, so a merged token can't be
    re-consumed within the same pass and symbol boundaries can't be
    confused). Result: tokens separated by single spaces."""
    s = (
        f"list_aggregate(list_transform(string_split({var}, ''), "
        f"c -> '‹' || c || '›'), 'string_agg', '')"
        f" || '‹</w>›'"
    )
    for a, b in _BPE_MERGES:
        s = (
            f"replace({s}, '‹{a}›‹{b}›', "
            f"'‹{a}{b}›')"
        )
    return f"replace(trim({s}, '‹›'), '›‹', ' ')"


# ---- q64 'wp' branches: WordPiece vocab + greedy encode --------------

#: the WordPiece vocabulary wordpiece_train learns from _BPE_CORPUS
#: with n_merges=10 (sorted initial alphabet, then likelihood-scored
#: merge products in learn order — rare words fuse first, the
#: WordPiece signature: 'holds' is fully merged before any stem of
#: the frequent 'the'/'data'). The 'wp_train' branch re-trains at
#: query time and emits the LEARNED vocab against a VALUES oracle of
#: these literals; the 'wp' branch greedy-encodes the documents table
#: with this pinned list (letters outside the literal-corpus alphabet
#: exercise the whole-word [UNK] rule on real data).
_WP_VOCAB = [
    "##a", "##b", "##c", "##d", "##e", "##h", "##k", "##l", "##n",
    "##o", "##p", "##r", "##s", "##t", "d", "f", "h", "i", "r", "s",
    "t", "##rk", "ho", "in", "sc", "sp", "##bl", "hol", "hold",
    "##ds", "holds",
]

_WP_TRAIN_VALUES = ", ".join(
    f"('wp_train', CAST({i} AS BIGINT), CAST(0 AS BIGINT), "
    f"CAST({len(p)} AS BIGINT), '{p}')"
    for i, p in enumerate(_WP_VOCAB)
)

_WP_VOCAB_VALUES = ", ".join(f"('{p}')" for p in _WP_VOCAB)

#: greedy longest-match-first WordPiece encode, re-derived relationally:
#: best piece per (word, position) via a vocab join + length-desc
#: ROW_NUMBER, then the greedy walk as a recursive CTE over the
#: DISTINCT-WORD table (the same word-bounded shape the Spark encoder
#: uses), then per-doc reassembly in word order. A position with no
#: matching piece turns the whole word into '[UNK]' — the BERT rule.
_WP_CTES = f"""
    wpv AS (
        SELECT piece,
               CASE WHEN piece LIKE '##%' THEN substr(piece, 3)
                    ELSE piece END AS raw,
               piece LIKE '##%' AS is_cont
        FROM (VALUES {_WP_VOCAB_VALUES}) v(piece)
    ),
    wpw AS (
        SELECT DISTINCT w AS word FROM (
            SELECT unnest({_W_NE}) AS w FROM documents
        )
    ),
    wpbest AS (
        SELECT word, pos, piece, plen FROM (
            SELECT p.word, p.pos, v.piece, len(v.raw) AS plen,
                   ROW_NUMBER() OVER (PARTITION BY p.word, p.pos
                       ORDER BY len(v.raw) DESC, v.piece ASC) AS rn
            FROM (SELECT word, unnest(range(0, len(word))) AS pos
                  FROM wpw) p
            JOIN wpv v
              ON ((p.pos = 0) = (NOT v.is_cont))
             AND p.pos + len(v.raw) <= len(p.word)
             AND substr(p.word, p.pos + 1, len(v.raw)) = v.raw
        ) WHERE rn = 1
    ),
    wpwalk AS (
        SELECT word, 0 AS pos, CAST([] AS VARCHAR[]) AS ps,
               false AS unk
        FROM wpw
        UNION ALL
        SELECT w.word,
               CASE WHEN b.word IS NULL THEN len(w.word)
                    ELSE w.pos + b.plen END AS pos,
               CASE WHEN b.word IS NULL THEN ['[UNK]']
                    ELSE list_append(w.ps, b.piece) END AS ps,
               b.word IS NULL AS unk
        FROM wpwalk w LEFT JOIN wpbest b
          ON b.word = w.word AND b.pos = w.pos
        WHERE w.pos < len(w.word) AND NOT w.unk
    ),
    wpmap AS (SELECT word, ps FROM wpwalk WHERE pos >= len(word)),
    wpdoc AS (
        SELECT doc_id,
               string_agg(list_aggregate(m.ps, 'string_agg', ' '),
                          ' ' ORDER BY w.i) AS joined
        FROM (SELECT doc_id, unnest({_W_NE}) AS word,
                     generate_subscripts({_W_NE}, 1) AS i
              FROM documents) w
        JOIN wpmap m USING (word)
        GROUP BY doc_id
    ),
    wpout AS (
        SELECT d.doc_id,
               CASE WHEN d.text IS NULL THEN NULL
                    ELSE COALESCE(j.joined, '') END AS joined
        FROM documents d LEFT JOIN wpdoc j USING (doc_id)
    )
"""


# ---- q64 'uni' branches: Unigram LM vocab + Viterbi encode -----------

#: the (piece, micro-int log-prob) table unigram_train fits on
#: _BPE_CORPUS (target 12 + char floor, max_piece_len 6, 2 hard-EM
#: iters). The mass table lands on clean fractions (the=data=1/8,
#: table=1/10, scan=3/40, chars 1/40-2/40), so the JVM-ln micro-int
#: quantization sits far from every round() boundary. 'uni_train'
#: re-trains at query time against these literals (trainer drift flips
#: the row red); 'uni' Viterbi-encodes the documents table with them.
_UNI_VOCAB = [
    ("a", -2995732), ("b", -3688879), ("c", -3688879), ("d", -3688879),
    ("data", -2079442), ("ds", -2995732), ("e", -3688879),
    ("f", -3688879), ("fast", -2995732), ("h", -3688879),
    ("i", -3688879), ("k", -3688879), ("l", -3688879), ("n", -3688879),
    ("o", -3688879), ("p", -3688879), ("r", -2995732), ("s", -2995732),
    ("scan", -2590267), ("t", -3688879), ("table", -2302585),
    ("the", -2079442),
]

_UNI_TRAIN_VALUES = ", ".join(
    f"('uni_train', CAST({i} AS BIGINT), CAST({li} AS BIGINT), "
    f"CAST({len(p)} AS BIGINT), '{p}')"
    for i, (p, li) in enumerate(_UNI_VOCAB)
)

_UNI_VOCAB_VALUES = ", ".join(
    f"('{p}', CAST({li} AS BIGINT))" for p, li in _UNI_VOCAB
)

#: Viterbi re-derived by PATH ENUMERATION: a recursive CTE walks every
#: segmentation of every distinct word (bounded: words are ≤8 chars,
#: so ≤2^7 compositions) carrying the exact int score sum, then
#: ROW_NUMBER(score DESC, path ASC) picks the same max-score /
#: lexicographically-smallest path the Spark DP fold's
#: struct(−score, path) array_min selects (prefix-local tie-breaks
#: compose globally: a path is never a string-prefix of a
#: same-position rival). Unsegmentable words fall to '[UNK]'.
_UNI_CTES = f"""
    uv AS (SELECT * FROM (VALUES {_UNI_VOCAB_VALUES}) v(piece, li)),
    uw AS (
        SELECT DISTINCT w AS word FROM (
            SELECT unnest({_W_NE}) AS w FROM documents
        )
    ),
    upaths AS (
        SELECT word, 0 AS pos, CAST(0 AS BIGINT) AS score, '' AS path
        FROM uw
        UNION ALL
        SELECT p.word, p.pos + len(v.piece), p.score + v.li,
               CASE WHEN p.path = '' THEN v.piece
                    ELSE p.path || ' ' || v.piece END
        FROM upaths p JOIN uv v
          ON p.pos + len(v.piece) <= len(p.word)
         AND substr(p.word, p.pos + 1, len(v.piece)) = v.piece
        WHERE p.pos < len(p.word)
    ),
    ubest AS (
        SELECT word, path FROM (
            SELECT word, path, ROW_NUMBER() OVER (PARTITION BY word
                ORDER BY score DESC, path ASC) AS rn
            FROM upaths WHERE pos = len(word)
        ) WHERE rn = 1
    ),
    umap AS (
        SELECT w.word, COALESCE(b.path, '[UNK]') AS joinedw
        FROM uw w LEFT JOIN ubest b USING (word)
    ),
    udoc AS (
        SELECT doc_id, string_agg(m.joinedw, ' ' ORDER BY w.i) AS joined
        FROM (SELECT doc_id, unnest({_W_NE}) AS word,
                     generate_subscripts({_W_NE}, 1) AS i
              FROM documents) w
        JOIN umap m USING (word)
        GROUP BY doc_id
    ),
    uout AS (
        SELECT d.doc_id,
               CASE WHEN d.text IS NULL THEN NULL
                    ELSE COALESCE(j.joined, '') END AS joined
        FROM documents d LEFT JOIN udoc j USING (doc_id)
    )
"""


#: per-doc BPE token stream joined by spaces ('' for an empty doc,
#: NULL for a NULL doc — mirroring Spark's array_join/flatten nulls)
_BPE_JOINED = (
    f"CASE WHEN text IS NULL THEN NULL ELSE COALESCE("
    f"list_aggregate(list_transform({_W_NE}, w -> {_bpe_word_sql('w')}), "
    f"'string_agg', ' '), '') END"
)


@query(
    "q64_binary_plumbing",
    oracle=f"""
    WITH RECURSIVE {_PK_CTES},
    {_SQ_CTES},
    {_PARA_CTES},
    {_CLEAN_CTES},
    {_DCLEAN_CTES},
    {_C4_CTES},
    {_TMIX_CTES},
    {_WP_CTES},
    {_UNI_CTES},
    bpe AS (SELECT doc_id, {_BPE_JOINED} AS joined FROM documents)
    SELECT 'doc' AS kind, doc_id, CAST(0 AS BIGINT) AS part_id,
           octet_length(CAST(text AS BLOB)) AS byte_len,
           md5(text) AS content_md5
    FROM documents
    UNION ALL
    SELECT 'chunk' AS kind, doc_id,
           CAST(i - 1 AS BIGINT) AS part_id,
           octet_length(CAST({_CH_TEXT} AS BLOB)) AS byte_len,
           md5({_CH_TEXT}) AS content_md5
    FROM (
        SELECT doc_id, {_W_NE} AS words, unnest({_CH_STARTS}) AS s,
               generate_subscripts({_CH_STARTS}, 1) AS i
        FROM documents
        -- mirror chunk_documents' n_tokens > 0 phantom-chunk filter:
        -- an empty/whitespace/NULL doc must emit no chunk rows
        WHERE len({_W_NE}) > 0
    )
    UNION ALL
    SELECT 'pack' AS kind, doc_id, bin AS part_id, n AS byte_len,
           lang AS content_md5
    FROM pk
    UNION ALL
    SELECT 'seq' AS kind, doc_id, chunk_id AS part_id, bin AS byte_len,
           lang || ':' || CAST(n AS VARCHAR) || ':'
                || CAST({_SQ_ORD} AS VARCHAR) AS content_md5
    FROM sq
    UNION ALL
    SELECT 'bpe' AS kind, doc_id,
           CAST(CASE WHEN joined IS NULL THEN NULL
                WHEN joined = '' THEN 0
                ELSE len(string_split(joined, ' ')) END AS BIGINT)
             AS part_id,
           octet_length(CAST(joined AS BLOB)) AS byte_len,
           md5(joined) AS content_md5
    FROM bpe
    UNION ALL
    SELECT * FROM (VALUES {_BPE_TRAIN_VALUES})
    UNION ALL
    SELECT * FROM (VALUES {_BBPE_VALUES})
        t(kind, doc_id, part_id, byte_len, content_md5)
    UNION ALL
    -- bpe_prod: 'bpe' and 'bpe_prod' rows come from one encode, so
    -- bpe_prod shares the bpe CTE
    SELECT 'bpe_prod' AS kind, doc_id,
           CAST(CASE WHEN joined IS NULL THEN NULL
                WHEN joined = '' THEN 0
                ELSE len(string_split(joined, ' ')) END AS BIGINT)
             AS part_id,
           octet_length(CAST(joined AS BLOB)) AS byte_len,
           md5(joined) AS content_md5
    FROM bpe
    UNION ALL
    SELECT 'bbpe_prod' AS kind, doc_id, part_id, byte_len, content_md5
    FROM (VALUES {_BBPE_VALUES})
        tprod(kind, doc_id, part_id, byte_len, content_md5)
    WHERE kind = 'bbpe'
    UNION ALL
    SELECT 'wp' AS kind, doc_id,
           CAST(CASE WHEN joined IS NULL THEN NULL
                WHEN joined = '' THEN 0
                ELSE len(string_split(joined, ' ')) END AS BIGINT)
             AS part_id,
           octet_length(CAST(joined AS BLOB)) AS byte_len,
           md5(joined) AS content_md5
    FROM wpout
    UNION ALL
    SELECT * FROM (VALUES {_WP_TRAIN_VALUES})
        t2(kind, doc_id, part_id, byte_len, content_md5)
    UNION ALL
    SELECT 'uni' AS kind, doc_id,
           CAST(CASE WHEN joined IS NULL THEN NULL
                WHEN joined = '' THEN 0
                ELSE len(string_split(joined, ' ')) END AS BIGINT)
             AS part_id,
           octet_length(CAST(joined AS BLOB)) AS byte_len,
           md5(joined) AS content_md5
    FROM uout
    UNION ALL
    SELECT * FROM (VALUES {_UNI_TRAIN_VALUES})
        t3(kind, doc_id, part_id, byte_len, content_md5)
    UNION ALL
    SELECT 'clean' AS kind, doc_id, n_tokens AS part_id,
           octet_length(encode(rtext)) AS byte_len,
           md5(rtext) AS content_md5
    FROM clean_out
    UNION ALL
    SELECT 'dclean' AS kind, doc_id, n_tokens AS part_id,
           octet_length(encode(rtext)) AS byte_len,
           md5(rtext) AS content_md5
    FROM dclean_out
    UNION ALL
    SELECT 'para' AS kind, doc_id, n_kept AS part_id,
           -- encode(), not CAST AS BLOB: the page text contains the
           -- non-ASCII '¶' sep, which the cast rejects
           octet_length(encode(rebuilt)) AS byte_len,
           md5(rebuilt) AS content_md5
    FROM para_out
    UNION ALL
    SELECT 'parad' AS kind, doc_id, n_kept AS part_id,
           octet_length(encode(rebuilt)) AS byte_len,
           md5(rebuilt) AS content_md5
    FROM parad_out
    UNION ALL
    SELECT 'tmix' AS kind, doc_id, w AS part_id, bl AS byte_len,
           source AS content_md5
    FROM tmix_out
    UNION ALL
    SELECT 'c4' AS kind, doc_id, n_kept AS part_id,
           octet_length(encode(cleaned)) AS byte_len,
           md5(cleaned) AS content_md5
    FROM c4_out
    UNION ALL
    SELECT 'budget' AS kind, doc_id,
           CAST(len({_W_NE}) AS BIGINT) AS part_id,
           length(text) AS byte_len, source AS content_md5
    FROM (
        SELECT doc_id, text, source,
               SUM(len({_W_NE})) OVER (PARTITION BY source) AS tot
        FROM documents
    )
    WHERE {_BUDGET_U} < ({_BUDGET_RATE})
    """,
)
def q64_binary_plumbing(spark, sf_dir):
    """Multimodal plumbing smoke: treat payloads as opaque binary with
    typed metadata (byte length, content hash) — the schema pattern the
    multimodal layer (operators/multimodal.py) builds on.

    Round-6 widening: a 'chunk' branch drives `text.chunk_documents`
    (24-token windows, 6-token overlap) through the same (byte_len,
    md5) digest — the md5 of every chunk's text hash-verifies the
    window boundaries, overlap, and remainder handling against a
    DuckDB list-slicing re-derivation.

    Round-8 widenings:
    - 'pack': `text.pack_documents` next-fit bin assignments (capacity
      256 tokens, sharded by lang — bins never cross shards, shards
      pack in parallel); the oracle walks the same greedy rule with a
      recursive CTE. Row = (doc, bin, n_tokens, lang).
    - 'bpe_train': `bpe.bpe_train` re-learns the pinned merge sequence
      from the fixed literal corpus at query time; the VALUES oracle is
      the pinned list, so trainer drift flips the row red.
    - 'bpe' / 'bpe_prod': `bpe.bpe_encode` tokenizes every document
      with the pinned merges; the oracle re-derives greedy encoding as
      marker-wrapped string rewriting. Row = (doc, n_tokens, joined
      byte length, md5 of the space-joined token stream). Both kinds
      come from ONE encode (as do 'bbpe' / 'bbpe_prod')."""
    frames = _q64_branch_frames(spark, sf_dir)
    out = None
    for f in frames.values():
        out = f if out is None else out.unionByName(f)
    return out


def _q64_clean_dclean(spark, d):
    """The 'clean'/'dclean' pair: ONE shared prepare_corpus walk (the
    round-12 sharing win), both digests pinned eagerly inside the
    BoundaryCaches scope. Split out of `_q64_branch_frames` in round
    15 so the walk's eager jobs can overlap the tokenizer trainers
    and the lazy branches' plan construction (guide §2.6) instead of
    serializing after them."""
    from ..pipelines.corpus import CorpusConfig, prepare_corpus

    from ..sources.io import spread

    base = d.select("doc_id", "text", "source")
    # the walk is a SERIAL construction-time chain (its digests pin
    # eagerly), and the profile/redact stage is per-row regex+lambda
    # compute evaluated in the scan stage — two tasks for the whole
    # 2×corpus union on the single-row-group fixture. Widen it
    # (round 15, guide §2.5; no-op on inputs already ≥ cores wide).
    pages = spread(
        base.unionByName(
            base.select(
                (F.col("doc_id") + 100000).alias("doc_id"),
                "text",
                "source",
            )
        )
    ).select(
        "doc_id",
        "source",
        _pii_source(F.col("doc_id") % 100000, F.col("text")).alias(
            "text"
        ),
    )
    clb = F.col("text").cast("binary")
    with BoundaryCaches() as dc_bc:
        _dc_expose: dict = {}
        dcleaned = prepare_corpus(
            pages,
            cfg=CorpusConfig(
                min_tokens=_CLEAN_MIN_TOK,
                max_dup_word_frac=_CLEAN_MAX_DUP,
                max_top_bigram_frac=1.0,
                near_dup=False,
                mixture=_CLEAN_RATES,
                dsir_k=_DCLEAN_K,
                dsir_dim=_DCLEAN_DIM,
                dsir_alpha=_DCLEAN_ALPHA,
                dsir_seed=_DCLEAN_SEED,
            ),
            # a curated target is naturally much smaller than the
            # corpus; a 1-in-5 English slice keeps the target
            # featurization (one md5 per word+bigram) off the
            # critical path
            dsir_target=d.filter(
                (F.col("lang") == "en") & (F.col("doc_id") % 5 == 0)
            ).select("doc_id", "text"),
            caches=dc_bc,
            expose=_dc_expose,
        )
        dclean = cut(
            dcleaned.select(
                F.lit("dclean").alias("kind"),
                "doc_id",
                F.col("n_tokens").cast("bigint").alias("part_id"),
                F.length(clb).cast("bigint").alias("byte_len"),
                F.md5(clb).alias("content_md5"),
            )
        )
        clean = cut(
            _dc_expose["pre_dsir"].select(
                F.lit("clean").alias("kind"),
                "doc_id",
                F.col("n_tokens").cast("bigint").alias("part_id"),
                F.length(clb).cast("bigint").alias("byte_len"),
                F.md5(clb).alias("content_md5"),
            )
        )
    return clean, dclean


def _q64_branch_frames(spark, sf_dir) -> dict:
    """Every q64 branch as its own DataFrame, keyed by kind, in the
    exact union order of `q64_binary_plumbing` (dict order IS the
    plan order; the 'bpe' and 'bbpe' frames also emit their '_prod'
    kind). Each frame carries its `kind` literal, so
    `scripts/query_profile.py` times every leg in isolation by
    filtering on it — the r11 driver bench grew q64 +52% with no way
    to see which leg paid, and the query has become where cost hides
    (VERDICT r11)."""
    from concurrent.futures import ThreadPoolExecutor

    from pyspark import inheritable_thread_target

    from ..operators.bpe import (
        bpe_train,
        byte_bpe_train,
        unigram_train,
        wordpiece_train,
    )

    d = load_table(spark, sf_dir, "documents")
    # round 15 (guide §2.6): the four tokenizer trainers are driver
    # probe loops and the shared clean/dclean corpus walk pins its
    # digests eagerly — ~8.5 s of independent construction-time jobs
    # that ran strictly serially. Overlap them in driver threads while
    # the main thread keeps building the lazy branches' plans; results
    # are gathered where each branch needs them, so the emitted frames
    # (and the driver oracle) are unchanged.
    pool = ThreadPoolExecutor(max_workers=5)

    def submit(fn, *args, **kwargs):
        # each task runs with its own copy of the caller's job group
        # and labels, taken here (`concurrency` module docstring)
        return pool.submit(
            inheritable_thread_target(spark)(fn), *args, **kwargs
        )

    try:
        lit_corpus = _lit_df(spark, _BPE_CORPUS, "doc_id long, text string")
        f_trained = submit(bpe_train, lit_corpus, "text", len(_BPE_MERGES))
        f_wp = submit(wordpiece_train, lit_corpus, "text", n_merges=10)
        f_uni = submit(
            unigram_train,
            lit_corpus,
            "text",
            target_vocab=12,
            max_piece_len=6,
            n_em_iters=2,
        )
        f_bbpe = submit(byte_bpe_train, lit_corpus, "text", 12)
        f_cd = submit(_q64_clean_dclean, spark, d)
        return _q64_branch_frames_rest(
            spark, sf_dir, d, f_trained, f_wp, f_uni, f_bbpe, f_cd
        )
    finally:
        pool.shutdown()


def _with_both_kinds(spark, df, kind: str):
    """`df` with each row emitted once under `kind` and once under
    `kind`_prod: a cross join with a 2-row inline table, so a filter on
    `kind` folds that table — and with it all of `df` — away at plan
    time (a generator column would be evaluated before the filter)."""
    kinds = spark.sql(
        f"SELECT * FROM VALUES ('{kind}'), ('{kind}_prod') AS t(kind)"
    )
    return df.crossJoin(kinds)


def _q64_branch_frames_rest(
    spark, sf_dir, d, f_trained, f_wp, f_uni, f_bbpe, f_cd
) -> dict:
    """Continuation of `_q64_branch_frames` with the five eager
    builders in flight: lazy branches are planned first (overlapping
    the futures' jobs), trainer-dependent frames gather their future
    where needed."""
    from ..operators.bpe import bpe_encode
    from ..operators.text import chunk_documents, pack_documents

    b = F.col("text").cast("binary")
    doc = d.select(
        F.lit("doc").alias("kind"),
        "doc_id",
        F.lit(0).cast("bigint").alias("part_id"),
        F.length(b).cast("bigint").alias("byte_len"),
        F.md5(b).alias("content_md5"),
    )
    ch = chunk_documents(d, "text", "doc_id", _CH_SIZE, _CH_OVER)
    cb = F.col("chunk_text").cast("binary")
    chunk = ch.select(
        F.lit("chunk").alias("kind"),
        "doc_id",
        F.col("chunk_id").cast("bigint").alias("part_id"),
        F.length(cb).cast("bigint").alias("byte_len"),
        F.md5(cb).alias("content_md5"),
    )
    nonempty = F.size(
        F.filter(tokens(F.col("text")), lambda x: x != F.lit(""))
    )
    packed = pack_documents(
        d.filter(nonempty > 0), "text", "doc_id", _PK_CAP, shard_col="lang"
    )
    pack = packed.select(
        F.lit("pack").alias("kind"),
        "doc_id",
        F.col("bin").cast("bigint").alias("part_id"),
        F.col("n_tokens").cast("bigint").alias("byte_len"),
        F.col("lang").alias("content_md5"),
    )
    # 'seq' (round 10): the stage-8 COMPOSITION `to_sequences` with
    # chunk_long=True — every doc splits into ≤_SQ_CAP-token windows,
    # windows pack per-shard next-fit through the doc·1e6+chunk piece
    # id, and each bin gets its deterministic epoch-order key. The
    # oracle re-derives chunk geometry, the piece-id walk (a recursive
    # CTE — the 'pack' formulation), and the bin_order hash; every
    # packed piece's (shard, tokens, bin, round(order·1e6)) is
    # value-hashed, so the chunk→piece-id→pack→order plumbing itself
    # is driver-verified, not just its component operators.
    from ..pipelines.corpus import to_sequences

    seq_out = to_sequences(
        d.select("doc_id", "text", "lang"),
        capacity=_SQ_CAP,
        shard_col="lang",
        chunk_long=True,
    )
    seq = seq_out.select(
        F.lit("seq").alias("kind"),
        "doc_id",
        F.col("chunk_id").cast("bigint").alias("part_id"),
        F.col("bin").cast("bigint").alias("byte_len"),
        F.concat_ws(
            ":",
            F.col("lang"),
            F.col("n_tokens").cast("string"),
            F.round(F.col("bin_order") * F.lit(1000000.0))
            .cast("bigint")
            .cast("string"),
        ).alias("content_md5"),
    )
    trained = f_trained.result()
    train_rows = _lit_df(spark,
        [
            ("bpe_train", i, 0, len(a) + len(b), f"{a} {b}")
            for i, (a, b) in enumerate(trained)
        ],
        "kind string, doc_id long, part_id long, byte_len long, "
        "content_md5 string",
    )
    # 'wp_train' / 'wp' (round 10, late): the WordPiece leg of the
    # tokenizer family — likelihood-scored training re-learns the
    # pinned _WP_VOCAB from the same literal corpus (drift flips the
    # VALUES row red); greedy longest-match encode runs the fold on
    # the DISTINCT-WORD table only and joins the word→pieces mapping
    # back (the corpus never pays an interpreted fold), with
    # whole-word [UNK] for out-of-alphabet words.
    wp_learned = f_wp.result()
    wp_train_rows = _lit_df(spark,
        [("wp_train", i, 0, len(p), p) for i, p in enumerate(wp_learned)],
        "kind string, doc_id long, part_id long, byte_len long, "
        "content_md5 string",
    )
    # 'uni_train' / 'uni' (round 10, late): the Unigram LM leg — the
    # tokenizer trio's top-down member. Hard-EM training re-fits the
    # pinned (piece, micro-int log-prob) table from the same literal
    # corpus; encode is VITERBI (max Σ li, ties to the smallest path)
    # over the distinct-word table, [UNK] for unsegmentable words.
    # Both per-word tokenizers encode through ONE shared corpus pass
    # (`encode_tokenizers` — the duplicated reassembly measured
    # ~2.5 s each at sf0.1).
    from ..operators.bpe import (
        _viterbi_pieces,
        _wp_word_pieces,
        encode_tokenizers,
    )

    uni_learned = f_uni.result()
    uni_train_rows = _lit_df(spark,
        [
            ("uni_train", i, li, len(p), p)
            for i, (p, li) in enumerate(uni_learned)
        ],
        "kind string, doc_id long, part_id long, byte_len long, "
        "content_md5 string",
    )
    # 'bbpe_train' / 'bbpe' (round 11): the BYTE-LEVEL leg of the
    # tokenizer family — the GPT-2/Llama production class
    # (`operators.bpe.byte_bpe_train/encode`: byte↔unicode remap +
    # regex pre-tokenization + the shared batched merge machinery).
    # Training re-learns the pinned merge sequence from the same
    # literal corpus at query time; encoding tokenizes a fixture that
    # exercises the class's defining edges (contractions, doubled and
    # trailing spaces, multi-byte UTF-8) and emits every (position,
    # token) against pinned VALUES — trainer OR encoder drift flips
    # the rows red, and the roundtrip losslessness lives in
    # tests/test_byte_bpe.py.
    from ..operators.bpe import byte_bpe_encode

    bb_learned = f_bbpe.result()
    bb_train_rows = _lit_df(spark,
        [
            ("bbpe_train", i, 0, len(a) + len(b), f"{a} {b}")
            for i, (a, b) in enumerate(bb_learned)
        ],
        "kind string, doc_id long, part_id long, byte_len long, "
        "content_md5 string",
    )
    bb_fix = _lit_df(
        spark, _BBPE_FIXTURE, "doc_id long, text string"
    )
    # the oracle keeps the kinds 'bbpe'/'bbpe_prod' (and 'bpe'/
    # 'bpe_prod'); each pair is ONE encode whose rows are emitted under
    # both kinds, so the Python stage appears once per encode in the
    # plan
    bbpe = _with_both_kinds(
        spark,
        byte_bpe_encode(bb_fix, "text", "doc_id", bb_learned)
        .select(
            "doc_id",
            F.posexplode("bbpe_tokens").alias("pos", "tok"),
        )
        .select(
            "doc_id",
            F.col("pos").cast("bigint").alias("part_id"),
            F.length("tok").cast("bigint").alias("byte_len"),
            F.col("tok").alias("content_md5"),
        ),
        "bbpe",
    )
    enc2 = encode_tokenizers(
        d,
        "text",
        "doc_id",
        {
            "wp_tokens": lambda w: _wp_word_pieces(
                w, _WP_VOCAB, "[UNK]", "##"
            ),
            "uni_tokens": lambda w: _viterbi_pieces(w, _UNI_VOCAB, "[UNK]"),
        },
    )
    wj = F.array_join(F.col("wp_tokens"), " ")
    wjb = wj.cast("binary")
    wp = enc2.select(
        F.lit("wp").alias("kind"),
        "doc_id",
        F.size(F.col("wp_tokens")).cast("bigint").alias("part_id"),
        F.length(wjb).cast("bigint").alias("byte_len"),
        F.md5(wjb).alias("content_md5"),
    )
    uj = F.array_join(F.col("uni_tokens"), " ")
    ujb = uj.cast("binary")
    uni = enc2.select(
        F.lit("uni").alias("kind"),
        "doc_id",
        F.size(F.col("uni_tokens")).cast("bigint").alias("part_id"),
        F.length(ujb).cast("bigint").alias("byte_len"),
        F.md5(ujb).alias("content_md5"),
    )
    # 'budget' (round 8): token-budget mixing (`sampling.
    # token_budget_sample`) — sources sampled to 700/350/∞-token
    # budgets (rates derived from per-source totals), others dropped;
    # membership is the keyed hash, so the oracle re-derives the
    # whole recipe from a window sum + the same md5 layout
    from ..operators.sampling import token_budget_sample

    weighted = d.withColumn("__w", nonempty.cast("bigint"))
    kept = token_budget_sample(
        weighted, "doc_id", "source", "__w", _BUDGETS
    )
    budget = kept.select(
        F.lit("budget").alias("kind"),
        "doc_id",
        F.col("__w").alias("part_id"),
        F.length(F.col("text")).cast("bigint").alias("byte_len"),
        F.col("source").alias("content_md5"),
    )
    enc = bpe_encode(d, "text", "doc_id", _BPE_MERGES)
    joined = F.array_join(F.col("bpe_tokens"), " ")
    jb = joined.cast("binary")
    bpe = _with_both_kinds(
        spark,
        enc.select(
            "doc_id",
            F.size(F.col("bpe_tokens")).cast("bigint").alias("part_id"),
            F.length(jb).cast("bigint").alias("byte_len"),
            F.md5(jb).alias("content_md5"),
        ),
        "bpe",
    )
    # 'para' (round 8, late): corpus-level paragraph dedup
    # (`dedup.paragraph_dedup`) over manufactured 4-paragraph pages —
    # own text ¶ shared footer ¶ 40-char self-excerpt ¶ footer again.
    # Cross-doc the footer survives only in the first doc; within-doc
    # the repeated footer drops; empty/whitespace paragraphs (the
    # degenerate-doc shapes) bypass. The md5 of every rebuilt page
    # hash-verifies the keep-first rule + reassembly order; NULL docs
    # emit no row on either engine.
    from ..operators.dedup import paragraph_dedup

    psrc = d.select(
        "doc_id",
        F.concat(
            F.col("text"),
            F.lit(f"¶{_PARA_FOOTER}¶"),
            F.substring(F.col("text"), 1, 40),
            F.lit(f"¶{_PARA_FOOTER}"),
        ).alias("text"),
    )
    pdd = paragraph_dedup(psrc, "text", "doc_id", sep="¶")
    pb = F.col("text").cast("binary")
    para = pdd.select(
        F.lit("para").alias("kind"),
        "doc_id",
        F.col("n_kept").cast("bigint").alias("part_id"),
        F.length(pb).cast("bigint").alias("byte_len"),
        F.md5(pb).alias("content_md5"),
    )
    # 'parad' (round 8, late): the DOCUMENT scope of the same
    # operator — the footer survives on every page, only the
    # within-page repeat drops; keep-first is min pos per (doc,
    # paragraph) instead of corpus-wide
    parad = paragraph_dedup(
        psrc, "text", "doc_id", sep="¶", scope="document"
    ).select(
        F.lit("parad").alias("kind"),
        "doc_id",
        F.col("n_kept").cast("bigint").alias("part_id"),
        F.length(pb).cast("bigint").alias("byte_len"),
        F.md5(pb).alias("content_md5"),
    )
    # 'clean' (round 8, late): the corpus-pipeline COMPOSITION itself
    # under the oracle — pipelines.corpus.prepare_corpus with the
    # SQL-expressible stages on (profile filters → PII redaction →
    # exact keep-first → domain mixture; LM/paragraph/funnel off).
    # The corpus is every doc plus an exact clone at id+100000 whose
    # PII span is keyed by the original id, so each pair redacts to
    # the same page and the dedup stage provably fires; the oracle
    # re-derives the full four-stage walk, value-hashing every
    # survivor's redacted page.
    # 'dclean' (round 10, VERDICT item 6): the SAME composition with
    # DSIR selection wired in as stage 7b (cfg.dsir_k) — of the
    # hygienic survivors, keep the _DCLEAN_K most like the English
    # target slice. The operator chain is oracled in q71; here the
    # COMPOSED stage is value-hashed: the model's raw side is the
    # stage-0-7 survivor set itself (redacted pages), so drift in ANY
    # earlier stage flips the selection, and every selected page's
    # bytes are md5-verified.
    # The DSIR stage reads its input three more times (model counts +
    # scoring + semi-join), so boundary caches are load-bearing here
    # (without them the stage-0-7 subtree replicates 4x and q64
    # measured 11.0 s vs 5.5); scope them and pin the
    # k-row result eagerly so nothing leaks across runs (the q93
    # 'batch' pattern).
    # Round 12 (VERDICT item 1): 'clean' no longer runs its own
    # prepare_corpus — its cfg differs from 'dclean' only by the DSIR
    # stage, so its result IS dclean's exposed `pre_dsir` boundary
    # (the caches-persisted stage-7b input). One stage-0-7 walk
    # serves both branches: the two separate calls measured 3.0 s
    # ('clean', unpersisted) + 4.8 s ('dclean') at sf0.1; shared,
    # the pair costs the dclean walk alone. Both digests pin eagerly
    # inside the caches scope (clean's is a doc-count-bounded digest
    # projection, not the corpus text).
    # (round 15: the walk itself lives in `_q64_clean_dclean`,
    # launched as a construction-overlap future — gathered here)
    clean, dclean = f_cd.result()
    # 'tmix' (round 9): temperature mixing (`sampling.
    # temperature_domain_sample`, the multilingual α-sampling recipe)
    # at α=0.5 over per-source token masses — sqrt is correctly
    # rounded in both engines and the denominator folds in sorted
    # order, so membership is value-hash-checked end to end
    from ..operators.sampling import temperature_domain_sample

    tmix_kept = temperature_domain_sample(
        weighted, "doc_id", "source", "__w",
        alpha=0.5, total_budget=_TMIX_BUDGET,
    )
    tmix = tmix_kept.select(
        F.lit("tmix").alias("kind"),
        "doc_id",
        F.col("__w").alias("part_id"),
        F.length(F.col("text")).cast("bigint").alias("byte_len"),
        F.col("source").alias("content_md5"),
    )
    # 'c4' (round 9): C4 line-level cleaning (`text.c4_clean_lines` —
    # Raffel et al.'s published recipe: terminal punctuation, ≥5-word
    # lines, boilerplate-phrase drops, curly-brace / lorem-ipsum page
    # kills) over manufactured 5-line pages; the md5 of every cleaned
    # page hash-verifies line selection + rebuild order, and dropped
    # pages emit no row on either engine.
    from ..operators.text import c4_clean_lines

    c4src = d.select(
        "doc_id",
        F.concat(
            F.substring(F.col("text"), 1, 60),
            F.lit(" end of excerpt line.\n"),
            F.lit("please enable javascript to view this page.\n"),
            F.lit("tiny line.\n"),
            F.substring(F.col("text"), 61, 40),
            F.lit("\nthe final line has five words total."),
            F.when(F.col("doc_id") % 13 == 0, " {").otherwise(""),
            F.when(
                F.col("doc_id") % 17 == 5, "\nlorem ipsum text."
            ).otherwise(""),
        ).alias("text"),
    )
    c4d = c4_clean_lines(c4src, "text", "doc_id", min_lines=2)
    c4b = F.col("text").cast("binary")
    c4 = c4d.select(
        F.lit("c4").alias("kind"),
        "doc_id",
        F.col("n_kept").alias("part_id"),
        F.length(c4b).cast("bigint").alias("byte_len"),
        F.md5(c4b).alias("content_md5"),
    )
    return {
        "doc": doc,
        "chunk": chunk,
        "pack": pack,
        "seq": seq,
        "bpe": bpe,
        "bpe_train": train_rows,
        "wp": wp,
        "wp_train": wp_train_rows,
        "uni": uni,
        "uni_train": uni_train_rows,
        "bbpe": bbpe,
        "bbpe_train": bb_train_rows,
        "budget": budget,
        "para": para,
        "parad": parad,
        "clean": clean,
        "dclean": dclean,
        "tmix": tmix,
        "c4": c4,
    }


_K, _WIN = 8, 4

# mirror operators/text.char_kgram_hashes: polynomial rolling hash
# h = Σ code·B^(k−1−j) mod M as nested Horner (each step mod M, so
# intermediates stay < M·B — inside int64 on both engines)
_HB, _HM = 1_000_003, 2_147_483_647
_horner = "CAST(ord(substring(text, i, 1)) AS BIGINT)"
for _j in range(1, _K):
    _horner = (
        f"(({_horner}) * {_HB} "
        f"+ ord(substring(text, i+{_j}, 1))) % {_HM}"
    )
_KGRAMS = (
    f"list_transform(range(1, length(text) - {_K} + 2), i -> {_horner})"
)


@query(
    "q65_winnowing_fingerprints",
    oracle=f"""
    WITH h AS (SELECT doc_id, {_KGRAMS} AS hs FROM documents),
    m AS (
        SELECT doc_id,
               list_distinct(list_transform(
                   range(1, len(hs) - {_WIN} + 2),
                   j -> list_aggregate(hs[j:j+{_WIN}-1], 'min')
               )) AS fps
        FROM h
    )
    SELECT doc_id, unnest(fps) AS fp FROM m
    """,
)
def q65_winnowing_fingerprints(spark, sf_dir):
    """Winnowing (MOSS) fingerprints: char 8-gram hashes → min per
    4-window → distinct. Any shared substring of length ≥ 11 between
    two documents shares a fingerprint; each doc keeps ~len/4
    fingerprints. posexplode → codegen hash → window-frame min: one
    shuffle on doc_id (see operators.text.winnow_fingerprints for why
    the array-lambda formulation is 100× slower)."""
    from ..operators.text import winnow_fingerprints

    # round 15 A/B (kept so it is not re-tried): `spread` on this
    # scan measured 2.06 vs 2.00 s narrow — the char posexplode is
    # cheap and the real work (window mins, collect_set) already runs
    # post-exchange at full width, so the extra shuffle buys nothing
    d = load_table(spark, sf_dir, "documents")
    return winnow_fingerprints(d, "text", "doc_id", k=_K, w=_WIN)
