"""Parity queries: similarity search over `embeddings`
(array<float>, 64-dim). All FULL value-hash oracles:

- q80 'topk': brute-force cosine top-5 (the exact ANN baseline),
  quantized int64 dots vs the long-form SQL dot product;
- q80 'neardup': embedding near-dup via the `lsh_near_dup` funnel —
  the md5-derived hyperplane buckets are reproduced in DuckDB SQL, so
  candidate generation AND exact verify are both hash-checked;
- q82 (hyperplane LSH ANN) and q83 (IVF ANN): the entire funnels run
  in SQL too (plane-literal CASE signs, exact quantized centroids).

Recall of the approximate paths vs the exact baseline is pinned in
tests/test_similarity.py; layout invariance in
tests/test_order_invariance.py.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from ..boundary import cut
from ..operators.similarity import (
    decontaminate_embeddings,
    ivf_assign_exact,
    ivf_topk,
    lsh_near_dup,
    lsh_topk,
    nearest_lists_exact,
    pairwise_cosine,
    pq_adc_topk,
    quantized,
    rrf_fuse,
    sq8_topk,
    topk_per_query,
)
from ..sources.io import load_table
from .registry import query

_Q = "CAST(FLOOR(CAST({v} AS DOUBLE) * 1000000.0) AS BIGINT)"

_DOT = f"""
    SELECT q.vec_id AS q_id, d.vec_id AS d_id,
           CAST(CAST(SUM({_Q.format(v='q.embedding[i]')}
                         * {_Q.format(v='d.embedding[i]')}) AS BIGINT)
                AS DOUBLE) AS dot
    FROM embeddings q
    JOIN embeddings d ON {{pair_cond}}
    CROSS JOIN unnest(range(1, 65)) AS t(i)
    GROUP BY q.vec_id, d.vec_id
"""

_NORMS = f"""
    SELECT vec_id,
           SQRT(CAST(CAST(SUM({_Q.format(v='embedding[i]')}
                              * {_Q.format(v='embedding[i]')}) AS BIGINT)
                     AS DOUBLE)) AS nrm
    FROM embeddings CROSS JOIN unnest(range(1, 65)) AS t(i)
    GROUP BY vec_id
"""

# The LSH hyperplane signs are md5-derived literals (no RNG) and all
# dots/norms are quantized int64 — so the ENTIRE ANN funnel is
# reproducible in DuckDB SQL and q80's neardup branch plus q82/q83 get
# full value-hash oracles (round-1 VERDICT item 2).

_IV = (
    "list_transform(embedding, "
    "x -> CAST(FLOOR(CAST(x AS DOUBLE)*1000000.0) AS BIGINT))"
)


def _bit_sql(table: int, plane: int) -> str:
    from ..operators.similarity import _plane_signs

    lit = "[" + ",".join(str(int(v)) for v in _plane_signs(table * 1000 + plane, 64)) + "]"
    return (
        f"CASE WHEN CAST(list_sum(list_transform(range(1,65), "
        f"i -> iv[i] * ({lit})[i])) AS BIGINT) > 0 THEN '1' ELSE '0' END"
    )


def _bucket_sql(table: int, planes: int) -> str:
    bits = " || ".join(_bit_sql(table, p) for p in range(planes))
    return f"'{table}' || {bits}"


#: near-dup funnel buckets: 6 planes × 4 tables (vs 3 planes for the
#: q82 query-side funnel) — corpus×corpus candidate volume needs the
#: deeper AND-amplification (~n²/16 expected pairs, not ~n²/2)
_ND_BUCKETS = "\n        UNION ALL\n".join(
    f"        SELECT vec_id, {_bucket_sql(t, 6)} AS bucket FROM emb"
    for t in range(4)
)

_INORMS = (
    "SELECT vec_id, SQRT(CAST(CAST(list_sum(list_transform(range(1,65), "
    "i -> iv[i]*iv[i])) AS BIGINT) AS DOUBLE)) AS nrm FROM emb"
)

# ---- 'bm25' branch: lexical retrieval workload (text.bm25_topk) ------
# pinned query workload over the documents vocabulary; query 2's term
# matches nothing, so it must yield no rows on both engines
_BMQ = {0: ["join", "hash"], 1: ["spark", "window", "scan"], 2: ["zzzmissing"]}
_BM_K, _BM_K1, _BM_B = 5, 1.2, 0.75

_BMQ_VALUES = ", ".join(
    f"({q}, '{t}')" for q, ts in sorted(_BMQ.items()) for t in ts
)

#: contribution mirror of text.bm25_topk (q60 _BM25_SCORE conventions:
#: Python-repr'd constants so both engines parse identical doubles)
_BM_CONTRIB = (
    "ln(1.0 + (CAST(n_docs AS DOUBLE) - CAST(df AS DOUBLE) + 0.5)"
    " / (CAST(df AS DOUBLE) + 0.5))"
    f" * (CAST(tf AS DOUBLE) * CAST({_BM_K1 + 1.0!r} AS DOUBLE)"
    f" / (CAST(tf AS DOUBLE) + CAST({_BM_K1!r} AS DOUBLE)"
    f" * (CAST({1.0 - _BM_B!r} AS DOUBLE) + CAST({_BM_B!r} AS DOUBLE)"
    " * CAST(dl AS DOUBLE) / (sum_dl / CAST(n_docs AS DOUBLE)))))"
)

_BM_CTES = f"""
    bq AS (SELECT * FROM (VALUES {_BMQ_VALUES}) AS t(q_id, term)),
    bmatch AS (
        SELECT doc_id, len(string_split(text, ' ')) AS dl, t.term,
               len(list_filter(string_split(text, ' '),
                   w -> w = t.term)) AS tf
        FROM documents, (SELECT DISTINCT term FROM bq) t
        WHERE len(list_filter(string_split(text, ' '),
                  w -> w = t.term)) > 0
    ),
    bstats AS (
        SELECT COUNT(*) AS n_docs,
               CAST(SUM(CAST(len(string_split(text, ' '))
                    AS DECIMAL(25,6))) AS DOUBLE) AS sum_dl
        FROM documents
    ),
    bdf AS (SELECT term, COUNT(*) AS df FROM bmatch GROUP BY 1),
    bscored AS (
        SELECT q.q_id, m.doc_id,
               ROUND(list_aggregate(list_transform(
                   list_sort(list(struct_pack(
                       term := m.term, c := {_BM_CONTRIB}))),
                   x -> x.c), 'sum'), 6) AS score
        FROM bmatch m
        JOIN bq q USING (term)
        JOIN bdf USING (term), bstats
        GROUP BY q.q_id, m.doc_id
    ),
    branked AS (
        SELECT q_id, doc_id, score,
               ROW_NUMBER() OVER (PARTITION BY q_id
                   ORDER BY score DESC, doc_id) AS rank
        FROM bscored
    )
"""


@query(
    "q80_cosine_search",
    oracle=f"""
    WITH dots AS ({_DOT.format(pair_cond="q.vec_id < 8 AND d.vec_id <> q.vec_id")}),
    norms AS ({_NORMS}),
    scored AS (
        SELECT dots.q_id, dots.d_id,
               dots.dot / (qn.nrm * dn.nrm) AS cosine
        FROM dots
        JOIN norms qn ON qn.vec_id = dots.q_id
        JOIN norms dn ON dn.vec_id = dots.d_id
    ),
    emb AS (SELECT vec_id, {_IV} AS iv FROM embeddings),
    ndbuckets AS (
{_ND_BUCKETS}
    ),
    ndcand AS (
        SELECT DISTINCT q.vec_id AS q_id, d.vec_id AS d_id
        FROM ndbuckets q JOIN ndbuckets d USING (bucket)
        WHERE q.vec_id < d.vec_id
    ),
    inorms AS ({_INORMS}),
    nd AS (
        SELECT c.q_id, c.d_id,
               CAST(CAST(list_sum(list_transform(range(1,65),
                    i -> a.iv[i]*b.iv[i])) AS BIGINT) AS DOUBLE)
                 / (qn.nrm * dn.nrm) AS cosine
        FROM ndcand c
        JOIN emb a ON a.vec_id = c.q_id
        JOIN emb b ON b.vec_id = c.d_id
        JOIN inorms qn ON qn.vec_id = c.q_id
        JOIN inorms dn ON dn.vec_id = c.d_id
    )
    ,
    scales AS (
        SELECT i, MAX(ABS(CAST(embedding[i] AS DOUBLE))) AS s
        FROM embeddings CROSS JOIN unnest(range(1, 65)) AS t(i)
        GROUP BY i
    ),
    sarr AS (SELECT list(s ORDER BY i) AS sv FROM scales),
    q8 AS (
        SELECT vec_id,
               list_transform(range(1, 65),
                   i -> CASE WHEN sv[i] = 0 THEN CAST(0 AS BIGINT)
                        ELSE CAST(FLOOR(CAST(embedding[i] AS DOUBLE)
                                        * 127.0 / sv[i]) AS BIGINT)
                        END) AS qv
        FROM embeddings CROSS JOIN sarr
    ),
    q8n AS (
        SELECT vec_id,
               SQRT(CAST(CAST(list_sum(list_transform(range(1,65),
                    i -> qv[i]*qv[i])) AS BIGINT) AS DOUBLE)) AS nrm
        FROM q8
    ),
    sq8 AS (
        SELECT a.vec_id AS q_id, b.vec_id AS d_id,
               CAST(CAST(list_sum(list_transform(range(1,65),
                    i -> a.qv[i]*b.qv[i])) AS BIGINT) AS DOUBLE)
                 / (qn.nrm * dn.nrm) AS cosine
        FROM q8 a
        JOIN q8 b ON a.vec_id < 8 AND b.vec_id <> a.vec_id
        JOIN q8n qn ON qn.vec_id = a.vec_id
        JOIN q8n dn ON dn.vec_id = b.vec_id
    ),
    {_BM_CTES}
    ,
    drank5 AS (
        SELECT q_id, d_id, rank FROM (
            SELECT q_id, d_id,
                   ROW_NUMBER() OVER (PARTITION BY q_id
                       ORDER BY cosine DESC, d_id ASC) AS rank
            FROM scored
        ) WHERE rank <= 5 AND q_id < 3
    ),
    lrank5 AS (
        SELECT q_id, doc_id AS d_id, rank
        FROM branked WHERE rank <= {_BM_K}
    ),
    rrf AS (
        SELECT COALESCE(a.q_id, b.q_id) AS q_id,
               COALESCE(a.d_id, b.d_id) AS d_id,
               COALESCE(CAST(1.0 AS DOUBLE)
                        / (CAST(60 AS DOUBLE) + CAST(a.rank AS DOUBLE)),
                        CAST(0.0 AS DOUBLE))
             + COALESCE(CAST(1.0 AS DOUBLE)
                        / (CAST(60 AS DOUBLE) + CAST(b.rank AS DOUBLE)),
                        CAST(0.0 AS DOUBLE)) AS score
        FROM drank5 a
        FULL JOIN lrank5 b ON a.q_id = b.q_id AND a.d_id = b.d_id
    ),
    knnt AS (
        SELECT vec_id AS tid, label AS lbl, {_IV} AS iv
        FROM embeddings WHERE vec_id < 200
    ),
    knnq AS (
        SELECT vec_id AS qid, {_IV} AS iv
        FROM embeddings WHERE vec_id >= 200
    ),
    knnk AS (
        SELECT qid, tid, lbl, d2 FROM (
            SELECT q.qid, t.tid, t.lbl,
                   CAST(list_sum(list_transform(range(1,65),
                        i -> (q.iv[i]-t.iv[i])*(q.iv[i]-t.iv[i])))
                        AS BIGINT) AS d2,
                   ROW_NUMBER() OVER (PARTITION BY q.qid
                       ORDER BY CAST(list_sum(list_transform(range(1,65),
                           i -> (q.iv[i]-t.iv[i])*(q.iv[i]-t.iv[i])))
                           AS BIGINT) ASC, t.tid ASC) AS rn
            FROM knnq q CROSS JOIN knnt t
        ) WHERE rn <= 5
    ),
    knnw AS (
        SELECT qid, lbl, nv FROM (
            SELECT qid, lbl, COUNT(*) AS nv,
                   ROW_NUMBER() OVER (PARTITION BY qid
                       ORDER BY COUNT(*) DESC, lbl ASC) AS rn
            FROM knnk GROUP BY qid, lbl
        ) WHERE rn = 1
    ),
    knnb AS (SELECT qid, MAX(d2) AS kd2 FROM knnk GROUP BY qid)
    SELECT 'knn' AS kind, w.qid AS q_id, CAST(w.lbl AS BIGINT) AS d_id,
           CAST(b.kd2 AS DOUBLE) AS cosine, w.nv AS rank
    FROM knnw w JOIN knnb b USING (qid)
    UNION ALL
    SELECT 'topk' AS kind, q_id, d_id, cosine, rank FROM (
        SELECT q_id, d_id, cosine,
               ROW_NUMBER() OVER (PARTITION BY q_id
                   ORDER BY cosine DESC, d_id ASC) AS rank
        FROM scored
    ) WHERE rank <= 5
    UNION ALL
    SELECT 'neardup' AS kind, q_id, d_id, cosine,
           CAST(NULL AS BIGINT) AS rank
    FROM nd WHERE cosine >= 0.2
    UNION ALL
    SELECT 'sq8' AS kind, q_id, d_id, cosine, rank FROM (
        SELECT q_id, d_id, cosine,
               ROW_NUMBER() OVER (PARTITION BY q_id
                   ORDER BY cosine DESC, d_id ASC) AS rank
        FROM sq8
    ) WHERE rank <= 5
    UNION ALL
    SELECT 'decon' AS kind, CAST(NULL AS BIGINT) AS q_id, d_id,
           MAX(cosine) AS cosine, COUNT(*) AS rank
    FROM scored WHERE d_id >= 8 AND cosine >= 0.2
    GROUP BY d_id
    UNION ALL
    SELECT 'bm25' AS kind, q_id, doc_id AS d_id, score AS cosine, rank
    FROM branked WHERE rank <= {_BM_K}
    UNION ALL
    SELECT 'rrf' AS kind, q_id, d_id, score AS cosine,
           ROW_NUMBER() OVER (PARTITION BY q_id
               ORDER BY score DESC, d_id ASC) AS rank
    FROM rrf
    """,
)
def q80_cosine_search(spark, sf_dir):
    """Exact cosine similarity search, both consumer shapes (round 3
    merge of two round-1 queries, COVERAGE.md): the 'topk' branch is
    brute-force cosine top-5 for 8 query vectors — the exact ANN
    baseline, O(n·q), broadcast query side; the 'neardup' branch is
    embedding-cosine near-dup detection at cosine ≥ 0.2 routed through
    the LSH candidate funnel (`lsh_near_dup`): bucket-collide →
    exact-verify, the same funnel shape as the q72 MinHash dedup.
    Round-4 VERDICT item 4: the previous all-pairs
    `pairwise_cosine(e, e)` broadcast cross join was O(n²) pair
    generation — 19 s of the 61 s bench and a scale-killer by
    construction. The funnel is md5-deterministic, so the oracle
    reproduces the IDENTICAL candidate set + quantized-exact cosines
    in SQL and the branch keeps a full value-hash check (recall vs
    all-pairs is the documented LSH trade, pinned in
    tests/test_similarity.py). Dots/norms are quantized int64:
    order-exact, so cosines match DuckDB bit-for-bit."""
    e = load_table(spark, sf_dir, "embeddings")
    q = e.filter(F.col("vec_id") < 8)
    scored = pairwise_cosine(q, e, "vec_id", "embedding").filter(
        F.col("q_id") != F.col("d_id")
    )
    dense_ranked = topk_per_query(scored, k=5)
    topk = dense_ranked.select(
        F.lit("topk").alias("kind"), "q_id", "d_id", "cosine",
        F.col("rank").cast("bigint").alias("rank"),
    )
    neardup = lsh_near_dup(
        e, "vec_id", "embedding", threshold=0.2, planes=6, tables=4, dims=64
    ).select(
        F.lit("neardup").alias("kind"), "q_id", "d_id", "cosine",
        F.lit(None).cast("bigint").alias("rank"),
    )
    sq8 = sq8_topk(
        q, e, "vec_id", "embedding", k=5, exclude_self=True
    ).select(
        F.lit("sq8").alias("kind"), "q_id", "d_id", "cosine",
        F.col("rank").cast("bigint").alias("rank"),
    )
    # round 8: semantic decontamination — the first 8 vectors play the
    # benchmark set; every other corpus vector cosine-≥0.2 to any of
    # them is flagged with its hit count and worst similarity
    # (`similarity.decontaminate_embeddings`: benchmark broadcasts,
    # corpus never shuffles, output bounded by contamination volume)
    decon = decontaminate_embeddings(
        e.filter(F.col("vec_id") >= 8), q, "vec_id", "embedding", 0.2
    ).select(
        F.lit("decon").alias("kind"),
        F.lit(None).cast("bigint").alias("q_id"),
        F.col("vec_id").alias("d_id"),
        F.col("max_cosine").alias("cosine"),
        F.col("n_hits").cast("bigint").alias("rank"),
    )
    # 'bm25' (round 9): lexical retrieval — `text.bm25_topk` ranks the
    # pinned query workload over the documents corpus via the inverted
    # (doc, term, tf) shape; scores fold term-sorted and round to 6
    # decimals BEFORE ranking so the top-k list is engine-exact.
    from ..operators.text import bm25_topk

    docs = load_table(spark, sf_dir, "documents")
    bm_ranked = bm25_topk(
        docs, "text", "doc_id", _BMQ, k=_BM_K, k1=_BM_K1, b=_BM_B
    )
    bm = bm_ranked.select(
        F.lit("bm25").alias("kind"),
        "q_id",
        F.col("doc_id").alias("d_id"),
        F.col("score").alias("cosine"),
        F.col("rank").cast("bigint").alias("rank"),
    )
    # 'rrf' (round 9): hybrid retrieval — reciprocal-rank fusion of the
    # dense top-5 list (queries 0-2 of the 'topk' branch, vec_id ≡
    # doc_id corpus ids) with the 'bm25' lexical list for the same
    # query ids (`similarity.rrf_fuse`). Query 2's lexical list is
    # empty, so its fusion must degrade to pure dense ranking — the
    # outer-join semantics are part of what the oracle checks.
    rrf = rrf_fuse(
        dense_ranked.filter(F.col("q_id") < 3).select(
            F.col("q_id").cast("bigint").alias("q_id"),
            F.col("d_id").cast("bigint").alias("d_id"),
            "rank",
        ),
        bm_ranked.select(
            F.col("q_id").cast("bigint").alias("q_id"),
            F.col("doc_id").cast("bigint").alias("d_id"),
            "rank",
        ),
    ).select(
        F.lit("rrf").alias("kind"),
        "q_id",
        "d_id",
        F.col("rrf_score").alias("cosine"),
        "rank",
    )
    # 'knn' (round 10, late): exact kNN label propagation — classify
    # every corpus vector (vec_id ≥ 200) from the first-200 labeled
    # "curated set" (`similarity.knn_classify`): int64 squared-L2
    # k-set with (d2, tid) tie-break, majority vote with (votes desc,
    # label asc) tie-break, k-set boundary distance as confidence.
    # The corpus side never shuffles for scoring (the 200-row train
    # set broadcasts into the pair generator, and the skinny k-set
    # rows — not the vectors — ride the top-k window); prediction,
    # votes, AND the boundary distance are value-hashed against a
    # windowed SQL re-derivation.
    from ..operators.similarity import knn_classify

    knn = knn_classify(
        e.filter(F.col("vec_id") >= 200),
        e.filter(F.col("vec_id") < 200),
        "vec_id",
        "embedding",
        "label",
        k=5,
    ).select(
        F.lit("knn").alias("kind"),
        F.col("vec_id").alias("q_id"),
        F.col("pred_label").cast("bigint").alias("d_id"),
        F.col("kth_d2").alias("cosine"),
        F.col("votes").alias("rank"),
    )
    return (
        topk.unionByName(neardup)
        .unionByName(sq8)
        .unionByName(decon)
        .unionByName(bm)
        .unionByName(rrf)
        .unionByName(knn)
    )


_LSH_BUCKETS = "\n        UNION ALL\n".join(
    f"        SELECT vec_id, iv, {_bucket_sql(t, 3)} AS bucket FROM emb"
    for t in range(4)
)

_ANN_CTES = """
    norms AS (
        SELECT vec_id,
               SQRT(CAST(CAST(list_sum(list_transform(range(1,65),
                    i -> iv[i]*iv[i])) AS BIGINT) AS DOUBLE)) AS nrm
        FROM emb
    ),
    scored AS (
        SELECT c.q_id, c.d_id,
               CAST(CAST(list_sum(list_transform(range(1,65),
                    i -> a.iv[i]*b.iv[i])) AS BIGINT) AS DOUBLE)
                 / (qn.nrm * dn.nrm) AS cosine
        FROM cand c
        JOIN emb a ON a.vec_id = c.q_id
        JOIN emb b ON b.vec_id = c.d_id
        JOIN norms qn ON qn.vec_id = c.q_id
        JOIN norms dn ON dn.vec_id = c.d_id
    ),
    ranked AS (
        SELECT q_id, d_id, cosine,
               ROW_NUMBER() OVER (PARTITION BY q_id
                   ORDER BY cosine DESC, d_id ASC) AS rank
        FROM scored
    )
"""

_ANN_SCORE = (
    _ANN_CTES
    + """
    SELECT q_id, d_id, cosine, rank FROM ranked
    WHERE rank <= 5 AND q_id <> d_id
"""
)

_D2 = (
    "CAST(list_sum(list_transform(range(1,65), "
    "i -> (e.iv[i]-c.civ[i])*(e.iv[i]-c.civ[i]))) AS BIGINT)"
)


def _jl_signs_values() -> str:
    """The q82 'rp' branch's 16×64 ±1 JL sign matrix as a DuckDB
    VALUES table (j, sl) — the SAME `jl_sign_rows` literals the Spark
    projection compiles into its codegen expression."""
    from ..operators.similarity import jl_sign_rows

    return ", ".join(
        f"({j}, [{','.join(str(s) for s in row)}])"
        for j, row in enumerate(jl_sign_rows(16, 64))
    )


#: JL branch oracle: project → shortlist by projected cosine →
#: exact-rescore the shortlist — the identical two-stage funnel
#: `jl_topk` runs, replayed on the same int64 arithmetic
_JL_CTES = f"""
    jls AS (SELECT * FROM (VALUES {{JLV}}) t(j, sl)),
    jlp AS (
        SELECT vec_id, j,
               CAST(list_sum(list_transform(range(1,65),
                    i -> iv[i]*sl[i])) AS BIGINT) AS c
        FROM emb CROSS JOIN jls
    ),
    jln AS (
        SELECT vec_id, SQRT(CAST(CAST(SUM(c*c) AS BIGINT) AS DOUBLE)) AS pn
        FROM jlp GROUP BY vec_id
    ),
    jldot AS (
        SELECT q.vec_id AS q_id, d.vec_id AS d_id,
               CAST(SUM(q.c*d.c) AS BIGINT) AS pdot
        FROM jlp q JOIN jlp d USING (j)
        WHERE q.vec_id < 8
        GROUP BY q.vec_id, d.vec_id
    ),
    jshort AS (
        SELECT q_id, d_id FROM (
            SELECT t.q_id, t.d_id,
                   ROW_NUMBER() OVER (PARTITION BY t.q_id
                       ORDER BY CAST(t.pdot AS DOUBLE) / (qn.pn * dn.pn)
                                DESC, t.d_id ASC) AS rn
            FROM jldot t
            JOIN jln qn ON qn.vec_id = t.q_id
            JOIN jln dn ON dn.vec_id = t.d_id
        ) WHERE rn <= 24
    ),
    jexact AS (
        SELECT s.q_id, s.d_id,
               CAST(CAST(list_sum(list_transform(range(1,65),
                    i -> a.iv[i]*b.iv[i])) AS BIGINT) AS DOUBLE)
                 / (qn.nrm * dn.nrm) AS cosine
        FROM jshort s
        JOIN emb a ON a.vec_id = s.q_id
        JOIN emb b ON b.vec_id = s.d_id
        JOIN norms qn ON qn.vec_id = s.q_id
        JOIN norms dn ON dn.vec_id = s.d_id
    ),
    jranked AS (
        SELECT q_id, d_id, cosine,
               ROW_NUMBER() OVER (PARTITION BY q_id
                   ORDER BY cosine DESC, d_id ASC) AS rank
        FROM jexact
    )
"""


@query(
    "q82_ann_lsh_topk",
    oracle=f"""
    WITH emb AS (SELECT vec_id, {_IV} AS iv FROM embeddings),
    buckets AS (
{_LSH_BUCKETS}
    ),
    cand AS (
        SELECT DISTINCT q.vec_id AS q_id, d.vec_id AS d_id
        FROM buckets q JOIN buckets d USING (bucket)
        WHERE q.vec_id < 8
    ),
    {_ANN_CTES},
    {_JL_CTES.replace("{JLV}", "{jlv}")}
    SELECT 'lsh' AS kind, q_id, d_id, cosine, rank FROM ranked
    WHERE rank <= 5 AND q_id <> d_id
    UNION ALL
    SELECT 'rp', q_id, d_id, cosine, rank FROM jranked
    WHERE rank <= 5 AND q_id <> d_id
    """.replace("{jlv}", _jl_signs_values()),
)
def q82_ann_lsh_topk(spark, sf_dir):
    """Scale-path ANN: deterministic hyperplane-LSH buckets + exact
    quantized rescoring within buckets. Bucket signs are int64 dots
    against md5-derived ±1 planes — order-free, so the oracle rebuilds
    the identical buckets in SQL and the result is value-hash-checked
    (self-match holds rank 1 and is filtered after, like the Spark
    side). Recall vs the exact baseline asserted in
    tests/test_similarity.py."""
    e = load_table(spark, sf_dir, "embeddings")
    q = e.filter(F.col("vec_id") < 8)
    out = lsh_topk(q, e, "vec_id", "embedding", k=5, planes=3, tables=4, dims=64)
    lsh = out.filter(F.col("q_id") != F.col("d_id")).select(
        F.lit("lsh").alias("kind"), "q_id", "d_id", "cosine", "rank"
    )

    # 'rp' (round 10): JL random-projection ANN
    # (`similarity.jl_topk`) — 64→16 ±1 sign projection (Achlioptas
    # 2003), shortlist-12 by projected cosine, exact full-width
    # re-rank to top-5. The whole two-stage funnel is int64-exact, so
    # the oracle replays projection, shortlist, and re-rank with the
    # same literals and tie-breaks.
    from ..operators.similarity import jl_topk

    rp = (
        jl_topk(
            q, e, "vec_id", "embedding",
            k=5, shortlist=24, out_dim=16, dims=64,
        )
        .filter(F.col("q_id") != F.col("d_id"))
        .select(
            F.lit("rp").alias("kind"),
            "q_id",
            "d_id",
            "cosine",
            F.col("rank").cast("long").alias("rank"),
        )
    )
    return lsh.unionByName(rp)


#: PQ geometry for the q83 'pq' branch: 64 dims → 8 subspaces of 8,
#: K=16 codewords per subspace (the same deterministic centroid table
#: the IVF coarse quantizer uses, sliced per subspace).
_PQ_M, _PQ_DSUB = 8, 8

_PQ_SUBD2 = (
    "CAST(list_sum(list_transform(range(1, {d1}), "
    "i -> (e.iv[sub.s*{dsub}+i]-c.civ[sub.s*{dsub}+i])"
    "*(e.iv[sub.s*{dsub}+i]-c.civ[sub.s*{dsub}+i]))) AS BIGINT)"
).format(d1=_PQ_DSUB + 1, dsub=_PQ_DSUB)

_PQ_CTES = f"""
    sub AS (SELECT unnest(range(0, {_PQ_M})) AS s),
    pqcw AS (
        SELECT sub.s, c.list_id AS j,
               CAST(list_sum(list_transform(range(1, {_PQ_DSUB + 1}),
                    i -> c.civ[sub.s*{_PQ_DSUB}+i]*c.civ[sub.s*{_PQ_DSUB}+i]))
                    AS BIGINT) AS n2
        FROM cents c CROSS JOIN sub
    ),
    pqcodes AS (
        SELECT vec_id, s, j FROM (
            SELECT e.vec_id, sub.s, c.list_id AS j,
                   ROW_NUMBER() OVER (PARTITION BY e.vec_id, sub.s
                       ORDER BY {_PQ_SUBD2} ASC, c.list_id ASC) AS rn
            FROM emb e CROSS JOIN sub CROSS JOIN cents c
        ) WHERE rn = 1
    ),
    pqlut AS (
        SELECT e.vec_id AS q_id, sub.s, c.list_id AS j,
               CAST(list_sum(list_transform(range(1, {_PQ_DSUB + 1}),
                    i -> e.iv[sub.s*{_PQ_DSUB}+i]*c.civ[sub.s*{_PQ_DSUB}+i]))
                    AS BIGINT) AS dot
        FROM emb e CROSS JOIN sub CROSS JOIN cents c
        WHERE e.vec_id < 8
    ),
    pqscored AS (
        SELECT c.q_id, c.d_id,
               CAST(SUM(l.dot) AS DOUBLE)
                 / (qn.nrm * SQRT(CAST(SUM(w.n2) AS DOUBLE))) AS cosine
        FROM cand c
        JOIN pqcodes co ON co.vec_id = c.d_id
        JOIN pqlut l ON l.q_id = c.q_id AND l.s = co.s AND l.j = co.j
        JOIN pqcw w ON w.s = co.s AND w.j = co.j
        JOIN norms qn ON qn.vec_id = c.q_id
        GROUP BY c.q_id, c.d_id, qn.nrm
    ),
    pqranked AS (
        SELECT q_id, d_id, cosine,
               ROW_NUMBER() OVER (PARTITION BY q_id
                   ORDER BY cosine DESC, d_id ASC) AS rank
        FROM pqscored
    )
"""


@query(
    "q83_ann_ivf_topk",
    oracle=f"""
    WITH emb AS (SELECT vec_id, {_IV} AS iv FROM embeddings),
    cents AS (SELECT vec_id AS list_id, iv AS civ FROM emb WHERE vec_id < 16),
    assign AS (
        SELECT vec_id, list_id FROM (
            SELECT e.vec_id, c.list_id,
                   ROW_NUMBER() OVER (PARTITION BY e.vec_id
                       ORDER BY {_D2} ASC, c.list_id ASC) AS rn
            FROM emb e CROSS JOIN cents c
        ) WHERE rn = 1
    ),
    probes AS (
        SELECT vec_id AS q_id, list_id FROM (
            SELECT e.vec_id, c.list_id,
                   ROW_NUMBER() OVER (PARTITION BY e.vec_id
                       ORDER BY {_D2} ASC, c.list_id ASC) AS rn
            FROM emb e CROSS JOIN cents c WHERE e.vec_id < 8
        ) WHERE rn <= 4
    ),
    cand AS (
        SELECT p.q_id, a.vec_id AS d_id
        FROM probes p JOIN assign a ON a.list_id = p.list_id
    ),
    {_ANN_CTES},
    {_PQ_CTES},
    newb AS (
        SELECT vec_id + 100000 AS nid, iv FROM emb WHERE vec_id < 20
    ),
    nassign AS (
        -- each new vector's single nearest list (nprobe=1), same
        -- quantized L2 + lower-list tie-break as the assign CTE
        SELECT nid, list_id, iv FROM (
            SELECT e.nid, c.list_id, e.iv,
                   ROW_NUMBER() OVER (PARTITION BY e.nid
                       ORDER BY {_D2} ASC, c.list_id ASC) AS rn
            FROM newb e CROSS JOIN cents c
        ) WHERE rn = 1
    ),
    pool AS (
        SELECT a.vec_id AS doc, a.list_id, e.iv
        FROM assign a JOIN emb e ON e.vec_id = a.vec_id
        UNION ALL
        SELECT nid AS doc, list_id, iv FROM nassign
    ),
    sdin AS (
        SELECT vec_id, iv FROM emb
        UNION ALL
        SELECT vec_id + 200000 AS vec_id, iv FROM emb WHERE vec_id < 20
    ),
    sdassign AS (
        SELECT vec_id, list_id FROM (
            SELECT e.vec_id, c.list_id,
                   ROW_NUMBER() OVER (PARTITION BY e.vec_id
                       ORDER BY {_D2} ASC, c.list_id ASC) AS rn
            FROM sdin e CROSS JOIN cents c
        ) WHERE rn = 1
    ),
    sdcnrm AS (
        SELECT list_id, SQRT(CAST(CAST(list_sum(list_transform(range(1,65),
               i -> civ[i]*civ[i])) AS BIGINT) AS DOUBLE)) AS cnrm
        FROM cents
    ),
    sdmem AS (
        SELECT a.vec_id, a.list_id, e.iv,
               SQRT(CAST(CAST(list_sum(list_transform(range(1,65),
                    i -> e.iv[i]*e.iv[i])) AS BIGINT) AS DOUBLE)) AS nrm,
               CAST(CAST(list_sum(list_transform(range(1,65),
                    i -> e.iv[i]*c.civ[i])) AS BIGINT) AS DOUBLE)
                 / (SQRT(CAST(CAST(list_sum(list_transform(range(1,65),
                        i -> e.iv[i]*e.iv[i])) AS BIGINT) AS DOUBLE))
                    * cn.cnrm) AS cosc
        FROM sdassign a
        JOIN sdin e ON e.vec_id = a.vec_id
        JOIN cents c ON c.list_id = a.list_id
        JOIN sdcnrm cn ON cn.list_id = a.list_id
    ),
    sdpairs AS (
        SELECT x.list_id, x.vec_id, y.vec_id AS yid,
               x.cosc AS xc, y.cosc AS yc,
               CAST(CAST(list_sum(list_transform(range(1,65),
                    i -> x.iv[i]*y.iv[i])) AS BIGINT) AS DOUBLE)
                 / (x.nrm * y.nrm) AS cxy
        FROM sdmem x JOIN sdmem y
          ON y.list_id = x.list_id AND y.vec_id <> x.vec_id
    ),
    sdrem AS (
        SELECT list_id, vec_id,
               MAX(cxy) AS max_dup_cos, COUNT(*) AS n_dups
        FROM sdpairs
        WHERE cxy >= 0.35
          AND (yc < xc OR (yc = xc AND yid < vec_id))
        GROUP BY list_id, vec_id
    ),
    incr_pairs AS (
        SELECT DISTINCT least(p.doc, n.nid) AS id_a,
               greatest(p.doc, n.nid) AS id_b,
               CAST(CAST(list_sum(list_transform(range(1,65),
                    i -> n.iv[i] * p.iv[i])) AS BIGINT) AS DOUBLE)
               / (SQRT(CAST(CAST(list_sum(list_transform(range(1,65),
                      i -> n.iv[i] * n.iv[i])) AS BIGINT) AS DOUBLE))
                  * SQRT(CAST(CAST(list_sum(list_transform(range(1,65),
                      i -> p.iv[i] * p.iv[i])) AS BIGINT) AS DOUBLE)))
                 AS cosine
        FROM nassign n JOIN pool p
          ON p.list_id = n.list_id AND p.doc <> n.nid
    )
    SELECT 'ivf' AS kind, q_id, d_id, cosine, rank FROM ranked
    WHERE rank <= 5 AND q_id <> d_id
    UNION ALL
    SELECT 'pq' AS kind, q_id, d_id, cosine, rank FROM pqranked
    WHERE rank <= 5 AND q_id <> d_id
    UNION ALL
    SELECT 'incr' AS kind, id_a AS q_id, id_b AS d_id, cosine,
           CAST(NULL AS BIGINT) AS rank
    FROM incr_pairs WHERE cosine >= 0.99
    UNION ALL
    SELECT 'semdedup' AS kind, CAST(list_id AS BIGINT) AS q_id,
           vec_id AS d_id, max_dup_cos AS cosine,
           CAST(n_dups AS BIGINT) AS rank
    FROM sdrem
    UNION ALL
    SELECT 'diverse' AS kind, CAST(list_id AS BIGINT) AS q_id,
           vec_id AS d_id, CAST(NULL AS DOUBLE) AS cosine,
           CAST(rn AS BIGINT) AS rank
    FROM (
        SELECT vec_id, list_id, ROW_NUMBER() OVER (
            PARTITION BY list_id
            ORDER BY CAST(concat('0x', substring(md5(concat(
                'strata:v1', chr(31), CAST(vec_id AS VARCHAR))),
                1, 15)) AS BIGINT) / 1152921504606846976.0,
                vec_id
        ) AS rn
        FROM assign
    ) WHERE rn <= 3
    """,
)
def q83_ann_ivf_topk(spark, sf_dir):
    """Scale-path ANN #2, two branches over the same deterministic
    coarse quantizer (centroids = first 16 corpus vectors, quantized
    int64 distances):

    - 'ivf': IVF probe — each query scans only its 4 nearest of 16
      inverted lists (~25% of the corpus instead of 100%), exact
      scoring within the probed lists (`ivf_assign_exact` +
      `nearest_lists_exact` + `ivf_topk`); recall and determinism are
      pinned in tests/test_similarity.py.
    - 'pq' (round 6): IVF-PQ with ADC scoring (`pq_adc_topk`) — the
      corpus is 8 codeword indices per vector (codebooks = the same
      centroid table sliced into 8×8-dim subspaces) and candidates are
      scored from the query's precomputed codeword-dot LUT: no vector
      is touched at scoring time. PQ's approximation is deterministic
      (int64-exact codebooks/argmins/LUTs), so even the compressed-
      domain branch is value-hash-checked against SQL.

    Both branches: assignment, probing, and scoring value-hash-checked
    against DuckDB."""
    e = load_table(spark, sf_dir, "embeddings")
    q = e.filter(F.col("vec_id") < 8)
    cents = e.filter(F.col("vec_id") < 16).select(
        F.col("vec_id").alias("__list"), "embedding"
    )
    # round 16: the corpus×16 argmin assignment feeds FOUR consumers
    # ('ivf' scoring, 'diverse', 'pq' codes, 'incr' state) — in the
    # fused plan each replicated the whole crossJoin+window subtree
    # (the q71 duplicate-subtree signature: ~80 Window nodes in
    # plans/r16/q83_..._before.txt, 0 reuse). One eager cut at the
    # natural one-row-per-vector boundary serves them all.
    assigned = cut(ivf_assign_exact(e, cents, "vec_id", "embedding"))
    probes = nearest_lists_exact(q, cents, "vec_id", "embedding", nprobe=4)
    ivf = ivf_topk(probes, assigned, "vec_id", "embedding", k=5)
    ivf = ivf.filter(F.col("q_id") != F.col("d_id")).select(
        F.lit("ivf").alias("kind"), "q_id", "d_id", "cosine", "rank"
    )
    # round 8 (late): 'diverse' — cluster-balanced diversity sampling
    # (the SemDeDup-adjacent pass): exactly 3 vectors per inverted
    # list via `sampling.stratified_fixed_k` over the SAME coarse
    # assignment the ivf branch probes. Topic balance for a training
    # subset: every cluster contributes equally regardless of size,
    # membership a pure (seed, key) function — re-runnable,
    # append-stable for untouched clusters. The oracle re-ranks with
    # the identical keyed-hash order (division included: the
    # double rounding is part of the order), so membership AND rank
    # are value-hash-checked.
    from pyspark.sql import Window

    from ..operators.sampling import hash_uniform, stratified_fixed_k

    kept = stratified_fixed_k(
        assigned.select("vec_id", "__list"), "vec_id", "__list", 3
    )
    w = Window.partitionBy("__list").orderBy(
        hash_uniform(F.col("vec_id"), "strata:v1"), F.col("vec_id")
    )
    diverse = kept.withColumn("rank", F.row_number().over(w)).select(
        F.lit("diverse").alias("kind"),
        F.col("__list").cast("bigint").alias("q_id"),
        F.col("vec_id").alias("d_id"),
        F.lit(None).cast("double").alias("cosine"),
        F.col("rank").cast("bigint").alias("rank"),
    )
    # share the coarse-quantizer subtrees with the ivf branch instead
    # of recomputing the corpus×16 assignment and the probe windows
    pq = pq_adc_topk(
        q, e, cents, "vec_id", "embedding",
        k=5, m=_PQ_M, dsub=_PQ_DSUB, nprobe=4,
        assigned=assigned, probes=probes,
    )
    pq = pq.filter(F.col("q_id") != F.col("d_id")).select(
        F.lit("pq").alias("kind"), "q_id", "d_id", "cosine", "rank"
    )
    # 'incr' (round 9): the daily-batch EMBEDDING near-dup —
    # `incremental_ivf_near_dup` pairs a new batch (exact clones of
    # vec_id < 20 under +100000 ids, so each must collide with its
    # original: identical vector ⇒ identical nearest list) against
    # the persisted state built from the SAME coarse assignment the
    # ivf branch uses, never history×history. The oracle re-derives
    # assignment, pooling, and the int64 cosine verify.
    from ..operators.similarity import incremental_ivf_near_dup

    state = assigned.select(
        F.col("vec_id").alias("doc"),
        "__list",
        quantized(F.col("embedding")).alias("iv"),
    )
    newb = e.filter(F.col("vec_id") < 20).select(
        (F.col("vec_id") + 100000).alias("vec_id"), "embedding"
    )
    incr_pairs, _new_rows = incremental_ivf_near_dup(
        newb, state, cents, "vec_id", "embedding",
        threshold=0.99, nprobe=1,
    )
    incr = incr_pairs.select(
        F.lit("incr").alias("kind"),
        F.col("id_a").alias("q_id"),
        F.col("id_b").alias("d_id"),
        "cosine",
        F.lit(None).cast("bigint").alias("rank"),
    )
    # 'semdedup' (round 10): SemDeDup batch semantic dedup — the same
    # 16-list coarse quantizer, per-cluster exact pairwise cosine, and
    # the paper's keep-far-from-centroid rule. Input seeds 20 exact
    # clones (+200000 ids, the 'incr' trick) so the cos≈1.0 regime is
    # exercised alongside the random-pair regime at threshold 0.35
    # (synthetic embeddings are near-orthogonal: max in-cluster cosine
    # ≈0.53 at sf0.1, so 0.35 yields a real but sparse removal set).
    # Removal, dominance ranks, and both cosines are value-hashed.
    from ..operators.similarity import semantic_dedup

    sd_clones = e.filter(F.col("vec_id") < 20).select(
        (F.col("vec_id") + 200000).alias("vec_id"), "embedding"
    )
    sd_in = e.select("vec_id", "embedding").unionByName(sd_clones)
    # round 16: assignment is per-row deterministic, so the corpus
    # part of sd_in's coarse assignment IS the shared checkpointed
    # `assigned` — only the 20 clones assign fresh. Skips a second
    # corpus×16 argmin + window inside semantic_dedup.
    sd_assigned = assigned.select(
        "vec_id", "embedding", "__list"
    ).unionByName(
        ivf_assign_exact(sd_clones, cents, "vec_id", "embedding")
    )
    sem = semantic_dedup(
        sd_in, cents, "vec_id", "embedding", threshold=0.35,
        assigned=sd_assigned,
    ).select(
        F.lit("semdedup").alias("kind"),
        F.col("__list").cast("bigint").alias("q_id"),
        F.col("vec_id").alias("d_id"),
        F.col("max_dup_cos").alias("cosine"),
        F.col("n_dups").cast("bigint").alias("rank"),
    )
    return (
        ivf.unionByName(pq)
        .unionByName(diverse)
        .unionByName(incr)
        .unionByName(sem)
    )
