"""Similarity search over embedding columns (`array<float>`).

Every scorer is exact int64 arithmetic. Vectors are quantized to
micro-integers (`quantized`, or SQ8's int8 range), so dot products and
norms are order-free integer sums: engine-exact, and reproducible in
the DuckDB oracle bit for bit. Two private helpers carry that for
every scorer:
- `_vectors`: the id, the int vector and its norm √Σ iv², computed
  once per row, before any join or explode;
- `_cosine`: the one int-cosine quotient, so each scored pair costs
  exactly one `int_dot`.

The scorers, exact to approximate:
- `pairwise_cosine` + `topk_per_query`: exact cosine for every
  (query, corpus) pair, query side broadcast (the correctness
  baseline; O(n·q), never global at scale);
- `sq8_topk`: the same shape over int8-range vectors;
- `ivf_topk` (probe lists from an explicit centroid table),
  `pq_adc_topk` (IVF-PQ, ADC scoring), `lsh_topk` (random-hyperplane
  buckets) and `jl_topk` (projected shortlist, exact re-rank): the
  scale paths, which prune candidates and score the survivors
  exactly;
- `lsh_near_dup`, `incremental_ivf_near_dup`, `semantic_dedup`: the
  corpus×corpus near-dup funnels.

Hyperplane, projection and codebook literals are md5- or
table-derived (no RNG), so every funnel is deterministic across runs
AND engines.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F



#: quantization scale: embedding floats become exact micro-integers via
#: floor(v*1e6). floor on an exact double product is bit-deterministic
#: in every engine (unlike double→decimal casts, whose rounding differs
#: between Spark and DuckDB in ~1e-3 of boundary cases), so all dot
#: products and norms below are pure int64 arithmetic — order-free and
#: engine-exact. The 1e-6 quantization error is ~1e-6 relative on
#: unit-scale vectors: irrelevant for similarity ranking.
QUANT = 1_000_000.0


def quantized(vec_col: Column) -> Column:
    """Micro-int form of a float vector: floor(v·1e6) per component.
    floor on an exact double product is bit-deterministic in every
    engine, so everything downstream is int64 arithmetic."""
    return F.transform(
        vec_col, lambda x: F.floor(x.cast("double") * QUANT).cast("bigint")
    )


def int_dot(a: Column, b: Column) -> Column:
    """Σ aᵢ·bᵢ over micro-int vectors — int64, order-free, exact.
    (|v|≲10 ⇒ components <1e7, 64-dim dot <6.4e15 ≪ int64 max.)"""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y),
        F.lit(0).cast("bigint"),
        lambda acc, x: acc + x,
    )


def _vectors(
    df: DataFrame, p: str, iv: Column, *cols: Column | str
) -> DataFrame:
    """`cols` (the row's id, plus any carried key), `{p}_iv` = the int
    vector `iv`, and `{p}_nrm` = √Σ iv² — computed ONCE per row, before
    any join or explode, so `_cosine` costs one `int_dot` per pair.
    The int64 sum converts to double exactly (|Σ| < 2^53) and sqrt is
    correctly rounded, so the norm is bit-identical in every engine."""
    return df.select(*cols, iv.alias(f"{p}_iv")).withColumn(
        f"{p}_nrm",
        F.sqrt(int_dot(F.col(f"{p}_iv"), F.col(f"{p}_iv")).cast("double")),
    )


def _cosine(a: str, b: str) -> Column:
    """The int cosine of two `_vectors` sides (column prefixes `a`, `b`):
    their exact int64 dot, as a double, over the product of their norms
    — one dot and two correctly-rounded IEEE ops, the same value on any
    engine."""
    return int_dot(F.col(f"{a}_iv"), F.col(f"{b}_iv")).cast("double") / (
        F.col(f"{a}_nrm") * F.col(f"{b}_nrm")
    )


def pairwise_cosine(
    queries: DataFrame,
    data: DataFrame,
    id_col: str,
    vec_col: str,
) -> DataFrame:
    """Exact cosine for every (query, data) pair: broadcast the query
    side, score each pair with a single array-native int64 dot —
    no shuffle touches the data corpus. Returns (q_id, d_id, cosine)."""
    iv = quantized(F.col(vec_col))
    qv = _vectors(queries, "q", iv, F.col(id_col).alias("q_id"))
    dv = _vectors(data, "d", iv, F.col(id_col).alias("d_id"))
    return dv.crossJoin(F.broadcast(qv)).select(
        "q_id", "d_id", _cosine("q", "d").alias("cosine")
    )


def decontaminate_embeddings(
    corpus: DataFrame,
    bench: DataFrame,
    id_col: str,
    vec_col: str,
    threshold: float,
) -> DataFrame:
    """SEMANTIC benchmark decontamination: flag corpus items whose
    embedding is cosine-≥-threshold to ANY eval/benchmark embedding —
    the paraphrase-robust complement of `dedup.decontaminate`'s exact
    n-gram overlap (surface rewrites evade n-grams; embeddings don't).
    Returns (id, n_hits, max_cosine): one row per contaminated corpus
    item with how many benchmark vectors it matched and its worst
    similarity; clean items are absent (anti-join to drop them).

    100 TB shape: the benchmark side is an eval suite — it BROADCASTS;
    the corpus is scored in place by quantized int64 dots (one linear
    map scan, no corpus shuffle) and only rows over the threshold
    reach the final aggregate, which is bounded by contamination
    volume, not corpus size — the same funnel discipline as the
    n-gram decontaminator. For benchmark sets too big to broadcast
    as raw vectors, pre-filter candidates with `lsh_near_dup`'s
    bucket funnel and verify with this scorer."""
    scored = pairwise_cosine(bench, corpus, id_col, vec_col)
    return (
        scored.filter(F.col("cosine") >= threshold)
        .groupBy(F.col("d_id").alias(id_col))
        .agg(
            F.count("*").alias("n_hits"),
            F.max("cosine").alias("max_cosine"),
        )
    )


def topk_per_query(pairs: DataFrame, k: int) -> DataFrame:
    """Deterministic per-query top-k: rank by (cosine desc, d_id)."""
    w = Window.partitionBy("q_id").orderBy(
        F.col("cosine").desc(), F.col("d_id").asc()
    )
    # long, not int: SQL-engine ROW_NUMBER is BIGINT and parity
    # hashing wants both sides at the same width
    return (
        pairs.withColumn("rank", F.row_number().over(w).cast("long"))
        .filter(F.col("rank") <= k)
    )


def rrf_fuse(
    dense: DataFrame,
    lexical: DataFrame,
    id_col: str = "d_id",
    k_const: int = 60,
) -> DataFrame:
    """Reciprocal-rank fusion (Cormack/Clarke/Büttcher 2009) of two
    retrieval rank lists — the hybrid-search glue of a RAG pipeline:
    a dense (embedding top-k, e.g. `topk_per_query` over
    `pairwise_cosine`, or `ivf_topk`) and a lexical
    (`text.bm25_topk`) list over the same corpus ids fuse to
    one ranking per query without score calibration, since RRF reads
    only RANK positions: score(d) = Σ_lists 1/(k_const + rank_d).

    Inputs carry (q_id, `id_col`, rank); a document absent from one
    list simply contributes nothing for it (full outer join +
    coalesce-0 — the J11 discipline), so a query with an empty lexical
    list degrades to pure dense ranking and vice versa.

    Determinism: each term is one IEEE division 1.0/(k_const+rank) of
    exact integers and the fused score is ONE fixed-order addition of
    the two terms — bit-identical on any engine, no rounding needed
    before the (score desc, id) re-rank.

    100 TB shape: rank lists are (queries × k)-sized — retrieval
    output, not corpus — so the join and the per-query window touch
    KB-per-query data no matter the corpus size; the corpus-scale
    work lives in the two retrievers feeding this. Returns
    (q_id, `id_col`, rrf_score, rank)."""

    def contrib(r: Column) -> Column:
        return F.coalesce(
            F.lit(1.0) / (F.lit(float(k_const)) + r.cast("double")),
            F.lit(0.0),
        )

    d = dense.select("q_id", id_col, F.col("rank").alias("__rd"))
    l = lexical.select("q_id", id_col, F.col("rank").alias("__rl"))
    fused = (
        d.join(l, ["q_id", id_col], "full_outer")
        .select(
            "q_id",
            id_col,
            (contrib(F.col("__rd")) + contrib(F.col("__rl"))).alias(
                "rrf_score"
            ),
        )
    )
    w = Window.partitionBy("q_id").orderBy(
        F.col("rrf_score").desc(), F.col(id_col).asc()
    )
    return fused.withColumn("rank", F.row_number().over(w).cast("long"))


def sq8_scales(data: DataFrame, vec_col: str, dims: int) -> DataFrame:
    """One-row frame with the per-dimension symmetric-quantization
    scale: sv[j] = max(|v_j|) over the corpus. MAX is comparison-only
    (no rounding), so Spark and any SQL engine agree bit-for-bit —
    which is what lets the SQ8 path keep a full value-hash oracle.
    One aggregation pass (dims max-expressions), broadcast to
    consumers; at 100 TB this is the classic train-the-quantizer
    scan, amortized by persisting the row."""
    maxes = [
        F.max(F.abs(F.col(vec_col)[i].cast("double"))).alias(f"__s{i}")
        for i in range(dims)
    ]
    return data.agg(*maxes).select(
        F.array(*[F.col(f"__s{i}") for i in range(dims)]).alias("__sv")
    )


def sq8_quantized(vec_col: Column, scales_col: Column) -> Column:
    """int8-range vector: q_j = floor(v_j·127/sv_j) ∈ [−127, 127]
    (0 where the dimension is constant-zero). Two correctly-rounded
    IEEE ops per component — bit-identical in every engine."""
    return F.zip_with(
        vec_col,
        scales_col,
        lambda v, s: F.when(s == 0.0, F.lit(0).cast("bigint")).otherwise(
            F.floor(v.cast("double") * 127.0 / s).cast("bigint")
        ),
    )


def sq8_topk(
    queries: DataFrame,
    data: DataFrame,
    id_col: str,
    vec_col: str,
    k: int,
    dims: int = 64,
    exclude_self: bool = False,
) -> DataFrame:
    """Scalar-quantized (SQ8) exact cosine top-k: search runs entirely
    in the int8-quantized domain — 8× less memory traffic than float32
    and pure int64 dot products, the standard compressed-domain rescore
    tier between brute force and IVF/LSH pruning. Same O(n·q) pair
    shape as `pairwise_cosine` (broadcast query side, corpus never
    shuffles); recall vs the float baseline is pinned in
    tests/test_similarity.py. Everything (scales, quantization, dots)
    is order-free exact arithmetic → full DuckDB value-hash oracle."""
    scales = F.broadcast(sq8_scales(data, vec_col, dims))
    iv = sq8_quantized(F.col(vec_col), F.col("__sv"))
    qv = _vectors(
        queries.crossJoin(scales), "q", iv, F.col(id_col).alias("q_id")
    )
    dv = _vectors(
        data.crossJoin(scales), "d", iv, F.col(id_col).alias("d_id")
    )
    pairs = dv.crossJoin(F.broadcast(qv)).select(
        "q_id", "d_id", _cosine("q", "d").alias("cosine")
    )
    if exclude_self:
        # when queries ⊆ corpus, drop the trivial self pair BEFORE
        # ranking so the k-th real neighbor isn't pushed out
        pairs = pairs.filter(F.col("q_id") != F.col("d_id"))
    return topk_per_query(pairs, k)


def ivf_assign_exact(
    data: DataFrame,
    cents: DataFrame,
    id_col: str,
    vec_col: str,
) -> DataFrame:
    """IVF assignment against an explicit centroid table (`cents`:
    (__list, centroid-vector) — e.g. a deterministic subset of the
    corpus, or persisted trained centers): each vector's single
    nearest list by quantized squared-L2, i.e. `nearest_lists_exact`
    with nprobe=1 (same scorer, same tie-break to the lower list id).
    Returns (id_col, vec_col, __list): the inverted index `ivf_topk`
    probes.

    Scale: the index is built ONCE and written out (ideally
    partitioned or bucketed by `__list`, so a probe is a
    partition-pruned scan)."""
    return nearest_lists_exact(data, cents, id_col, vec_col, nprobe=1)


def nearest_lists_exact(
    queries: DataFrame,
    cents: DataFrame,
    id_col: str,
    vec_col: str,
    nprobe: int,
) -> DataFrame:
    """The `nprobe` nearest centroid lists per query vector, by the
    same quantized squared-L2 as `ivf_assign_exact` — one exploded
    (query, __list) row per probe."""
    c = cents.select(
        F.col("__list"), quantized(F.col(vec_col)).alias("__civ")
    )
    d2 = F.aggregate(
        F.zip_with(
            F.col("__qiv"),
            F.col("__civ"),
            lambda x, y: (x - y) * (x - y),
        ),
        F.lit(0).cast("bigint"),
        lambda acc, x: acc + x,
    )
    # round 16: quantize ONCE per query row before the centroid cross
    # join — inlined in the per-pair d2 the interpreted transform
    # re-ran n_lists times per vector
    scored = (
        queries.withColumn("__qiv", quantized(F.col(vec_col)))
        .crossJoin(F.broadcast(c))
        .withColumn("__d2", d2)
        .drop("__qiv")
    )
    w = Window.partitionBy(id_col).orderBy(
        F.col("__d2").asc(), F.col("__list").asc()
    )
    return (
        scored.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") <= nprobe)
        .select(F.col(id_col), F.col(vec_col), F.col("__list"))
    )


def ivf_topk(
    probes: DataFrame,
    assigned: DataFrame,
    id_col: str,
    vec_col: str,
    k: int,
) -> DataFrame:
    """IVF probe: each query scans only its probed inverted lists
    (`probes` = `nearest_lists_exact` rows, ~nprobe/n_lists of the
    corpus), scored with the exact int cosine within them, then
    `topk_per_query`. `assigned` is the `ivf_assign_exact` index.
    Returns (q_id, d_id, cosine, rank).

    The probe side is a broadcast join on `__list` — the corpus never
    shuffles; with a `__list`-partitioned index the probe is a
    dynamically pruned scan."""
    iv = quantized(F.col(vec_col))
    qp = _vectors(probes, "q", iv, F.col(id_col).alias("q_id"), "__list")
    dv = _vectors(assigned, "d", iv, F.col(id_col).alias("d_id"), "__list")
    scored = dv.join(F.broadcast(qp), ["__list"]).select(
        "q_id", "d_id", _cosine("q", "d").alias("cosine")
    )
    return topk_per_query(scored, k)


def incremental_ivf_near_dup(
    new_df: DataFrame,
    state: DataFrame,
    cents: DataFrame,
    id_col: str,
    vec_col: str,
    threshold: float,
    nprobe: int = 1,
) -> tuple[DataFrame, DataFrame]:
    """Daily-batch EMBEDDING near-dup against a persisted IVF state —
    the embedding sibling of `dedup.incremental_lsh_candidates`
    (SemDeDup for a rolling crawl). `state` is the append-only
    (doc bigint, __list int, iv array<bigint>) table of KEPT history
    vectors in quantized micro-int form: history floats never reload,
    and the state row is ~8·dims bytes of exactly the data scoring
    needs.

    Each new vector probes its `nprobe` nearest centroid lists and
    scores EXACTLY (int64 cosine) against history ∪ new-batch rows in
    those lists — never history×history. Candidate volume is bounded
    by list occupancy, not corpus size. Returns (pairs, new_rows):

    - pairs: (id_a, id_b, cosine) with id_a < id_b and cosine ≥
      threshold. Crawl ids grow monotonically, so the greater id of a
      pair is always the newcomer → dedup policy is "drop id_b" (the
      `prepare_batch` convention).
    - new_rows: the batch's (doc, __list, iv) state rows. The caller
      appends only the KEPT docs' rows (semi-join against the
      survivors — the q70 'incr_near' ghost rule: state rows for
      dropped newcomers would make tomorrow's batch collide with
      ghosts).

    100 TB shape: the batch side (probes) BROADCASTS; the state table
    is scanned in place by a broadcast hash join on `__list` — with a
    `__list`-bucketed/partitioned state table the probe is a pruned
    scan, and history never shuffles. Norms are taken once per pool
    row and per probe row before the join, so a candidate pair costs
    one dot."""
    probes = nearest_lists_exact(new_df, cents, id_col, vec_col, nprobe)
    own = ivf_assign_exact(new_df, cents, id_col, vec_col)
    new_rows = own.select(
        F.col(id_col).alias("doc"),
        "__list",
        quantized(F.col(vec_col)).alias("iv"),
    )
    n = _vectors(
        probes, "n", quantized(F.col(vec_col)),
        F.col(id_col).alias("n_id"), "__list",
    )
    pool = _vectors(
        state.unionByName(new_rows), "d", F.col("iv"),
        F.col("doc").alias("d_id"), "__list",
    )
    pairs = (
        pool.join(F.broadcast(n), ["__list"])
        .filter(F.col("d_id") != F.col("n_id"))
        .select(
            F.least("d_id", "n_id").alias("id_a"),
            F.greatest("d_id", "n_id").alias("id_b"),
            _cosine("n", "d").alias("cosine"),
        )
        .filter(F.col("cosine") >= F.lit(threshold))
        # a pair reachable through several probed lists (nprobe > 1,
        # or two new vectors probing each other's list) scores the
        # same exact int64 cosine every time — distinct collapses it
        .distinct()
    )
    return pairs, new_rows


def _d2_unrolled(a: Column, b: Column, dims: int) -> Column:
    """Σ (aᵢ−bᵢ)² as `dims` explicit element_at terms — NO lambdas, so
    the whole sum stays inside whole-stage codegen. Higher-order
    functions (zip_with/aggregate) are INTERPRETED in Spark; measured
    on the q80 'knn' shape (1800×200 pairs, 64 dims, sf0.1): this form
    0.15 s vs 3.2 s for the zip_with+aggregate fold — and unrolling
    INSIDE a transform() lambda is even worse (9.7 s: the giant
    expression tree is still interpreted, per element). Unroll only
    works outside lambdas."""
    terms = None
    for j in range(1, dims + 1):
        d = F.element_at(a, j) - F.element_at(b, j)
        terms = d * d if terms is None else terms + d * d
    return terms


def knn_classify(
    queries: DataFrame,
    train: DataFrame,
    id_col: str,
    vec_col: str,
    label_col: str,
    k: int = 5,
    dims: int = 64,
) -> DataFrame:
    """Exact k-nearest-neighbor classification over an embedding
    column — the label-propagation / nearest-neighbor-labeling step of
    a training-data pipeline (tag an unlabeled corpus from a small
    curated labeled set), and the classic non-parametric member of the
    classifier family (X6).

    Fully deterministic, no floats anywhere: distances are quantized
    int64 squared-L2, the k-set breaks ties by (d2, train id), and the
    vote breaks ties by (votes desc, label asc). Returns one row per
    query: (id_col, pred_label, votes, kth_d2) — kth_d2 is the k-set's
    boundary distance (exact int in a double), so a consumer can
    threshold confidence. If |train| < k the vote runs over what
    exists.

    The train side is broadcast, and each (query, train) pair becomes
    one skinny (id, tid, lbl, d2) row with the distance UNROLLED into
    codegen (`_d2_unrolled` — 20× an interpreted `zip_with` fold
    locally); a window then keeps the top k and an aggregate counts the
    votes. The corpus never moves for scoring (pairs are born in its
    partitions); the k-set window shuffles ~30 B × |train| per corpus
    row.

    For train sets beyond ~10^5, generate candidates with the IVF/LSH
    funnels first and re-rank with this scorer (the q80 pattern).

    NULL / wrong-dims vectors (round-10 hardening): a NULL distance
    sorts FIRST under the ascending k-set window, so one bad TRAIN
    vector would occupy rank 1 of every query's k-set — bad train
    rows (NULL/ragged vector, NULL label) are excluded from the index
    up front. Unscorable QUERIES (NULL/ragged vector) are not silently
    labeled by tid order either: they come back with NULL pred_label,
    0 votes, NULL kth_d2."""
    lbl_type = train.schema[label_col].dataType
    q_all = queries.select(F.col(id_col), F.col(vec_col).alias("__v"))
    q_ok = F.coalesce(
        F.size(F.col("__v")) == F.lit(dims), F.lit(False)
    )
    unscored = q_all.filter(~q_ok).select(
        F.col(id_col),
        F.lit(None).cast(lbl_type).alias("pred_label"),
        F.lit(0).cast("bigint").alias("votes"),
        F.lit(None).cast("double").alias("kth_d2"),
    )
    q = q_all.filter(q_ok).select(
        F.col(id_col), quantized(F.col("__v")).alias("__iv")
    )
    train = train.filter(
        F.coalesce(
            (F.size(F.col(vec_col)) == F.lit(dims))
            & F.col(label_col).isNotNull(),
            F.lit(False),
        )
    )
    tr = train.select(
        F.col(id_col).alias("__tid"),
        F.col(label_col).alias("__lbl"),
        quantized(F.col(vec_col)).alias("__tiv"),
    )
    pairs = q.crossJoin(F.broadcast(tr)).select(
        F.col(id_col),
        "__tid",
        "__lbl",
        _d2_unrolled(F.col("__iv"), F.col("__tiv"), dims).alias("__d2"),
    )
    w = Window.partitionBy(id_col).orderBy(
        F.col("__d2").asc(), F.col("__tid").asc()
    )
    kset = pairs.withColumn("__rn", F.row_number().over(w)).filter(
        F.col("__rn") <= k
    )
    votes = kset.groupBy(id_col, "__lbl").agg(
        F.count(F.lit(1)).alias("__nv")
    )
    w2 = Window.partitionBy(id_col).orderBy(
        F.col("__nv").desc(), F.col("__lbl").asc()
    )
    winner = votes.withColumn("__wrn", F.row_number().over(w2)).filter(
        F.col("__wrn") == 1
    )
    bound = kset.groupBy(id_col).agg(F.max("__d2").alias("__kth"))
    return winner.join(bound, id_col).select(
        F.col(id_col),
        F.col("__lbl").alias("pred_label"),
        F.col("__nv").cast("bigint").alias("votes"),
        F.col("__kth").cast("double").alias("kth_d2"),
    ).unionByName(unscored)


def semantic_dedup(
    data: DataFrame,
    cents: DataFrame,
    id_col: str,
    vec_col: str,
    threshold: float,
    assigned: DataFrame | None = None,
    max_cluster_size: int | None = None,
) -> DataFrame:
    """SemDeDup (Abbas et al. 2023, arXiv:2303.09540): semantic
    deduplication by embedding clustering — the *batch corpus-level*
    sibling of `incremental_ivf_near_dup` and the dedup complement of
    the `stratified_fixed_k` diversity pass.

    Vectors are clustered by the coarse quantizer (`cents`: (__list,
    centroid vector), same contract as `ivf_assign_exact`); within
    each cluster every pair is scored with the exact int64-quantized
    cosine, and for each pair at or above `threshold` the member that
    sits CLOSER to its centroid is removed — the paper's "keep
    examples with low similarity to centroids" rule (§4.1: extreme
    points of a semantic cluster carry more training signal than its
    prototypes). Ties on centroid-cosine (e.g. exact clones) keep the
    lower id. The rule is pairwise-local, so a removal never depends
    on iteration order: x is removed iff SOME strictly-better-ranked
    in-cluster neighbor is within `threshold` — deterministic on any
    partitioning, no sequential scan.

    Returns the REMOVED rows: (id_col, __list, cos_c, max_dup_cos,
    n_dups) where cos_c is the member's centroid cosine, max_dup_cos
    the strongest dominating duplicate's cosine, and n_dups the count
    of strictly-better-ranked duplicates. Survivors = `data` anti-join
    the result on `id_col`.

    100 TB shape: assignment is the broadcast-centroid argmin (one
    codegen pass, no shuffle); the within-cluster self-join shuffles
    each side once on `__list` — per-cluster pairwise is SemDeDup's
    own cost model, and the caller bounds it by scaling k with n
    (the paper uses k≈n/5000; a cluster capped at c members costs
    O(c²) pairs, never O(n²)). The dominance test and both cosines
    are int64 dots + one IEEE division, engine-exact, inside codegen;
    the final per-victim aggregate shuffles only pair survivors.

    `max_cluster_size` (round 11): the HARD guard against the
    degenerate hot cluster the k≈n/5000 heuristic cannot promise away
    — mass-produced near-identical spam is exactly what SemDeDup
    targets, and one such cluster makes one task quadratic. When set,
    clusters larger than the cap compare each member against only
    `max_cluster_size` hash-sampled representatives (deterministic:
    lowest tagged_hash64 of id first), so the worst task is
    O(c·cap) instead of O(c²); clusters at or under the cap are
    untouched (exact pairwise). Recall is LOSSY for oversized
    clusters — a duplicate pair where neither end is a representative
    goes unseen — which is the documented bargain; the all-clones
    case still collapses (every clone ranks against the sampled reps)
    and the global closest-to-centroid extreme always survives. A
    `UserWarning` fires (one |clusters|-sized count job) naming how
    many clusters fell back."""
    if assigned is None:
        assigned = ivf_assign_exact(data, cents, id_col, vec_col)
    iv = quantized(F.col(vec_col))
    c = _vectors(cents, "c", iv, "__list")
    # a NULL/zero CENTROID is a broken model table — fail with a clear
    # message instead of a codegen DIVIDE_BY_ZERO five stages later
    c = c.withColumn(
        "c_nrm",
        F.when(F.col("c_nrm") > 0, F.col("c_nrm")).otherwise(
            F.raise_error(
                F.concat(
                    F.lit("semantic_dedup: centroid __list="),
                    F.col("__list").cast("string"),
                    F.lit(" has a NULL or zero vector — cosine to it"
                          " is undefined; fix the cents table"),
                )
            )
        ),
    )
    mem = (
        _vectors(assigned, "m", iv, F.col(id_col), "__list")
        # NULL/zero DATA vectors: cosine is undefined, so such a row
        # can never be PROVEN a semantic duplicate — it survives (the
        # knn/jl hardening family: previously this was a cryptic
        # codegen DIVIDE_BY_ZERO crash under ANSI)
        .filter(F.col("m_nrm") > 0)
        .join(F.broadcast(c), ["__list"])
        .withColumn("__cosc", _cosine("m", "c"))
        .drop("c_iv", "c_nrm")
    )
    y_src = mem
    if max_cluster_size is not None:
        if max_cluster_size < 1:
            raise ValueError("max_cluster_size must be >= 1")
        import warnings

        from .text import tagged_hash64

        w = Window.partitionBy("__list").orderBy(
            tagged_hash64(
                "semdedup_cap", F.col(id_col).cast("string")
            ),
            F.col(id_col),
        )
        # NULL-id rows are INERT in the pairwise stage either way (the
        # __xid != __yid filter drops their pairs), but left in the
        # ranking they would tie on the tag-only hash and occupy rep
        # slots in partition-dependent order — excluding them both
        # restores layout determinism and frees slots for reps that
        # can actually dominate
        ranked = mem.filter(F.col(id_col).isNotNull()).withColumn(
            "__rk", F.row_number().over(w)
        )
        n_over = (
            ranked.groupBy("__list")
            .agg(F.max("__rk").alias("__csz"))
            .filter(F.col("__csz") > max_cluster_size)
            .count()
        )
        if n_over:
            warnings.warn(
                f"semantic_dedup: {n_over} cluster(s) exceed "
                f"max_cluster_size={max_cluster_size}; comparing "
                "members against that many hash-sampled "
                "representatives instead of full pairwise "
                "(recall-lossy for those clusters — consider more "
                "centroids)",
                UserWarning,
                stacklevel=2,
            )
        y_src = ranked.filter(
            F.col("__rk") <= max_cluster_size
        ).drop("__rk")
    x = mem.select(
        F.col(id_col).alias("__xid"),
        F.col("__list"),
        F.col("m_iv").alias("x_iv"),
        F.col("m_nrm").alias("x_nrm"),
        F.col("__cosc").alias("__xcosc"),
    )
    y = y_src.select(
        F.col(id_col).alias("__yid"),
        F.col("__list"),
        F.col("m_iv").alias("y_iv"),
        F.col("m_nrm").alias("y_nrm"),
        F.col("__cosc").alias("__ycosc"),
    )
    dominated = (
        x.join(y, ["__list"])
        .filter(F.col("__xid") != F.col("__yid"))
        .withColumn("__cxy", _cosine("x", "y"))
        .filter(
            (F.col("__cxy") >= F.lit(threshold))
            & (
                (F.col("__ycosc") < F.col("__xcosc"))
                | (
                    (F.col("__ycosc") == F.col("__xcosc"))
                    & (F.col("__yid") < F.col("__xid"))
                )
            )
        )
    )
    return dominated.groupBy(
        F.col("__xid").alias(id_col), "__list", F.col("__xcosc").alias("cos_c")
    ).agg(
        F.max("__cxy").alias("max_dup_cos"),
        F.count(F.lit(1)).alias("n_dups"),
    )


def pq_codebooks(
    cents: DataFrame, vec_col: str, m: int, dsub: int
) -> list[list[list[int]]]:
    """Product-quantization codebooks from an explicit centroid table
    (`cents`: (__list, vector) — same deterministic table the IVF exact
    path uses): ``codebooks[s][j]`` is codeword *j*'s micro-int
    subvector for subspace *s* (dims ``[s·dsub, (s+1)·dsub)``).

    The collect is the quantizer-training output — `n_codewords` rows,
    the PQ analog of `sq8_scales`' one-row scale frame — and is
    embedded into expressions as literals (broadcast-equivalent; the
    codebook is what a real pipeline ships to every executor). At
    100 TB the codebook is still this size: K·m·dsub ints, KBs."""
    rows = (
        cents.select(
            F.col("__list").alias("__j"),
            quantized(F.col(vec_col)).alias("__iv"),
        )
        .orderBy("__j")
        .collect()
    )
    if rows and len(rows[0]["__iv"]) < m * dsub:
        # a silent mismatch would slice empty codewords and encode
        # every out-of-range subspace to a constant code 0
        raise ValueError(
            f"m*dsub = {m * dsub} exceeds vector dims "
            f"{len(rows[0]['__iv'])}"
        )
    return [
        [list(r["__iv"][s * dsub : (s + 1) * dsub]) for r in rows]
        for s in range(m)
    ]


def _pq_codes_sql(iv_name: str, codebooks: list[list[list[int]]]) -> str:
    """SQL text encoding a micro-int vector column into its PQ code
    array: per subspace, the index of the squared-L2-nearest codeword
    (ties to the lower index via struct sort on (d2, j)). One `F.expr`
    string for the same reason as `_bucket_array_sql`: literal-by-
    literal Column trees cost thousands of py4j round trips."""
    dsub = len(codebooks[0][0])
    subs = []
    for s, cb in enumerate(codebooks):
        sub = f"slice({iv_name}, {s * dsub + 1}, {dsub})"
        entries = []
        for j, cw in enumerate(cb):
            lit = "array(" + ",".join(f"{v}L" for v in cw) + ")"
            d2 = (
                f"aggregate(zip_with({sub}, {lit}, "
                "(x, y) -> (x - y) * (x - y)), 0L, (acc, x) -> acc + x)"
            )
            entries.append(f"named_struct('d2', {d2}, 'j', {j}L)")
        subs.append(f"array_sort(array({', '.join(entries)}))[0].j")
    return "array(" + ", ".join(subs) + ")"


def _pq_lut_sql(iv_name: str, codebooks: list[list[list[int]]]) -> str:
    """SQL text for a query's ADC lookup table:
    ``lut[s][j] = dot(q_sub[s], codeword[s][j])`` (int64, exact). Built
    once per query row; candidate scoring is then m array lookups."""
    dsub = len(codebooks[0][0])
    rows = []
    for s, cb in enumerate(codebooks):
        sub = f"slice({iv_name}, {s * dsub + 1}, {dsub})"
        dots = []
        for cw in cb:
            lit = "array(" + ",".join(f"{v}L" for v in cw) + ")"
            dots.append(
                f"aggregate(zip_with({sub}, {lit}, (x, y) -> x * y), "
                "0L, (acc, x) -> acc + x)"
            )
        rows.append("array(" + ", ".join(dots) + ")")
    return "array(" + ", ".join(rows) + ")"


def _pq_norm2_sql(codebooks: list[list[list[int]]]) -> str:
    """SQL literal ``norm2[s][j] = ‖codeword[s][j]‖²`` (python-side
    exact ints — the codebook is already a literal)."""
    rows = []
    for cb in codebooks:
        rows.append(
            "array("
            + ", ".join(f"{sum(v * v for v in cw)}L" for cw in cb)
            + ")"
        )
    return "array(" + ", ".join(rows) + ")"


_PQ_GATHER = (
    "aggregate(zip_with({table}, {codes}, "
    "(r, c) -> element_at(r, cast(c as int) + 1)), 0L, (acc, x) -> acc + x)"
)


def pq_adc_topk(
    queries: DataFrame,
    data: DataFrame,
    cents: DataFrame,
    id_col: str,
    vec_col: str,
    k: int,
    m: int = 8,
    dsub: int = 8,
    nprobe: int = 4,
    assigned: DataFrame | None = None,
    probes: DataFrame | None = None,
) -> DataFrame:
    """IVF-PQ with asymmetric-distance (ADC) scoring — the compressed-
    domain scale tier past SQ8: the corpus is stored as `m` sub-space
    codeword indices (here 8 codes ≈ 4 B/vector at K=16 vs 256 B of
    float32 — 64× less scan traffic), and candidate scoring never
    touches vectors at all: each query precomputes its dot product
    against every codeword (`lut[s][j]`, K·m int64s), so a candidate's
    approximate dot is m array lookups + adds. The denominator uses the
    reconstructed norm ‖d̂‖ = √Σ_s ‖codeword[s][code_s]‖².

    Composition with IVF: same deterministic coarse quantizer as
    `ivf_assign_exact` (probes prune to `nprobe` lists), PQ scores
    inside the probed lists. Everything — codebooks (the centroid
    table's subvectors), encoding argmins, LUTs — is int64-exact and
    tie-broken, so the whole funnel is value-hash-reproducible in SQL:
    the approximation error of PQ is deterministic, not stochastic.
    Recall vs the exact baseline is pinned in tests/test_similarity.py.

    Scale: the PQ ENCODE step itself is a pure projection
    (`_pq_codes_sql`, no-Exchange test-pinned); the default IVF coarse
    assignment around it (`ivf_assign_exact`) shuffles the corpus once
    on the id for its argmin window — pass `assigned` (a persisted
    index, or the sibling 'ivf' branch's assignment) to share/skip
    that, and `probes` likewise for the query side. Scoring joins the
    (id, __list, codes) corpus — fixed-width rows — against the
    broadcast query side; the corpus never shuffles at score time.
    Reference parity: generalizes `Catch_Probability_Model.ipynb`'s
    nearest-neighbor feature search to billion-vector corpora
    (SURVEY.md §2.9 similarity family)."""
    codebooks = pq_codebooks(cents, vec_col, m, dsub)
    if assigned is None:
        assigned = ivf_assign_exact(data, cents, id_col, vec_col)
    if probes is None:
        probes = nearest_lists_exact(queries, cents, id_col, vec_col, nprobe)
    codes = (
        assigned
        .withColumn("__iv", quantized(F.col(vec_col)))
        .select(
            F.col(id_col).alias("d_id"),
            F.col("__list"),
            F.expr(_pq_codes_sql("__iv", codebooks)).alias("__codes"),
        )
    )
    # LUT + norm once per QUERY (from `queries`), not once per
    # (query, probe-list) row — the probe explode then carries only
    # (q_id, __list) and joins the per-query LUT back in, so the
    # broadcast holds one LUT copy per query instead of nprobe copies
    qmeta = _vectors(
        queries, "q", quantized(F.col(vec_col)), F.col(id_col).alias("q_id")
    ).select(
        "q_id", F.expr(_pq_lut_sql("q_iv", codebooks)).alias("__lut"), "q_nrm"
    )
    qp = probes.select(F.col(id_col).alias("q_id"), "__list").join(
        F.broadcast(qmeta), ["q_id"]
    )
    adc_dot = F.expr(_PQ_GATHER.format(table="__lut", codes="__codes"))
    d_norm2 = F.expr(
        _PQ_GATHER.format(table=_pq_norm2_sql(codebooks), codes="__codes")
    )
    scored = codes.join(F.broadcast(qp), ["__list"]).select(
        "q_id",
        "d_id",
        (
            adc_dot.cast("double")
            / (F.col("q_nrm") * F.sqrt(d_norm2.cast("double")))
        ).alias("cosine"),
    )
    return topk_per_query(scored, k)


def _plane_signs(plane: int, dims: int) -> list[float]:
    """h_plane[d] ∈ {−1, +1} from md5 of (plane, d) — computed driver-
    side with the same math as `portable_hash64`, so the planes are
    deterministic across runs/engines without RNG or a stored matrix."""
    import hashlib

    out = []
    for d in range(dims):
        h = int(hashlib.md5(f"plane:{plane}:{d}".encode()).hexdigest()[:15], 16)
        out.append(1.0 if h % 2 == 0 else -1.0)
    return out


def _bucket_array_sql(iv_name: str, planes: int, tables: int, dims: int) -> str:
    """SQL text for `array(bucket_t0, ..., bucket_t{tables-1})` over a
    pre-quantized micro-int column `iv_name`: each bucket is the table
    index concatenated with `planes` hyperplane sign bits. Each plane
    is an inline ±1 array literal; the dot is one zip_with/aggregate —
    and, crucially, the WHOLE thing is one `F.expr` string, not a
    literal-by-literal Column tree. The Column form cost ~3000 py4j
    round trips per side (24 planes × 64 `F.lit`s ×2) ≈ 8 s of
    driver-side plan build PER QUERY CALL — measured round 5; the
    string form parses in milliseconds. Sign bits come from int64 dots
    (integer addition is associative), so every bucket key is
    bit-identical under any partitioning AND any engine; `table`
    offsets the md5 plane indices so each hash table draws an
    independent set of hyperplanes."""
    tbl_parts = []
    for t in range(tables):
        bits = []
        for p in range(planes):
            signs = _plane_signs(t * 1000 + p, dims)
            lit = "array(" + ",".join(f"{int(v)}L" for v in signs) + ")"
            bits.append(
                f"(case when aggregate(zip_with({iv_name}, {lit}, "
                "(x, y) -> x * y), 0L, (acc, x) -> acc + x) > 0 "
                "then '1' else '0' end)"
            )
        tbl_parts.append(f"concat('{t}', {', '.join(bits)})")
    return "array(" + ", ".join(tbl_parts) + ")"


def _banded(
    df: DataFrame, id_col: str, vec_col: str, p: str,
    planes: int, tables: int, dims: int,
) -> DataFrame:
    """(id, iv, nrm, bucket)-exploded side for a bucket join, prefixed
    `p`. Quantization and the norm are computed ONCE per vector before
    the explode; downstream scoring reads the iv/nrm columns, so the
    per-candidate cost is exactly one zip_with dot."""
    pre = _vectors(
        df, p, quantized(F.col(vec_col)), F.col(id_col).alias(f"{p}_id")
    )
    return pre.select(
        f"{p}_id",
        f"{p}_iv",
        f"{p}_nrm",
        F.explode(
            F.expr(_bucket_array_sql(f"{p}_iv", planes, tables, dims))
        ).alias("bucket"),
    )


def lsh_topk(
    queries: DataFrame,
    data: DataFrame,
    id_col: str,
    vec_col: str,
    k: int,
    planes: int = 3,
    tables: int = 4,
    dims: int = 64,
) -> DataFrame:
    """ANN: bucket both sides by hyperplane signs, score exactly within
    shared buckets only. `tables` independent hash tables
    OR-amplify recall (a pair is a candidate if it collides in ANY
    table); `planes` AND-amplifies precision (candidate volume shrinks
    ~2^planes per table). Recall vs the exact baseline is
    pytest-checked (tests/test_similarity.py)."""
    # one exploded bucket array per side, not a `tables`-way union —
    # the source subtree appears once in the plan. Score INSIDE the
    # bucket join, then dedupe the scalar rows: a pair colliding in t
    # tables re-scores t× (64 multiplies), which is far cheaper than
    # shuffling both 64-int vectors through a dropDuplicates just to
    # score once. Query side broadcast: the corpus never shuffles.
    # Scoring uses the quantized-exact cosine (same int64 dot as the
    # brute-force path) so results are engine-exact and
    # oracle-comparable.
    qe = _banded(queries, id_col, vec_col, "q", planes, tables, dims)
    de = _banded(data, id_col, vec_col, "d", planes, tables, dims)
    scored = (
        de.join(F.broadcast(qe), ["bucket"])
        .select("q_id", "d_id", _cosine("q", "d").alias("cosine"))
        .dropDuplicates(["q_id", "d_id"])
    )
    return topk_per_query(scored, k)


def lsh_near_dup(
    data: DataFrame,
    id_col: str,
    vec_col: str,
    threshold: float,
    planes: int = 6,
    tables: int = 4,
    dims: int = 64,
    max_bucket: int | None = None,
) -> DataFrame:
    """Embedding near-dup pairs via the LSH candidate funnel: pairs
    that collide in ANY hash table are exactly rescored (quantized
    int64 cosine) and kept at ``cosine >= threshold``. Returns
    (q_id, d_id, cosine) with q_id < d_id.

    This is the corpus×corpus analog of `lsh_topk` — and the reason it
    exists: an all-pairs `pairwise_cosine(e, e)` is O(n²) pair
    generation, a scale-killer at 100× data. Here each vector is
    exploded once per table (bucket key = `planes` sign bits), both
    sides shuffle ON THE BUCKET KEY only, and the exact scorer runs
    inside bucket-local joins — candidate volume ~ tables·n²/2^planes
    in expectation, tunable. Default 6 planes × 4 tables ⇒ ~n²/16
    pairs scored. Per-bucket skew is bounded by the sign-bit split; at
    extreme skew, raise `planes` (more, smaller buckets) before
    salting. Buckets are md5-derived (no RNG), so results are
    deterministic across runs AND reproducible in SQL engines —
    recall vs the exact all-pairs baseline is the documented LSH
    trade (tests/test_similarity.py pins it on the test corpus).
    Norms are computed once per vector BEFORE the explode; the
    per-candidate cost is exactly one zip_with dot.

    ``max_bucket`` (round 15): the same production occupancy guard as
    `dedup.lsh_candidates` — the ~tables·n²/2^planes expectation above
    is QUADRATIC, and the scale probe measured q80's 'neardup' branch
    at growth exponent ~1.5 on the x2/x4 points because of it. Tables
    whose bucket holds > max_bucket vectors are near-constant regions
    of the sphere (or a skewed cluster); dropping them before the
    bucket join caps per-bucket work at max_bucket² with the
    documented recall trade. Default None = exact documented
    semantics (the oracle-checked path); at scale, raise `planes`
    AND set a cap."""
    # band ONCE and self-join the SAME frame under two aliases,
    # renaming after the join: both sides are one plan, so the bucket
    # exchange runs once and is read twice (ReusedExchange) — no job
    # at call time, no storage pinned. (Renamed before the join, the
    # sides differ: two exchanges, banding twice.) shuffle_hash keeps
    # a broadcast-small input on that shared exchange; a broadcast
    # build side cannot share the streamed side's banding (q80 sf0.1,
    # warm, 4 cores: 3.7 s broadcast, 2.3 s hinted, 3.2 s with the
    # former eager checkpoint).
    banded = _banded(data, id_col, vec_col, "v", planes, tables, dims)
    if max_bucket is not None:
        occ = (
            banded.groupBy("bucket")
            .agg(F.count("*").alias("__occ"))
            .filter(F.col("__occ") <= max_bucket)
            .select("bucket")
        )
        banded = banded.join(occ, "bucket")
    q, d = banded.alias("q"), banded.alias("d")
    return (
        q.hint("shuffle_hash").join(d, "bucket")
        .filter(F.col("q.v_id") < F.col("d.v_id"))
        .select(
            F.col("q.v_id").alias("q_id"),
            F.col("d.v_id").alias("d_id"),
            _cosine("q.v", "d.v").alias("cosine"),
        )
        .filter(F.col("cosine") >= threshold)
        .dropDuplicates(["q_id", "d_id"])
    )


#: JL sign planes live in their own id space so they can never collide
#: with the LSH bucket planes (table*1000+plane < 25000)
_JL_PLANE_BASE = 500_000


def jl_sign_rows(out_dim: int, dims: int) -> list[list[int]]:
    """The ±1 sparse sign matrix of the Johnson-Lindenstrauss
    projection (Achlioptas 2003, database-friendly random projections:
    ±1 entries preserve pairwise distances within (1±ε) at
    k = O(log n / ε²) exactly like Gaussian ones) — md5-derived via
    `_plane_signs`, so engine- and run-independent with no stored
    matrix; the oracle SQL re-derives the identical literals."""
    return [
        [int(v) for v in _plane_signs(_JL_PLANE_BASE + j, dims)]
        for j in range(out_dim)
    ]


def _jl_array_sql(iv_name: str, out_dim: int, dims: int) -> str:
    """SQL text projecting a pre-quantized micro-int column to
    `out_dim` int64 components (one aggregate/zip_with per component
    against an inline ±1 literal). One `F.expr` string, not a Column
    tree — the `_bucket_array_sql` py4j lesson."""
    comps = []
    for signs in jl_sign_rows(out_dim, dims):
        lit = "array(" + ",".join(str(s) for s in signs) + ")"
        comps.append(
            f"aggregate(zip_with({iv_name}, {lit}, (x, y) -> x*y), "
            "CAST(0 AS BIGINT), (acc, x) -> acc + x)"
        )
    return "array(" + ",\n".join(comps) + ")"


def random_project(
    df: DataFrame,
    vec_col: str,
    out_dim: int = 16,
    dims: int = 64,
    out_col: str = "jl_iv",
) -> DataFrame:
    """Deterministic JL random projection of an embedding column:
    appends `out_col` = array<bigint> of `out_dim` signed micro-int
    sums Σᵢ ±vᵢ (the 1/√k normalization is a global scalar — it
    cancels in every cosine/ranking use, so it is omitted and the
    arithmetic stays exact int64).

    The dimension-reduction stage every 100 TB embedding pipeline
    wants in front of brute-force scoring: a 64→16 projection cuts
    candidate-stage traffic and FLOPs 4× while JL keeps relative
    distances within the ε band. Pure map (codegen zip_with chain),
    zero shuffle, composable with the IVF/LSH funnels."""
    tmp = f"__jl_src_{out_col}"
    return (
        df.withColumn(tmp, quantized(F.col(vec_col)))
        .withColumn(out_col, F.expr(_jl_array_sql(tmp, out_dim, dims)))
        .drop(tmp)
    )


def jl_topk(
    queries: DataFrame,
    data: DataFrame,
    id_col: str,
    vec_col: str,
    k: int = 5,
    shortlist: int = 12,
    out_dim: int = 16,
    dims: int = 64,
) -> DataFrame:
    """ANN via JL projection: scan-score every (query, corpus) pair in
    the PROJECTED space (16 ints, 4× cheaper than full width), keep a
    per-query `shortlist` by projected cosine, then re-rank ONLY the
    shortlist with the exact full-width cosine. Returns
    (q_id, d_id, cosine, rank) with the exact cosine, rank ≤ k.

    Discipline (the q80/knn pattern): the shortlist window rides
    SKINNY (q_id, d_id, projected-cos) rows — full vectors join back
    onto the ≤ q·shortlist survivors only, so the corpus never ships
    its payload through the candidate stage. All dots int64; both
    ranking stages break ties (score desc, d_id asc) so the funnel is
    engine-exact and the oracle replays it in SQL.

    NULL / wrong-dims vectors are dropped from BOTH sides up front
    (the knn_classify hardening): a NULL projected cosine would sort
    engine-dependently under the desc windows (Spark puts NULL last
    on desc, DuckDB treats NULL as largest), silently corrupting the
    shortlist — and an unscorable query must yield no rows, not
    d_id-ordered noise."""
    ok = lambda c: F.coalesce(  # noqa: E731
        F.size(F.col(c)) == F.lit(dims), F.lit(False)
    )
    queries = queries.filter(ok(vec_col))
    data = data.filter(ok(vec_col))
    jl = F.col("__jl")
    qp = _vectors(
        random_project(queries, vec_col, out_dim, dims, "__jl"), "q", jl,
        F.col(id_col).alias("q_id"),
    )
    dp = _vectors(
        random_project(data, vec_col, out_dim, dims, "__jl"), "d", jl,
        F.col(id_col).alias("d_id"),
    )
    w = Window.partitionBy("q_id").orderBy(
        F.col("__pcos").desc(), F.col("d_id").asc()
    )
    cand = (
        dp.crossJoin(F.broadcast(qp))
        .select("q_id", "d_id", _cosine("q", "d").alias("__pcos"))
        .withColumn("__prn", F.row_number().over(w))
        .filter(F.col("__prn") <= shortlist)
        .select("q_id", "d_id")
    )
    iv = quantized(F.col(vec_col))
    qv = _vectors(queries, "q", iv, F.col(id_col).alias("q_id"))
    dv = _vectors(data, "d", iv, F.col(id_col).alias("d_id"))
    exact = (
        cand.join(dv, "d_id")
        .join(F.broadcast(qv), "q_id")
        .select("q_id", "d_id", _cosine("q", "d").alias("cosine"))
    )
    return topk_per_query(exact, k)
