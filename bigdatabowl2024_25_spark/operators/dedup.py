"""Deduplication operators for training-data pipelines: exact,
MinHash+LSH banding, SimHash, and exact n-gram Jaccard verification.

Design for 100 TB:
- exact dedup = hash → groupBy keep-min: one shuffle on a 16-byte key,
  map-side partial min, no text movement after the hash.
- minhash = explode shingles once, ONE groupBy computing all k
  signature mins (k aggregate expressions, not k passes).
- LSH banding = band-key self-join: candidates only; never the O(n²)
  cross join. Band keys are md5-compact so the shuffle carries 16-byte
  keys, not shingle sets.
- jaccard verify runs only on LSH candidates (the classic
  minhash→band→verify funnel).

All hashes are the engine-portable md5-based `portable_hash64`, so the
DuckDB oracle reproduces signatures bit-for-bit.
"""

from __future__ import annotations

from functools import reduce

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from .text import normalize_text, portable_hash64, tokens, word_shingles


def exact_dedup(df: DataFrame, text_col: str, id_col: str) -> DataFrame:
    """Exact (normalized) dedup: returns one row per distinct content
    hash with the minimum id as the keeper and the group size."""
    h = portable_hash64(normalize_text(F.col(text_col)))
    return (
        df.select(F.col(id_col), h.alias("content_key"))
        .groupBy("content_key")
        .agg(
            F.min(id_col).alias("keeper_id"),
            F.count("*").alias("n_copies"),
        )
    )


def paragraph_dedup(
    df: DataFrame,
    text_col: str,
    id_col: str,
    sep: str = "\n\n",
    min_chars: int = 1,
    scope: str = "corpus",
) -> DataFrame:
    """Paragraph-level dedup (the CCNet / RefinedWeb passes): split
    every document on ``sep``, keep only the FIRST occurrence of each
    exact paragraph — corpus-wide (``scope="corpus"``, first = minimum
    (id, position): the boilerplate strip) or within each document
    (``scope="document"``, first = minimum position per (id,
    paragraph): RefinedWeb's intra-document repeated-line removal) —
    and reassemble each document from its surviving paragraphs in
    original order. Returns (id_col, text_col rebuilt, n_kept).

    Reference scope: the reference dedups whole rows (its R pipeline's
    `distinct`/keep-first passes); paragraph granularity is the
    training-data extension — the pass that strips site boilerplate
    (nav text, footers) repeated across billions of pages.

    Semantics:
    - paragraphs with fewer than ``min_chars`` non-whitespace
      characters (default: empty/whitespace-only) BYPASS dedup — they
      are structural, not content, and deduping them corpus-wide would
      delete every blank line but one. Eligibility counts NON-WHITESPACE
      characters (``'a b'`` has 2, not its trimmed length 3), so raising
      ``min_chars`` measures content, not layout;
    - a document whose every paragraph loses (an exact composite
      duplicate of earlier documents) drops from the output entirely —
      the exact_dedup semantic at paragraph granularity; left-join the
      result back to the corpus to see the drops;
    - NULL-text documents emit no rows (split(NULL) explodes to
      nothing), same as every explode-based operator here.

    100 TB design — two shuffles, both skew-resistant:
    1. winners: groupBy(paragraph).agg(min(struct(id, pos))). A
       boilerplate paragraph repeated on 10^9 pages is the textbook
       hot key; an aggregate (unlike a row_number window, which must
       co-locate the whole partition) combines map-side, so the hot
       key collapses to ONE row per input partition before the
       exchange. Grouping on the paragraph text itself (not a 60-bit
       hash) keeps the op exact; the shuffle would carry the text
       either way (winners must emit it for reassembly).
    2. reassembly: groupBy(id) — bounded by single-document size.
    Short paragraphs skip both the winner shuffle and the dedup
    entirely (filter fork, union after — no extra exchange).
    Document scope groups winners by (id, paragraph) instead — the
    same two exchanges, and AQE can even collapse them into one
    partitioning since both key on id-bearing columns."""
    if scope not in ("corpus", "document"):
        raise ValueError(f"scope must be corpus|document, got {scope!r}")
    # \Q...\E: split takes a REGEX; quote so sep is always literal
    # (DuckDB's string_split mirror is literal by definition)
    parts = df.select(
        F.col(id_col).alias("__pid"),
        F.posexplode(
            F.split(F.col(text_col), "\\Q" + sep + "\\E")
        ).alias("__pos", "__para"),
    )
    elig = (
        F.length(F.regexp_replace(F.col("__para"), r"\s", "")) >= min_chars
    )
    winner_key = (
        ["__para"] if scope == "corpus" else ["__pid", "__para"]
    )
    winners = (
        parts.filter(elig)
        .groupBy(*winner_key)
        .agg(F.min(F.struct("__pid", "__pos")).alias("__w"))
        .select(
            F.col("__w.__pid").alias("__pid"),
            F.col("__w.__pos").alias("__pos"),
            "__para",
        )
    )
    kept = winners.unionByName(
        parts.filter(~elig).select("__pid", "__pos", "__para")
    )
    return (
        kept.groupBy("__pid")
        .agg(
            F.array_join(
                F.transform(
                    F.array_sort(
                        F.collect_list(F.struct("__pos", "__para"))
                    ),
                    lambda s: s["__para"],
                ),
                sep,
            ).alias(text_col),
            F.count("*").alias("n_kept"),
        )
        .withColumnRenamed("__pid", id_col)
    )


def exact_substring_dedup(
    df: DataFrame,
    text_col: str,
    id_col: str,
    k: int = 50,
) -> DataFrame:
    """ExactSubstr deduplication (Lee et al. 2022, "Deduplicating
    Training Data Makes Language Models Better"): remove every
    repeated k-token span from the corpus EXCEPT its first occurrence
    — finer-grained than document dedup (a quoted paragraph inside an
    otherwise-unique page is cut without dropping the page) and
    stricter than MinHash (exact spans, not similarity).

    Semantics (token granularity, whitespace-normalized rebuild):
    - occurrences = every k-token window of every doc, keyed by the
      portable hash of its space-joined tokens;
    - a window whose hash occurs more than once corpus-wide keeps only
      the global minimum (id, pos) occurrence (ties impossible: (id,
      pos) is unique); every other occurrence's [pos, pos+k) span is
      cut. Overlapping duplicated windows merge naturally: a repeated
      passage of length L yields L−k+1 loser windows whose union
      covers the whole passage. Within-doc repeats cut too (the later
      position loses).
    - returns (id_col, text_col rebuilt from surviving tokens in
      order, n_kept tokens); docs shorter than k tokens pass through
      untouched; docs whose every token is cut emit a row with empty
      text and n_kept = 0 (filter on n_kept to drop them).

    Spark shape, 100 TB posture:
    - window hashing is the q65 winnowing discipline: posexplode
      tokens, k−1 `lead()`s folded into concat_ws on ONE (id, pos)
      window — all JVM projections, no per-element interpreted
      lambdas on the corpus-sized path;
    - duplicated hashes are found by ONE groupBy on the 8-byte hash
      with map-side combine (min(struct) + count), the paragraph-dedup
      hot-key discipline: a boilerplate span on 10^9 pages collapses
      to one row per input partition before the exchange;
    - losers join back on the hash (8-byte keys; spans, not text);
    - the cut itself is per-doc: loser starts collect into one array
      (bounded by dup volume per doc) and the keep-mask is an array
      filter over token indices — O(n·|spans|) per doc, lambdas over
      a DOC-sized domain, not corpus-sized.
    The rebuild joins tokens with single spaces (the same
    normalization contract as `exact_dedup`'s hashing); byte-exact
    original spacing would require offset bookkeeping the training
    pipeline doesn't need."""
    from pyspark.sql import Window

    w = F.filter(tokens(F.col(text_col)), lambda x: x != F.lit(""))
    base = df.select(F.col(id_col).alias("__sid"), w.alias("__w"))
    ex = base.select(
        "__sid",
        F.posexplode("__w").alias("__pos", "__tok"),
        F.size("__w").alias("__n"),
    )
    ws = Window.partitionBy("__sid").orderBy("__pos")
    gram = F.concat_ws(
        " ",
        F.col("__tok"),
        *[F.lead("__tok", j).over(ws) for j in range(1, k)],
    )
    occ = (
        ex.withColumn("__h", portable_hash64(gram))
        .filter(F.col("__pos") <= F.col("__n") - k)
        .select("__sid", "__pos", "__h")
    )
    dups = (
        occ.groupBy("__h")
        .agg(
            F.min(F.struct("__sid", "__pos")).alias("__win"),
            F.count("*").alias("__cnt"),
        )
        .filter(F.col("__cnt") > 1)
        .select("__h", "__win")
    )
    losers = (
        occ.join(dups, "__h")
        .filter(
            (F.col("__sid") != F.col("__win.__sid"))
            | (F.col("__pos") != F.col("__win.__pos"))
        )
        .groupBy("__sid")
        .agg(F.collect_list("__pos").alias("__cuts"))
    )
    cuts = F.coalesce("__cuts", F.array().cast("array<int>"))
    kept_idx = F.filter(
        F.sequence(F.lit(0), F.size("__w") - 1),
        lambda i: ~F.exists(
            cuts, lambda s: (i >= s) & (i < s + F.lit(k))
        ),
    )
    return (
        base.join(losers, "__sid", "left")
        .select(
            F.col("__sid").alias(id_col),
            F.array_join(
                F.transform(
                    kept_idx, lambda i: F.element_at("__w", i + 1)
                ),
                " ",
            ).alias(text_col),
            F.size(kept_idx).cast("bigint").alias("n_kept"),
        )
    )


def with_shingles(
    df: DataFrame, text_col: str, id_col: str, n: int = 3
) -> DataFrame:
    """(id, shingles array) — n-word shingles of the raw text.

    The words array is materialized as a column before shingling; even
    if Catalyst collapses the projection and inlines split(text),
    `word_shingles`' slice/zip_with formulation keeps evaluation O(len)
    (see its docstring for why the indexed form is quadratic)."""
    words = df.select(
        F.col(id_col), tokens(F.col(text_col)).alias("__words")
    )
    return words.select(
        F.col(id_col), word_shingles(F.col("__words"), n).alias("shingles")
    )


#: MinHash permutation domain: the Mersenne prime 2^31−1. Base hashes
#: and permutation coefficients stay < 2^31, so a_i*h + b_i < 2^62 —
#: safe int64 arithmetic in Spark's ANSI mode and DuckDB alike.
MINHASH_P = 2_147_483_647


def minhash_coeffs(k: int) -> list[tuple[int, int]]:
    """Deterministic permutation coefficients (a_i, b_i), identical in
    the oracle SQL generator."""
    return [
        ((i + 1) * 2_654_435_761 % MINHASH_P, (i + 1) * 40_503 % MINHASH_P)
        for i in range(k)
    ]


def shingle_hashes(shingled: DataFrame, id_col: str) -> DataFrame:
    """Distinct (id, h) with ONE md5 per shingle, folded into the
    MinHash domain. Shared by the signature and Jaccard stages — the
    expensive string hashing happens exactly once, and every downstream
    shuffle carries an 8-byte key instead of shingle text."""
    ex = shingled.select(F.col(id_col), F.explode("shingles").alias("shingle"))
    return ex.select(
        F.col(id_col),
        (portable_hash64(F.col("shingle")) % MINHASH_P).alias("h"),
    ).distinct()


def minhash_signatures(
    shingled: DataFrame,
    id_col: str,
    k: int = 8,
    hashes: DataFrame | None = None,
) -> DataFrame:
    """k-permutation MinHash signature per document: ONE aggregate
    computing sig_i = min((a_i·h + b_i) mod P) over the per-doc hash
    set. Documents with no shingles drop out (standard MinHash domain
    restriction). Pass a precomputed `hashes` relation to share the
    explode+hash+distinct subtree with the Jaccard verify stage."""
    if hashes is None:
        hashes = shingle_hashes(shingled, id_col)
    mins = [
        F.min((F.col("h") * a + b) % MINHASH_P).alias(f"mh_{i}")
        for i, (a, b) in enumerate(minhash_coeffs(k))
    ]
    return hashes.groupBy(id_col).agg(*mins)


def band_keys(k: int, bands: int) -> list[Column]:
    """The md5 band-key expressions over a k-wide signature — THE
    persistence contract for LSH state shared across batches
    (`lsh_candidates`, `incremental_lsh_candidates`, and the oracle
    generators all reproduce this exact layout; change it only here
    and in the SQL mirrors, or new batches' keys stop colliding with
    persisted history keys)."""
    r = k // bands
    return [
        F.md5(
            F.concat_ws(
                "_",
                F.lit(str(b)),
                *[F.col(f"mh_{b * r + j}").cast("string") for j in range(r)],
            ).cast("binary")
        )
        for b in range(bands)
    ]


def lsh_candidates(
    sigs: DataFrame,
    id_col: str,
    k: int = 8,
    bands: int = 4,
    max_bucket: int | None = None,
) -> DataFrame:
    """Band the k-wide signature into `bands` groups of k/bands rows;
    docs sharing any band key become a candidate pair (id_a < id_b).

    The band key is md5 of the concatenated signature slice — a compact
    fixed-width join key. Self-join happens per band key, so skew is
    bounded by the largest near-dup cluster, not by n.

    ``max_bucket`` is the production skew guard the round-15 scale
    probe showed is needed on dense corpora: candidate volume is
    Σ_buckets c·(c-1)/2, and a corpus whose random-pair Jaccard is
    non-negligible (tiny shared vocabulary, boilerplate/templated
    text) grows that sum as ~n² even though every single bucket stays
    modest (measured on the probe's x2/x4 points: 9.1k → 31.8k → 128k
    candidate pairs for 5k → 10k → 20k docs). Buckets with occupancy
    > max_bucket are dropped BEFORE the self-join: an over-occupied
    band bucket is near-constant content whose pairs flood the verify
    stage with near-zero information. Documented recall trade — pairs
    whose ONLY shared band is an over-occupied one are lost; real
    near-dup pairs collide in several bands and survive. Default None
    preserves exact funnel semantics (the oracle-checked path)."""
    keys = band_keys(k, bands)
    # explode one array instead of a `bands`-way union: the signature
    # aggregate subtree appears ONCE in the plan, not `bands` times
    banded = sigs.select(
        F.col(id_col).alias("doc"),
        F.explode(F.array(*keys)).alias("band_key"),
    )
    if max_bucket is not None:
        # occupancy join is on the SAME key as the self-join below, so
        # it rides the same hash partitioning — no extra shuffle of
        # the banded relation
        occ = (
            banded.groupBy("band_key")
            .agg(F.count("*").alias("__occ"))
            .filter(F.col("__occ") <= max_bucket)
            .select("band_key")
        )
        banded = banded.join(occ, "band_key")
    a = banded.alias("a")
    b = banded.alias("b")
    return (
        a.join(
            b,
            (F.col("a.band_key") == F.col("b.band_key"))
            & (F.col("a.doc") < F.col("b.doc")),
        )
        .select(
            F.col("a.doc").alias("id_a"), F.col("b.doc").alias("id_b")
        )
        .distinct()
    )


def hash_sets(hashes: DataFrame, id_col: str) -> DataFrame:
    """(doc, hs array<bigint>, n) — each document's distinct shingle
    hashes collapsed into ONE array row (round 16), n = |hs|. This is the
    verify-stage layout: a candidate pair's intersection becomes a
    single in-row `array_intersect` (JVM hash-set, codegen) instead of
    the old explode-join-reaggregate. The shuffle volume does not
    shrink much: the first verify join attaches a's array to every
    candidate pair, and those arrays ride the second join's exchange
    (keyed by id_b), so a's hashes still cross a shuffle once per
    candidate — the Σ_cand |S(a)| values the exploded form moved, now
    packed into arrays. The saving is the per-pair re-aggregation (a
    groupBy over the exploded join's rows), which is gone. Array order
    is irrelevant: intersection SIZE and set size are order-free.

    The arrays are SETS (`collect_set`) and n is their size, so a
    duplicated (doc, h) input row cannot inflate n while
    `array_intersect` dedups — which would bias Jaccard low."""
    return hashes.groupBy(F.col(id_col).alias("doc")).agg(
        F.collect_set("h").alias("hs")
    ).withColumn("n", F.size("hs").cast("long"))


def _check_threshold(threshold: float) -> None:
    if not threshold > 0:
        raise ValueError(f"threshold must be > 0, got {threshold!r}")


def jaccard_pairs(
    candidates: DataFrame,
    shingled: DataFrame,
    id_col: str,
    threshold: float,
    hashes: DataFrame | None = None,
) -> DataFrame:
    """Exact Jaccard over candidate pairs (the verify stage of the
    minhash→band→verify funnel), via per-doc hash-set arrays
    (`hash_sets`) — two equi-joins on the doc id attach both sets to
    each candidate pair and ONE codegen `array_intersect` computes
    |S(a) ∩ S(b)| in-row. Identical integers to the old
    explode-join-groupBy form (both sides are distinct hash sets), so
    identical Jaccard doubles; candidates with zero overlap now score
    0.0 instead of vanishing pre-filter — indistinguishable after the
    positive-threshold filter. Pass a precomputed `hashes` relation to
    share the subtree with the signature stage.

    Raises ValueError unless `threshold` > 0 (checked in Python,
    before any plan is built): at 0 every zero-overlap candidate pair
    would pass the filter as a 0.0 "near duplicate"."""
    _check_threshold(threshold)
    if hashes is None:
        hashes = shingle_hashes(shingled, id_col)
    sets = hash_sets(hashes, id_col)
    sa = sets.select(
        F.col("doc").alias("id_a"),
        F.col("hs").alias("__ha"),
        F.col("n").alias("n_a"),
    )
    sb = sets.select(
        F.col("doc").alias("id_b"),
        F.col("hs").alias("__hb"),
        F.col("n").alias("n_b"),
    )
    n_inter = F.size(F.array_intersect(F.col("__ha"), F.col("__hb")))
    out = (
        candidates.join(sa, ["id_a"])
        .join(sb, ["id_b"])
        .withColumn("__ni", n_inter)
        .withColumn(
            "jaccard",
            F.col("__ni").cast("double")
            / (F.col("n_a") + F.col("n_b") - F.col("__ni")),
        )
    )
    return out.filter(F.col("jaccard") >= threshold).select(
        "id_a", "id_b", "jaccard"
    )


def containment_pairs(
    shingled: DataFrame,
    id_col: str,
    threshold: float,
    hashes: DataFrame | None = None,
) -> DataFrame:
    """ASYMMETRIC near-dup: ordered pairs (a, b) with
    |S(a) ∩ S(b)| ≥ threshold·|S(a)| — "a's shingles are mostly inside
    b" — the quote/partial-copy detector Jaccard misses by design
    (a short doc fully embedded in a long one has low Jaccard but
    containment 1.0; exactly the snippet-vs-page duplication a crawl
    corpus is full of).

    Candidate generation is PREFIX FILTERING (SSJoin/PPJoin family),
    not MinHash banding — banding estimates the SYMMETRIC resemblance
    and systematically under-recalls containment across unequal sizes.
    If B holds ≥ ⌈t·|A|⌉ of A's shingles, it misses at most
    |A| − ⌈t·|A|⌉ of them, so among A's first |A| − ⌈t·|A|⌉ + 1
    shingles in ANY fixed global order at least one is in B. We order
    rare-first (global doc-frequency asc, hash asc) so prefixes carry
    the most selective shingles, and join a's prefix against the full
    inverted index — provably false-negative-free (the q72 oracle is a
    BRUTE-FORCE containment scan, so recall is driver-checked at
    exactly 100%), with hot boilerplate shingles excluded from
    prefixes by construction.

    Shuffle bill: one df-count agg + one per-doc window + the prefix
    candidate join + the shared verify joins — all on 8-byte shingle
    hashes and doc ids; document text never moves. Candidate volume is
    Σ_prefix df(h), bounded by the rare-first order, never n².

    Raises ValueError unless `threshold` > 0 (checked in Python,
    before any plan is built): at 0 the prefix length n − ⌈0·n⌉ + 1
    exceeds every set and the filter keeps every pair.
    """
    _check_threshold(threshold)
    if hashes is None:
        hashes = shingle_hashes(shingled, id_col)
    ex = hashes.withColumnRenamed(id_col, "doc")
    sets = hash_sets(hashes, id_col)
    sizes = sets.select("doc", "n")
    dfreq = ex.groupBy("h").agg(F.count("*").alias("df"))
    ranked = (
        ex.join(dfreq, ["h"])
        .withColumn(
            # dense_rank numbers DISTINCT shingles: a duplicated
            # (doc, h) row shares its rank, so the prefix below always
            # holds the n − ⌈t·n⌉ + 1 distinct shingles the proof needs
            "rn",
            F.dense_rank().over(
                Window.partitionBy("doc").orderBy("df", "h")
            ),
        )
        .join(sizes, ["doc"])
    )
    prefix = ranked.filter(
        F.col("rn")
        <= F.col("n")
        - F.ceil(F.lit(float(threshold)) * F.col("n"))
        + F.lit(1)
    )
    cand = (
        prefix.select(F.col("doc").alias("id_a"), "h")
        .join(ex.select(F.col("doc").alias("id_b"), "h"), ["h"])
        .filter(F.col("id_a") != F.col("id_b"))
        .select("id_a", "id_b")
        .distinct()
    )
    # verify via per-doc hash-set arrays (round 16 — see jaccard_pairs:
    # one codegen array_intersect per pair instead of the exploded
    # join-reaggregate; identical integers, identical doubles)
    sa = sets.select(
        F.col("doc").alias("id_a"),
        F.col("hs").alias("__ha"),
        F.col("n").alias("n_a"),
    )
    sb = sets.select(
        F.col("doc").alias("id_b"), F.col("hs").alias("__hb")
    )
    out = (
        cand.join(sa, ["id_a"])
        .join(sb, ["id_b"])
        .withColumn(
            "containment",
            F.size(F.array_intersect(F.col("__ha"), F.col("__hb")))
            .cast("double")
            / F.col("n_a").cast("double"),
        )
    )
    return out.filter(F.col("containment") >= threshold).select(
        "id_a", "id_b", "containment"
    )


def incremental_exact_dedup(
    new_df: DataFrame,
    seen_keys: DataFrame,
    text_col: str,
    id_col: str,
    seen_bloom: list[int] | None = None,
) -> tuple[DataFrame, DataFrame]:
    """Exact dedup of a NEW batch against an already-deduplicated
    corpus — the daily-crawl update path, where re-deduplicating 100 TB
    of history per batch is off the table. `seen_keys` is the running
    key set: a single `content_key` bigint column (8 bytes/doc — the
    ONLY state the history contributes; its text never loads).

    Returns (survivors, updated_keys): survivors are the batch docs
    that are neither in history nor duplicated within the batch
    (keep-min-id within batch, same rule as `exact_dedup`), each
    carrying `content_key` and `n_copies` (how many batch rows shared
    its key); the second frame is `seen_keys ∪ survivors' keys` to
    persist for the next batch (a plain union — both sides are unique
    and disjoint by construction, so no history-sized distinct).

    Cost: one anti-join of batch keys against the key set (shuffle on
    8-byte keys — or broadcast while the key set is small) plus the
    batch-internal groupBy. History is touched only through its key
    column; with the key table bucketed by content_key the anti-join's
    history side never reshuffles either.

    `seen_bloom` (a `sketch.bloom_literal` word array built over the
    SAME keys as `seen_keys` — it must cover every one of them, or
    dups slip through) turns the anti-join into a two-tier check:
    rows whose key the Bloom rules out are certainly new (no false
    negatives) and skip the join entirely inside the scan; only
    "maybe seen" rows — the true dups plus the deterministic FP
    remainder — pay the exact anti-join. For a mostly-new daily batch
    against a 100 TB history key set, that is the difference between
    shuffling the whole batch and shuffling a sliver."""
    reserved = {"content_key", "n_copies", "__keep"} & set(new_df.columns)
    if reserved:
        # e.g. a batch re-fed from a prior pass's survivors: its stale
        # content_key would be silently overwritten and __keep/n_copies
        # would collide with the internal join columns
        raise ValueError(
            f"incremental_exact_dedup: new_df already carries reserved "
            f"column(s) {sorted(reserved)}; drop or rename them first"
        )
    h = portable_hash64(normalize_text(F.col(text_col)))
    keyed = new_df.withColumn("content_key", h)
    if seen_bloom is not None:
        from .sketch import bloom_maybe_contains

        maybe = bloom_maybe_contains(
            seen_bloom, F.col("content_key")
        )
        fresh = keyed.filter(~maybe).unionByName(
            keyed.filter(maybe).join(
                seen_keys, "content_key", "left_anti"
            )
        )
    else:
        fresh = keyed.join(seen_keys, "content_key", "left_anti")
    w_min = fresh.groupBy("content_key").agg(
        F.min(id_col).alias("__keep"),
        F.count("*").alias("n_copies"),
    )
    survivors = fresh.join(w_min, "content_key").filter(
        F.col(id_col) == F.col("__keep")
    ).drop("__keep")
    # NO distinct on the union: survivor keys are unique (keep-min, one
    # row per key) and disjoint from seen_keys (left_anti), so a
    # distinct here would reshuffle the ENTIRE history key set per
    # batch — the history-sized work this function exists to avoid.
    updated = seen_keys.unionByName(survivors.select("content_key"))
    return survivors, updated


def incremental_lsh_candidates(
    new_df: DataFrame,
    existing_banded: DataFrame,
    id_col: str,
    text_col: str = "text",
    k: int = 8,
    bands: int = 4,
    max_bucket: int | None = None,
) -> tuple[DataFrame, DataFrame]:
    """Near-dup candidate generation for a new batch against corpus
    history: returns (candidates, new_banded) where candidates pair
    each new doc with colliding docs from history AND from within the
    batch — but never history×history (that work was already done when
    those docs arrived).

    `existing_banded` is the running LSH state: (doc, band_key) rows,
    16-byte md5 band keys — fixed-size per doc, append-only across
    batches (persist `new_banded` unioned in for the next round). The
    join shuffles band keys only; with the state table bucketed by
    band_key, only the new batch's side moves.

    ``max_bucket`` is `lsh_candidates`' round-15 occupancy guard, and
    it matters MORE here: a band key that every daily batch touches
    accumulates history occupancy without bound, so its per-batch
    candidate volume (new_occ · total_occ) grows linearly per day —
    quadratically cumulatively. The cap is on TOTAL (history + batch)
    occupancy and affects CANDIDATE GENERATION ONLY: `new_banded` is
    always returned complete, because the persisted LSH state must
    stay exact for future batches (capping state rows would silently
    change later rounds' semantics). Default None = exact semantics."""
    sh = with_shingles(new_df, text_col, id_col)
    sigs = minhash_signatures(sh, id_col, k=k)
    keys = band_keys(k, bands)
    new_banded = sigs.select(
        F.col(id_col).alias("doc"),
        F.explode(F.array(*keys)).alias("band_key"),
    )
    both = existing_banded.unionByName(new_banded)
    if max_bucket is not None:
        # filtering the history+batch side alone is sufficient (a pair
        # needs the key on both sides) and rides the same band_key
        # hash partitioning as the candidate join
        occ = (
            both.groupBy("band_key")
            .agg(F.count("*").alias("__occ"))
            .filter(F.col("__occ") <= max_bucket)
            .select("band_key")
        )
        both = both.join(occ, "band_key")
    n = new_banded.alias("n")
    o = both.alias("o")
    cands = (
        n.join(
            o,
            (F.col("n.band_key") == F.col("o.band_key"))
            & (F.col("n.doc") != F.col("o.doc")),
        )
        .select(
            F.least("n.doc", "o.doc").alias("id_a"),
            F.greatest("n.doc", "o.doc").alias("id_b"),
        )
        .distinct()
    )
    return cands, new_banded


def decontaminate(
    corpus: DataFrame,
    benchmark: DataFrame,
    text_col: str,
    id_col: str,
    n: int = 5,
) -> DataFrame:
    """Benchmark decontamination: flag corpus documents sharing any
    word n-gram with an evaluation/benchmark set (the standard
    train-set hygiene pass — GPT-3 App. C / PaLM-style 13-gram overlap;
    n is a parameter because the right length depends on document
    scale). Returns (id, n_hits): one row per CONTAMINATED corpus doc
    with the count of distinct benchmark n-grams it contains; clean
    docs are absent (anti-join against this relation to drop them).

    100 TB design: the benchmark side is an eval suite — MBs, not TBs —
    so its distinct n-gram hash set broadcasts. The corpus side
    explodes n-grams MAP-SIDE and the broadcast hash join drops every
    non-matching gram before any shuffle; the only shuffle is the
    final groupBy over matching (id, gram) rows, which is bounded by
    contamination volume, not corpus volume. Deliberately NO
    corpus-side distinct() before the join — that would shuffle every
    (id, gram) pair; countDistinct after the filter dedups the tiny
    matched set instead.

    Hashes are `portable_hash64`, so the DuckDB oracle reproduces the
    gram keys bit-for-bit."""
    def grams(df: DataFrame) -> DataFrame:
        sh = with_shingles(df, text_col, id_col, n)
        return sh.select(
            F.col(id_col), F.explode("shingles").alias("gram")
        ).select(
            F.col(id_col), portable_hash64(F.col("gram")).alias("g")
        )

    bench_grams = grams(benchmark).select("g").distinct()
    return (
        grams(corpus)
        .join(F.broadcast(bench_grams), "g")
        .groupBy(id_col)
        .agg(F.countDistinct("g").alias("n_hits"))
    )


def simhash(
    df: DataFrame, text_col: str, id_col: str, bits: int = 16
) -> DataFrame:
    """SimHash over whitespace tokens: bit b of the hash is the sign of
    Σ_tokens (2·bit_b(H(token)) − 1). One explode + one aggregate with
    `bits` sum expressions; the assembled hash is a BIGINT."""
    ex = df.select(
        F.col(id_col), F.explode(tokens(F.col(text_col))).alias("tok")
    ).withColumn("h", portable_hash64(F.col("tok")))
    weights = [
        F.sum(
            (F.shiftright(F.col("h"), b).bitwiseAND(F.lit(1)) * 2 - 1)
        ).alias(f"w_{b}")
        for b in range(bits)
    ]
    agg = ex.groupBy(id_col).agg(*weights)
    sim = reduce(
        lambda acc, b: acc
        + F.when(F.col(f"w_{b}") > 0, F.lit(2**b).cast("bigint")).otherwise(
            F.lit(0).cast("bigint")
        ),
        range(bits),
        F.lit(0).cast("bigint"),
    )
    return agg.select(F.col(id_col), sim.alias("simhash"))


def best_quality_survivors(
    corpus: DataFrame,
    components: DataFrame,
    id_col: str,
    score,
    node_col: str = "node",
    comp_col: str = "component",
) -> DataFrame:
    """Quality-aware dedup survivor selection: keep the BEST-scored
    member of each near-dup cluster (ties → lowest id) instead of the
    min-id keeper — what production pipelines actually ship (of two
    near-dup pages keep the longer / higher-quality capture; min-id
    keeps whichever crawled first). `score` is any deterministic
    Column over the corpus row (length, quality_score, …);
    unclustered rows always survive.

    Scale (the q75 'surv' discipline): the CORPUS never shuffles —
    keeper election runs only on the clustered subset (corpus ⋈
    broadcast components, funnel-sized), collapses to one row per
    component via max_by(id, (score, −id)), and broadcasts back; the
    corpus pays two broadcast-hash lookups and a filter."""
    comp = components.select(
        F.col(node_col).alias("__bq_node"),
        F.col(comp_col).alias("__bq_comp"),
    )
    scored = corpus.select(
        F.col(id_col).alias("__bq_id"), score.alias("__bq_score")
    )
    keepers = (
        scored.join(
            F.broadcast(comp),
            scored["__bq_id"] == comp["__bq_node"],
        )
        .groupBy("__bq_comp")
        .agg(
            F.max_by(
                "__bq_id",
                F.struct(
                    F.col("__bq_score"), (-F.col("__bq_id")).alias("n")
                ),
            ).alias("__bq_keeper")
        )
    )
    out = (
        corpus.join(
            F.broadcast(comp),
            corpus[id_col] == comp["__bq_node"],
            "left",
        )
        .join(F.broadcast(keepers), "__bq_comp", "left")
        .filter(
            F.col("__bq_node").isNull()
            | (F.col(id_col) == F.col("__bq_keeper"))
        )
    )
    return out.drop("__bq_node", "__bq_comp", "__bq_keeper")
