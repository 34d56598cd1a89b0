"""End-to-end training-corpus preparation: the engine's LLM-data
layers composed into the pipeline a pretraining run actually executes,
in the order that minimizes data movement at 100 TB.

Stage order IS the design (cheapest first, movement last):

1. profile + filter — language ID, token-count band, Gopher
   repetition fractions: pure codegen column maps. Every row dropped
   here never pays a downstream shuffle.
2. PII redaction — regexp chain, still a map. Runs BEFORE dedup so
   two pages differing only in a phone number hash identically.
   2b (optional): the CCNet LM-perplexity band — bigram model of a
   curated reference (or the corpus itself) broadcasts, every doc
   gets a `perplexity` profile column, outliers drop.
3. paragraph dedup (optional) — strips cross-page boilerplate BEFORE
   whole-document hashing, so template pages collapse into exact
   duplicates the cheap stage 4 catches. Metadata columns rejoin on
   the id the reassembly just partitioned by.
4. exact dedup — keep-first by normalized content hash; one
   8-byte-key shuffle + one id semi-join.
5. near-dup funnel (optional) — MinHash → LSH bands → exact-Jaccard
   verify → connected components → keep each cluster's min-id. The
   shingle hash relation is built ONCE and shared by the signature
   and verify stages; the component table is contamination-sized and
   broadcasts (the q75 pattern).
6. benchmark decontamination (optional) — eval-set grams broadcast,
   corpus grams die map-side; contaminated ids anti-join out.
7. mixture (optional) — per-domain Bernoulli rates folded into one
   codegen CASE filter; no join, no shuffle.

The tail (epoch ordering + sequence packing) is `to_sequences`:
per-shard next-fit packing with a deterministic per-bin shuffle key —
training pipelines shuffle at bin granularity (sequential IO within a
bin, random order across bins), so the corpus never pays a global
row-level sort.

`prepare_batch` is the DAILY-CRAWL twin: the same profile/redaction
stages, but dedup runs against the running `CorpusState` (8-byte
content keys + 16-byte band keys — history text never reloads) so
each day pays batch-sized work, never history-sized.

Stage boundaries: a stage output read more than once downstream is
cached, so consumers read the cache instead of replicating the
upstream tree — uncached, the plan DOUBLES at every self-referencing
stage (~100 scan-subtree copies by the funnel, which ran out of
memory serializing task binaries at sf0.1 under a 1g heap). The caches
register in the caller's `BoundaryCaches` scope (`caches=`); with
none they stay session-wide (spark.catalog.clearCache() drops them).
`stream_prepare` opens one scope per micro-batch.

Every stage is individually driver-verified by its own oracle branch
(q60 profile/PII, q64 'para'/'pack', q70 exact/incr/decontam/LM,
q71-q75 funnel, q95 mix/shuffle); this module pins the COMPOSITION —
stage contracts connect, planted-defect documents flow to the right
fate, and the result is deterministic under repartitioning
(tests/test_corpus_pipeline.py).
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..boundary import BoundaryCaches, cut
from ..operators.components import connected_components
from ..operators.dedup import (
    exact_dedup,
    decontaminate,
    incremental_exact_dedup,
    incremental_lsh_candidates,
    jaccard_pairs,
    lsh_candidates,
    minhash_signatures,
    paragraph_dedup,
    shingle_hashes,
    with_shingles,
)
from ..operators.ngram_lm import lm_perplexity, lm_train
from ..operators.sampling import (
    hash_uniform,
    stratified_fixed_k,
    weighted_domain_sample,
)
from ..operators.sketch import bloom_build, bloom_literal, bloom_merge
from ..operators.text import (
    c4_clean_lines,
    pack_documents,
    predict_lang,
    quality_features,
    redact_pii,
    repetition_features,
    tokens,
)


@dataclass(frozen=True)
class CorpusConfig:
    """Knobs for `prepare_corpus`; defaults are the standard
    pretraining-hygiene settings (Gopher-band repetition thresholds,
    5-gram decontamination, 0.8-Jaccard near-dup)."""

    min_tokens: int = 5
    max_tokens: int | None = None
    # URL stage (RefinedWeb stage 0a, `operators.urls`): off unless
    # url_col names a column; runs FIRST — a pure codegen filter that
    # shrinks every later stage's input for free
    url_col: str | None = None
    url_blocked_domains: tuple[str, ...] = ()
    url_blocked_pattern: str | None = None
    url_schemes: tuple[str, ...] = ("http", "https")
    max_per_domain: int | None = None  # per-eTLD+1 doc cap
    # C4 line-level cleaning (stage 0): off by default — the synthetic
    # corpus is single-line; real web pages want it ON
    c4_lines: bool = False
    c4_min_words: int = 5
    c4_min_lines: int = 3
    langs: tuple[str, ...] | None = None
    max_dup_word_frac: float = 0.5
    max_top_bigram_frac: float = 0.25
    # Gopher word-shape bounds — None = off (the synthetic corpus is
    # word soup; real-web defaults would be ~(3, 10) and 0.05)
    min_avg_word_len: float | None = None
    max_avg_word_len: float | None = None
    min_stopword_ratio: float | None = None
    # fastText-style model-based quality gate (`operators.quality_clf`):
    # pinned int-scaled weights + mean-token-logit threshold; None = off
    qcls_weights: tuple[int, ...] | None = None
    qcls_threshold: float = 0.0
    redact: bool = True
    max_perplexity: float | None = None  # None = skip the LM band
    lm_alpha: float = 0.1
    lm_min_count: int = 1
    paragraph_sep: str | None = None  # None = skip paragraph dedup
    substr_k: int | None = None  # ExactSubstr span dedup window; None = skip
    near_dup: bool = True
    minhash_k: int = 8
    bands: int = 4
    jaccard: float = 0.8
    decontam_ngram: int = 5
    mixture: dict[str, float] | None = None
    domain_col: str = "source"
    # DSIR selection (stage 7b, `operators.dsir`): keep the dsir_k
    # docs most like the `dsir_target` corpus passed to
    # `prepare_corpus` (Gumbel top-k over hashed-n-gram importance
    # weights); None = skip. Runs LAST so importance is estimated on
    # the hygienic corpus, not on boilerplate the earlier stages kill.
    dsir_k: int | None = None
    dsir_dim: int = 2048
    dsir_alpha: float = 1.0
    dsir_lam: float = 1.0
    dsir_seed: str = "dsir:v1"


def _n_tokens(text_col: str):
    w = F.filter(tokens(F.col(text_col)), lambda x: x != F.lit(""))
    return F.size(w)


def _profile_and_redact(
    df: DataFrame, text_col: str, cfg: CorpusConfig, id_col: str = "doc_id"
) -> DataFrame:
    """Stages 0-2, shared by the full-corpus and daily-batch entry
    points: optional URL filtering (cheapest cut of all — a codegen
    predicate on a metadata column, so it runs before the text is even
    touched), optional C4 line cleaning (page-level structure first,
    so boilerplate lines never pollute the token/repetition profile),
    then profile columns + codegen quality filters, then PII
    redaction (before any hashing, so dedup keys see clean text)."""
    if cfg.url_col is not None:
        from ..operators.urls import (
            filter_by_url,
            registered_domain,
            url_host,
        )

        df = filter_by_url(
            df,
            cfg.url_col,
            blocked_domains=cfg.url_blocked_domains,
            blocked_url_pattern=cfg.url_blocked_pattern,
            schemes=cfg.url_schemes,
        )
        if cfg.max_per_domain is not None:
            # RefinedWeb's per-domain cap: no host may dominate the
            # corpus. Deterministic keyed-hash rank per eTLD+1 — one
            # shuffle, append-stable for untouched domains.
            df = stratified_fixed_k(
                df.withColumn(
                    "__dom",
                    registered_domain(url_host(F.col(cfg.url_col))),
                ),
                id_col,
                "__dom",
                cfg.max_per_domain,
            ).drop("__dom")
    if cfg.c4_lines:
        df = c4_clean_lines(
            df,
            text_col,
            "__unused_id",
            min_words=cfg.c4_min_words,
            min_lines=cfg.c4_min_lines,
        ).drop("n_kept")
    rep = repetition_features(F.col(text_col))
    qf = quality_features(F.col(text_col))
    d = (
        df.withColumn("lang", predict_lang(tokens(F.col(text_col))))
        .withColumn("n_tokens", _n_tokens(text_col))
        .withColumn("dup_word_frac", rep["dup_word_frac"])
        .withColumn("top_bigram_frac", rep["top_bigram_frac"])
    )
    cond = (
        (F.col("n_tokens") >= cfg.min_tokens)
        & (F.col("dup_word_frac") <= cfg.max_dup_word_frac)
        & (F.col("top_bigram_frac") <= cfg.max_top_bigram_frac)
    )
    if cfg.max_tokens is not None:
        cond &= F.col("n_tokens") <= cfg.max_tokens
    if cfg.langs is not None:
        cond &= F.col("lang").isin(list(cfg.langs))
    if cfg.min_avg_word_len is not None:
        cond &= qf["avg_word_len"] >= cfg.min_avg_word_len
    if cfg.max_avg_word_len is not None:
        cond &= qf["avg_word_len"] <= cfg.max_avg_word_len
    if cfg.min_stopword_ratio is not None:
        cond &= qf["stopword_ratio"] >= cfg.min_stopword_ratio
    d = d.filter(cond)
    if cfg.qcls_weights is not None:
        from ..operators.quality_clf import quality_keep

        d = d.filter(
            quality_keep(
                F.col(text_col),
                list(cfg.qcls_weights),
                threshold=cfg.qcls_threshold,
            )
        )
    if cfg.redact:
        d = d.withColumn(text_col, redact_pii(F.col(text_col)))
    return d


def prepare_corpus(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    benchmark: DataFrame | None = None,
    lm_reference: DataFrame | None = None,
    cfg: CorpusConfig | None = None,
    caches: BoundaryCaches | None = None,
    dsir_target: DataFrame | None = None,
    expose: dict | None = None,
) -> DataFrame:
    """Run stages 1-7 over a (id, text, ...metadata) corpus; returns
    the surviving rows with `text_col` cleaned (redacted, optionally
    paragraph-deduped) plus profile columns (lang, n_tokens,
    dup_word_frac, top_bigram_frac). Metadata columns pass through.

    `benchmark` is the eval set to decontaminate against (same id/text
    schema); None skips stage 6. `lm_reference` is the curated corpus
    the perplexity band trains on (used only when
    `cfg.max_perplexity` is set; defaults to the filtered corpus
    itself — self-scoring, the within-distribution outlier cut).
    `dsir_target` is the curated corpus DSIR selection matches against
    (used only when `cfg.dsir_k` is set). One DataFrame in, one out — the whole
    pipeline is a single lazy plan except `connected_components`'
    bounded iterative step (only when near_dup and candidates exist).

    `expose` (round 12): an optional dict the pipeline fills with
    named intermediates — currently `pre_dsir`, the stage-0-7 survivor
    frame the 7b DSIR stage selects FROM (set only when `cfg.dsir_k`
    is on; it is a boundary cached in `caches`, so a caller reading
    it pays nothing extra). A caller that needs both the hygienic
    corpus AND its DSIR-selected subset previously ran the whole
    stage-0-7 walk twice (q64's 'clean'+'dclean' measured 3.0 s +
    4.8 s at sf0.1; sharing the boundary makes it one walk). Consume
    exposed frames before the `caches` scope releases.
    """
    cfg = cfg or CorpusConfig()
    # no caller scope: the caches stay session-wide (module docstring)
    bc = caches if caches is not None else BoundaryCaches()
    d = _profile_and_redact(df, text_col, cfg, id_col)

    # 2b. LM perplexity band (the CCNet quality cut): score every doc
    # against a bigram model of `lm_reference` (a curated corpus —
    # the CCNet recipe) or, absent one, of the filtered corpus itself,
    # and drop high-perplexity outliers. The pruned model broadcasts;
    # scoring re-aggregates the corpus by its own id (one keyed
    # shuffle), and `perplexity` stays as a profile column. Inner
    # join: token-less docs score nothing — stage 1's min_tokens
    # already removed them.
    if cfg.max_perplexity is not None:
        d = bc.cache(d)  # train + score + join read d
        ref = lm_reference if lm_reference is not None else d
        bigrams, contexts, vocab = lm_train(
            ref, text_col, id_col, min_count=cfg.lm_min_count
        )
        perp = lm_perplexity(
            d, text_col, id_col, bigrams, contexts, vocab,
            alpha=cfg.lm_alpha,
        ).select(id_col, "perplexity")
        d = d.join(perp, id_col).filter(
            F.col("perplexity") <= cfg.max_perplexity
        )

    # 3. paragraph-level boilerplate strip; metadata rejoins on the
    # id the reassembly just hash-partitioned by (AQE reuses it)
    if cfg.paragraph_sep is not None:
        d = bc.cache(d)  # rebuilt + meta both read d
        rebuilt = paragraph_dedup(
            d, text_col, id_col, sep=cfg.paragraph_sep
        )
        meta = d.drop(text_col, "n_tokens")
        d = (
            rebuilt.select(id_col, text_col)
            .join(meta, id_col)
            .withColumn("n_tokens", _n_tokens(text_col))
        )

    # 3b. ExactSubstr span dedup (Lee et al. 2022): repeated k-token
    # spans keep only their first occurrence — finer-grained than the
    # whole-document stages around it. Runs AFTER the paragraph strip
    # (boilerplate already gone = fewer duplicated windows to shuffle)
    # and BEFORE exact dedup (a doc reduced to an exact twin by span
    # cuts collapses in the cheap hash stage). Fully-cut docs drop;
    # metadata rejoins on id like the paragraph stage.
    if cfg.substr_k is not None:
        from ..operators.dedup import exact_substring_dedup

        d = bc.cache(d)  # rebuilt + meta both read d
        rebuilt = exact_substring_dedup(
            d, text_col, id_col, k=cfg.substr_k
        ).filter(F.col("n_kept") > 0)
        meta = d.drop(text_col, "n_tokens")
        d = (
            rebuilt.select(id_col, text_col)
            .join(meta, id_col)
            .withColumn("n_tokens", _n_tokens(text_col))
        )

    # 4. exact keep-first (content-hash groupBy + id semi-join)
    d = bc.cache(d)  # keepers + the semi-join both read d
    keepers = exact_dedup(d, text_col, id_col).select(
        F.col("keeper_id").alias(id_col)
    )
    d = d.join(keepers, id_col, "semi")

    # 5. near-dup funnel; shingle hashes shared across both stages
    if cfg.near_dup:
        d = bc.cache(d)  # the funnel references d ~10 times
        sh = with_shingles(d, text_col, id_col)
        hashes = shingle_hashes(sh, id_col)
        sigs = minhash_signatures(
            sh, id_col, cfg.minhash_k, hashes=hashes
        )
        cand = lsh_candidates(sigs, id_col, cfg.minhash_k, cfg.bands)
        pairs = jaccard_pairs(
            cand, sh, id_col, cfg.jaccard, hashes=hashes
        ).select("id_a", "id_b")
        comp = connected_components(pairs)
        d = (
            d.join(
                F.broadcast(comp), d[id_col] == comp["node"], "left"
            )
            .filter(
                F.col("node").isNull()
                | (F.col("component") == F.col(id_col))
            )
            .drop("node", "component")
        )

    # 6. decontaminate (broadcast eval grams; anti-join the hits)
    if benchmark is not None:
        d = bc.cache(d)  # gram explode + anti-join both read d
        hits = decontaminate(
            d, benchmark, text_col, id_col, cfg.decontam_ngram
        )
        d = d.join(hits.select(id_col), id_col, "anti")

    # 7. mixture (codegen CASE filter)
    if cfg.mixture:
        d = weighted_domain_sample(
            d, id_col, cfg.domain_col, cfg.mixture
        )

    # 7b. DSIR selection (Xie et al. 2023): keep the dsir_k survivors
    # most like `dsir_target` via Gumbel top-k over hashed-n-gram
    # importance weights. The dim-row model broadcasts, scoring
    # re-aggregates by id, and the k-row selection broadcast-semi-joins
    # back — the corpus never shuffles for this stage.
    if cfg.dsir_k is not None:
        if dsir_target is None:
            raise ValueError(
                "cfg.dsir_k is set but prepare_corpus got no "
                "dsir_target corpus to match against"
            )
        from ..operators.dsir import (
            dsir_bucket_counts,
            dsir_model,
            dsir_resample,
            dsir_weights,
        )

        d = bc.cache(d)  # model counts + scoring + join read d
        if expose is not None:
            expose["pre_dsir"] = d
        model = dsir_model(
            dsir_bucket_counts(dsir_target, text_col, cfg.dsir_dim),
            dsir_bucket_counts(d, text_col, cfg.dsir_dim),
            dim=cfg.dsir_dim,
            alpha=cfg.dsir_alpha,
        )
        wts = dsir_weights(d, text_col, id_col, model, dim=cfg.dsir_dim)
        sel = dsir_resample(
            wts, id_col, k=cfg.dsir_k, lam=cfg.dsir_lam, seed=cfg.dsir_seed
        ).select(id_col)
        d = d.join(F.broadcast(sel), id_col, "semi")
    return d


@dataclass(frozen=True)
class CorpusState:
    """Running dedup state between daily batches — the ONLY thing
    history contributes (its text never reloads): `seen_keys` is one
    8-byte content hash per kept doc, `banded` is the append-only
    (doc, band_key) LSH table (None when near-dup is off), and
    `bloom` is the 2 KB (word, bits) Bloom register table over the
    same keys — when present, certainly-new batch rows skip the
    exact anti-join map-side (no false negatives, so the split is
    lossless). Persist all three as tables between batches; at
    100 TB the batch side alone moves in the state joins."""

    seen_keys: DataFrame
    banded: DataFrame | None
    bloom: DataFrame | None = None


def empty_state(spark, near_dup: bool = True) -> CorpusState:
    """Day-0 state: typed empty frames matching the operators'
    layouts. The Bloom register table starts empty and accretes by
    OR-merge with each batch's survivor keys."""
    return CorpusState(
        seen_keys=spark.createDataFrame([], "content_key bigint"),
        banded=(
            spark.createDataFrame([], "doc bigint, band_key string")
            if near_dup
            else None
        ),
        bloom=spark.createDataFrame([], "word bigint, bits bigint"),
    )


def prepare_batch(
    new_df: DataFrame,
    state: CorpusState,
    id_col: str = "doc_id",
    text_col: str = "text",
    cfg: CorpusConfig | None = None,
    caches: BoundaryCaches | None = None,
) -> tuple[DataFrame, CorpusState]:
    """The daily-crawl update path: run a NEW batch through the same
    profile/redaction stages, then dedup it against the running state
    instead of re-deduplicating history. Returns (clean batch, next
    state). History×history work never re-runs; each batch pays only
    batch-sized joins against 8/16-byte state keys.

    Near-dup policy is CANDIDATE-level (the BigCode/SlimPajama-style
    LSH drop): a new doc sharing any band key with history or with a
    kept batch doc drops — no exact-Jaccard verify, because history
    shingles are gone by design (the state keeps band keys only).
    Assumes ids grow monotonically across batches (crawl ids do), so
    the greater id of a colliding pair is always the newcomer.
    `cfg.jaccard` is therefore unused here; tune `bands`/`minhash_k`
    to set the collision-probability threshold instead.

    When the state carries a Bloom register table (`empty_state`
    includes one), it folds into the plan as a 2 KB literal and the
    exact anti-join only sees 'maybe seen' rows; `bloom_literal` is
    an eager KB-scale collect at composition time (the one driver
    round-trip this function makes)."""
    cfg = cfg or CorpusConfig()
    # no caller scope: the caches stay session-wide (module docstring)
    bc = caches if caches is not None else BoundaryCaches()
    d = _profile_and_redact(new_df, text_col, cfg, id_col)
    d = bc.cache(d)  # keyed twice below + the survivors join

    lit_bloom = (
        bloom_literal(state.bloom) if state.bloom is not None else None
    )
    survivors, updated_keys = incremental_exact_dedup(
        d, state.seen_keys, text_col, id_col, seen_bloom=lit_bloom
    )
    survivors = bc.cache(survivors)  # clean + the bloom delta
    next_bloom = state.bloom
    if state.bloom is not None:
        next_bloom = bloom_merge(
            state.bloom,
            bloom_build(
                survivors.select("content_key"), "content_key"
            ),
        )
    clean = survivors.drop("content_key", "n_copies")
    banded = state.banded
    if cfg.near_dup:
        if banded is None:
            raise ValueError(
                "prepare_batch: cfg.near_dup=True but state has no "
                "banded table — build the state with "
                "empty_state(spark, near_dup=True)"
            )
        clean = bc.cache(clean)
        cands, new_banded = incremental_lsh_candidates(
            clean, banded, id_col, text_col,
            k=cfg.minhash_k, bands=cfg.bands,
        )
        losers = cands.select(F.col("id_b").alias(id_col)).distinct()
        clean = clean.join(losers, id_col, "anti")
        # append-only: state rows for DROPPED newcomers must not
        # enter the table, or tomorrow's batch would collide with
        # ghosts — keep only the kept docs' band keys
        new_banded = new_banded.join(
            clean.select(F.col(id_col).alias("doc")), "doc", "semi"
        )
        banded = banded.unionByName(new_banded)
    return clean, CorpusState(
        seen_keys=updated_keys, banded=banded, bloom=next_bloom
    )


def _list_delta_ids(spark, path: str) -> list[int]:
    """Committed d=<batch_id> delta partitions under `path`, listed
    through the Hadoop FS API — works on any Hadoop-compatible
    filesystem (local, HDFS, S3A), not just the local disk."""
    jvm = spark._jvm
    p = jvm.org.apache.hadoop.fs.Path(path)
    fs = p.getFileSystem(spark._jsc.hadoopConfiguration())
    if not fs.exists(p):
        return []
    out = []
    for st in fs.listStatus(p):
        name = st.getPath().getName()
        if name.startswith("d="):
            out.append(int(name[2:]))
    return sorted(out)


def _read_deltas(spark, path: str, upto: int, schema: str) -> DataFrame:
    """Union of delta partitions with d < upto (STRICTLY less: a
    retried micro-batch must not see its own half-written prior
    attempt), empty-typed when none exist yet."""
    ids = [i for i in _list_delta_ids(spark, path) if i < upto]
    if not ids:
        return spark.createDataFrame([], schema)
    cols = [f.split(" ")[0] for f in schema.split(", ")]
    return (
        spark.read.option("basePath", path)
        .parquet(*[f"{path}/d={i}" for i in ids])
        .select(*cols)
    )


def stream_prepare(
    stream: DataFrame,
    sink_dir: str,
    state_dir: str,
    checkpoint: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    cfg: CorpusConfig | None = None,
) -> None:
    """The daily-crawl loop as a STREAM: `foreachBatch` runs each
    arriving micro-batch through the `prepare_batch` stages against
    the state committed by earlier batches, then writes three
    batch-id-partitioned outputs — clean docs to `sink_dir/d=<n>`,
    the exact-survivor content keys to `<state>/seen/d=<n>`, and the
    kept docs' band keys to `<state>/banded/d=<n>`.

    Exactly-once by idempotent partitions: foreachBatch is
    at-least-once, so every write targets the batch's OWN d=<n>
    directory with overwrite — a retried batch rewrites exactly its
    partitions, and state reads take only d < n, never a half-written
    own attempt. The streaming checkpoint (source WAL) guarantees a
    file is assigned to one batch id forever, so re-running the drain
    after a crash resumes with the same assignment. State stays
    append-only deltas — no batch ever rewrites history, the
    100 TB-critical property (the per-batch read of prior key deltas
    is an 8/16-byte-column scan with partition pruning).

    Same dedup policy as `prepare_batch` (candidate-level LSH drop,
    seen-content keys include near-dup losers)."""
    cfg = cfg or CorpusConfig()

    def process(batch_df: DataFrame, batch_id: int) -> None:
        spark = batch_df.sparkSession
        # batch-scoped boundary caches: a long-running stream would
        # otherwise accumulate every batch's boundary caches in the
        # executors until the process dies — release them once this
        # batch's writes are committed
        with BoundaryCaches() as bc:
            seen = _read_deltas(
                spark,
                f"{state_dir}/seen",
                batch_id,
                "content_key bigint",
            )
            # the Bloom deltas OR-fold into one literal word array —
            # reading ≤⌈m/63⌉ register rows per committed batch, a
            # KB-scale scan that saves shuffling the all-new majority
            # of this batch through the exact anti-join
            bloom_regs = (
                _read_deltas(
                    spark,
                    f"{state_dir}/bloom",
                    batch_id,
                    "word bigint, bits bigint",
                )
                .groupBy("word")
                .agg(F.bit_or("bits").alias("bits"))
            )
            d = bc.cache(
                _profile_and_redact(batch_df, text_col, cfg, id_col)
            )
            survivors, _ = incremental_exact_dedup(
                d,
                seen,
                text_col,
                id_col,
                seen_bloom=bloom_literal(bloom_regs),
            )
            survivors = bc.cache(survivors)
            key_delta = survivors.select("content_key")
            clean = survivors.drop("content_key", "n_copies")
            band_delta = None
            if cfg.near_dup:
                banded = _read_deltas(
                    spark,
                    f"{state_dir}/banded",
                    batch_id,
                    "doc bigint, band_key string",
                )
                clean = bc.cache(clean)
                cands, new_banded = incremental_lsh_candidates(
                    clean, banded, id_col, text_col,
                    k=cfg.minhash_k, bands=cfg.bands,
                )
                losers = cands.select(
                    F.col("id_b").alias(id_col)
                ).distinct()
                clean = clean.join(losers, id_col, "anti")
                band_delta = new_banded.join(
                    clean.select(F.col(id_col).alias("doc")),
                    "doc",
                    "semi",
                )
            clean.write.mode("overwrite").parquet(
                f"{sink_dir}/d={batch_id}"
            )
            key_delta.write.mode("overwrite").parquet(
                f"{state_dir}/seen/d={batch_id}"
            )
            bloom_build(key_delta, "content_key").write.mode(
                "overwrite"
            ).parquet(f"{state_dir}/bloom/d={batch_id}")
            if band_delta is not None:
                band_delta.write.mode("overwrite").parquet(
                    f"{state_dir}/banded/d={batch_id}"
                )

    q = (
        stream.writeStream.foreachBatch(process)
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()


def compact_state(spark, state_dir: str) -> None:
    """Offline maintenance for the streaming state: fold every delta
    partition of each state table into the NEWEST one, then delete
    the older directories. Months of daily d=<n> deltas otherwise
    accumulate as many small files; after compaction each table is one
    partition whose id is the highest committed batch, so `_read_deltas`'
    d < n contract for future batches is untouched.

    Crash-safe by idempotent SEMANTICS, not by atomicity: the fold
    writes the union into the newest delta first and deletes older
    dirs after, so a crash between the two leaves duplicate state
    rows — which are harmless here (seen_keys feeds an anti-join,
    band keys feed a distinct-ed candidate join), and re-running the
    compaction converges. Run it between drains, not concurrently
    with one."""
    for sub, schema in (
        ("seen", "content_key bigint"),
        ("banded", "doc bigint, band_key string"),
        ("bloom", "word bigint, bits bigint"),
    ):
        path = f"{state_dir}/{sub}"
        ids = _list_delta_ids(spark, path)
        if len(ids) < 2:
            continue
        top = max(ids)
        merged = _read_deltas(spark, path, top + 1, schema)
        if sub == "bloom":
            # registers fold by OR (readers bit_or anyway; folding
            # here shrinks months of deltas to ≤⌈m/63⌉ rows)
            merged = merged.groupBy("word").agg(
                F.bit_or("bits").alias("bits")
            )
        # materialize BEFORE overwriting a directory being read
        merged = cut(merged)
        merged.write.mode("overwrite").parquet(f"{path}/d={top}")
        jvm = spark._jvm
        fs = jvm.org.apache.hadoop.fs.Path(path).getFileSystem(
            spark._jsc.hadoopConfiguration()
        )
        for i in ids:
            if i != top:
                fs.delete(
                    jvm.org.apache.hadoop.fs.Path(f"{path}/d={i}"), True
                )


def to_sequences(
    corpus: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    capacity: int = 512,
    shard_col: str = "lang",
    seed: str = "epoch:0",
    chunk_long: bool = False,
    piece_base: int = 1_000_000,
) -> DataFrame:
    """Stage 8: pack the cleaned corpus into fixed-token-budget bins
    (per-shard next-fit) and attach `bin_order`, a deterministic
    pseudorandom training-order key per (shard, bin). Order an epoch
    by `bin_order` — bins stream sequentially (IO-friendly) in a
    reproducible random order that reshuffles per `seed`; the corpus
    never pays a global row-level sort.

    `chunk_long=False` (default): a doc longer than `capacity` gets a
    bin of its own (pack_documents' rule). `chunk_long=True` is the
    standard training path instead: every doc first splits into
    ≤capacity token windows (`chunk_documents`, codegen explode — a
    short doc is exactly one window), then the WINDOWS pack, so no
    bin ever exceeds capacity. Output then carries (doc_id, chunk_id)
    per packed piece instead of the bare id. Chunks keep next-fit's
    doc-contiguity: a doc's windows pack consecutively in order, so a
    sequence boundary never interleaves two documents' text.

    `piece_base` bounds the windows-per-doc of the synthetic piece id
    (below); the default 10^6 admits a ~500M-token document at
    capacity 512. It is exposed so tests can exercise the guard
    without generating a million chunks."""
    if chunk_long:
        from ..operators.text import chunk_documents

        # synthetic orderable piece id = id·piece_base + chunk_id
        # keeps the (doc, window) order under ONE sort key — valid
        # ONLY while chunk_id < piece_base, or two documents' windows
        # would silently collide into the same id space and scramble
        # bin contents. ENFORCED row-by-row: assert_true evaluates
        # inside the piece-id projection itself (a detached assert
        # column would be pruned as dead code), so a doc with
        # ≥piece_base windows fails the job loudly instead of
        # corrupting the packing.
        pieces = chunk_documents(corpus, text_col, id_col, capacity)
        guard = F.assert_true(
            F.col("chunk_id") < F.lit(piece_base),
            F.concat(
                F.lit(
                    "to_sequences: document exceeds piece_base="
                    f"{piece_base} windows (doc "
                ),
                F.col(id_col).cast("string"),
                F.lit(f", capacity {capacity}); raise piece_base"),
            ),
        )
        piece = F.col(id_col) * F.lit(piece_base) + F.col("chunk_id")
        pieces = pieces.join(
            corpus.select(id_col, shard_col), id_col
        ).select(
            F.when(guard.isNull(), piece).alias("__piece"),
            F.col("chunk_text").alias(text_col),
            shard_col,
        )
        packed = pack_documents(
            pieces, text_col, "__piece", capacity, shard_col=shard_col
        )
        packed = packed.select(
            shard_col,
            F.floor(F.col("__piece") / piece_base)
            .cast("long")
            .alias(id_col),
            F.pmod(F.col("__piece"), F.lit(piece_base))
            .cast("int")
            .alias("chunk_id"),
            "n_tokens",
            "bin",
        )
    else:
        packed = pack_documents(
            corpus, text_col, id_col, capacity, shard_col=shard_col
        )
    return packed.withColumn(
        "bin_order",
        hash_uniform(
            F.concat_ws(
                "\x1f", F.col(shard_col), F.col("bin").cast("string")
            ),
            seed,
        ),
    )
