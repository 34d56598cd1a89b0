"""N-gram language-model perplexity scoring — the classic
training-corpus quality filter (CCNet-style: score every candidate
document against a reference LM; high perplexity ⇒ unlike the
reference distribution ⇒ filter or down-weight).

Model: add-α-smoothed bigrams over normalized whitespace tokens with a
BOS context, p(w_i | w_{i−1}) = (c(w_{i−1} w_i) + α) / (c(w_{i−1}) + α·V).
Training is two groupBys over one exploded (prev, tok) pair stream;
scoring is two left joins against the count tables plus one per-doc
aggregate. Everything is built-in-function SQL — no Python UDFs — like
the rest of the text layer.

Determinism: each token's log-probability is a double, but the per-doc
sum runs in fixed-scale decimal (every term rounded once to 15 frac
digits, then summed exactly), so document scores are bit-identical
under ANY partitioning/arrival order — same policy as
`suite/stable.py` sums (pinned by test_ngram_lm).

Scale (100 TB corpus): training shuffles fixed-width token-string
keys; prune the model with `min_count` (the standard vocab cut) so the
count tables stay broadcast-sized — then scoring adds ZERO shuffles on
the corpus (two broadcast joins + one per-doc agg that groups by the
doc id the explode preserved). Unpruned models fall back to shuffle
joins on token keys, still linear.

Reference parity: the reference scores plays with trained models
(`DefCoverage.ipynb` cells 4-6); this is the same train-once /
score-everything shape applied to the documents table (SURVEY.md §2.9
text-analysis family).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from .text import normalize_text, tokens

#: beginning-of-sentence context token (cannot collide with normalized
#: tokens: normalize_text strips '<'/'>')
BOS = "<s>"

#: fixed-scale decimal for the per-doc log-prob sum: 15 fractional
#: digits holds a double's precision for |logp| < 1e9; 38 total digits
#: is Spark's decimal max (sums of billions of terms stay exact)
_DEC = "decimal(38,15)"


def _pairs(df: DataFrame, text_col: str, id_col: str) -> DataFrame:
    """One (prev, tok) row per token, BOS-prefixed: the shared explode
    for training and scoring. O(len) array work per row (two slices +
    arrays_zip), then a struct explode."""
    w = tokens(normalize_text(F.col(text_col)))
    n = F.size(w)
    prevs = F.concat(
        F.array(F.lit(BOS)), F.slice(w, 1, F.greatest(n - 1, F.lit(0)))
    )
    return (
        df.select(
            F.col(id_col),
            F.explode(F.arrays_zip(prevs.alias("prev"), w.alias("tok"))).alias(
                "p"
            ),
        )
        .select(id_col, F.col("p.prev").alias("prev"), F.col("p.tok").alias("tok"))
        .filter(F.col("tok") != "")  # empty docs tokenize to [""]
    )


def lm_train(
    docs: DataFrame,
    text_col: str,
    id_col: str,
    min_count: int = 1,
) -> tuple[DataFrame, DataFrame, DataFrame]:
    """Train the bigram model: returns (bigram counts (prev, tok, cb),
    context counts (prev, cu), vocab size as a ONE-ROW frame (v)).
    `min_count` prunes rare bigrams — the vocab cut that keeps the
    model broadcast-sized at scale; context counts stay UNPRUNED so
    denominators (and therefore probabilities) are unchanged, pruning
    only moves mass to the smoothed floor.

    Each table is one aggregate over the exploded pair stream, whose
    map-side partial aggregation leaves only vocab-bounded rows to
    shuffle: the bigram counts group by (prev, tok), the context counts
    by prev (a context's count is the sum of its bigrams'), and the
    vocab size re-aggregates the bigram counts. Nothing is persisted,
    so the call leaves no storage behind that its caller could not
    release; a caller that runs several actions over the tables and
    wants them computed once caches them in its own scope.

    Round 8: the vocab size is LAZY (a single-row aggregate frame that
    `lm_perplexity` broadcasts), not a driver int — training no longer
    runs an eager 2 s collect job at plan-build time, and the whole
    train+score pipeline is one deferred DAG. α·V is computed at
    runtime as the identical IEEE double multiply the driver-side
    Python performed, so scores are bit-unchanged (and the DuckDB
    oracle already computed it this way)."""
    pairs = _pairs(docs, text_col, id_col)
    unpruned = pairs.groupBy("prev", "tok").agg(F.count("*").alias("cb"))
    bigrams = unpruned.filter(F.col("cb") >= min_count)
    contexts = pairs.groupBy("prev").agg(F.count("*").alias("cu"))
    vocab = unpruned.agg(
        (F.countDistinct("tok") + 1).alias("v")  # +1: unseen mass
    )
    return bigrams, contexts, vocab


def _logp(alpha: float, alpha_v: Column) -> Column:
    num = F.coalesce(F.col("cb"), F.lit(0)).cast("double") + F.lit(alpha)
    den = F.coalesce(F.col("cu"), F.lit(0)).cast("double") + alpha_v
    return F.log(num / den)


def lm_perplexity(
    docs: DataFrame,
    text_col: str,
    id_col: str,
    bigrams: DataFrame,
    contexts: DataFrame,
    vocab: DataFrame | int,
    alpha: float = 0.1,
    broadcast_model: bool = True,
) -> DataFrame:
    """Per-document cross entropy (bits/token) and perplexity against
    a trained model. Returns (id_col, n_tokens, cross_entropy_bits,
    perplexity); empty documents are absent (no tokens to score).

    `broadcast_model=True` broadcasts both count tables (the pruned-
    model case): the corpus is exploded and re-aggregated by its own
    id but never shuffled for the joins themselves.

    `alpha` must be positive: with α=0 an unseen bigram's probability
    is 0 and ln(0) is NULL in Spark's non-ANSI mode — the impossible
    token would silently VANISH from the decimal sum while still
    counting in n_tokens, under-reporting perplexity for exactly the
    documents a quality filter exists to catch."""
    if not alpha > 0:
        raise ValueError(
            f"alpha must be > 0 (got {alpha}): unsmoothed MLE makes "
            "unseen-bigram log-probs NULL and silently drops them"
        )
    b, c = bigrams, contexts
    if broadcast_model:
        b, c = F.broadcast(b), F.broadcast(c)
    pairs = (
        _pairs(docs, text_col, id_col)
        .join(b, ["prev", "tok"], "left")
        .join(c, ["prev"], "left")
    )
    if isinstance(vocab, DataFrame):
        # lazy vocab: the 1-row (v) frame broadcasts in; α·V is the
        # same single IEEE multiply the int path folds at plan time
        pairs = pairs.crossJoin(F.broadcast(vocab))
        alpha_v = F.lit(alpha) * F.col("v").cast("double")
    else:
        alpha_v = F.lit(alpha * vocab)
    scored = pairs.select(
        F.col(id_col),
        _logp(alpha, alpha_v).cast(_DEC).alias("lp"),
    )
    n = F.count("*")
    # decimal sum → order-free; one double division + exp at the end
    ce_bits = (-F.sum("lp").cast("double") / n.cast("double")) / float(
        0.6931471805599453  # ln 2
    )
    return scored.groupBy(id_col).agg(
        n.alias("n_tokens"),
        ce_bits.alias("cross_entropy_bits"),
        F.pow(F.lit(2.0), ce_bits).alias("perplexity"),
    )
