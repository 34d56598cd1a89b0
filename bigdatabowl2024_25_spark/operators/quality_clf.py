"""Linear text quality classifier — the fastText-style filter stage.

CCNet, GPT-3 and LLaMA-class pipelines gate web documents with a tiny
linear classifier over hashed bag-of-words features ("does this look
like Wikipedia/books?"), trained on a curated-positive vs crawl-
negative sample. The model is a weight vector of a few thousand
floats; scoring is a dot product — exactly the shape Spark executes
best as a broadcast-literal codegen map, no UDF, no shuffle.

Determinism: scoring runs in **scaled-integer** space. Weights are
quantized to int64 units of ``1/scale`` once at composition; a
document's logit is the exact bigint sum of its tokens' bucket weights
(`F.aggregate` over the token array — associative integer adds), and
the keep decision compares logit·den ≥ threshold·n·den in integers.
No float sum ever happens, so results are bit-identical across
engines/partitionings and the q60 oracle re-derives them in DuckDB.
The float probability is exposed only as a convenience column.

Training: `train_quality_weights` fits MLlib LogisticRegression on
the SAME hashed-bucket features (counts per bucket, built with
explode + pivot-free groupBy — no Python featurizer) and returns the
weight list ready to pin as a literal. Training is the offline slow
path, like every model fit in `ml.py`; scoring is the 100 TB path.

Scale: the weight array is ``dim`` int64s inlined in the plan (8 KB at
dim=1024) — smaller than the Bloom-literal prefilter the dedup stage
already inlines. Scoring cost is one codegen pass over the tokens the
profile stage already split.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from .text import portable_hash64, tokens

DEFAULT_SCALE = 10**6


def token_bucket(tok: Column, dim: int) -> Column:
    """Portable hash bucket in [0, dim): md5-based, engine-neutral."""
    return portable_hash64(tok) % dim


def quantize_weights(weights: list[float], scale: int = DEFAULT_SCALE) -> list[int]:
    """Float weights → int64 units of 1/scale (round-half-away like
    both engines' ROUND; exactness of the SCORING path only depends on
    both sides using the same quantized list)."""
    return [int(round(w * scale)) for w in weights]


def text_logit_scaled(
    text: Column,
    weights_scaled: list[int],
    *,
    sep: str = " ",
) -> Column:
    """Exact bigint logit: Σ weights[bucket(token)] over non-empty
    tokens. dim = len(weights_scaled)."""
    dim = len(weights_scaled)
    arr = F.array(*[F.lit(int(w)).cast("bigint") for w in weights_scaled])
    toks = F.filter(tokens(text, sep), lambda t: t != F.lit(""))
    return F.aggregate(
        toks,
        F.lit(0).cast("bigint"),
        lambda acc, t: acc
        + F.element_at(arr, (token_bucket(t, dim) + 1).cast("int")),
    )


def quality_keep(
    text: Column,
    weights_scaled: list[int],
    *,
    threshold: float,
    scale: int = DEFAULT_SCALE,
    sep: str = " ",
) -> Column:
    """True when the mean token weight clears `threshold` (in
    un-scaled units). Integer cross-multiplication — no float ever:
    logit ≥ threshold·scale·n ⇔ logit/(scale·n) ≥ threshold."""
    toks = F.filter(tokens(text, sep), lambda t: t != F.lit(""))
    n = F.size(toks)
    thr_scaled = int(round(threshold * scale))
    logit = text_logit_scaled(text, weights_scaled, sep=sep)
    return (n > 0) & (logit >= F.lit(thr_scaled).cast("bigint") * n)


def bucket_counts(
    df: DataFrame, text_col: str, id_col: str, dim: int
) -> DataFrame:
    """(id, bucket, n) hashed bag-of-words — the shared featurizer for
    training and any sparse export. One explode + one groupBy; the
    bucket hash is the SAME `token_bucket` scoring uses, which is the
    invariant that makes trained weights valid at scoring time."""
    toks = F.filter(tokens(F.col(text_col)), lambda t: t != F.lit(""))
    return (
        df.select(F.col(id_col), F.explode(toks).alias("__tok"))
        .groupBy(id_col, token_bucket(F.col("__tok"), dim).alias("bucket"))
        .agg(F.count("*").alias("n"))
    )


def train_quality_weights(
    df: DataFrame,
    text_col: str,
    label_col: str,
    id_col: str,
    *,
    dim: int = 256,
    max_iter: int = 50,
    reg_param: float = 0.0,
) -> tuple[list[float], float]:
    """Fit LogisticRegression over mean-normalized bucket counts and
    return (weights, intercept) for `quantize_weights`. Offline path:
    collects nothing but model coefficients (dim floats)."""
    from pyspark.ml.classification import LogisticRegression
    from pyspark.ml.linalg import Vectors, VectorUDT

    counts = bucket_counts(df, text_col, id_col, dim)
    tot = counts.groupBy(id_col).agg(F.sum("n").alias("__tot"))
    rows = (
        counts.join(tot, id_col)
        .groupBy(id_col)
        .agg(
            F.map_from_arrays(
                F.collect_list("bucket"),
                F.collect_list(F.col("n") / F.col("__tot")),
            ).alias("__feat")
        )
        .join(df.select(id_col, label_col), id_col)
    )

    def to_vec(m):
        return Vectors.sparse(dim, sorted(m.items()))

    from pyspark.sql.functions import udf

    vec = udf(to_vec, VectorUDT())
    train = rows.select(
        vec("__feat").alias("features"),
        F.col(label_col).cast("double").alias("label"),
    )
    lr = LogisticRegression(maxIter=max_iter, regParam=reg_param)
    m = lr.fit(train)
    return list(m.coefficients.toArray()), float(m.intercept)
