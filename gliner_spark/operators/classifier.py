"""Learned quality filter — logistic regression on hashed bag-of-grams
(the FineWeb-edu / LLaMA-style "quality classifier" stage: train on a
small positive set (curated/edu-like) vs a negative sample (raw crawl),
then score the whole corpus and keep the top slice).

Spark-first training as a DRIVER LOOP where each iteration is ONE
map-side-combining aggregate over the corpus (the pagerank / k-means
stance — the driver holds only the O(n_buckets) weight vector, never
data):

  features   per-doc bucket-id array from the SAME portable-md5
             unigram+bigram hashing as DSIR / corpus_divergence (one
             shared feature space across the learned-filter family),
             precomputed ONCE and localCheckpoint'd — iterations never
             re-tokenize;
  forward    w·x per doc is a map-side array fold over the bucket ids,
             the weight vector riding as a ONE-ROW broadcast column
             (the broadcast-tensor rule — never a literal);
  gradient   residual (σ(w·x) − y) exploded per bucket id →
             groupBy(bucket).sum — ≤ n_buckets + 1 (hash, sum) rows
             shuffle and collect per iteration, corpus-size
             independent driver state.

Scoring a corpus with a trained model is a pure map, zero shuffle.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions.text import tokens, word_ngrams
from .similarity import _with_const

__all__ = ["train_quality_classifier", "score_quality"]


def _bucket_arr(text_col: str, n_buckets: int):
    """array<int> of feature-bucket ids (unigrams + bigrams, repeats
    kept — counts matter). Same portable-md5 bucket math as
    curation._dsir_bucket_sql, composed structurally."""
    toks = tokens(F.lower(F.col(text_col)))
    grams = F.concat(toks, word_ngrams(toks, 2))
    return F.transform(
        grams,
        lambda g: F.pmod(
            F.conv(F.substring(F.md5(g), 1, 15), 16, 10).cast("bigint"),
            F.lit(n_buckets),
        ).cast("int"),
    )


def _margin(buckets, n_buckets: int):
    """w·x + bias as a fold over a bucket-id array with `_w` riding as
    the broadcast weight column (bias is _w[n_buckets])."""
    w = F.col("_w")
    return F.aggregate(buckets, w[n_buckets], lambda acc, b: acc + w[b])


def train_quality_classifier(
    pos_docs: DataFrame,
    neg_docs: DataFrame,
    n_buckets: int = 4096,
    iters: int = 20,
    lr: float = 0.5,
    l2: float = 1e-4,
    text_col: str = "text",
) -> list[float]:
    """→ weight vector of length n_buckets + 1 (bias last). Batch
    gradient descent on mean log-loss with L2; one aggregate job per
    iteration. Deterministic given the inputs up to distributed
    float-sum order (~1e-12 per iteration — tolerance-tested against a
    numpy replay)."""
    feats = (
        pos_docs.select(
            _bucket_arr(text_col, n_buckets).alias("_b"),
            F.lit(1.0).alias("_y"),
        )
        .unionByName(
            neg_docs.select(
                _bucket_arr(text_col, n_buckets).alias("_b"),
                F.lit(0.0).alias("_y"),
            )
        )
        .localCheckpoint()
    )
    n = feats.count()
    if n == 0:
        raise ValueError("train_quality_classifier: empty training set")
    w = [0.0] * (n_buckets + 1)
    for _ in range(iters):
        with_w = _with_const(feats, "_w", w, "array<double>")
        margin = _margin(F.col("_b"), n_buckets)
        resid = (F.lit(1.0) / (F.lit(1.0) + F.exp(-margin))) - F.col("_y")
        rows = (
            with_w.select(
                resid.alias("_r"),
                # bias rides as a synthetic always-on bucket id
                F.explode(
                    F.concat("_b", F.array(F.lit(n_buckets)))
                ).alias("b"),
            )
            .groupBy("b")
            .agg(F.sum("_r").alias("g"))
            .collect()
        )
        grad = [0.0] * (n_buckets + 1)
        for r in rows:
            grad[r["b"]] = r["g"] / n
        w = [wi - lr * (gi + l2 * wi) for wi, gi in zip(w, grad)]
    return w


def weights_row(spark, weights: list[float]) -> DataFrame:
    """The weight vector as the `_w` column of a ONE-ROW frame, for a
    broadcast cross join onto the docs `quality_prob` scores."""
    return spark.createDataFrame(
        [([float(x) for x in weights],)], "_w: array<double>"
    )


def quality_prob(n_weights: int, text_col: str = "text"):
    """σ(w·x) rounded 6dp, over `text_col` and the `_w` column of
    `weights_row`."""
    margin = _margin(_bucket_arr(text_col, n_weights - 1), n_weights - 1)
    return F.round(F.lit(1.0) / (F.lit(1.0) + F.exp(-margin)), 6)


def score_quality(
    docs: DataFrame,
    weights: list[float],
    text_col: str = "text",
) -> DataFrame:
    """Pure-map scoring: docs + quality_prob = σ(w·x), rounded 6dp.
    The weight vector rides as a one-row broadcast column; no shuffle
    touches the corpus."""
    return docs.crossJoin(
        F.broadcast(weights_row(docs.sparkSession, weights))
    ).select(
        *docs.columns, quality_prob(len(weights), text_col).alias("quality_prob")
    )
