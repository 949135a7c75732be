"""Model-based quality scoring: a fastText-style linear classifier
INFERENCE pass over documents.

The standard LLM-pipeline quality gate beyond hand-written heuristics is a
tiny linear text classifier (fastText: Joulin et al. 2016, arXiv:1607.01759
— a bag of hashed word/bigram features through a linear layer). This module
implements the INFERENCE half Spark-first:

- features = words + adjacent-word bigrams, each hashed into one of
  ``BUCKETS`` buckets by the md5 family every sketch in this repo uses
  (deterministic, engine-agnostic — no feature dictionary to ship);
- the weight vector is a plan-time LITERAL baked into the Column expression
  (the SRP-LSH literal-planes trick, operators/similarity.py): at 100 TB
  the trained weights broadcast inside the task binary itself, and the
  whole pass stays oracle-expressible;
- the score is computed per row with higher-order array functions
  (F.aggregate over the feature array) — ZERO exchanges, no explode, no
  groupBy: the classifier is a pure map over the corpus scan;
- the emitted margin is the pre-sigmoid linear score: integer weight sums
  (exact, order-free) with one IEEE division by the feature count. The
  sigmoid is monotone, so thresholding the margin at 0 IS thresholding the
  probability at 0.5 — and exp() is engine-divergent in the last ulp
  (the same reason math_functions excludes ln), so the margin is the
  cross-engine-exact surface.

Weights here are a fixed seed model (common-word prior vs junk/spam
vocabulary, the shape a real fastText quality model learns); swapping in
trained weights is replacing one Python list.
"""

from __future__ import annotations

import hashlib

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

BUCKETS = 512

# Seed model vocabulary. Positive = common/connective words whose density
# tracks well-formed prose (the corpus's working vocabulary); negative =
# junk/spam markers, including bigram features (joined with "_", same form
# the feature extractor emits).
POSITIVE_WORDS = (
    "the", "a", "data", "table", "query", "join", "merge", "sort",
    "window", "stream", "vector", "column", "filter", "group", "order",
    "batch", "spark", "hash", "key", "value",
)
NEGATIVE_WORDS = (
    "slow", "dup", "spam", "click", "subscribe", "buy", "free", "winner",
    "casino", "lottery", "prize", "urgent", "offer", "cheap",
    "click_here", "buy_now", "free_trial", "act_now", "winner_winner",
)


def feature_bucket_py(feature: str) -> int:
    """Plan-time mirror of the engine-side bucket expression."""
    return int(hashlib.md5(feature.encode()).hexdigest()[:8], 16) % BUCKETS


def model_weights() -> list[int]:
    """The hashed weight vector: +1 per ``POSITIVE_WORDS`` feature's bucket,
    -1 per ``NEGATIVE_WORDS`` feature's bucket (collisions sum — exactly how
    a hashed linear model behaves). Integer weights keep the score sum
    exact."""
    w = [0] * BUCKETS
    for p in POSITIVE_WORDS:
        w[feature_bucket_py(p)] += 1
    for n in NEGATIVE_WORDS:
        w[feature_bucket_py(n)] -= 1
    return w


def _bucket(col: Column) -> Column:
    """md5 feature hash → bucket id. SQL mirror:
    ``CAST(('0x' || substring(md5(x), 1, 8)) AS BIGINT) % BUCKETS``."""
    return (
        F.conv(F.substring(F.md5(col), 1, 8), 16, 10).cast("bigint")
        % BUCKETS
    )


def feature_array(toks: Column) -> Column:
    """words + adjacent bigrams from a token-array column.

    sequence(1, 0) would DESCEND and fabricate pairs for 1-token docs
    (the bpe_pair_counts lesson) — the bigram fan-in is guarded on
    size >= 2."""
    bigrams = F.when(
        F.size(toks) >= 2,
        F.transform(
            F.sequence(F.lit(1), F.size(toks) - 1),
            lambda i: F.concat(
                F.element_at(toks, i),
                F.lit("_"),
                F.element_at(toks, i + 1),
            ),
        ),
    ).otherwise(F.array().cast("array<string>"))
    return F.concat(toks, bigrams)


def score_sum_expr(feats: Column, weights: list[int] | None = None) -> Column:
    """Σ weights[bucket(feature)] as an exact BIGINT fold — the linear
    layer. Stateless Column algebra, so it drops unchanged into a
    streaming micro-batch."""
    w = weights if weights is not None else model_weights()
    w_lit = F.array(*[F.lit(x) for x in w])
    return F.aggregate(
        feats,
        F.lit(0).cast("bigint"),
        lambda acc, x: acc
        + F.element_at(w_lit, (_bucket(x) + 1).cast("int")).cast("bigint"),
    )


def tokens_expr(text_col: str = "text") -> Column:
    return F.filter(F.split(F.lower(F.col(text_col)), " "), lambda t: t != "")


def score_documents(
    docs: DataFrame,
    weights: list[int] | None = None,
) -> DataFrame:
    """The inference pass over ``text``: (doc_id, n_feats, score_sum,
    margin, keep).

    ``score_sum`` = Σ weights[bucket(feature)] over words + bigrams
    (exact BIGINT), ``margin`` = score_sum / n_feats (one IEEE division;
    0.0 for featureless docs), ``keep`` = margin > 0. Pure Column
    algebra over one projection of the corpus scan — no UDF, no shuffle.
    """
    with_toks = docs.select("doc_id", tokens_expr().alias("toks"))
    feats = feature_array(F.col("toks"))
    scored = with_toks.select(
        "doc_id",
        F.size(feats).cast("bigint").alias("n_feats"),
        score_sum_expr(feats, weights).alias("score_sum"),
    )
    margin = F.when(F.col("n_feats") == 0, F.lit(0.0)).otherwise(
        F.col("score_sum").cast("double") / F.col("n_feats")
    )
    return scored.select(
        "doc_id",
        "n_feats",
        "score_sum",
        margin.alias("margin"),
        (margin > 0).cast("bigint").alias("keep"),
    )


def weights_sql_literal() -> str:
    """The weight vector as a DuckDB list literal, for oracle strings."""
    return "[" + ", ".join(str(x) for x in model_weights()) + "]"
