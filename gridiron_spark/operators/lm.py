"""Hashed n-gram language-model scoring: perplexity filtering (CCNet) and
importance resampling (DSIR) — the two standard model-based DATA-SELECTION
passes an LLM pretraining pipeline runs after heuristic quality gates.

- **Perplexity filtering** (Wenzek et al. 2019, CCNet, arXiv:1911.00359):
  score every document under a small language model trained on a trusted
  corpus and keep the low-perplexity (in-domain) tail. Here the LM is a
  hashed UNIGRAM model: token → md5 bucket → quantized negative-log-prob
  from a plan-time literal table. The emitted surface is the mean quantized
  nlp (exact BIGINT sum, one IEEE division) — perplexity itself is
  2^(avg_nlp/10), a monotone transform, so thresholding avg_nlp IS
  thresholding perplexity without exp()'s engine-divergent last ulp (the
  same margin-not-sigmoid trick as operators/quality_model.py).

- **DSIR** (Xie et al. 2023, "Data Selection for Language Models via
  Importance Resampling", arXiv:2302.03169): weight every raw document by
  log p_target(x) − log p_raw(x) under two hashed bag-of-n-grams unigram
  models and resample the top of the weight distribution. The two models
  collapse into ONE literal log-ratio table λ[b] = qlog_t[b] − qlog_r[b],
  so the pass is a single fold over the hashed feature array.

Both passes are pure Column algebra over one projection of the corpus scan
— features hash via the repo's md5 family (no dictionary to ship), the
model rides in the plan as a literal array, zero exchanges, no explode, no
Python. At 100 TB the scoring is embarrassingly parallel; only DSIR's final
top-N is a TakeOrderedAndProject (driver holds N rows, never the corpus).

Log-probs are quantized to integer deci-bits (×10, floor) at PLAN time in
Python — engines only ever see integer literals, so the sums are exact and
hash-checkable cross-engine (the round-6 fixed-point rule: quantize first,
divide once at the end).
"""

from __future__ import annotations

import math

from pyspark.sql import Column
from pyspark.sql import functions as F

from gridiron_spark.operators.quality_model import feature_bucket_py

BUCKETS = 512

# The trusted-corpus vocabulary for the unigram LM, most-frequent first
# (Zipf ranks 1..N). Matches the synthetic corpus's working vocabulary —
# the role Wikipedia plays for CCNet's KenLM.
LM_VOCAB = (
    "scan", "column", "window", "order", "sort", "part", "agg", "value",
    "line", "key", "join", "merge", "query", "group", "a", "vector",
    "hash", "slow", "stream", "filter", "fast", "the", "spark", "batch",
    "table", "small", "data", "big", "customer", "row",
)

# Out-of-vocabulary cost: ~2^-14 — well above any in-vocab word's nlp, so
# rare-token-heavy docs (OCR noise, spam markers, word salad) score high.
OOV_NLP10 = 140

# DSIR target vs raw unigram vocabularies. Target = the analytics-prose
# core; raw = generic fillers + junk markers. Words in neither list hash
# to buckets whose ratio is 0 (both models back off to the same OOV mass).
DSIR_TARGET = (
    "scan", "column", "window", "join", "query", "group", "vector",
    "hash", "stream", "filter", "spark", "batch", "table", "data",
    "merge", "sort", "agg", "key",
)
DSIR_RAW = (
    "a", "the", "slow", "small", "big", "dup", "spam", "click", "buy",
    "free", "winner", "casino", "row", "customer", "value", "line",
)


def _q10(x: float) -> int:
    """Quantize a plan-time float to integer deci-units (floor)."""
    return int(math.floor(x * 10.0))


def unigram_nlp_table() -> list[int]:
    """Hashed unigram negative-log-prob table (deci-bits) over ``LM_VOCAB``.
    A Zipf(1) prior over the vocab: p(rank r) ∝ 1/r, so nlp(r) = log2(H) +
    log2(r) with H the harmonic normalizer. Collisions take the MORE
    PROBABLE word's cost (min nlp) — exactly how a hashed LM degrades."""
    h = sum(1.0 / r for r in range(1, len(LM_VOCAB) + 1))
    tab = [OOV_NLP10] * BUCKETS
    for i, w in enumerate(LM_VOCAB):
        b = feature_bucket_py(w) % BUCKETS
        nlp10 = _q10(math.log2(h) + math.log2(i + 1))
        tab[b] = min(tab[b], nlp10)
    return tab


def dsir_logratio_table() -> list[int]:
    """λ[b] = qlog_target[b] − qlog_raw[b] in deci-bits, target
    ``DSIR_TARGET`` and raw ``DSIR_RAW``. Each model is a
    uniform unigram over its vocab with an OOV floor; subtracting makes
    the shared OOV mass cancel to 0, so only distribution DIFFERENCES
    move a document's weight (the DSIR estimator's defining property)."""
    def qlogs(vocab: tuple[str, ...]) -> list[int]:
        inv = _q10(math.log2(len(vocab)))  # -log2 p, uniform over vocab
        t = [OOV_NLP10] * BUCKETS
        for w in vocab:
            b = feature_bucket_py(w) % BUCKETS
            t[b] = min(t[b], inv)
        return t

    qt, qr = qlogs(DSIR_TARGET), qlogs(DSIR_RAW)
    # λ = (−nlp_t) − (−nlp_r) = nlp_r − nlp_t
    return [qr[b] - qt[b] for b in range(BUCKETS)]


def _bucket(col: Column) -> Column:
    """md5 feature hash → bucket id (the quality_model/countmin family).
    SQL mirror: CAST(('0x' || substring(md5(x),1,8)) AS BIGINT) % B."""
    return (
        F.conv(F.substring(F.md5(col), 1, 8), 16, 10).cast("bigint") % BUCKETS
    )


def table_fold(toks: Column, table: list[int]) -> Column:
    """Σ table[bucket(tok)] over a token array — exact BIGINT fold with
    the table riding in the plan as a literal array."""
    lit = F.array(*[F.lit(int(x)) for x in table])
    return F.aggregate(
        toks,
        F.lit(0).cast("bigint"),
        lambda acc, t: acc
        + F.element_at(lit, (_bucket(t) + 1).cast("int")).cast("bigint"),
    )


def table_sql_literal(table: list[int]) -> str:
    """The quantized table as a DuckDB list literal, for oracle strings."""
    return "[" + ", ".join(str(int(x)) for x in table) + "]"
