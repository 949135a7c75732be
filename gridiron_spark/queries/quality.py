"""Training-data quality filters — the cleaning pass an LLM pipeline runs
between crawling and mixing (PII redaction, boilerplate pruning, repetition
flags, temperature-flattened source sampling, table profiling).

Everything is JVM-side Column expressions (regexp/explode/agg) — no Python
in the hot path — and every query carries a DuckDB oracle. Regexes use
character classes only (no lookaround, no shorthand classes), the subset on
which Java regex and RE2 agree match-for-match.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from gridiron_spark.io.tables import fan_out, load_table
from gridiron_spark.operators.dedup import shingle_rows
from gridiron_spark.operators.profile import profile
from gridiron_spark.queries import register

# --- PII redaction -----------------------------------------------------------

# The synthetic corpus is clean word soup, so each doc deterministically
# gains a contact tail derived from its own doc_id — both engines compute
# the identical derived input, and the redaction math stays hash-checkable.
_CONTACT_SQL = (
    "text || ' contact user' || CAST(doc_id AS VARCHAR)"
    " || '@mail.example.com or +1-555-'"
    " || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0')"
    " || ' see https://data.example.com/doc/' || CAST(doc_id AS VARCHAR)"
)
_PAT_EMAIL = "[a-z0-9.]+@[a-z0-9.-]+"
_PAT_PHONE = "[+][0-9]{1,3}-[0-9]{3}-[0-9]{4}"
_PAT_URL = "https?://[a-z0-9./-]+"


@register(
    "text_redact_pii",
    survey="NS-text(PII redaction: email/phone/URL scrubbing, counted)",
    oracle=f"""
WITH d AS (SELECT doc_id, {_CONTACT_SQL} AS full_text FROM documents),
r AS (
    SELECT doc_id,
           len(regexp_extract_all(full_text, '{_PAT_EMAIL}')) AS n_emails,
           len(regexp_extract_all(full_text, '{_PAT_PHONE}')) AS n_phones,
           len(regexp_extract_all(full_text, '{_PAT_URL}')) AS n_urls,
           regexp_replace(
               regexp_replace(
                   regexp_replace(full_text, '{_PAT_URL}', '<URL>', 'g'),
                   '{_PAT_EMAIL}', '<EMAIL>', 'g'),
               '{_PAT_PHONE}', '<PHONE>', 'g') AS redacted
    FROM d
)
SELECT doc_id, n_emails, n_phones, n_urls,
       length(redacted) AS n_chars_redacted,
       md5(redacted) AS redacted_md5
FROM r
""",
)
def text_redact_pii(spark, sf_dir):
    """PII scrubbing over the corpus: count and replace emails, phone
    numbers, and URLs with typed placeholder tokens. Map-only — a pure
    projection with zero shuffles, so at 100 TB it runs at scan speed and
    pushes nothing anywhere; the per-pattern counts feed redaction-rate
    monitoring. URL is redacted before EMAIL so the host part of a URL can
    never be half-eaten by the email pattern."""
    doc = load_table(spark, sf_dir, "documents")
    full = F.concat(
        F.col("text"),
        F.lit(" contact user"),
        F.col("doc_id").cast("string"),
        F.lit("@mail.example.com or +1-555-"),
        F.lpad((F.col("doc_id") % 10000).cast("string"), 4, "0"),
        F.lit(" see https://data.example.com/doc/"),
        F.col("doc_id").cast("string"),
    )
    redacted = F.regexp_replace(
        F.regexp_replace(
            F.regexp_replace(full, _PAT_URL, "<URL>"), _PAT_EMAIL, "<EMAIL>"
        ),
        _PAT_PHONE,
        "<PHONE>",
    )
    return doc.select(
        "doc_id",
        F.regexp_count(full, F.lit(_PAT_EMAIL)).alias("n_emails"),
        F.regexp_count(full, F.lit(_PAT_PHONE)).alias("n_phones"),
        F.regexp_count(full, F.lit(_PAT_URL)).alias("n_urls"),
        F.length(redacted).alias("n_chars_redacted"),
        F.md5(redacted).alias("redacted_md5"),
    )


# --- boilerplate pruning ------------------------------------------------------

# non-distinct positional 3-gram stream (one row per gram position)
_GRAMS_CTE = """
g AS (
    SELECT doc_id, unnest(
        CASE WHEN len(t) >= 3
             THEN list_transform(range(0, len(t) - 2),
                                 i -> array_to_string(t[i+1:i+3], ' '))
             ELSE [array_to_string(t, ' ')] END) AS shingle
    FROM (SELECT doc_id, string_split(lower(text), ' ') AS t FROM documents)
)
""".strip()

# 2-gram stream for corpus-frequency boilerplate (bigrams recur across
# docs; trigrams in this corpus top out at 7 docs — measured)
_BIGRAMS_CTE = """
g AS (
    SELECT doc_id, unnest(
        CASE WHEN len(t) >= 2
             THEN list_transform(range(0, len(t) - 1),
                                 i -> array_to_string(t[i+1:i+2], ' '))
             ELSE [array_to_string(t, ' ')] END) AS shingle
    FROM (SELECT doc_id, string_split(lower(text), ' ') AS t FROM documents)
)
""".strip()

_BOILER_DOC_FRAC = 0.08  # a phrase in >=8% of the corpus is boilerplate


@register(
    "boilerplate_phrase_flags",
    survey="NS-text(boilerplate pruning: corpus-frequent phrase fraction per doc),J1,A3",
    oracle=f"""
WITH {_BIGRAMS_CTE},
freq AS (
    SELECT shingle FROM g GROUP BY shingle
    HAVING COUNT(DISTINCT doc_id) >=
           (SELECT {_BOILER_DOC_FRAC} * COUNT(*) FROM documents)
)
SELECT g.doc_id,
       COUNT(*) AS n_grams,
       COUNT(freq.shingle) AS n_boiler,
       COUNT(freq.shingle) / COUNT(*) AS boiler_frac,
       COUNT(freq.shingle) / COUNT(*) < 0.2 AS keep
FROM g LEFT JOIN freq USING (shingle)
GROUP BY g.doc_id
""",
)
def boilerplate_phrase_flags(spark, sf_dir):
    """C4-style boilerplate pruning: phrases (word 2-grams) occurring in
    ≥ {frac:.0%} of distinct documents are boilerplate; each doc reports
    its boilerplate-phrase fraction and a keep flag. The threshold is a
    corpus *fraction* (scalar-subquery count), so the filter means the
    same thing at every scale factor.

    Scale shape: the frequent-phrase table is bounded by the *language*
    (phrases repeated across ≥8% of a crawl number in the thousands), not
    by the corpus — so it broadcasts, and the petabyte gram stream takes a
    map-side left join straight into its per-doc aggregate. The only
    corpus-sized shuffles are the linear by-doc_id window of gram assembly
    and the per-doc agg; the gram-frequency count is map-side combined on
    the gram key, and the 1-row corpus count broadcasts into its filter.
    """
    doc = load_table(spark, sf_dir, "documents")
    grams = shingle_rows(doc, k=2, distinct=False)
    min_docs = doc.agg(
        (F.count(F.lit(1)) * _BOILER_DOC_FRAC).alias("min_docs")
    )
    freq = (
        grams.groupBy("shingle")
        .agg(F.countDistinct("doc_id").alias("nd"))
        .join(F.broadcast(min_docs))
        .filter(F.col("nd") >= F.col("min_docs"))
        .select("shingle", F.lit(1).alias("is_boiler"))
    )
    return (
        grams.join(F.broadcast(freq), "shingle", "left")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_grams"),
            F.count("is_boiler").alias("n_boiler"),
        )
        .select(
            "doc_id",
            "n_grams",
            "n_boiler",
            (F.col("n_boiler") / F.col("n_grams")).alias("boiler_frac"),
            (F.col("n_boiler") / F.col("n_grams") < 0.2).alias("keep"),
        )
    )


boilerplate_phrase_flags.__doc__ = boilerplate_phrase_flags.__doc__.format(frac=_BOILER_DOC_FRAC)


# --- repetition / diversity flags --------------------------------------------


@register(
    "gopher_repetition_flags",
    survey="NS-text(quality: word-repetition & diversity flags per doc),A3-A6",
    oracle="""
WITH tok AS (
    SELECT doc_id, unnest(string_split(lower(text), ' ')) AS w FROM documents
),
wc AS (SELECT doc_id, w, COUNT(*) AS cnt FROM tok GROUP BY doc_id, w)
SELECT doc_id,
       CAST(SUM(cnt) AS BIGINT) AS n_tokens,
       COUNT(*) AS n_distinct,
       CAST(MAX(cnt) AS BIGINT) AS top_word_cnt,
       MAX(cnt) / SUM(cnt) AS top_word_frac,
       COUNT(*) / SUM(cnt) AS distinct_frac,
       SUM(length(w) * cnt) / SUM(cnt) AS mean_word_len,
       MAX(cnt) / SUM(cnt) > 0.1 AS flag_repetitive,
       COUNT(*) / SUM(cnt) < 0.3 AS flag_low_diversity
FROM wc GROUP BY doc_id
""",
)
def gopher_repetition_flags(spark, sf_dir):
    """Gopher-rule word-level quality flags: top-word fraction (repetition),
    distinct-word fraction (diversity), mean word length — the cheap
    lexical filters an LLM pipeline applies before any model-based scoring.

    Two linear aggregations, both keyed on doc_id-sized keys with full
    map-side combine; the fractions are single int/int double divisions at
    the end, so every value is bit-exact cross-engine (no double sums).
    """
    doc = load_table(spark, sf_dir, "documents")
    tok = doc.select(
        "doc_id", F.explode(F.split(F.lower("text"), " ")).alias("w")
    )
    wc = tok.groupBy("doc_id", "w").agg(F.count(F.lit(1)).alias("cnt"))
    n_tok = F.sum("cnt")
    n_dst = F.count(F.lit(1))
    top = F.max("cnt")
    return wc.groupBy("doc_id").agg(
        n_tok.alias("n_tokens"),
        n_dst.alias("n_distinct"),
        top.alias("top_word_cnt"),
        (top / n_tok).alias("top_word_frac"),
        (n_dst / n_tok).alias("distinct_frac"),
        (F.sum(F.length("w") * F.col("cnt")) / n_tok).alias("mean_word_len"),
        (top / n_tok > 0.1).alias("flag_repetitive"),
        (n_dst / n_tok < 0.3).alias("flag_low_diversity"),
    )


@register(
    "intra_doc_repetition",
    survey="NS-text(quality: within-doc duplicate n-gram fraction),A3-A4",
    oracle=f"""
WITH {_GRAMS_CTE}
SELECT doc_id,
       COUNT(*) AS n_grams,
       COUNT(DISTINCT shingle) AS n_distinct_grams,
       (COUNT(*) - COUNT(DISTINCT shingle)) / COUNT(*) AS rep_frac,
       (COUNT(*) - COUNT(DISTINCT shingle)) / COUNT(*) > 0.02
           AS flag_self_repetitive
FROM g GROUP BY doc_id
""",
)
def intra_doc_repetition(spark, sf_dir):
    """Within-document n-gram repetition (the Gopher duplicate-ngram rule):
    the fraction of 3-gram positions whose phrase already occurred in the
    same document — high values mean degenerate, loopy text (threshold
    2%: the corpus max is ~7%, measured). Group-local by
    construction: one linear shuffle on doc_id (gram assembly) feeds a
    count/count-distinct aggregate on the same key, so the whole filter is
    a single exchange at any corpus size."""
    doc = load_table(spark, sf_dir, "documents")
    grams = shingle_rows(doc, k=3, distinct=False)
    n = F.count(F.lit(1))
    nd = F.countDistinct("shingle")
    return grams.groupBy("doc_id").agg(
        n.alias("n_grams"),
        nd.alias("n_distinct_grams"),
        ((n - nd) / n).alias("rep_frac"),
        ((n - nd) / n > 0.02).alias("flag_self_repetitive"),
    )


# --- temperature-flattened source sampling ------------------------------------


@register(
    "temperature_mixture_sample",
    survey="NS-sampling(temperature-flattened per-source downsampling),O5,W2",
    oracle="""
WITH d AS (
    SELECT doc_id, source, md5(CAST(doc_id AS VARCHAR)) AS ord FROM documents
),
b AS (
    SELECT source, CAST(floor(sqrt(COUNT(*))) AS BIGINT) * 3 AS k
    FROM d GROUP BY source
),
r AS (
    SELECT doc_id, source,
           CAST(ROW_NUMBER() OVER (
               PARTITION BY source ORDER BY ord, doc_id) AS BIGINT) AS rn
    FROM d
)
SELECT r.doc_id, r.source, r.rn
FROM r JOIN b USING (source)
WHERE r.rn <= b.k
""",
)
def temperature_mixture_sample(spark, sf_dir):
    """Temperature-flattened mixture sampling: each source keeps
    3·⌊√n_docs⌋ documents (budget ∝ n^0.5, i.e. α=0.5 sampling temperature
    — big sources are downweighted, small sources oversampled relative to
    their share), selected in deterministic md5 order so the sample is
    reproducible under retries and identical cross-engine.

    Scale shape: per-source row numbering does NOT use a bare
    ``PARTITION BY source`` window (few sources ⇒ whole-source single
    tasks); it reuses grouped_running_sum's range-exchange + broadcast
    prefix-sum, so parallelism stays |partitions| no matter how few
    sources exist. Budgets are |sources| rows — broadcast.
    """
    from gridiron_spark.operators.ordered import grouped_running_sum

    doc = load_table(spark, sf_dir, "documents").select(
        "doc_id", "source", F.md5(F.col("doc_id").cast("string")).alias("ord")
    )
    budgets = (
        doc.groupBy("source")
        .agg((F.floor(F.sqrt(F.count(F.lit(1)))) * 3).alias("k"))
    )
    numbered = grouped_running_sum(
        doc.withColumn("one", F.lit(1)),
        ["source"],
        ["ord", "doc_id"],
        "one",
        out_col="rn",
    )
    return (
        numbered.join(F.broadcast(budgets), "source")
        .filter(F.col("rn") <= F.col("k"))
        .select("doc_id", "source", "rn")
    )


# --- table profiling -----------------------------------------------------------

_PROFILE_COLS = (
    "o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice",
    "o_orderdate", "o_orderpriority",
)


def _profile_oracle() -> str:
    parts = []
    for c in _PROFILE_COLS:
        # double bounds render engine-specific; timestamp bounds render
        # through the Spark session timezone — both profile as NULL strings
        # (operators/profile.py applies the same dtype gate engine-side)
        safe = c not in ("o_totalprice", "o_orderdate")
        mn = f"CAST(MIN({c}) AS VARCHAR)" if safe else "CAST(NULL AS VARCHAR)"
        mx = f"CAST(MAX({c}) AS VARCHAR)" if safe else "CAST(NULL AS VARCHAR)"
        parts.append(
            f"SELECT '{c}' AS col_name, COUNT(*) AS n_rows,"
            f" COUNT(*) - COUNT({c}) AS n_nulls,"
            f" COUNT(DISTINCT {c}) AS n_distinct,"
            f" {mn} AS min_s, {mx} AS max_s FROM orders"
        )
    return "\nUNION ALL\n".join(parts)


@register(
    "table_profile",
    survey="A-profile(single-pass per-column null/distinct/bounds profile),A3-A6",
    oracle=_profile_oracle(),
)
def table_profile(spark, sf_dir):
    """Data-quality profile of the orders table: per-column null count,
    exact distinct count, and stringified min/max bounds — the ingest-time
    probe that decides whether a new source is trustworthy. ONE scan: the
    multi-COUNT(DISTINCT) aggregate compiles to a single pass with an
    Expand (×|cols|), and the wide→long reshape happens on the one
    aggregated row. See operators/profile.py for the approx_count_distinct
    variant that drops the Expand at 100 TB."""
    # fan_out: the multi-distinct Expand (×|cols| row fan-out feeding the
    # partial aggregate) is narrow over the scan (guide §2.4; no-op at scale)
    o = fan_out(load_table(spark, sf_dir, "orders"))
    return profile(o, _PROFILE_COLS)


@register(
    "corpus_rank_quality",
    survey="NS-text(quality: per-doc mean corpus-frequency rank — rare-word-heavy docs score high),A3,W2,O1",
    oracle="""
WITH wc AS (
    SELECT w AS word, COUNT(*) AS freq
    FROM (SELECT unnest(string_split(lower(text), ' ')) AS w FROM documents)
    WHERE w <> '' GROUP BY w
),
rk AS (
    SELECT word,
           CAST(ROW_NUMBER() OVER (ORDER BY freq DESC, word) AS BIGINT) AS rank
    FROM wc
),
tok AS (
    SELECT doc_id, t[u.i + 1] AS word
    FROM (SELECT doc_id, string_split(lower(text), ' ') AS t FROM documents),
         unnest(range(0, len(t))) AS u(i)
)
SELECT tok.doc_id,
       COUNT(*) AS n_tokens,
       CAST(SUM(rk.rank) AS BIGINT) AS sum_rank,
       CAST(SUM(rk.rank) AS DOUBLE) / COUNT(*) AS mean_rank,
       CAST(MAX(rk.rank) AS BIGINT) AS max_rank
FROM tok JOIN rk USING (word)
GROUP BY tok.doc_id
""",
)
def corpus_rank_quality(spark, sf_dir):
    """Model-free quality scoring against the CORPUS's own statistics: rank
    every vocabulary word by global frequency (1 = most common), then score
    each doc by the mean/max rank of its tokens — a rare-word-heavy doc
    (OCR noise, codes, word salad) scores high, boilerplate scores low.
    This is the corpus-global complement to the per-doc lexical flags
    (gopher_repetition_flags) and the top-K encode (vocab_encode_checksum,
    whose rank window is K-bounded): here the rank runs over the ENTIRE
    vocabulary. mean_rank is one IEEE division of two exact integers, so
    it hash-matches cross-engine.

    Scale shape: a bare ``row_number() over (order by freq)`` would drag
    the whole vocabulary (∝ corpus at web scale) onto ONE task — the rank
    is a grouped_running_sum over (−freq, word) range-exchange instead
    (sample-based boundaries, per-partition local scan, broadcast offset
    table). The ranked vocabulary then joins the token stream on the word
    key (one shuffle each side; at this sf AQE turns it into a broadcast)
    and aggregates per doc.
    """
    from gridiron_spark.operators.bpe import word_freq
    from gridiron_spark.operators.ordered import grouped_running_sum

    doc = load_table(spark, sf_dir, "documents")
    wc = word_freq(doc)
    rk = grouped_running_sum(
        wc.select("word", (-F.col("freq")).alias("nf"), F.lit(1).alias("one")),
        group_cols=[],
        order_cols=["nf", "word"],
        value_col="one",
        out_col="rank",
    ).select("word", F.col("rank").cast("bigint").alias("rank"))
    tok = doc.select(
        "doc_id", F.explode(F.split(F.lower("text"), " ")).alias("word")
    )
    return (
        tok.join(rk, "word")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_tokens"),
            F.sum("rank").cast("bigint").alias("sum_rank"),
            (F.sum("rank").cast("double") / F.count(F.lit(1))).alias("mean_rank"),
            F.max("rank").cast("bigint").alias("max_rank"),
        )
    )


# --- Model-based quality scoring ---------------------------------------------

from gridiron_spark.operators.quality_model import (  # noqa: E402
    BUCKETS as _QM_BUCKETS,
    feature_array as qm_feature_array,
    score_documents,
    score_sum_expr as qm_score_sum,
    tokens_expr as qm_tokens_expr,
    weights_sql_literal,
)


@register(
    "model_quality_score",
    survey="NS-text(model-based quality: fastText-style hashed linear classifier inference),F1-F7",
    oracle=f"""
WITH t AS (
    SELECT doc_id,
           list_filter(string_split(lower(text), ' '), t -> t <> '') AS toks
    FROM documents
),
f AS (
    SELECT doc_id,
           list_concat(
               toks,
               list_transform(range(1, len(toks)),
                              i -> toks[i] || '_' || toks[i + 1])
           ) AS feats
    FROM t
),
s AS (
    SELECT doc_id,
           CAST(len(feats) AS BIGINT) AS n_feats,
           CAST(COALESCE(list_sum(list_transform(feats,
               x -> {weights_sql_literal()}[
                   CAST(CAST(('0x' || substring(md5(x), 1, 8)) AS BIGINT)
                        % {_QM_BUCKETS} + 1 AS INT)]
           )), 0) AS BIGINT) AS score_sum
    FROM f
)
SELECT doc_id, n_feats, score_sum,
       CASE WHEN n_feats = 0 THEN 0.0
            ELSE CAST(score_sum AS DOUBLE) / n_feats END AS margin,
       CAST(CASE WHEN n_feats > 0
                  AND CAST(score_sum AS DOUBLE) / n_feats > 0
            THEN 1 ELSE 0 END AS BIGINT) AS keep
FROM s
""",
)
def model_quality_score(spark, sf_dir):
    """MODEL-based quality gating — the one standard LLM-pipeline filter
    family the heuristic suite (text_redact_pii … intra_doc_repetition)
    doesn't cover: a fastText-style linear classifier inference pass
    (operators/quality_model.py). Words + adjacent bigrams hash into 512
    buckets (the repo's md5 sketch family); a plan-time literal weight
    vector scores each doc; the emitted margin is the exact pre-sigmoid
    linear score (integer weight sums, one IEEE division) and keep
    thresholds it at 0 — identical to thresholding the sigmoid at 0.5,
    without exp()'s engine-divergent last ulp.

    Scale shape: a pure map over the corpus scan — feature hashing,
    weight lookup, and the score fold all run inside higher-order array
    expressions on each row; zero exchanges (plan-guarded), no explode,
    no Python. The weight vector rides in the plan itself, so 1000
    executors need no side channel to serve the model.
    """
    return score_documents(load_table(spark, sf_dir, "documents"))


# --- Checksum-validated PII detection ----------------------------------------

# Derived candidate: a 16-digit card-shaped number appended to each doc's
# text (the synthetic corpus carries no PII — same convention as
# text_redact_pii's contact tail). The last digit is doc_id % 10, so only
# the ~10% of docs where that happens to equal the Luhn check digit carry a
# VALID number — the detector must tell them apart.
_CARD_SQL = (
    "lpad(CAST(doc_id * 7919 % 1000000000000000 AS VARCHAR), 15, '0')"
    " || CAST(doc_id % 10 AS VARCHAR)"
)


@register(
    "pii_luhn_flags",
    survey="NS-text(checksum-validated PII: regex candidate + Luhn mod-10 verification),F1-F7",
    oracle=f"""
WITH d AS (
    SELECT doc_id,
           text || ' card ' || {_CARD_SQL} AS full_text
    FROM documents
),
c AS (
    SELECT doc_id,
           regexp_extract(full_text, '[0-9]{{16}}') AS cand
    FROM d
),
s AS (
    SELECT doc_id, cand,
           CAST(list_sum(list_transform(range(1, 17), i ->
               CASE WHEN (17 - i) % 2 = 0
                    THEN CASE WHEN 2 * (ascii(substring(cand, CAST(i AS INT), 1)) - 48) > 9
                              THEN 2 * (ascii(substring(cand, CAST(i AS INT), 1)) - 48) - 9
                              ELSE 2 * (ascii(substring(cand, CAST(i AS INT), 1)) - 48) END
                    ELSE ascii(substring(cand, CAST(i AS INT), 1)) - 48 END
           )) AS BIGINT) AS luhn_sum
    FROM c
)
SELECT doc_id, cand, luhn_sum,
       CAST(CASE WHEN luhn_sum % 10 = 0 THEN 1 ELSE 0 END AS BIGINT) AS luhn_valid
FROM s
""",
)
def pii_luhn_flags(spark, sf_dir):
    """PII detection v2 — checksum VALIDATION on top of pattern matching:
    a regex finds the 16-digit card-shaped candidate, then the Luhn mod-10
    checksum (the check every real card number passes) separates true
    positives from number-shaped noise — the standard trick that cuts
    credit-card false-positive rates in redaction pipelines by an order
    of magnitude vs regex alone. The checksum is a higher-order fold over
    the digit positions (double every second digit from the right,
    subtract 9 above 9, sum mod 10) — exact integer math end to end.

    Scale shape: pure map over the corpus scan (regexp_extract + one
    16-step fold per row); zero exchanges, no explode, no Python."""
    doc = load_table(spark, sf_dir, "documents")
    card = F.concat(
        F.lpad((F.col("doc_id") * 7919 % 1000000000000000).cast("string"),
               15, "0"),
        (F.col("doc_id") % 10).cast("string"),
    )
    cand = F.regexp_extract(
        F.concat(F.col("text"), F.lit(" card "), card), "[0-9]{16}", 0
    )
    with_cand = doc.select("doc_id", cand.alias("cand"))
    luhn = F.aggregate(
        F.sequence(F.lit(1), F.lit(16)),
        F.lit(0).cast("bigint"),
        lambda acc, i: acc
        + F.when(
            (F.lit(17) - i) % 2 == 0,
            F.when(
                2 * (F.ascii(F.substring(F.col("cand"), i.cast("int"), 1)) - 48) > 9,
                2 * (F.ascii(F.substring(F.col("cand"), i.cast("int"), 1)) - 48) - 9,
            ).otherwise(
                2 * (F.ascii(F.substring(F.col("cand"), i.cast("int"), 1)) - 48)
            ),
        )
        .otherwise(F.ascii(F.substring(F.col("cand"), i.cast("int"), 1)) - 48)
        .cast("bigint"),
    )
    return with_cand.select(
        "doc_id",
        "cand",
        luhn.alias("luhn_sum"),
        (luhn % 10 == 0).cast("bigint").alias("luhn_valid"),
    )


def _funnel_oracle() -> str:
    from gridiron_spark.operators.lm import (
        table_sql_literal,
        unigram_nlp_table,
    )
    from gridiron_spark.operators.quality_model import weights_sql_literal

    bucket = (
        "CAST(CAST(('0x' || substring(md5(x), 1, 8)) AS BIGINT)"
        f" % {_QM_BUCKETS} + 1 AS INT)"
    )
    return f"""
WITH t AS (
    SELECT source,
           string_split(lower(text), ' ') AS rawtoks,
           list_filter(string_split(lower(text), ' '), t -> t <> '') AS toks
    FROM documents
),
s AS (
    SELECT source,
           CASE WHEN len(rawtoks) >= 40
                 AND len(list_distinct(rawtoks)) / len(rawtoks) >= 0.35
                THEN 1 ELSE 0 END AS lex,
           CAST(COALESCE(list_sum(list_transform(
               list_concat(toks,
                   list_transform(range(1, len(toks)),
                                  i -> toks[i] || '_' || toks[i + 1])),
               x -> {weights_sql_literal()}[{bucket}])), 0) AS BIGINT)
               AS score_sum,
           CAST(len(toks) + CASE WHEN len(toks) >= 2
                                 THEN len(toks) - 1 ELSE 0 END AS BIGINT)
               AS n_feats,
           CAST(len(toks) AS BIGINT) AS n_tokens,
           CAST(COALESCE(list_sum(list_transform(toks,
               x -> {table_sql_literal(unigram_nlp_table())}[{bucket}]
           )), 0) AS BIGINT) AS nlp10_sum
    FROM t
),
f AS (
    SELECT source, lex,
           CASE WHEN lex = 1 AND n_feats > 0
                 AND score_sum * 1000 >= n_feats * {_FUNNEL_MARGIN_MILLI}
                THEN 1 ELSE 0 END AS ml,
           CASE WHEN lex = 1 AND n_feats > 0
                 AND score_sum * 1000 >= n_feats * {_FUNNEL_MARGIN_MILLI}
                 AND n_tokens > 0
                 AND nlp10_sum < n_tokens * {_FUNNEL_NLP10}
                THEN 1 ELSE 0 END AS kept
    FROM s
)
SELECT source,
       COUNT(*) AS n_docs,
       CAST(SUM(lex) AS BIGINT) AS n_pass_lexical,
       CAST(SUM(ml) AS BIGINT) AS n_pass_model,
       CAST(SUM(kept) AS BIGINT) AS n_kept
FROM f
GROUP BY source
"""


# Funnel bars tuned to the corpus quantiles so every stage has measurable
# attrition (medians: margin*1000 ~ 308, avg nlp10 ~ 55.0 deci-bits):
# integer cross-multiplied comparisons, no division anywhere.
_FUNNEL_MARGIN_MILLI = 300
_FUNNEL_NLP10 = 56


@register(
    "filter_funnel_report",
    survey="NS-text(composed quality-filter FUNNEL: lexical -> model -> perplexity, per-source attrition report),A3-A6",
    oracle=_funnel_oracle(),
)
def filter_funnel_report(spark, sf_dir):
    """The observability query every production curation pipeline runs
    nightly: the three quality gates this repo implements — lexical
    admission (token count + distinct-word fraction, the streaming gate's
    exact expressions), the fastText-style hashed linear classifier
    (operators/quality_model), and CCNet perplexity under the hashed
    unigram LM (operators/lm) — applied as a SEQUENTIAL funnel, reporting
    per-source attrition at each stage. A source whose docs die at the
    model stage but not the lexical one is spam-shaped; one dying at the
    perplexity stage is out-of-domain — the report is how a data team
    sees WHERE a source's yield goes.

    Scale shape: all three gates are pure per-row Column algebra over ONE
    corpus scan (the models ride as plan literals — zero side channels),
    followed by a single map-side-combined per-source aggregate whose
    output is |sources| rows. No joins, no explode, no second scan: the
    funnel costs exactly one pass at any corpus size."""
    from gridiron_spark.operators.quality_model import (
        _bucket as qm_bucket,
        model_weights,
    )

    # fan_out: the three gates are narrow per-row algebra (one md5 fold
    # per token/bigram) over the scan — a single-file scan would hash the
    # whole corpus on ONE core before the per-source aggregate's exchange
    # (guide §2.4; no-op at scale via the io.tables.fan_out guard)
    docs = fan_out(load_table(spark, sf_dir, "documents"))
    rawtoks = F.split(F.lower("text"), " ")
    toks = qm_tokens_expr()
    # The unigram buckets feed BOTH the classifier fold and the LM fold —
    # materialize them once per row so each token's md5 is computed once,
    # not twice (the hash IS this query's cost; measured ~25% of the
    # funnel's wall at sf0.1). Bigrams are classifier-only and hash in
    # their own fold. Sums are identical to the one-array formulation the
    # oracle replays: Σw over unigrams + Σw over bigrams == Σw over the
    # concatenated feature array.
    w_lit = F.array(*[F.lit(int(x)) for x in model_weights()])
    nlp_lit = F.array(*[F.lit(int(x)) for x in unigram_nlp_table()])

    def _fold_lit(arr, lit):
        return F.aggregate(
            arr,
            F.lit(0).cast("bigint"),
            lambda acc, b: acc
            + F.element_at(lit, (b + 1).cast("int")).cast("bigint"),
        )

    n_toks = F.size(toks)
    bigrams = F.when(
        n_toks >= 2,
        F.transform(
            F.sequence(F.lit(1), n_toks - 1),
            lambda i: qm_bucket(
                F.concat(
                    F.element_at(toks, i),
                    F.lit("_"),
                    F.element_at(toks, i + 1),
                )
            ),
        ),
    ).otherwise(F.array().cast("array<bigint>"))
    staged = docs.select(
        "source",
        (
            (F.size(rawtoks) >= 40)
            & (F.size(F.array_distinct(rawtoks)) / F.size(rawtoks) >= 0.35)
        ).alias("lex"),
        F.transform(toks, qm_bucket).alias("ubk"),
        bigrams.alias("bbk"),
        F.size(toks).cast("bigint").alias("n_tokens"),
    ).select(
        "source",
        "lex",
        (_fold_lit(F.col("ubk"), w_lit) + _fold_lit(F.col("bbk"), w_lit))
        .alias("score_sum"),
        (F.size("ubk") + F.size("bbk")).cast("bigint").alias("n_feats"),
        "n_tokens",
        _fold_lit(F.col("ubk"), nlp_lit).alias("nlp10_sum"),
    )
    ml = (
        F.col("lex")
        & (F.col("n_feats") > 0)
        & (F.col("score_sum") * 1000 >= F.col("n_feats") * _FUNNEL_MARGIN_MILLI)
    )
    kept = (
        ml
        & (F.col("n_tokens") > 0)
        & (F.col("nlp10_sum") < F.col("n_tokens") * _FUNNEL_NLP10)
    )
    return (
        staged.select(
            "source",
            F.col("lex").cast("bigint").alias("lex"),
            ml.cast("bigint").alias("ml"),
            kept.cast("bigint").alias("kept"),
        )
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("lex").cast("bigint").alias("n_pass_lexical"),
            F.sum("ml").cast("bigint").alias("n_pass_model"),
            F.sum("kept").cast("bigint").alias("n_kept"),
        )
    )


from gridiron_spark.operators.lm import (  # noqa: E402
    table_fold,
    unigram_nlp_table,
)


_KANON_K = 10  # re-identification threshold


@register(
    "k_anonymity_audit",
    survey="NS-privacy(k-anonymity audit over quasi-identifier groups),A3-A6",
    oracle=f"""
SELECT c_nationkey,
       c_mktsegment,
       COUNT(*) AS n,
       CAST(CASE WHEN COUNT(*) < {_KANON_K} THEN 1 ELSE 0 END AS BIGINT)
           AS at_risk
FROM customer
GROUP BY c_nationkey, c_mktsegment
""",
)
def k_anonymity_audit(spark, sf_dir):
    """Privacy-governance audit: group the table by its quasi-identifier
    tuple (nation × market segment — the columns an attacker could join
    against an external dataset) and flag every equivalence class smaller
    than k=10. A release is k-anonymous iff NO group is flagged; the
    flagged groups are exactly the rows a suppression/generalization pass
    must treat. Complements the content-level PII family
    (text_redact_pii, pii_luhn_flags): those find identifiers IN values,
    this measures re-identification risk of the SCHEMA.

    Scale shape: one map-side-combined aggregate; output is the
    quasi-identifier domain (|nations|·|segments|), constant in corpus
    size."""
    c = load_table(spark, sf_dir, "customer")
    return (
        c.groupBy("c_nationkey", "c_mktsegment")
        .agg(F.count(F.lit(1)).alias("n"))
        .select(
            "c_nationkey",
            "c_mktsegment",
            "n",
            (F.col("n") < _KANON_K).cast("bigint").alias("at_risk"),
        )
    )


# --- Classifier evaluation ----------------------------------------------------

_EVAL_ANCHOR_MOD = 50  # vec_id % 50 == 0 -> 10 anchor vectors, one-ish per class

_EVAL_COS_SQL = """
list_sum(list_transform(list_zip(e.embedding, a.embedding),
         x -> CAST(x[1] AS DOUBLE) * CAST(x[2] AS DOUBLE)))
/ (sqrt(list_sum(list_transform(e.embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))
 * sqrt(list_sum(list_transform(a.embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))))
""".strip()


def _anchor_assigned(spark, sf_dir):
    """Shared nearest-anchor inference pass: every vector classified by its
    most-cosine-similar anchor (vec_id % _EVAL_ANCHOR_MOD == 0, broadcast
    O(classes) panel), returning (vec_id, true_label, pred_label, cs)
    where cs is the winning anchor's cosine — the classifier's confidence.
    One map over the embedding scan + a per-vector rank-1 window
    (partial WindowGroupLimit); consumed by eval_confusion_metrics (which
    drops cs) and calibration_reliability_bins (which bins it)."""
    from pyspark.sql import Window

    from gridiron_spark.functions.vectors import dot, norm2

    emb = load_table(spark, sf_dir, "embeddings")
    anchors = emb.filter(F.col("vec_id") % _EVAL_ANCHOR_MOD == 0).select(
        F.col("vec_id").alias("aid"),
        F.col("label").alias("pred_label"),
        F.col("embedding").alias("a_embedding"),
        # anchor norm once per anchor, not per (vector, anchor) pair
        norm2(F.col("embedding")).alias("a_nrm"),
    )
    rn = F.row_number().over(
        Window.partitionBy("vec_id").orderBy(F.col("cs").desc(), "aid")
    )
    # cs = dot/(v_nrm·a_nrm) is cosine()'s exact expression with the two
    # norm folds hoisted per side (bit-identical values, 3× fewer array
    # folds in the n×anchors stage); fan_out parallelizes the narrow
    # fan-out over a single-file scan (guide §2.3/§2.4)
    return (
        fan_out(emb)
        .withColumn("v_nrm", norm2(F.col("embedding")))
        .crossJoin(F.broadcast(anchors))
        .select(
            "vec_id",
            F.col("label").alias("true_label"),
            "pred_label",
            "aid",
            (
                dot(F.col("embedding"), F.col("a_embedding"))
                / (F.col("v_nrm") * F.col("a_nrm"))
            ).alias("cs"),
        )
        .withColumn("rn", rn)
        .filter(F.col("rn") == 1)
        .select("vec_id", "true_label", "pred_label", "cs")
    )


@register(
    "eval_confusion_metrics",
    survey="NS-eval(multi-class confusion matrix + exact-rational precision/recall/F1 from a nearest-anchor classifier),A3-A6,J1,W2",
    oracle=f"""
WITH anchors AS (
    SELECT vec_id AS aid, label AS pred_label, embedding
    FROM embeddings WHERE vec_id % {_EVAL_ANCHOR_MOD} = 0
),
assigned AS (
    SELECT vec_id, true_label, pred_label FROM (
        SELECT e.vec_id, e.label AS true_label, a.pred_label,
               ROW_NUMBER() OVER (
                   PARTITION BY e.vec_id
                   ORDER BY {_EVAL_COS_SQL} DESC, a.aid
               ) AS rn
        FROM embeddings e CROSS JOIN anchors a
    ) WHERE rn = 1
),
pairs AS (
    SELECT true_label, pred_label, CAST(COUNT(*) AS BIGINT) AS n
    FROM assigned GROUP BY true_label, pred_label
),
tt AS (SELECT true_label AS label, CAST(SUM(n) AS BIGINT) AS support FROM pairs GROUP BY true_label),
pt AS (SELECT pred_label AS label, CAST(SUM(n) AS BIGINT) AS n_pred FROM pairs GROUP BY pred_label),
tp AS (SELECT true_label AS label, CAST(SUM(n) AS BIGINT) AS tp FROM pairs
       WHERE true_label = pred_label GROUP BY true_label)
SELECT tt.label,
       COALESCE(tp.tp, 0) AS tp,
       COALESCE(pt.n_pred, 0) - COALESCE(tp.tp, 0) AS fp,
       tt.support - COALESCE(tp.tp, 0) AS fn,
       tt.support,
       CASE WHEN COALESCE(pt.n_pred, 0) > 0
            THEN CAST(COALESCE(tp.tp, 0) AS DOUBLE) / pt.n_pred END AS precision,
       CAST(COALESCE(tp.tp, 0) AS DOUBLE) / tt.support AS recall,
       CASE WHEN COALESCE(pt.n_pred, 0) + tt.support > 0
            THEN CAST(2 * COALESCE(tp.tp, 0) AS DOUBLE)
                 / (COALESCE(pt.n_pred, 0) + tt.support) END AS f1
FROM tt
LEFT JOIN pt ON tt.label = pt.label
LEFT JOIN tp ON tt.label = tp.label
""",
)
def eval_confusion_metrics(spark, sf_dir):
    """Model-evaluation metrics as a first-class distributed operator — the
    missing closing stage of the classifier family (model_quality_score
    scores, this entry GRADES): a nearest-anchor classifier (broadcast
    anchor panel, the kmeans_assign idiom: every 50th vector serves as
    its class's anchor) predicts a label for every embedding, and the
    query emits the per-class confusion-matrix row (tp/fp/fn/support)
    plus precision, recall, and F1. Every metric is a SINGLE division of
    identical integer operands in both engines (F1 computed as
    2·tp/(n_pred+support), never the composed 2PR/(P+R) form, which
    would stack three roundings) — hash-stable doubles per the repo
    discipline.

    Scale shape: inference is one map over the embedding scan against a
    broadcast O(classes) anchor panel with a per-vector rank-1 window
    (partial WindowGroupLimit — one survivor per vector leaves each map
    task); the confusion matrix is a |classes|² aggregate and the metric
    joins run on |classes| rows. Nothing after the scan grows with the
    corpus."""
    assigned = _anchor_assigned(spark, sf_dir).select(
        "vec_id", "true_label", "pred_label"
    )
    pairs = assigned.groupBy("true_label", "pred_label").agg(
        F.count(F.lit(1)).alias("n")
    )
    tt = pairs.groupBy(F.col("true_label").alias("label")).agg(
        F.sum("n").cast("bigint").alias("support")
    )
    pt = pairs.groupBy(F.col("pred_label").alias("label")).agg(
        F.sum("n").cast("bigint").alias("n_pred")
    )
    tp = (
        pairs.filter(F.col("true_label") == F.col("pred_label"))
        .groupBy(F.col("true_label").alias("label"))
        .agg(F.sum("n").cast("bigint").alias("tp"))
    )
    tp0 = F.coalesce(F.col("tp"), F.lit(0).cast("bigint"))
    np0 = F.coalesce(F.col("n_pred"), F.lit(0).cast("bigint"))
    return (
        tt.join(pt, "label", "left")
        .join(tp, "label", "left")
        .select(
            "label",
            tp0.alias("tp"),
            (np0 - tp0).alias("fp"),
            (F.col("support") - tp0).alias("fn"),
            "support",
            F.when(np0 > 0, tp0.cast("double") / F.col("n_pred")).alias(
                "precision"
            ),
            (tp0.cast("double") / F.col("support")).alias("recall"),
            F.when(
                np0 + F.col("support") > 0,
                (2 * tp0).cast("double") / (np0 + F.col("support")),
            ).alias("f1"),
        )
    )


@register(
    "calibration_reliability_bins",
    survey="NS-eval(reliability-diagram calibration bins for the nearest-anchor classifier),A3-A6,W2",
    oracle=f"""
WITH anchors AS (
    SELECT vec_id AS aid, label AS pred_label, embedding
    FROM embeddings WHERE vec_id % {_EVAL_ANCHOR_MOD} = 0
),
assigned AS (
    SELECT vec_id, true_label, pred_label, cs FROM (
        SELECT e.vec_id, e.label AS true_label, a.pred_label,
               {_EVAL_COS_SQL} AS cs,
               ROW_NUMBER() OVER (
                   PARTITION BY e.vec_id
                   ORDER BY {_EVAL_COS_SQL} DESC, a.aid
               ) AS rn
        FROM embeddings e CROSS JOIN anchors a
    ) WHERE rn = 1
)
SELECT CAST(FLOOR(cs * 10) AS BIGINT) AS conf_bin,
       CAST(COUNT(*) AS BIGINT) AS n,
       CAST(SUM(CASE WHEN true_label = pred_label THEN 1 ELSE 0 END)
            AS BIGINT) AS n_correct,
       CAST(SUM(CASE WHEN true_label = pred_label THEN 1 ELSE 0 END)
            AS DOUBLE) / COUNT(*) AS accuracy
FROM assigned
GROUP BY 1
""",
)
def calibration_reliability_bins(spark, sf_dir):
    """Reliability-diagram bins — the calibration half of the evaluation
    family (eval_confusion_metrics grades discrimination; this entry
    grades whether the classifier's CONFIDENCE means anything): the
    nearest-anchor classifier's winning cosine is its confidence score,
    binned at width 0.1 (floor(cs*10): cosine lives in [-1, 1], so there
    are at most 21 bins — a constant, never corpus-sized), and each bin
    reports how often the prediction was actually right. A calibrated
    classifier shows accuracy rising with the bin; the gap per bin is the
    ECE integrand. The accuracy is ONE division of identical integers;
    the bin edge is floor() of a double whose bits are engine-identical
    (cosine = fold-ordered products, the established discipline), so the
    binning is exact in both engines. Mean-confidence-per-bin is
    deliberately NOT emitted: it would be a SUM over computed doubles,
    the one aggregation shape the cross-engine hash cannot certify.

    Scale shape: the inference map is shared with eval_confusion_metrics
    (_anchor_assigned — broadcast O(classes) panel, rank-1
    WindowGroupLimit), and the calibration rollup is a <=21-group
    map-side-combined aggregate: nothing after the scan grows with the
    corpus."""
    assigned = _anchor_assigned(spark, sf_dir)
    binned = assigned.select(
        F.floor(F.col("cs") * 10).cast("bigint").alias("conf_bin"),
        (F.col("true_label") == F.col("pred_label")).cast("bigint").alias("ok"),
    )
    return (
        binned.groupBy("conf_bin")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n"),
            F.sum("ok").cast("bigint").alias("n_correct"),
        )
        .select(
            "conf_bin",
            "n",
            "n_correct",
            (F.col("n_correct").cast("double") / F.col("n")).alias("accuracy"),
        )
    )


# AUC score-bucket width in price units: floor(o_totalprice / 1000) spans
# ~1..500 buckets — bounded by the PRICE RANGE over the bucket width (a
# distribution constant), never by the row count.
_AUC_BUCKET = 1000


@register(
    "eval_auc_ranksum",
    survey="NS-eval(exact tie-aware ROC AUC via the Mann-Whitney rank-sum over a bounded score histogram),A3-A6,W1",
    oracle=f"""
WITH h AS (
    SELECT CAST(FLOOR(o_totalprice / {_AUC_BUCKET}.0) AS BIGINT) AS score_bucket,
           CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END)
                AS BIGINT) AS npos
    FROM orders
    GROUP BY 1
),
c AS (
    SELECT score_bucket, n, npos,
           COALESCE(CAST(SUM(n) OVER (
               ORDER BY score_bucket
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
           ) AS BIGINT), 0) AS cum_before
    FROM h
),
t AS (
    SELECT CAST(SUM(npos) AS BIGINT) AS n_pos,
           CAST(SUM(n - npos) AS BIGINT) AS n_neg,
           CAST(SUM(npos * (2 * cum_before + n + 1)) AS BIGINT) AS r2
    FROM c
)
SELECT n_pos, n_neg,
       r2 - n_pos * (n_pos + 1) AS u2,
       CASE WHEN n_pos > 0 AND n_neg > 0
            THEN CAST(r2 - n_pos * (n_pos + 1) AS DOUBLE)
                 / (2 * n_pos * n_neg) END AS auc
FROM t
""",
)
def eval_auc_ranksum(spark, sf_dir):
    """Exact tie-aware ROC AUC — the threshold-free discrimination metric
    that completes the evaluation trio (confusion = one operating point,
    calibration = confidence quality, AUC = the whole ranking): does
    order price rank finished ('F') orders above open ones? Computed by
    the Mann-Whitney identity AUC = (R_pos − n_pos(n_pos+1)/2) /
    (n_pos·n_neg) with midrank tie handling, kept integer-exact by
    carrying TWICE the rank sum: a bucket whose cumulative predecessor
    count is c with n members has midrank c+(n+1)/2, so 2·midrank =
    2c+n+1 — integers all the way, one IEEE division at the very end.
    The score is the bucketed price floor(p/{_AUC_BUCKET}) — declaring
    the predictor bucket-granular makes the tie set explicit and the
    histogram bounded.

    Scale shape: the ONLY corpus-sized stage is the score-histogram
    aggregate (map-side combined, one shuffle of <=500 groups). The
    cumulative window then runs over the histogram — bounded by
    price-range/{_AUC_BUCKET}, a distribution constant, so the
    empty-partition window is a deliberate, reviewed exception (the same
    contract as the |partitions|-sized offsets tables) — and the final
    reduction is a 1-row aggregate. AUC at 100 TB costs exactly one
    pass + one tiny shuffle."""
    from pyspark.sql import Window

    o = load_table(spark, sf_dir, "orders")
    h = (
        o.select(
            F.floor(F.col("o_totalprice") / F.lit(float(_AUC_BUCKET)))
            .cast("bigint")
            .alias("score_bucket"),
            (F.col("o_orderstatus") == "F").cast("bigint").alias("y"),
        )
        .groupBy("score_bucket")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n"),
            F.sum("y").cast("bigint").alias("npos"),
        )
    )
    w = Window.orderBy("score_bucket").rowsBetween(
        Window.unboundedPreceding, -1
    )
    c = h.withColumn(
        "cum_before",
        F.coalesce(
            F.sum("n").over(w).cast("bigint"), F.lit(0).cast("bigint")
        ),
    )
    t = c.agg(
        F.sum("npos").cast("bigint").alias("n_pos"),
        F.sum(F.col("n") - F.col("npos")).cast("bigint").alias("n_neg"),
        F.sum(F.col("npos") * (2 * F.col("cum_before") + F.col("n") + 1))
        .cast("bigint")
        .alias("r2"),
    )
    u2 = F.col("r2") - F.col("n_pos") * (F.col("n_pos") + 1)
    return t.select(
        "n_pos",
        "n_neg",
        u2.alias("u2"),
        F.when(
            (F.col("n_pos") > 0) & (F.col("n_neg") > 0),
            u2.cast("double") / (2 * F.col("n_pos") * F.col("n_neg")),
        ).alias("auc"),
    )


_LDIV_L = 3  # minimum distinct sensitive values per quasi-identifier group
_LDIV_BAND = 1000  # account-balance band width (the sensitive attribute)


@register(
    "l_diversity_audit",
    survey="NS-privacy(l-diversity audit: distinct sensitive values per quasi-identifier group),A3-A6",
    oracle=f"""
SELECT c_nationkey,
       c_mktsegment,
       CAST(COUNT(*) AS BIGINT) AS n,
       CAST(COUNT(DISTINCT CAST(FLOOR(c_acctbal / {_LDIV_BAND}.0) AS BIGINT))
            AS BIGINT) AS l_distinct,
       CAST(CASE WHEN COUNT(DISTINCT CAST(FLOOR(c_acctbal / {_LDIV_BAND}.0)
                                          AS BIGINT)) < {_LDIV_L}
                 THEN 1 ELSE 0 END AS BIGINT) AS at_risk
FROM customer
GROUP BY 1, 2
""",
)
def l_diversity_audit(spark, sf_dir):
    """l-diversity audit — the privacy check k-anonymity
    (k_anonymity_audit) cannot express: a group can be large (k-safe) yet
    still leak if every member shares the same SENSITIVE value
    (homogeneity attack, Machanavajjhala et al. 2007). Per
    quasi-identifier group (nation x market segment) the audit counts
    DISTINCT sensitive values — the account-balance band
    floor(bal/{_LDIV_BAND}) — and flags groups with fewer than
    {_LDIV_L}: publishing those rows reveals a member's balance band from
    the quasi-identifiers alone.

    Scale shape: a single distinct-aggregate — Spark plans it as the
    standard two-phase (group+value partial dedup, then per-group count),
    both phases map-side combined, one shuffle keyed by the QI group, and
    the sensitive-band domain is bounded (~11 bands), so the partial
    dedup state per task is tiny. Same cost profile as the k-anonymity
    scan it extends."""
    c = load_table(spark, sf_dir, "customer")
    band = F.floor(F.col("c_acctbal") / F.lit(float(_LDIV_BAND))).cast(
        "bigint"
    )
    return (
        c.groupBy("c_nationkey", "c_mktsegment")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n"),
            F.countDistinct(band).cast("bigint").alias("l_distinct"),
        )
        .select(
            "c_nationkey",
            "c_mktsegment",
            "n",
            "l_distinct",
            (F.col("l_distinct") < _LDIV_L).cast("bigint").alias("at_risk"),
        )
    )


@register(
    "data_quality_contract",
    survey="NS-lakehouse(dbt-style data contract audit: PK uniqueness, FK integrity, ranges, cross-field consistency),A3,J1",
    oracle="""
SELECT 'documents_nchars_consistent' AS check_name,
       CAST(COUNT(CASE WHEN n_chars <> length(text) THEN 1 END) AS BIGINT)
           AS n_bad,
       CAST(COUNT(*) AS BIGINT) AS n_rows
FROM documents
UNION ALL
SELECT 'events_user_nonnull',
       CAST(COUNT(CASE WHEN user_id IS NULL THEN 1 END) AS BIGINT),
       CAST(COUNT(*) AS BIGINT)
FROM events
UNION ALL
SELECT 'lineitem_discount_range',
       CAST(COUNT(CASE WHEN l_discount < 0 OR l_discount > 1 THEN 1 END)
            AS BIGINT),
       CAST(COUNT(*) AS BIGINT)
FROM lineitem
UNION ALL
SELECT 'lineitem_orderkey_fk',
       CAST(COUNT(CASE WHEN o.o_orderkey IS NULL THEN 1 END) AS BIGINT),
       CAST(COUNT(*) AS BIGINT)
FROM lineitem l LEFT JOIN orders o ON l.l_orderkey = o.o_orderkey
UNION ALL
SELECT 'lineitem_pk_unique',
       CAST(COUNT(*) AS BIGINT)
           - CAST(COUNT(DISTINCT l_orderkey * 8 + l_linenumber) AS BIGINT),
       CAST(COUNT(*) AS BIGINT)
FROM lineitem
UNION ALL
SELECT 'lineitem_ship_after_order',
       CAST(COUNT(CASE WHEN l.l_shipdate < o.o_orderdate THEN 1 END)
            AS BIGINT),
       CAST(COUNT(*) AS BIGINT)
FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
UNION ALL
SELECT 'orders_custkey_fk',
       CAST(COUNT(CASE WHEN c.c_custkey IS NULL THEN 1 END) AS BIGINT),
       CAST(COUNT(*) AS BIGINT)
FROM orders o LEFT JOIN customer c ON o.o_custkey = c.c_custkey
UNION ALL
SELECT 'orders_totalprice_positive',
       CAST(COUNT(CASE WHEN o_totalprice <= 0 THEN 1 END) AS BIGINT),
       CAST(COUNT(*) AS BIGINT)
FROM orders
""",
)
def data_quality_contract(spark, sf_dir):
    """dbt-style data-contract audit across the lake: one report row per
    expectation — PK uniqueness (lineitem composite key, collision-free
    ``orderkey*8+linenumber`` packing since linenumber ≤ 7), referential
    integrity (orders→customer, lineitem→orders as null-probe LEFT joins),
    value ranges, null contracts, and cross-field consistency
    (``n_chars == length(text)``, ``shipdate ≥ orderdate``). The report is
    (check_name, n_bad, n_rows) so a green contract is all-zeros in
    ``n_bad`` — and a violation count, not just a boolean, so triage knows
    the blast radius. On the synthetic lake the audit finds two REAL
    defects: the generator emits duplicate (l_orderkey, l_linenumber)
    pairs (~23% of rows collide) and draws l_shipdate independently of
    o_orderdate (~47% ship "before" ordering) — pytest pins both counts
    against a collected brute force and every other check at zero.

    Scale shape: every non-join check is ONE map-side-combined aggregate
    over its table scan (conditional-count expressions, no shuffle of
    data rows — only 1-row partials); the two FK checks and the
    ship-after-order check ride equi-joins on their natural keys
    (co-partitioned SMJ at scale; the lineitem⋈orders scan serves two
    checks in one pass). The union is of eight 1-row frames — free."""
    li = load_table(spark, sf_dir, "lineitem")
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    d = load_table(spark, sf_dir, "documents")
    ev = load_table(spark, sf_dir, "events")

    def _check(name, df, bad):
        return df.agg(
            F.count(F.when(bad, F.lit(1))).cast("bigint").alias("n_bad"),
            F.count(F.lit(1)).cast("bigint").alias("n_rows"),
        ).select(F.lit(name).alias("check_name"), "n_bad", "n_rows")

    li_orders = li.join(
        o.select("o_orderkey", "o_orderdate"), li.l_orderkey == o.o_orderkey, "left"
    )
    pk = li.agg(
        (
            F.count(F.lit(1))
            - F.countDistinct(F.col("l_orderkey") * 8 + F.col("l_linenumber"))
        )
        .cast("bigint")
        .alias("n_bad"),
        F.count(F.lit(1)).cast("bigint").alias("n_rows"),
    ).select(F.lit("lineitem_pk_unique").alias("check_name"), "n_bad", "n_rows")
    checks = [
        _check(
            "documents_nchars_consistent", d, F.col("n_chars") != F.length("text")
        ),
        _check("events_user_nonnull", ev, F.col("user_id").isNull()),
        _check(
            "lineitem_discount_range",
            li,
            (F.col("l_discount") < 0) | (F.col("l_discount") > 1),
        ),
        _check("lineitem_orderkey_fk", li_orders, F.col("o_orderkey").isNull()),
        pk,
        _check(
            "lineitem_ship_after_order",
            li_orders.filter(F.col("o_orderkey").isNotNull()),
            F.col("l_shipdate") < F.col("o_orderdate"),
        ),
        _check(
            "orders_custkey_fk",
            o.join(c.select("c_custkey"), o.o_custkey == c.c_custkey, "left"),
            F.col("c_custkey").isNull(),
        ),
        _check("orders_totalprice_positive", o, F.col("o_totalprice") <= 0),
    ]
    out = checks[0]
    for ch in checks[1:]:
        out = out.unionAll(ch)
    return out
