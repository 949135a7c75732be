"""Deduplication operators over ``documents`` (training-data pipeline surface).

Exact dedup is a hash aggregation on the content key — fully shuffled by text
hash, scales linearly. Near-dup variants (MinHash/LSH, SimHash, n-gram
Jaccard) live in gridiron_spark.operators.dedup and are registered here; the
pairwise-exact ones are oracle-checked, approximate ones use deterministic
hash families so they are *also* reproducible.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from gridiron_spark.io.tables import fan_out, load_table
from gridiron_spark.operators.dedup import (
    containment_prefix_pairs,
    minhash_lsh_pairs,
    ngram_jaccard_pairs,
    prefix_filtered_pairs,
    shingle_rows,
    simhash_df,
    simhash_near_pairs,
)
from gridiron_spark.queries import register

# ---------------------------------------------------------------------------
# Shared DuckDB oracle fragments. These mirror gridiron_spark.operators.dedup
# expression-for-expression: split→lower→k-gram→distinct shingles, md5 hash
# families under lexicographic min, banding by array slice. Every numeric
# output is either an integer or an int/int division — bit-exact across
# engines, so even the *approximate* operators hash-match the oracle.
# ---------------------------------------------------------------------------

# word_shingles(text): distinct word 3-grams; <3-word docs contribute
# their whole text. range(0, n-2) (exclusive) == Spark sequence(0, n-3)
# (inclusive): both emit n-2 shingles.
_SHINGLES_CTE = """
sh AS (
    SELECT doc_id,
           list_distinct(CASE WHEN len(t) >= 3
               THEN list_transform(range(0, len(t) - 2),
                                   i -> array_to_string(t[i+1:i+3], ' '))
               ELSE [array_to_string(t, ' ')] END) AS shingles
    FROM (SELECT doc_id, string_split(lower(text), ' ') AS t FROM documents)
)
""".strip()

_JACCARD_SQL = (
    "CAST(len(list_intersect(x.shingles, y.shingles)) AS DOUBLE)"
    " / (len(x.shingles) + len(y.shingles)"
    " - len(list_intersect(x.shingles, y.shingles)))"
)

# simhash32: per-shingle 32-bit hash from the first 8 md5 hex chars; ±1 vote
# per bit position; sign of each total forms the fingerprint.
_SIMHASH_CTE = f"""
{_SHINGLES_CTE},
hs AS (
    SELECT doc_id,
           list_transform(shingles,
               t -> CAST(('0x' || substring(md5(t), 1, 8)) AS BIGINT)) AS hashes
    FROM sh
),
fp AS (
    SELECT doc_id,
           CAST(list_sum(list_transform(range(0, 32), b ->
               CASE WHEN CAST(list_sum(list_transform(hashes,
                         h -> CASE WHEN (h >> b) & 1 = 1 THEN 1 ELSE -1 END))
                         AS INTEGER) > 0
                    THEN (CAST(1 AS BIGINT) << b) ELSE CAST(0 AS BIGINT) END))
               AS BIGINT) AS simhash
    FROM hs
)
""".strip()


@register(
    "dedup_exact",
    survey="NS-dedup(exact hash-groupBy),A2",
    oracle="""
SELECT md5(text) AS content_md5,
       MIN(doc_id) AS keeper_doc_id,
       COUNT(*) AS n_copies
FROM documents
GROUP BY md5(text)
""",
)
def dedup_exact(spark, sf_dir):
    """Exact dedup: group on content hash, keep the smallest doc_id.

    Grouping on md5(text) rather than raw text keeps shuffle rows small at
    100 TB (32-byte key vs multi-KB documents) — the full text never moves.
    """
    doc = load_table(spark, sf_dir, "documents")
    return (
        doc.groupBy(F.md5("text").alias("content_md5"))
        .agg(
            F.min("doc_id").alias("keeper_doc_id"),
            F.count(F.lit(1)).alias("n_copies"),
        )
    )


@register(
    "dedup_exact_keep_rows",
    survey="NS-dedup(exact, row-preserving),W2",
    oracle="""
SELECT doc_id, lang, source, n_chars
FROM (
    SELECT *, ROW_NUMBER() OVER (PARTITION BY text ORDER BY doc_id) AS rn
    FROM documents
)
WHERE rn = 1
""",
)
def dedup_exact_keep_rows(spark, sf_dir):
    """Row-preserving exact dedup (deterministic dropDuplicates): keep the
    lowest-doc_id row per distinct text."""
    from pyspark.sql import Window

    doc = load_table(spark, sf_dir, "documents")
    w = Window.partitionBy("text").orderBy("doc_id")
    return (
        doc.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("doc_id", "lang", "source", "n_chars")
    )


@register(
    "dedup_minhash_lsh",
    survey="NS-dedup(MinHash+LSH),J1,A2",
    oracle=f"""
WITH {_SHINGLES_CTE},
sig AS (
    SELECT doc_id, shingles,
           list_transform(range(0, 16), i ->
               list_min(list_transform(shingles, s -> md5(s || '|' || i)))) AS sig
    FROM sh
),
banded AS (
    SELECT doc_id, ub.b AS band_idx,
           md5(array_to_string(sig[ub.b*4+1 : ub.b*4+4], '|')) AS band_key
    FROM sig CROSS JOIN (SELECT unnest(range(0, 4)) AS b) ub
),
cand AS (
    SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
    FROM banded a JOIN banded b
      ON a.band_idx = b.band_idx AND a.band_key = b.band_key
     AND a.doc_id < b.doc_id
)
SELECT * FROM (
    SELECT c.doc_a, c.doc_b, {_JACCARD_SQL} AS jaccard
    FROM cand c
    JOIN sh x ON x.doc_id = c.doc_a
    JOIN sh y ON y.doc_id = c.doc_b
) WHERE jaccard >= 0.5
""",
)
def dedup_minhash_lsh(spark, sf_dir):
    """MinHash(16)+LSH(4 bands) candidate pairs, exact-Jaccard verified at
    threshold 0.5. Deterministic md5 hash family → the *approximate* operator
    is still oracle-checkable (operators/dedup.py design note)."""
    doc = load_table(spark, sf_dir, "documents")
    return minhash_lsh_pairs(
        doc, threshold=0.5, num_hashes=16, bands=4, shingle_k=3
    )


@register(
    "dedup_ngram_jaccard",
    survey="NS-dedup(n-gram Jaccard, exact),J1",
    oracle=f"""
WITH {_SHINGLES_CTE},
inv AS (SELECT doc_id, unnest(shingles) AS shingle FROM sh),
cand AS (
    SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
    FROM inv a JOIN inv b
      ON a.shingle = b.shingle AND a.doc_id < b.doc_id
)
SELECT * FROM (
    SELECT c.doc_a, c.doc_b, {_JACCARD_SQL} AS jaccard
    FROM cand c
    JOIN sh x ON x.doc_id = c.doc_a
    JOIN sh y ON y.doc_id = c.doc_b
) WHERE jaccard >= 0.5
""",
)
def dedup_ngram_jaccard(spark, sf_dir):
    """Exact n-gram-Jaccard pairs (threshold 0.5) via inverted-index blocking
    — the full-recall counterpart to the MinHash candidate generator."""
    doc = load_table(spark, sf_dir, "documents")
    return ngram_jaccard_pairs(doc, threshold=0.5, shingle_k=3)


@register(
    "dedup_ngram_prefix",
    survey="NS-dedup(n-gram Jaccard, prefix-filtered scale path),J1",
    oracle=f"""
WITH {_SHINGLES_CTE},
inv AS (SELECT doc_id, unnest(shingles) AS shingle FROM sh),
cand AS (
    SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
    FROM inv a JOIN inv b
      ON a.shingle = b.shingle AND a.doc_id < b.doc_id
)
SELECT * FROM (
    SELECT c.doc_a, c.doc_b, {_JACCARD_SQL} AS jaccard
    FROM cand c
    JOIN sh x ON x.doc_id = c.doc_a
    JOIN sh y ON y.doc_id = c.doc_b
) WHERE jaccard >= 0.5
""",
)
def dedup_ngram_prefix(spark, sf_dir):
    """AllPairs prefix-filtered exact n-gram-Jaccard pairs (threshold 0.5):
    only each doc's globally-rarest shingles are indexed, capping hot-shingle
    fan-out by construction. Recall is provably 1.0, so the oracle is the
    same full inverted-index SQL as dedup_ngram_jaccard — identical output,
    different (bounded) plan."""
    doc = load_table(spark, sf_dir, "documents")
    return prefix_filtered_pairs(doc, threshold=0.5, shingle_k=3)


@register(
    "dedup_clusters",
    survey="NS-dedup(cluster assignment: iterative connected components)",
    oracle=f"""
WITH RECURSIVE
{_SHINGLES_CTE},
inv AS (SELECT doc_id, unnest(shingles) AS shingle FROM sh),
cand AS (
    SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
    FROM inv a JOIN inv b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
),
pairs AS (
    SELECT * FROM (
        SELECT c.doc_a, c.doc_b, {_JACCARD_SQL} AS jaccard
        FROM cand c
        JOIN sh x ON x.doc_id = c.doc_a
        JOIN sh y ON y.doc_id = c.doc_b
    ) WHERE jaccard >= 0.5
),
edges AS (
    SELECT doc_a AS src, doc_b AS dst FROM pairs
    UNION SELECT doc_b, doc_a FROM pairs
),
nodes AS (SELECT DISTINCT src AS node FROM edges),
reach(node, label) AS (
    SELECT node, node FROM nodes
    UNION
    SELECT e.dst, r.label FROM reach r JOIN edges e ON e.src = r.node
)
SELECT node AS doc_id, MIN(label) AS cluster_id FROM reach GROUP BY node
""",
)
def dedup_clusters(spark, sf_dir):
    """Near-dup pipeline completed: exact-Jaccard pairs → iterative
    min-label connected components → (doc_id, cluster_id). The Spark side
    is a convergence-checked dataflow loop; the oracle is the recursive-CTE
    transitive closure — same fixpoint, independently computed."""
    from gridiron_spark.operators.dedup import connected_components

    doc = load_table(spark, sf_dir, "documents")
    pairs = ngram_jaccard_pairs(doc, threshold=0.5)
    return connected_components(pairs)


@register(
    "dedup_clusters_star",
    survey="NS-dedup(cluster assignment: large-star/small-star CC)",
    oracle=f"""
WITH RECURSIVE
{_SHINGLES_CTE},
inv AS (SELECT doc_id, unnest(shingles) AS shingle FROM sh),
cand AS (
    SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
    FROM inv a JOIN inv b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
),
pairs AS (
    SELECT * FROM (
        SELECT c.doc_a, c.doc_b, {_JACCARD_SQL} AS jaccard
        FROM cand c
        JOIN sh x ON x.doc_id = c.doc_a
        JOIN sh y ON y.doc_id = c.doc_b
    ) WHERE jaccard >= 0.5
),
edges AS (
    SELECT doc_a AS src, doc_b AS dst FROM pairs
    UNION SELECT doc_b, doc_a FROM pairs
),
nodes AS (SELECT DISTINCT src AS node FROM edges),
reach(node, label) AS (
    SELECT node, node FROM nodes
    UNION
    SELECT e.dst, r.label FROM reach r JOIN edges e ON e.src = r.node
)
SELECT node AS doc_id, MIN(label) AS cluster_id FROM reach GROUP BY node
""",
)
def dedup_clusters_star(spark, sf_dir):
    """Same cluster-assignment contract as dedup_clusters, computed with the
    O(log² n)-round large-star/small-star algorithm instead of O(diameter)
    min-label propagation — the form that survives long chains at 100 TB.
    Checked against the identical recursive-CTE transitive-closure oracle."""
    from gridiron_spark.operators.dedup import connected_components_star

    doc = load_table(spark, sf_dir, "documents")
    pairs = prefix_filtered_pairs(doc, threshold=0.5, shingle_k=3)
    return connected_components_star(pairs)


@register(
    "corpus_clean_pipeline",
    survey="NS-dedup(end-to-end corpus cleaning: quality filter → exact "
    "dedup → near-dup cluster keep-one)",
    oracle=f"""
WITH RECURSIVE
survivors AS (
    SELECT doc_id, lang, n_chars, text FROM (
        SELECT doc_id, lang, n_chars, text,
               ROW_NUMBER() OVER (PARTITION BY text ORDER BY doc_id) AS rn
        FROM documents
        WHERE len(string_split(text, ' ')) >= 8
    ) WHERE rn = 1
),
sh AS (
    SELECT doc_id,
           list_distinct(CASE WHEN len(t) >= 3
               THEN list_transform(range(0, len(t) - 2),
                                   i -> array_to_string(t[i+1:i+3], ' '))
               ELSE [array_to_string(t, ' ')] END) AS shingles
    FROM (SELECT doc_id, string_split(lower(text), ' ') AS t FROM survivors)
),
inv AS (SELECT doc_id, unnest(shingles) AS shingle FROM sh),
cand AS (
    SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
    FROM inv a JOIN inv b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
),
pairs AS (
    SELECT * FROM (
        SELECT c.doc_a, c.doc_b, {_JACCARD_SQL} AS jaccard
        FROM cand c
        JOIN sh x ON x.doc_id = c.doc_a
        JOIN sh y ON y.doc_id = c.doc_b
    ) WHERE jaccard >= 0.5
),
edges AS (
    SELECT doc_a AS src, doc_b AS dst FROM pairs
    UNION SELECT doc_b, doc_a FROM pairs
),
nodes AS (SELECT DISTINCT src AS node FROM edges),
reach(node, label) AS (
    SELECT node, node FROM nodes
    UNION
    SELECT e.dst, r.label FROM reach r JOIN edges e ON e.src = r.node
),
clusters AS (SELECT node AS doc_id, MIN(label) AS cluster_id FROM reach GROUP BY node)
SELECT s.doc_id, s.lang, s.n_chars
FROM survivors s LEFT JOIN clusters c ON s.doc_id = c.doc_id
WHERE c.doc_id IS NULL OR c.cluster_id = s.doc_id
""",
)
def corpus_clean_pipeline(spark, sf_dir):
    """The composed training-data cleaning pass a 100 TB corpus actually
    runs, as ONE dataflow: (1) quality gate (≥8 tokens), (2) exact dedup
    (min doc_id per identical text — the cheap hash pass runs before
    anything quadratic-ish), (3) near-dup clustering (prefix-filtered exact
    Jaccard ≥ 0.5 → large-star/small-star components) keeping each
    cluster's minimum doc_id. Stage ordering is the scale design: every
    stage shrinks the input of the strictly more expensive next stage.
    Star CC over min-label is measured, not assumed: 7.3 s vs 10.1 s
    median at sf0.1 — min-label re-joins every settled label each round,
    star's edge set shrinks as hooks resolve. The oracle replays all
    three stages in SQL over the same parquet."""
    from pyspark.sql import Window

    from gridiron_spark.operators.dedup import connected_components_star

    doc = load_table(spark, sf_dir, "documents")
    gated = doc.filter(F.size(F.split(F.col("text"), " ")) >= 8)
    w = Window.partitionBy("text").orderBy("doc_id")
    survivors = (
        gated.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("doc_id", "lang", "n_chars", "text")
        # NOT checkpointed, deliberately: survivors feeds both the
        # candidate generator and the final keep-one join, but its rows
        # carry the full text payload — materializing them measured
        # 11.5 s → 16.3 s at sf0.1 (block-manager write+read of the wide
        # column beats one repeated scan+window). Same trade as the
        # harmonic pair set; the k-core peel is the opposite case.
    )
    pairs = prefix_filtered_pairs(survivors, threshold=0.5, shingle_k=3)
    clusters = connected_components_star(pairs).withColumnRenamed(
        "doc_id", "c_doc_id"
    )
    return (
        survivors.join(
            clusters, survivors["doc_id"] == clusters["c_doc_id"], "left"
        )
        .filter(
            F.col("c_doc_id").isNull()
            | (F.col("cluster_id") == F.col("doc_id"))
        )
        .select("doc_id", "lang", "n_chars")
    )


@register(
    "simhash_fingerprint",
    survey="NS-dedup(SimHash fingerprint),F-scalar",
    oracle=f"""
WITH {_SIMHASH_CTE}
SELECT doc_id, simhash FROM fp
""",
)
def simhash_fingerprint(spark, sf_dir):
    """32-bit shingle-SimHash per document, in the exploded-aggregation plan
    shape (one md5 per shingle, partial-agg vote sums, one shuffle on
    doc_id) — value-identical to the scalar operators.dedup.simhash32."""
    doc = load_table(spark, sf_dir, "documents")
    return simhash_df(shingle_rows(doc))


@register(
    "simhash_near_pairs",
    survey="NS-dedup(SimHash near-dup),J1",
    oracle=f"""
WITH {_SIMHASH_CTE},
banded AS (
    SELECT doc_id, simhash, ub.b AS band_idx,
           (simhash >> (ub.b * 8)) & 255 AS band_val
    FROM fp CROSS JOIN (SELECT unnest(range(0, 4)) AS b) ub
),
cand AS (
    SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
           a.simhash AS fp_a, b.simhash AS fp_b
    FROM banded a JOIN banded b
      ON a.band_idx = b.band_idx AND a.band_val = b.band_val
     AND a.doc_id < b.doc_id
)
SELECT doc_a, doc_b, CAST(bit_count(xor(fp_a, fp_b)) AS INTEGER) AS hamming
FROM cand
WHERE bit_count(xor(fp_a, fp_b)) <= 3
""",
)
def simhash_near_pairs_q(spark, sf_dir):
    """SimHash near-dup pairs at Hamming ≤ 3 via 4×8-bit band blocking —
    recall is exactly 1.0 (≤3 flipped bits leave ≥1 band intact), so the
    blocked plan equals the quadratic scan and hash-matches the oracle."""
    doc = load_table(spark, sf_dir, "documents")
    return simhash_near_pairs(doc, max_hamming=3, bands=4)


@register(
    "decontaminate_ngram_overlap",
    survey="NS-dedup(benchmark decontamination: n-gram overlap join),J1,A3",
    oracle=f"""
WITH {_SHINGLES_CTE},
ex AS (SELECT doc_id, unnest(shingles) AS shingle FROM sh),
bench AS (SELECT doc_id AS bench_id, shingle FROM ex WHERE doc_id % 50 = 0),
train AS (SELECT doc_id, shingle FROM ex WHERE doc_id % 50 <> 0)
SELECT t.doc_id,
       COUNT(DISTINCT t.shingle) AS n_shared_shingles,
       COUNT(DISTINCT b.bench_id) AS n_benchmark_docs
FROM train t JOIN bench b USING (shingle)
GROUP BY t.doc_id
HAVING COUNT(DISTINCT t.shingle) >= 2
""",
)
def decontaminate_ngram_overlap(spark, sf_dir):
    """Benchmark decontamination: flag training documents sharing >= 2
    distinct word 3-grams with any held-out benchmark document (here the
    deterministic ``doc_id % 50 == 0`` subset stands in for the eval set).

    This is the standard eval-leakage scan an LLM training pipeline runs
    before a data release. The plan is the scale shape: the benchmark side
    is a fixed, corpus-independent size (MMLU and friends don't grow with
    the crawl), so its distinct shingles broadcast and the petabyte training
    side joins map-side — no corpus shuffle for the join itself. The
    training branch keeps only the linear by-doc_id window shuffle of
    shingle assembly (its per-doc dedup shuffle is skipped: COUNT(DISTINCT)
    downstream absorbs duplicates), and the final per-doc aggregate runs
    over matched rows only — overlap-sized, not corpus-sized.
    """
    doc = load_table(spark, sf_dir, "documents")
    # Bench side: distinct shingles (shrinks the broadcast map). Train side:
    # distinct=False — COUNT(DISTINCT …) downstream is duplicate-insensitive,
    # so the corpus-sized branch drops its (doc_id, shingle) dedup shuffle;
    # what remains is the linear by-doc_id window shuffle of shingle
    # assembly, then a map-side broadcast join straight into the
    # (overlap-sized) final aggregate.
    bench = shingle_rows(doc.filter(F.col("doc_id") % 50 == 0)).select(
        F.col("doc_id").alias("bench_id"), "shingle"
    )
    train = shingle_rows(doc.filter(F.col("doc_id") % 50 != 0), distinct=False)
    return (
        train.join(F.broadcast(bench), "shingle")
        .groupBy("doc_id")
        .agg(
            F.countDistinct("shingle").alias("n_shared_shingles"),
            F.countDistinct("bench_id").alias("n_benchmark_docs"),
        )
        .filter(F.col("n_shared_shingles") >= 2)
    )


@register(
    "incremental_dedup_flags",
    survey="NS-dedup(incremental batch-vs-corpus screening on precomputed signatures),J1",
    oracle=f"""
WITH {_SHINGLES_CTE},
sig AS (
    SELECT doc_id,
           list_transform(range(0, 16), i ->
               list_min(list_transform(shingles, s -> md5(s || '|' || i)))) AS sig
    FROM sh
),
banded AS (
    SELECT doc_id, ub.b AS band_idx,
           md5(array_to_string(sig[ub.b*4+1 : ub.b*4+4], '|')) AS band_key
    FROM sig CROSS JOIN (SELECT unnest(range(0, 4)) AS b) ub
),
cand AS (
    SELECT DISTINCT b.doc_id AS bid, p.doc_id AS pid
    FROM (SELECT * FROM banded WHERE doc_id % 10 = 9) b
    JOIN banded p
      ON p.band_idx = b.band_idx AND p.band_key = b.band_key
     AND p.doc_id <> b.doc_id
     AND (p.doc_id % 10 <> 9 OR p.doc_id < b.doc_id)
),
est AS (
    SELECT c.bid, c.pid,
           len(list_filter(range(0, 16), i -> sb.sig[i+1] = sp.sig[i+1])) / 16.0
               AS est_jaccard
    FROM cand c
    JOIN sig sb ON sb.doc_id = c.bid
    JOIN sig sp ON sp.doc_id = c.pid
),
hits AS (
    SELECT bid, COUNT(*) AS n_matches, MIN(pid) AS min_partner,
           MAX(est_jaccard) AS max_est
    FROM est WHERE est_jaccard >= 0.5 GROUP BY bid
)
SELECT d.doc_id, COALESCE(h.n_matches, 0) AS n_matches,
       h.min_partner, h.max_est
FROM (SELECT doc_id FROM documents WHERE doc_id % 10 = 9) d
LEFT JOIN hits h ON h.bid = d.doc_id
""",
)
def incremental_dedup_flags(spark, sf_dir):
    """Incremental near-dup screening of an arriving batch (``doc_id % 10
    == 9`` stands in for today's crawl) against the standing corpus — on
    the corpus side ONLY its MinHash signature side-car is touched, never
    its text: the production daily-ingest shape, where re-shingling 100 TB
    per batch is a non-starter. Similarity is the signature-estimated
    Jaccard (matching-component fraction, a k/16 grid — bit-exact
    cross-engine); output is a keep/drop verdict row per batch doc.

    Here the corpus signatures are computed inline because the synthetic
    lake ships no side-car; in production they are written once at ingest
    (the feature-store pattern, reference README.md:10-11 transposed) and
    this operator reads them as a plain table.
    """
    from gridiron_spark.operators.dedup import (
        incremental_minhash_flags,
        minhash_signature_df,
    )

    doc = load_table(spark, sf_dir, "documents")
    corpus = doc.filter(F.col("doc_id") % 10 != 9)
    batch = doc.filter(F.col("doc_id") % 10 == 9)
    corpus_sig = minhash_signature_df(shingle_rows(corpus))
    return incremental_minhash_flags(corpus_sig, batch, threshold=0.5)


_SPAN_K = 5


@register(
    "dup_span_coverage",
    survey="NS-dedup(substring-level exact dedup: duplicate-span coverage per doc),W1,A3",
    oracle=f"""
WITH g AS (
    SELECT doc_id, i AS pos, array_to_string(t[i+1:i+{_SPAN_K}], ' ') AS gram
    FROM (SELECT doc_id, string_split(lower(text), ' ') AS t FROM documents),
         unnest(range(0, len(t) - {_SPAN_K - 1})) AS u(i)
),
dup AS (SELECT gram FROM g GROUP BY gram HAVING COUNT(*) >= 2),
hits AS (SELECT g.doc_id, g.pos FROM g JOIN dup USING (gram)),
isl AS (
    SELECT doc_id, pos,
           CASE WHEN MAX(pos + {_SPAN_K}) OVER (
                    PARTITION BY doc_id ORDER BY pos
                    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
                IS NULL
             OR pos > MAX(pos + {_SPAN_K}) OVER (
                    PARTITION BY doc_id ORDER BY pos
                    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
           THEN 1 ELSE 0 END AS new_island
    FROM hits
),
isl2 AS (
    SELECT doc_id, pos,
           SUM(new_island) OVER (
               PARTITION BY doc_id ORDER BY pos
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS island
    FROM isl
),
per_island AS (
    SELECT doc_id, island,
           MAX(pos + {_SPAN_K}) - MIN(pos) AS covered,
           COUNT(*) AS n_pos
    FROM isl2 GROUP BY doc_id, island
),
per_doc AS (
    SELECT doc_id,
           CAST(SUM(covered) AS BIGINT) AS covered_tokens,
           CAST(SUM(n_pos) AS BIGINT) AS n_dup_positions
    FROM per_island GROUP BY doc_id
)
SELECT t.doc_id,
       len(string_split(lower(t.text), ' ')) AS n_tokens,
       COALESCE(p.n_dup_positions, 0) AS n_dup_positions,
       COALESCE(p.covered_tokens, 0) AS covered_tokens,
       COALESCE(p.covered_tokens, 0) / len(string_split(lower(t.text), ' '))
           AS dup_coverage_frac,
       COALESCE(p.covered_tokens, 0) / len(string_split(lower(t.text), ' '))
           < 0.5 AS keep
FROM documents t LEFT JOIN per_doc p USING (doc_id)
""",
)
def dup_span_coverage(spark, sf_dir):
    """Substring-granularity exact dedup (Lee et al. 2022, "Deduplicating
    Training Data Makes Language Models Better"): a {k}-token span occurring
    ≥2 times anywhere in the corpus is a duplicate span; each document
    reports the fraction of its tokens covered by the interval UNION of its
    duplicate spans (overlaps merged, never double-counted) and a keep flag
    at 50% coverage. This is the span-level complement of the document-level
    families (MinHash/SimHash/prefix-Jaccard measure whole-doc similarity;
    this measures how much of a doc is literally copied from somewhere).

    Scale: the duplicated-span set after the ≥2 filter is overlap-sized;
    the interval-union windows run per doc_id — a corpus-cardinality key.
    All shuffles are linear; coverage math is pure integers + one final
    division.
    """
    from gridiron_spark.operators.dedup import dup_span_coverage_stats

    doc = load_table(spark, sf_dir, "documents")
    return dup_span_coverage_stats(doc, _SPAN_K)


dup_span_coverage.__doc__ = dup_span_coverage.__doc__.format(k=_SPAN_K)


@register(
    "shingle_novelty_score",
    survey="NS-dedup(per-doc shingle novelty: fraction of n-grams unique to the doc),A3,J1",
    oracle=f"""
WITH {_SHINGLES_CTE},
inv AS (SELECT doc_id, unnest(shingles) AS shingle FROM sh),
df AS (SELECT shingle, COUNT(*) AS df FROM inv GROUP BY shingle)
SELECT inv.doc_id,
       COUNT(*) AS n_shingles,
       CAST(SUM(CASE WHEN df.df = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_novel,
       CAST(SUM(CASE WHEN df.df = 1 THEN 1 ELSE 0 END) AS DOUBLE)
           / COUNT(*) AS novelty,
       CAST(MAX(df.df) AS BIGINT) AS max_df
FROM inv JOIN df USING (shingle)
GROUP BY inv.doc_id
""",
)
def shingle_novelty_score(spark, sf_dir):
    """Per-document n-gram NOVELTY — the fraction of a doc's word 3-grams
    that appear nowhere else in the corpus (document frequency 1), plus
    the doc's hottest shingle's DF. The inverse view of the dedup family:
    near-dups and template text score near 0, genuinely unique content
    near 1 — the signal a curation pass uses to up-weight novel data and
    to spot memorization-risk boilerplate (max_df spikes). novelty is one
    IEEE division of exact integers.

    Scale shape: shingle DF is one map-side-combined aggregate on the
    shingle key; joining it back to the inverted index is a same-key
    shuffle join (no pair fan-out anywhere — unlike the pair generators,
    novelty never multiplies rows), then one per-doc aggregate. Three
    linear shuffles total at any corpus size.
    """
    sh = shingle_rows(load_table(spark, sf_dir, "documents"))
    inv = sh  # shingle_rows is already (doc_id, shingle) exploded
    df = inv.groupBy("shingle").agg(F.count(F.lit(1)).alias("df"))
    return (
        inv.join(df, "shingle")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_shingles"),
            F.sum((F.col("df") == 1).cast("bigint")).alias("n_novel"),
            (
                F.sum((F.col("df") == 1).cast("bigint")).cast("double")
                / F.count(F.lit(1))
            ).alias("novelty"),
            F.max("df").cast("bigint").alias("max_df"),
        )
    )


_CLUSTER_MAP_PARAMS = {"threshold": 0.5, "shingle_k": 3}


def _staged_cluster_map(spark, sf_dir, doc):
    """The near-dup cluster map (prefix-filtered pairs → star connected
    components) as a staged artifact shared by dedup_keep_best and
    cluster_split_assign: mined once per (source fingerprint, params) with
    atomic publication (io/staging.py), read back under an explicit
    schema. The params hash in the key means editing the similarity
    threshold or shingle size re-mines instead of serving a stale map."""
    from gridiron_spark.io.staging import ensure_stage, stage_path
    from gridiron_spark.operators.dedup import connected_components_star

    stage = stage_path(
        sf_dir, "cluster_map", "documents", params=_CLUSTER_MAP_PARAMS
    )
    ensure_stage(
        stage,
        lambda p: connected_components_star(
            prefix_filtered_pairs(doc, **_CLUSTER_MAP_PARAMS)
        )
        .write.mode("overwrite")
        .parquet(p),
    )
    return spark.read.schema("doc_id bigint, cluster_id bigint").parquet(stage)


@register(
    "dedup_keep_best",
    survey="NS-dedup(quality-aware keep-best-of-cluster: near-dup clusters keep the content-richest member),J1,W2",
    oracle=f"""
WITH RECURSIVE
{_SHINGLES_CTE},
inv AS (SELECT doc_id, unnest(shingles) AS shingle FROM sh),
cand AS (
    SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
    FROM inv a JOIN inv b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
),
pairs AS (
    SELECT * FROM (
        SELECT c.doc_a, c.doc_b, {_JACCARD_SQL} AS jaccard
        FROM cand c
        JOIN sh x ON x.doc_id = c.doc_a
        JOIN sh y ON y.doc_id = c.doc_b
    ) WHERE jaccard >= 0.5
),
edges AS (
    SELECT doc_a AS src, doc_b AS dst FROM pairs
    UNION SELECT doc_b, doc_a FROM pairs
),
nodes AS (SELECT DISTINCT src AS node FROM edges),
reach(node, label) AS (
    SELECT node, node FROM nodes
    UNION
    SELECT e.dst, r.label FROM reach r JOIN edges e ON e.src = r.node
),
cl AS (SELECT node AS doc_id, MIN(label) AS cluster_id FROM reach GROUP BY node),
allc AS (
    SELECT d.doc_id, COALESCE(cl.cluster_id, d.doc_id) AS cluster_id
    FROM documents d LEFT JOIN cl USING (doc_id)
),
q AS (
    SELECT doc_id,
           CAST(len(list_distinct(string_split(lower(text), ' '))) AS BIGINT)
               AS uniq
    FROM documents
)
SELECT a.doc_id, a.cluster_id, q.uniq AS n_unique_tokens,
       CAST(CASE WHEN ROW_NUMBER() OVER (
                PARTITION BY a.cluster_id ORDER BY q.uniq DESC, a.doc_id
            ) = 1 THEN 1 ELSE 0 END AS BIGINT) AS keep
FROM allc a JOIN q USING (doc_id)
""",
)
def dedup_keep_best(spark, sf_dir):
    """Quality-aware cluster collapse — the curation form of keep-one:
    near-dup clusters (prefix-filtered pairs → star connected components,
    the 100 TB generators) keep their CONTENT-RICHEST member (most unique
    tokens, ties to the smaller doc_id) instead of corpus_clean_pipeline's
    positional min-doc_id. Singletons are their own cluster and always
    keep. This is how production pipelines actually collapse duplicate
    groups: preserve the best copy, not the first-crawled one.

    Scale shape: pair generation and clustering are the audited lossless
    scale paths; the representative choice is a rank-1 window on
    cluster_id — key cardinality ≈ corpus (every doc belongs to exactly
    one cluster), so the Partial WindowGroupLimit prunes map-side and no
    single task ever holds more than a cluster.
    """
    doc = load_table(spark, sf_dir, "documents")
    # the cluster map IS a dedup pipeline's canonical staged artifact —
    # mined once per (source fingerprint, operator params); the oracle
    # replays the full recursive closure every check, so staleness or
    # drift flips the hash.
    cl = _staged_cluster_map(spark, sf_dir, doc)
    allc = doc.select("doc_id").join(cl, "doc_id", "left").select(
        "doc_id",
        F.coalesce(F.col("cluster_id"), F.col("doc_id")).alias("cluster_id"),
    )
    q = doc.select(
        "doc_id",
        F.size(F.array_distinct(F.split(F.lower("text"), " ")))
        .cast("bigint")
        .alias("n_unique_tokens"),
    )
    from pyspark.sql import Window as W

    w = W.partitionBy("cluster_id").orderBy(
        F.col("n_unique_tokens").desc(), "doc_id"
    )
    return (
        allc.join(q, "doc_id")
        .withColumn(
            "keep",
            (F.row_number().over(w) == 1).cast("bigint"),
        )
        .select("doc_id", "cluster_id", "n_unique_tokens", "keep")
    )


@register(
    "cluster_split_assign",
    survey="NS-pipeline(leakage-free train/val/test split: near-dup clusters never straddle splits),J1,O5",
    oracle=f"""
WITH RECURSIVE
{_SHINGLES_CTE},
inv AS (SELECT doc_id, unnest(shingles) AS shingle FROM sh),
cand AS (
    SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
    FROM inv a JOIN inv b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
),
pairs AS (
    SELECT * FROM (
        SELECT c.doc_a, c.doc_b, {_JACCARD_SQL} AS jaccard
        FROM cand c
        JOIN sh x ON x.doc_id = c.doc_a
        JOIN sh y ON y.doc_id = c.doc_b
    ) WHERE jaccard >= 0.5
),
edges AS (
    SELECT doc_a AS src, doc_b AS dst FROM pairs
    UNION SELECT doc_b, doc_a FROM pairs
),
nodes AS (SELECT DISTINCT src AS node FROM edges),
reach(node, label) AS (
    SELECT node, node FROM nodes
    UNION
    SELECT e.dst, r.label FROM reach r JOIN edges e ON e.src = r.node
),
cl AS (SELECT node AS doc_id, MIN(label) AS cluster_id FROM reach GROUP BY node),
assigned AS (
    SELECT d.doc_id,
           COALESCE(cl.cluster_id, d.doc_id) AS cluster_id,
           CAST(('0x' || substring(md5(CAST(COALESCE(cl.cluster_id, d.doc_id)
               AS VARCHAR)), 1, 4)) AS INTEGER) % 100 AS bucket
    FROM documents d LEFT JOIN cl USING (doc_id)
)
SELECT doc_id, cluster_id,
       CASE WHEN bucket < 90 THEN 'train'
            WHEN bucket < 95 THEN 'val'
            ELSE 'test' END AS split
FROM assigned
""",
)
def cluster_split_assign(spark, sf_dir):
    """Leakage-free dataset splitting — the step naive pipelines get wrong:
    hashing DOC ids sends near-duplicates to different splits, so the
    model is evaluated on paraphrases of its training data. Here the split
    bucket hashes the near-dup CLUSTER id (staged map from dedup_keep_best;
    singletons are their own cluster), so every member of a duplicate
    group lands in the same split by construction — train/val/test at
    90/5/5 via a deterministic md5 bucket.

    Scale shape: one left join against the (staged) cluster map, then
    map-only bucket math; no window, no pair work. The cluster-coherence
    invariant is structural (split is a pure function of cluster_id), and
    the oracle replays the full recursive closure + bucketing.
    """
    doc = load_table(spark, sf_dir, "documents")
    cl = _staged_cluster_map(spark, sf_dir, doc)
    cluster = F.coalesce(F.col("cluster_id"), F.col("doc_id"))
    bucket = (
        F.conv(F.substring(F.md5(cluster.cast("string")), 1, 4), 16, 10)
        .cast("int")
        % 100
    )
    return (
        doc.select("doc_id")
        .join(cl, "doc_id", "left")
        .select(
            "doc_id",
            cluster.alias("cluster_id"),
            F.when(bucket < 90, "train")
            .when(bucket < 95, "val")
            .otherwise("test")
            .alias("split"),
        )
    )


# --- Content-defined chunking (gear hash) ------------------------------------

_CDC_W = 8          # gear-hash window (chars)
_CDC_MASK_MOD = 64  # boundary when h % 64 == 0 → ~64-char expected chunks


def _cdc_gear_table() -> list[int]:
    """256-entry gear table: md5-derived 31-bit constants (deterministic,
    engine-agnostic — the same md5 family as every sketch in the repo)."""
    import hashlib

    return [
        int(hashlib.md5(str(b).encode()).hexdigest()[:8], 16) % (1 << 31)
        for b in range(256)
    ]


def _cdc_gear_sql() -> str:
    return "[" + ",".join(f"CAST({g} AS BIGINT)" for g in _cdc_gear_table()) + "]"


def _cdc_terms_sql() -> str:
    """The unrolled 8-term windowed gear hash at position i (1-based, SQL),
    over the precomputed per-char gear array ``g`` (one table lookup per
    character TOTAL, not per window position — the O(len·W) form; indexing
    chars with substring() here would re-scan the string per term and turn
    the chunker quadratic). B=2 with literal coefficients — unrolling
    sidesteps engine-specific fold builtins, so Spark and DuckDB evaluate
    the identical polynomial."""
    return " + ".join(
        f"g[CAST(i - {j} AS BIGINT)] * CAST({1 << j} AS BIGINT)"
        for j in range(_CDC_W)
    )


def cdc_char_gears(text):
    """Per-character gear lookups of a string Column: ONE table lookup per
    character, materialized once per row (pass the result to cdc_chunks so
    the 8-term window reads array cells, never re-scans the string — the
    difference between O(len·W) and O(len²·W) per document)."""
    gear = F.array(*[F.lit(g).cast("bigint") for g in _cdc_gear_table()])
    return F.transform(
        F.split(text, ""),
        lambda c: F.element_at(gear, (F.ascii(c) % 256) + 1),
    )


def cdc_chunks(text, g):
    """Array of content-defined chunks of a string Column (gear-hash
    boundaries over the precomputed char-gear array ``g``, unrolled
    polynomial — see dedup_cdc_chunks)."""
    n = F.length(text)

    def h(i):
        acc = F.lit(0).cast("bigint")
        for j in range(_CDC_W):
            acc = acc + F.element_at(g, (i - j).cast("int")) * F.lit(
                1 << j
            ).cast("bigint")
        return acc

    bpos = F.when(
        n >= _CDC_W,
        F.filter(
            F.sequence(F.lit(_CDC_W).cast("bigint"), n.cast("bigint")),
            lambda i: h(i) % _CDC_MASK_MOD == 0,
        ),
    ).otherwise(F.array().cast("array<bigint>"))
    starts = F.concat(F.array(F.lit(0).cast("bigint")), bpos)
    ends = F.concat(bpos, F.array(n.cast("bigint")))
    return F.filter(
        F.zip_with(
            starts,
            ends,
            lambda s, e: F.substring(text, (s + 1).cast("int"), (e - s).cast("int")),
        ),
        lambda c: c != "",
    )


@register(
    "dedup_cdc_chunks",
    survey="NS-dedup(content-defined chunking: FastCDC-style gear hash, chunk-level cross-doc sharing)",
    oracle=f"""
WITH gm AS (
    SELECT doc_id, text, length(text) AS n,
           list_transform(string_split(text, ''),
                          c -> {_cdc_gear_sql()}[(ascii(c) % 256) + 1]) AS g
    FROM documents
),
pos AS (
    SELECT doc_id, text, n,
           list_filter(range({_CDC_W}, n + 1),
                       i -> ({_cdc_terms_sql()}) % {_CDC_MASK_MOD} = 0) AS bpos
    FROM gm
),
seg AS (
    SELECT doc_id,
           list_filter(
               list_transform(
                   list_zip(list_prepend(0, bpos), list_append(bpos, n)),
                   p -> substring(text, CAST(p[1] + 1 AS INT),
                                  CAST(p[2] - p[1] AS INT))),
               c -> c <> '') AS chunks
    FROM pos
),
ch AS (SELECT doc_id, md5(unnest(chunks)) AS h FROM seg),
cd AS (SELECT h, COUNT(DISTINCT doc_id) AS nd FROM ch GROUP BY h)
SELECT ch.doc_id,
       COUNT(*) AS n_chunks,
       CAST(SUM(CASE WHEN cd.nd > 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_shared,
       CAST(SUM(CASE WHEN cd.nd > 1 THEN 1 ELSE 0 END) AS DOUBLE) / COUNT(*)
           AS shared_frac
FROM ch JOIN cd USING (h)
GROUP BY ch.doc_id
""",
)
def dedup_cdc_chunks(spark, sf_dir):
    """Content-defined chunking (the FastCDC/gear-hash family — Xia et al.
    2016, USENIX ATC): chunk boundaries are declared wherever a rolling
    windowed gear hash of the trailing {w} characters hits the mask, so
    identical PASSAGES chunk identically regardless of byte offset — an
    insertion early in a document shifts every fixed-size block but leaves
    content-defined chunks aligned. The cross-doc chunk-sharing profile
    (n_shared / shared_frac per doc) is the storage-dedup / re-crawl
    delta-detection primitive: a shared_frac near 1 marks a near-exact
    re-crawl, mid-range marks boilerplate carriers. Complements the
    shingle family: MinHash estimates SET similarity, CDC finds exact
    REUSED SPANS with chunk granularity (and unlike dup_span_coverage's
    fixed-k grams, chunk alignment survives offset shifts).

    The windowed hash is an unrolled 8-term polynomial (B=2, literal
    coefficients, BIGINT throughout) over a 256-entry md5-derived gear
    table riding in the plan as a literal — bit-identical cross-engine,
    no fold builtins, no Python.

    Scale shape: chunking is a pure map (higher-order filter/zip_with
    over each row); then three KEYED linear shuffles — chunk-hash
    directory agg, directory join-back (both sides chunk-keyed; the
    directory is corpus-bounded and shrinks with duplication), per-doc
    re-agg. Same skeleton as shingle_novelty_score; no pair fan-out
    anywhere.
    """
    # fan_out: the per-CHAR gear hash + chunk slicing are narrow — a
    # single-file scan would roll-hash the whole corpus on ONE core
    # before the first (chunk-hash) shuffle (guide §2.4; no-op at scale)
    doc = fan_out(load_table(spark, sf_dir, "documents"))
    gm = doc.select(
        "doc_id", "text", cdc_char_gears(F.col("text")).alias("g")
    )
    ch = gm.select(
        "doc_id",
        F.explode(cdc_chunks(F.col("text"), F.col("g"))).alias("chunk"),
    ).select("doc_id", F.md5("chunk").alias("h"))
    cd = ch.groupBy("h").agg(F.count_distinct("doc_id").alias("nd"))
    return (
        ch.join(cd, "h")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_chunks"),
            F.sum((F.col("nd") > 1).cast("int")).cast("bigint").alias("n_shared"),
            (
                F.sum((F.col("nd") > 1).cast("int")).cast("double")
                / F.count(F.lit(1))
            ).alias("shared_frac"),
        )
    )


dedup_cdc_chunks.__doc__ = dedup_cdc_chunks.__doc__.format(w=_CDC_W)


# --- Entity resolution / record linkage --------------------------------------

_RL_CORRUPT_MOD = 4   # every 4th customer gets a dirty twin
_RL_DIRTY_OFFSET = 1_000_000


@register(
    "record_linkage_blocked",
    survey="NS-dedup(entity resolution: multi-pass blocking + edit-distance verify),J1,F1-F7",
    oracle=f"""
WITH canon AS (SELECT c_custkey, c_name FROM customer),
dirty AS (
    SELECT c_custkey + {_RL_DIRTY_OFFSET} AS dirty_id,
           substring(c_name, 1, 14 + c_custkey % 3) || 'X'
               || substring(c_name, 16 + c_custkey % 3) AS d_name
    FROM customer WHERE c_custkey % {_RL_CORRUPT_MOD} = 0
),
db AS (
              SELECT dirty_id, d_name, 1 AS bi,
                     substring(d_name, 14, 3) AS bv FROM dirty
    UNION ALL SELECT dirty_id, d_name, 2, substring(d_name, 17, 2) FROM dirty
),
cb AS (
              SELECT c_custkey, c_name, 1 AS bi,
                     substring(c_name, 14, 3) AS bv FROM canon
    UNION ALL SELECT c_custkey, c_name, 2, substring(c_name, 17, 2) FROM canon
),
cand AS (
    SELECT DISTINCT db.dirty_id, db.d_name, cb.c_custkey, cb.c_name
    FROM db JOIN cb ON db.bi = cb.bi AND db.bv = cb.bv
)
SELECT dirty_id, c_custkey,
       CAST(levenshtein(d_name, c_name) AS INTEGER) AS lev
FROM cand
WHERE levenshtein(d_name, c_name) <= 1
""",
)
def record_linkage_blocked(spark, sf_dir):
    """Entity resolution — the data-cleaning twin of the LSH dedup family:
    dirty records (every 4th customer name with one digit struck to 'X'
    at a key-dependent position) are linked back to the canonical table
    by MULTI-PASS BLOCKING + edit-distance verify. The two blocking
    passes partition the corrupted digit range (positions 15-17: pass 1
    keys chars 14-16, pass 2 chars 17-18), so whichever digit was struck,
    at least one pass's key is clean and the true match is ALWAYS a
    candidate — the deterministic analog of LSH banding's
    at-least-one-band guarantee. The verify is levenshtein <= 1 (built-in
    in both engines, integer-exact); ambiguous links (a second customer
    one edit away inside a shared block) are emitted with their distance
    — candidate links with scores are ER's contract, disambiguation is a
    downstream policy.

    Scale shape: both sides explode into 2 block rows each and meet in a
    shuffled equi-join on (pass, block key) — names move, never the fact
    table; block entropy here is the trailing digits (the synthetic keys'
    only entropy), so candidates are n²/10³ at this corpus — a real
    deployment blocks on higher-entropy keys (phonetic codes, sorted
    token prefixes) exactly as it would widen LSH bands."""
    canon = load_table(spark, sf_dir, "customer").select("c_custkey", "c_name")
    pos = (15 + F.col("c_custkey") % 3).cast("int")
    dirty = (
        canon.filter(F.col("c_custkey") % _RL_CORRUPT_MOD == 0)
        .select(
            (F.col("c_custkey") + _RL_DIRTY_OFFSET).alias("dirty_id"),
            F.concat(
                F.expr("substring(c_name, 1, 14 + c_custkey % 3)"),
                F.lit("X"),
                F.expr("substring(c_name, 16 + c_custkey % 3)"),
            ).alias("d_name"),
        )
    )

    def blocks(df, name_col):
        return df.select(
            "*",
            F.explode(
                F.array(
                    F.struct(
                        F.lit(1).alias("bi"),
                        F.substring(name_col, 14, 3).alias("bv"),
                    ),
                    F.struct(
                        F.lit(2).alias("bi"),
                        F.substring(name_col, 17, 2).alias("bv"),
                    ),
                )
            ).alias("b"),
        ).select("*", "b.bi", "b.bv").drop("b")

    db = blocks(dirty, "d_name")
    cb = blocks(canon, "c_name")
    cand = (
        db.join(cb, ["bi", "bv"])
        .select("dirty_id", "d_name", "c_custkey", "c_name")
        .distinct()
    )
    lev = F.levenshtein("d_name", "c_name")
    return (
        cand.filter(lev <= 1)
        .select("dirty_id", "c_custkey", lev.cast("int").alias("lev"))
    )


@register(
    "containment_dup_pairs",
    survey="NS-dedup(asymmetric set-containment pairs — excerpt/quote duplication the Jaccard threshold can't see),J1",
    oracle=f"""
WITH {_SHINGLES_CTE},
inv AS (SELECT doc_id, unnest(shingles) AS shingle FROM sh),
inter AS (
    SELECT a.doc_id AS doc_in, b.doc_id AS doc_out,
           CAST(COUNT(*) AS BIGINT) AS inter
    FROM inv a JOIN inv b
      ON a.shingle = b.shingle AND a.doc_id <> b.doc_id
    GROUP BY 1, 2
),
sz AS (SELECT doc_id, CAST(len(shingles) AS BIGINT) AS sz FROM sh)
SELECT doc_in, doc_out, inter,
       sa.sz AS sz_in, sb.sz AS sz_out,
       inter * 100 // sa.sz AS cont_pct
FROM inter
JOIN sz sa ON sa.doc_id = doc_in
JOIN sz sb ON sb.doc_id = doc_out
WHERE inter * 100 // sa.sz >= 80
""",
)
def containment_dup_pairs(spark, sf_dir):
    """Asymmetric containment dedup: ordered (contained, container) pairs
    with |A∩B|/|A| ≥ 0.8 — the excerpt/quote duplication mode that a
    Jaccard threshold is structurally blind to (a page quoted inside a
    10× longer page has Jaccard ≈ 0.1 but containment ≈ 1.0). Output
    keeps the integer evidence (intersection size, both set sizes) plus
    the floored containment percent, so the dedup policy layer can keep
    the container and drop the contained copy.

    Scale shape (operators/dedup.containment_prefix_pairs): AllPairs
    prefix filtering adapted to the asymmetric predicate — the contained
    side indexes only its ~(1−t) globally-rarest shingles, the container
    side the full inverted index, recall exactly 1 by the overlap form of
    the Bayardo bound, with an |B| ≥ ⌈t·|A|⌉ size prune before
    verification. The oracle re-derives the same pairs from the naive
    full self-join; the Spark plan never runs it."""
    doc = load_table(spark, sf_dir, "documents")
    return containment_prefix_pairs(doc, threshold=0.8, shingle_k=3)
