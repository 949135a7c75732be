"""Reference-parity queries: the operator surface of SURVEY.md §2.1-§2.8,
transposed onto the driver's TPC-H-ish tables (FIXTURES.md §5 mapping:
(gameId, playId) play key ↔ o_orderkey; pool join-back ↔ orders⋈lineitem).

Every query here is a declarative DataFrame plan — Catalyst handles predicate
pushdown, column pruning, partial aggregation, and join strategy; explicit
``broadcast()`` hints mark the provably-small sides.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from gridiron_spark.functions.decimal_safe import dec, dsum, dmean
from gridiron_spark.io.tables import load_table
from gridiron_spark.queries import register
from gridiron_spark.sampling import sample_exact_n

# ---------------------------------------------------------------------------
# P1-P8: projection + conjunctive predicate filters (reference src/query.py:34-36,
# src/ingest.py:27-44). Computed column (revenue) via exact decimal math.
# ---------------------------------------------------------------------------


@register(
    "filter_project",
    survey="P1-P8,F1-F3,F7,S3",
    oracle="""
SELECT l_orderkey,
       l_linenumber,
       l_quantity,
       CAST(CAST(l_extendedprice AS DECIMAL(18,6))
            * (1 - CAST(l_discount AS DECIMAL(18,6))) AS DOUBLE) AS revenue
FROM lineitem
WHERE l_shipdate >= TIMESTAMP '1995-01-01'
  AND l_shipdate <  TIMESTAMP '1996-01-01'
  AND l_discount BETWEEN 0.05 AND 0.07
  AND l_quantity < 24
""",
)
def filter_project(spark, sf_dir):
    li = load_table(spark, sf_dir, "lineitem")
    return (
        li.filter(F.col("l_shipdate") >= "1995-01-01")
        .filter(F.col("l_shipdate") < "1996-01-01")
        .filter(F.col("l_discount").between(0.05, 0.07))
        .filter(F.col("l_quantity") < 24)
        .select(
            "l_orderkey",
            "l_linenumber",
            "l_quantity",
            (dec("l_extendedprice") * (F.lit(1) - dec("l_discount")))
            .cast("double")
            .alias("revenue"),
        )
    )


# ---------------------------------------------------------------------------
# A2-A6: grouped summary (reference generate_summary, src/ingest.py:46-57 —
# rows / distinct games / distinct plays / max frame, here over lineitem).
# Catalyst runs this as partial+final hash aggregation; one pass over the scan.
# ---------------------------------------------------------------------------


@register(
    "agg_summary",
    survey="A2-A6,O2",
    oracle="""
SELECT l_returnflag,
       l_linestatus,
       COUNT(*) AS n_rows,
       COUNT(DISTINCT l_orderkey) AS n_orders,
       CAST(SUM(CAST(l_quantity AS DECIMAL(18,6))) AS DOUBLE) AS sum_qty,
       CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,6))) AS DOUBLE) AS sum_price,
       CAST(SUM(CAST(l_quantity AS DECIMAL(18,6))) AS DOUBLE) / COUNT(l_quantity) AS avg_qty,
       MAX(l_quantity) AS max_qty
FROM lineitem
WHERE l_shipdate <= TIMESTAMP '1998-09-02'
GROUP BY l_returnflag, l_linestatus
""",
)
def agg_summary(spark, sf_dir):
    li = load_table(spark, sf_dir, "lineitem")
    return (
        li.filter(F.col("l_shipdate") <= "1998-09-02")
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.countDistinct("l_orderkey").alias("n_orders"),
            dsum("l_quantity", "sum_qty"),
            dsum("l_extendedprice", "sum_price"),
            dmean("l_quantity", "avg_qty"),
            F.max("l_quantity").alias("max_qty"),
        )
    )


# ---------------------------------------------------------------------------
# A2: distinct on a key projection (reference src/query.py:39-43 "select only
# keys first" — manual projection pushdown; Catalyst prunes to 2 columns so the
# parquet scan reads only those pages).
# ---------------------------------------------------------------------------


@register(
    "distinct_keys",
    survey="A2,P2,P4",
    oracle="""
SELECT DISTINCT o_custkey, o_orderstatus
FROM orders
WHERE o_totalprice > 150000
""",
)
def distinct_keys(spark, sf_dir):
    o = load_table(spark, sf_dir, "orders")
    return (
        o.filter(F.col("o_totalprice") > 150000)
        .select("o_custkey", "o_orderstatus")
        .distinct()
    )


# ---------------------------------------------------------------------------
# O5 + J1: THE signature pipeline (reference src/query.py:31-55) — filter →
# distinct keys → seeded exact-n sample → join the big table back to the
# sampled key set → aggregate. The sampled side is provably ≤ n rows, so it is
# broadcast: the lineitem scan never shuffles.
# ---------------------------------------------------------------------------

_SAMPLE_N = 32
_SAMPLE_SEED = 42


@register(
    "sample_join_back",
    survey="O5,J1,A4,P2,P4",
    oracle=f"""
WITH keys AS (
    SELECT DISTINCT o_orderkey
    FROM orders
    WHERE o_orderpriority = '1-URGENT'
),
sampled AS (
    SELECT o_orderkey
    FROM keys
    ORDER BY md5(concat_ws('#', CAST(o_orderkey AS VARCHAR), '{_SAMPLE_SEED}')),
             o_orderkey
    LIMIT {_SAMPLE_N}
)
SELECT l.l_orderkey AS orderkey,
       COUNT(*) AS n_lines,
       CAST(SUM(CAST(l.l_extendedprice AS DECIMAL(18,6))
            * (1 - CAST(l.l_discount AS DECIMAL(18,6)))) AS DOUBLE) AS revenue
FROM lineitem l
JOIN sampled s ON l.l_orderkey = s.o_orderkey
GROUP BY l.l_orderkey
""",
)
def sample_join_back(spark, sf_dir):
    o = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    sampled = sample_exact_n(
        o.filter(F.col("o_orderpriority") == "1-URGENT"),
        ["o_orderkey"],
        _SAMPLE_N,
        _SAMPLE_SEED,
    )
    return (
        li.join(
            F.broadcast(sampled), li.l_orderkey == sampled.o_orderkey, "inner"
        )
        .groupBy(li.l_orderkey.alias("orderkey"))
        .agg(
            F.count(F.lit(1)).alias("n_lines"),
            F.sum(dec("l_extendedprice") * (F.lit(1) - dec("l_discount")))
            .cast("double")
            .alias("revenue"),
        )
    )


# ---------------------------------------------------------------------------
# O1-O4: sort + limit (top-k). Compiles to TakeOrderedAndProject — per-partition
# heaps, no global sort, no shuffle of the full table.
# ---------------------------------------------------------------------------


@register(
    "topk_orders",
    survey="O1-O4",
    oracle="""
SELECT o_orderkey, o_custkey, o_totalprice, o_orderpriority
FROM orders
ORDER BY o_totalprice DESC, o_orderkey
LIMIT 10
""",
)
def topk_orders(spark, sf_dir):
    o = load_table(spark, sf_dir, "orders")
    return (
        o.orderBy(F.col("o_totalprice").desc(), "o_orderkey")
        .select("o_orderkey", "o_custkey", "o_totalprice", "o_orderpriority")
        .limit(10)
    )


# ---------------------------------------------------------------------------
# J1/J2: multi-way equi-join with small dimensions (feature-store join shape,
# reference DATA_LAKE_GUIDE.md:125-133). nation (25 rows) and region (5 rows)
# are broadcast — the customer scan never shuffles for the join; only the final
# aggregation exchanges data, keyed by a 5-value column (AQE coalesces).
# ---------------------------------------------------------------------------


@register(
    "join_enrich",
    survey="J1,J2,A3-A6",
    oracle="""
SELECT r.r_name AS region,
       COUNT(*) AS n_customers,
       CAST(SUM(CAST(c.c_acctbal AS DECIMAL(18,6))) AS DOUBLE) AS sum_acctbal,
       CAST(SUM(CAST(c.c_acctbal AS DECIMAL(18,6))) AS DOUBLE) / COUNT(c.c_acctbal) AS avg_acctbal
FROM customer c
JOIN nation n ON c.c_nationkey = n.n_nationkey
JOIN region r ON n.n_regionkey = r.r_regionkey
GROUP BY r.r_name
""",
)
def join_enrich(spark, sf_dir):
    c = load_table(spark, sf_dir, "customer")
    n = load_table(spark, sf_dir, "nation")
    r = load_table(spark, sf_dir, "region")
    return (
        c.join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
        .groupBy(r.r_name.alias("region"))
        .agg(
            F.count(F.lit(1)).alias("n_customers"),
            dsum("c_acctbal", "sum_acctbal"),
            dmean("c_acctbal", "avg_acctbal"),
        )
    )


# ---------------------------------------------------------------------------
# P7: membership / semi-join. The reference uses isin on a small collected set
# (scripts/random_plays_sampler.py:92); at scale the same semantics is a
# broadcast LEFT SEMI join — no duplication, no shuffle of the big side.
# ---------------------------------------------------------------------------


@register(
    "semi_join_membership",
    survey="P7,J1",
    oracle="""
SELECT l_suppkey,
       COUNT(*) AS n_lines,
       CAST(SUM(CAST(l_quantity AS DECIMAL(18,6))) AS DOUBLE) AS sum_qty
FROM lineitem
WHERE l_orderkey IN (SELECT o_orderkey FROM orders WHERE o_orderpriority = '1-URGENT')
GROUP BY l_suppkey
""",
)
def semi_join_membership(spark, sf_dir):
    o = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    urgent = o.filter(F.col("o_orderpriority") == "1-URGENT").select("o_orderkey")
    return (
        li.join(F.broadcast(urgent), li.l_orderkey == urgent.o_orderkey, "left_semi")
        .groupBy("l_suppkey")
        .agg(
            F.count(F.lit(1)).alias("n_lines"),
            dsum("l_quantity", "sum_qty"),
        )
    )


# ---------------------------------------------------------------------------
# §2.7 set ops: unionByName + distinct (documented pd.concat pattern,
# data/nfl-bdb/2026/README.md:84-88).
# ---------------------------------------------------------------------------


@register(
    "union_distinct",
    survey="SET1,A2,A4",
    oracle="""
SELECT o_orderpriority, COUNT(*) AS n
FROM (
    SELECT * FROM orders WHERE o_totalprice > 200000
    UNION
    SELECT * FROM orders WHERE o_orderstatus = 'F'
)
GROUP BY o_orderpriority
""",
)
def union_distinct(spark, sf_dir):
    o = load_table(spark, sf_dir, "orders")
    hi = o.filter(F.col("o_totalprice") > 200000)
    fin = o.filter(F.col("o_orderstatus") == "F")
    return (
        hi.unionByName(fin)
        .distinct()
        .groupBy("o_orderpriority")
        .agg(F.count(F.lit(1)).alias("n"))
    )


# ---------------------------------------------------------------------------
# F1-F7 scalar functions, incl. the season-derivation idiom (reference
# src/ingest.py:73-74 derives season=str(gameId)[:4]; here the year from the
# order date string) — all JVM-side Column expressions, zero Python UDFs.
# ---------------------------------------------------------------------------


@register(
    "scalar_functions",
    survey="F1-F7",
    oracle="""
SELECT o_orderkey,
       substring(CAST(o_orderdate AS VARCHAR), 1, 4) AS season,
       year(o_orderdate) AS order_year,
       lower(o_orderpriority) AS priority_lc,
       concat_ws('-', CAST(o_custkey AS VARCHAR), o_orderstatus) AS cust_tag,
       CAST(CAST(o_totalprice AS DECIMAL(18,6)) * 0.1 AS DOUBLE) AS fee
FROM orders
WHERE o_orderkey <= 1000
""",
)
def scalar_functions(spark, sf_dir):
    o = load_table(spark, sf_dir, "orders")
    return o.filter(F.col("o_orderkey") <= 1000).select(
        "o_orderkey",
        F.substring(F.col("o_orderdate").cast("string"), 1, 4).alias("season"),
        F.year("o_orderdate").alias("order_year"),
        F.lower("o_orderpriority").alias("priority_lc"),
        F.concat_ws(
            "-", F.col("o_custkey").cast("string"), F.col("o_orderstatus")
        ).alias("cust_tag"),
        (dec("o_totalprice") * F.lit("0.1").cast("decimal(2,1)"))
        .cast("double")
        .alias("fee"),
    )
