"""Skew-resistant aggregation: two-stage salted aggregation.

When a groupBy key is hot (few distinct values over billions of rows — e.g.
event_type with 8 values at 100 TB), the single final-agg task per key
becomes the straggler even though partial aggregation already compressed the
shuffle. Salting splits each hot key into 16 sub-keys so the
heavy merge parallelizes, then a second (tiny) aggregation merges the salted
partials. Only decomposable aggregates (count/sum/min/max — anything with an
associative merge) may pass through; the decimal-safe sum stays exact because
decimal addition is associative.

The salt derives from a data column (pmod of a row id), not from rand():
results are deterministic and replay-stable — required for oracle checking
and for speculative-execution correctness.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def salted_agg(
    df: DataFrame,
    keys: list[str],
    salt_source: Column,
    partial_aggs: list[Column],
    merge_aggs: list[Column],
) -> DataFrame:
    """groupBy(keys + salt) → groupBy(keys): two shuffles, neither skewed.
    The salt is ``pmod(salt_source, 16)``.

    ``partial_aggs`` aggregate raw rows per (key, salt); ``merge_aggs``
    combine the salted partials per key (e.g. partial ``count → n_part``,
    merge ``sum(n_part) → n``). Caller names must line up.
    """
    salted = df.withColumn("_salt", F.pmod(salt_source, F.lit(16)))
    partial = salted.groupBy(*keys, "_salt").agg(*partial_aggs)
    return partial.groupBy(*keys).agg(*merge_aggs)
