"""SparkSession construction tuned for this engine.

The driver harness passes its own SparkSession into ``__spark_entry__``
callables, so nothing in the query catalog may *depend* on these configs —
anything load-bearing (e.g. nanosecond-parquet handling) is set at read time in
:mod:`gridiron_spark.io.tables`. This builder is for tests, bench.py, and CLI
use.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

# Floor for AQE's byte-based partition coalescing (deployment tuning; see
# get_spark below). io.tables applies it to sessions built elsewhere.
AQE_MIN_PARTITION_SIZE = os.environ.get("SPARK_GRAFT_AQE_MIN_PARTITION_SIZE", "64k")


def get_spark(
    app_name: str = "gridiron_spark",
    cpus: int | None = None,
    shuffle_partitions: int | None = None,
) -> SparkSession:
    """Build a local SparkSession sized from the environment.

    ``SPARK_GRAFT_CPUS`` controls local parallelism (default: all cores).
    Shuffle partitions default to the core count — right-sized for local mode;
    on a real cluster AQE coalescing makes the initial number less critical.
    """
    if cpus is None:
        cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "0")) or os.cpu_count() or 4
    if shuffle_partitions is None:
        shuffle_partitions = cpus
    builder = (
        SparkSession.builder.appName(app_name)
        .master(f"local[{cpus}]")
        # AQE: runtime re-planning (partition coalescing, skew-join splitting,
        # dynamic broadcast conversion) — essential at 100 TB, harmless locally.
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # AQE coalescing is BYTE-based: with parallelismFirst (default on)
        # it still packs post-shuffle partitions up to minPartitionSize
        # (default 1m), which collapses compute-heavy-but-byte-light stages
        # (pair scoring over quantized vectors, per-shingle md5) to ONE task.
        # A 64k floor keeps such stages parallel; at cluster scale shuffle
        # partitions dwarf any floor so the setting is inert there — and it
        # stays env-tunable for non-local deployments (optimization guide
        # §2.2/§2.5). Chosen by a measured sweep (OPTIMIZATION_r13.md):
        # 16k wins iterative-join loops (kcore peel 15.0 s @1m → 6.5 s)
        # but floods tiny per-round window loops with 32-task stages (BPE
        # 4.9 → 7.0 s); 64k keeps both near their best.
        .config(
            "spark.sql.adaptive.coalescePartitions.minPartitionSize",
            AQE_MIN_PARTITION_SIZE,
        )
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        # Arrow for any pandas-UDF boundary (10-100x over row-at-a-time).
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # The driver testdata's events table stores TIMESTAMP(NANOS) which
        # vanilla Spark rejects; read as epoch-nanos longs (see io.tables).
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        # Deterministic timestamp rendering regardless of host TZ.
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
    )
    return builder.getOrCreate()
