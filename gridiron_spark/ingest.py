"""Ingestion: heterogeneous CSVs → schema-normalized, Hive-partitioned Parquet lake.

The reference's writer (src/ingest.py) collects each CSV into memory and loops
games on the driver, writing one parquet per game. Spark-first, the whole
ingest is ONE declarative job — scan every CSV, normalize, derive the season
partition, and let the distributed writer produce the
``season=YYYY/gameId=XXXX/`` tree:

- **per-partition upsert** (re-ingesting a game overwrites exactly that game,
  reference src/ingest.py:82-87) is dynamic partition overwrite — a
  config, not code;
- **one file per game** (fixed-name ``tracking.parquet`` in the reference) is
  file-count control: repartition by the partition key so each game's rows
  land in a single task → a single file, with ``maxRecordsPerFile`` capping
  the worst case;
- the driver never materializes data; summaries are one aggregate job.

:func:`write_partitions` is the one writer of this layout (the feature store
and ``pool.compact_pool`` write through it too).
"""

from __future__ import annotations

import logging
from collections.abc import Sequence
from dataclasses import dataclass
from pathlib import Path

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from gridiron_spark.schema.normalize import normalize
from gridiron_spark.schema.registry import TableSchema

log = logging.getLogger(__name__)

SEASON_COL = "season"
MAX_RECORDS_PER_FILE = 5_000_000


@dataclass(frozen=True)
class IngestSummary:
    """The reference's human-assertion report (src/ingest.py:46-57), computed
    in one distributed aggregate pass instead of driver-side pandas."""

    n_rows: int
    n_games: int
    n_plays: int
    max_frame: int | None


def derive_season(df: DataFrame) -> DataFrame:
    """season := first 4 chars of gameId (reference src/ingest.py:73-74 —
    the partition key is computed from data, not stored in the source)."""
    return df.withColumn(
        SEASON_COL, F.substring(F.col("gameId").cast("string"), 1, 4)
    )


def write_partitions(
    df: DataFrame,
    root: str | Path,
    partition_cols: Sequence[str],
    sort_by: Sequence[str] = (),
) -> None:
    """Write ``df`` as a Hive-partitioned parquet tree under ``root``.

    ``season`` is derived from gameId when it is a partition column the
    frame lacks. ``repartition(*partition_cols)`` puts every partition's
    rows in one task (distinct partition tuples may share a task — the
    writer still splits them into their own directories), so each row
    shuffles once and each partition directory gets one file.
    ``sort_by`` orders rows within each file so parquet row-group
    statistics prune on those columns. Dynamic overwrite replaces only the
    partitions ``df`` has rows for: re-writing a game replaces that game.
    """
    cols = list(partition_cols)
    if SEASON_COL in cols and SEASON_COL not in df.columns:
        df = derive_season(df)
    df = df.repartition(*cols)
    if sort_by:
        df = df.sortWithinPartitions(*cols, *sort_by)
    (
        df.write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .option("maxRecordsPerFile", MAX_RECORDS_PER_FILE)
        .partitionBy(*cols)
        .parquet(str(root))
    )


class LakeIngestor:
    """CSV → canonical schema → partitioned parquet pool."""

    def __init__(
        self,
        spark: SparkSession,
        schema: TableSchema | str | Path,
        pool: str | Path,
    ):
        self.spark = spark
        self.schema = (
            schema if isinstance(schema, TableSchema) else TableSchema.load(schema)
        )
        self.pool = str(pool)

    # -- read + normalize ---------------------------------------------------

    def load_and_normalize(
        self, input_glob: str | Path, source_format: str = "csv"
    ) -> DataFrame:
        """Permissive scan (reference src/ingest.py:23: inferred schema,
        errors tolerated) then the canonical normalize projection. Spark globs
        natively; schema inference samples the files once. ``source_format``
        extends the reference's CSV-only intake with JSON-lines — the common
        raw shape for large document/training corpora — through the SAME
        alias-resolution and cast pipeline (the normalizer works on any
        inferred schema, so a format is one reader branch, not a new path).
        ``parquet``/``orc`` intake covers lake-to-lake re-ingest (self-
        describing schemas; the normalizer still applies alias resolution
        and canonical casts)."""
        from pyspark.errors.exceptions.captured import AnalysisException

        if source_format not in ("csv", "json", "parquet", "orc"):
            raise ValueError(f"unsupported source format: {source_format!r}")
        try:
            if source_format in ("parquet", "orc"):
                raw = self.spark.read.format(source_format).load(str(input_glob))
            elif source_format == "json":
                raw = self.spark.read.option("mode", "PERMISSIVE").json(
                    str(input_glob)
                )
            else:
                raw = (
                    self.spark.read.option("header", True)
                    .option("inferSchema", True)
                    .option("mode", "PERMISSIVE")
                    .csv(str(input_glob))
                )
        except AnalysisException as e:
            if "PATH_NOT_FOUND" in str(e):
                # reference errors cleanly when the glob matches nothing
                # (src/ingest.py:90-94)
                raise FileNotFoundError(f"no input files match {input_glob}") from e
            raise
        return normalize(raw, self.schema)

    # -- write ---------------------------------------------------------------

    def write(self, df: DataFrame) -> None:
        write_partitions(df, self.pool, self.schema.partition_by or ["gameId"])

    # -- summary / dry-run ----------------------------------------------------

    def summarize(self, df: DataFrame) -> IngestSummary:
        row = df.agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.countDistinct("gameId").alias("n_games"),
            F.countDistinct("gameId", "playId").alias("n_plays"),
            F.max("frameId").alias("max_frame"),
        ).first()
        return IngestSummary(row.n_rows, row.n_games, row.n_plays, row.max_frame)

    def ingest(
        self,
        input_glob: str | Path,
        dry_run: bool = False,
        source_format: str = "csv",
    ) -> IngestSummary:
        df = self.load_and_normalize(input_glob, source_format=source_format)
        summary = self.summarize(df)
        if summary.n_rows == 0:
            log.warning("ingest: 0 rows matched %s — nothing written", input_glob)
            return summary
        if not dry_run:
            self.write(df)
        return summary
