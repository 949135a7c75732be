"""Side-car feature store: derived metrics in parallel partitioned datasets,
joined to the raw pool at query time on (gameId, playId, frameId) — the
designed-but-unbuilt abstraction of the reference (README.md:10-11,21-23;
docs/DATA_LAKE_GUIDE.md:125-133).

Layout mirrors the raw pool (``<root>/<feature_set>/season=/gameId=/``) so the
same partition pruning applies, and the runtime join is partition-local: both
sides are partitioned by gameId, and per-play feature frames are small enough
that AQE picks a broadcast for selective reads.
"""

from __future__ import annotations

from pathlib import Path

from pyspark.sql import DataFrame, SparkSession

from gridiron_spark.ingest import SEASON_COL, write_partitions
from gridiron_spark.pool import scan_partitions

FRAME_KEY = ("gameId", "playId", "frameId")


class FeatureStore:
    def __init__(self, spark: SparkSession, root: str | Path):
        self.spark = spark
        self.root = str(root)

    def _path(self, feature_set: str) -> str:
        return f"{self.root}/{feature_set}"

    def write(self, feature_set: str, df: DataFrame) -> None:
        """Persist a feature dataset, partitioned like the raw pool so the
        two prune identically. Keys must include the frame key."""
        missing = [k for k in FRAME_KEY if k not in df.columns]
        if missing:
            raise ValueError(f"feature df missing key columns: {missing}")
        write_partitions(df, self._path(feature_set), (SEASON_COL, "gameId"))

    def read(self, feature_set: str) -> DataFrame:
        return scan_partitions(self.spark, self._path(feature_set))

    def join(
        self,
        pool_df: DataFrame,
        feature_set: str,
        how: str = "left",
        on: list[str] | None = None,
    ) -> DataFrame:
        """Runtime join of raw rows with a feature set on the frame key
        (reference docs/DATA_LAKE_GUIDE.md:133). Per-entity feature sets
        (one row per player per frame) automatically include nflId in the key
        so the join stays 1:1 instead of fanning out per entity."""
        feats = self.read(feature_set)
        drop = [c for c in (SEASON_COL,) if c in feats.columns and c in pool_df.columns]
        for c in drop:
            feats = feats.drop(c)
        if on is None:
            on = list(FRAME_KEY)
            if "nflId" in feats.columns and "nflId" in pool_df.columns:
                on.append("nflId")
        return pool_df.join(feats, on=on, how=how)
