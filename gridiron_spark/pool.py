"""Query layer over the partitioned tracking lake (reference src/query.py,
app listing helpers app/main.py:46-81, CSV export src/export.py).

Everything stays a lazy DataFrame until the caller acts. Partition columns
(``season``, ``gameId``) are first-class via ``basePath`` discovery, so
``filter(season=...)`` / ``filter(gameId=...)`` prune whole directories before
any I/O — the reference's glob scan only got this for gameId via the embedded
column (SURVEY.md §4 partition-pruning note). :func:`scan_partitions` is the
one reader of that layout.
"""

from __future__ import annotations

from collections.abc import Iterable, Sequence
from pathlib import Path

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from gridiron_spark.ingest import write_partitions
from gridiron_spark.sampling import sample_exact_n

PLAY_KEY = ("gameId", "playId")


def scan_partitions(spark: SparkSession, root: str, *paths: str) -> DataFrame:
    """Lazy scan of a Hive-partitioned parquet tree with ``root`` as the
    partition-discovery base, so every ``key=value`` level below it is a
    column and filters on it prune directories. ``paths`` narrows the scan
    to subtrees of ``root`` (default: the whole tree)."""
    return spark.read.option("basePath", root).parquet(*(paths or (root,)))


def compact_pool(
    spark: SparkSession,
    pool: str,
    partition_cols: Sequence[str] = ("season", "gameId"),
    sort_by: Sequence[str] = (),
) -> DataFrame:
    """Rewrite a partitioned lake so each Hive partition holds one file —
    the small-file maintenance pass for lakes fragmented by appends
    (streaming, concurrent writers). The reference keeps one file per game
    by construction (src/ingest.py:82-87); this restores that invariant.
    ``sort_by`` orders rows within each file for row-group skipping.
    Returns the compacted lake's lazy scan."""
    write_partitions(
        scan_partitions(spark, pool), pool, partition_cols, sort_by=sort_by
    )
    return scan_partitions(spark, pool)


class Pool:
    """A partitioned parquet lake of long-format tracking rows."""

    def __init__(self, spark: SparkSession, path: str | Path):
        self.spark = spark
        self.path = str(path)
        if not Path(self.path).exists():
            raise FileNotFoundError(f"pool not found: {self.path}")

    def scan(self) -> DataFrame:
        """Lazy whole-lake scan with partition-column discovery
        (reference src/query.py:18-24). Assumes a schema-homogeneous lake;
        for a lake holding seasons ingested under DIFFERENT schemas (the
        reference ships 2018/2025/2026 variants) use :meth:`scan_unified` —
        a plain scan silently adopts one file's footprint (dropping other
        seasons' extra columns) and ``mergeSchema`` refuses outright on
        int-width conflicts (CANNOT_MERGE_SCHEMAS on Int16 vs Int32
        frameId)."""
        return scan_partitions(self.spark, self.path)

    # widening lattice for the dtypes the ingest schemas produce; families
    # that cannot widen numerically fall back to string (lossless render)
    _WIDEN = {
        "boolean": ("boolean", "smallint", "int", "bigint"),
        "smallint": ("smallint", "int", "bigint"),
        "int": ("int", "bigint"),
        "bigint": ("bigint",),
        "float": ("float", "double"),
        "double": ("double",),
        "date": ("date", "timestamp"),
        "timestamp": ("timestamp",),
        "string": ("string",),
    }

    _INT_FAMILY = frozenset({"boolean", "smallint", "int", "bigint"})
    _FLOAT_FAMILY = frozenset({"float", "double"})

    @classmethod
    def _unify_type(cls, a: str, b: str) -> str:
        if a == b:
            return a
        for t in cls._WIDEN.get(a, ()):
            if t in cls._WIDEN.get(b, (b,)) or t == b:
                return t
        for t in cls._WIDEN.get(b, ()):
            if t == a:
                return t
        # int-family × float-family widens to double (exact for |int| < 2^53;
        # a bigint season joined with a double season keeps numeric
        # semantics — aggregations/comparisons still work lake-wide, vs the
        # old string fallback that silently de-numericized the column).
        fams = {a, b}
        if fams & cls._INT_FAMILY and fams & cls._FLOAT_FAMILY:
            return "double"
        return "string"

    def scan_unified(self) -> DataFrame:
        """Whole-lake scan across seasons ingested under different schema
        versions: each ``season=`` subtree is read with its own parquet
        footprint, common columns are cast up a widening lattice
        (smallint→int→bigint, float→double, cross-family→string), and the
        branches union by name with missing columns as null.

        Scale shape: this is pure plan surgery — per-branch scans keep
        their partition discovery (``basePath`` is the lake root, so
        ``season``/``gameId`` stay partition columns and a season filter
        still prunes whole subtrees through the Union), the casts are
        map-side, and no shuffle is introduced. |seasons| is small and
        known, so the driver-side schema probe reads footers only.
        """
        # derive the top-level partition key from the lake layout itself
        # (any Hive-style `key=value` first level, not a hardcoded season=*),
        # so lakes partitioned differently still get per-branch schemas.
        root = Path(self.path)
        hive_dirs = sorted(
            p for p in root.glob("*=*") if p.is_dir() and p.name.count("=") == 1
        )
        keys = {p.name.split("=", 1)[0] for p in hive_dirs}
        if len(keys) != 1:
            # No single first-level partition key (non-local path, flat
            # layout, or mixed keys): scan_unified's per-branch schema
            # reconciliation can't apply. Warn instead of silently adopting
            # one footprint — the exact failure mode the docstring fences.
            import warnings

            warnings.warn(
                f"scan_unified: no single first-level Hive partition key "
                f"under {self.path!r} (found {sorted(keys) or 'none'}); "
                f"falling back to plain scan() with one adopted schema "
                f"footprint — heterogeneous branches may fail or misread.",
                stacklevel=2,
            )
            return self.scan()
        branches = [
            scan_partitions(self.spark, self.path, str(p)) for p in hive_dirs
        ]
        unified: dict[str, str] = {}
        for df in branches:
            for name, dtype in df.dtypes:
                unified[name] = (
                    self._unify_type(unified[name], dtype)
                    if name in unified
                    else dtype
                )
        cast_branches = [
            df.select(
                *[
                    F.col(n).cast(unified[n]).alias(n)
                    for n, t in df.dtypes
                ]
            )
            for df in branches
        ]
        out = cast_branches[0]
        for df in cast_branches[1:]:
            out = out.unionByName(df, allowMissingColumns=True)
        return out

    def probe(self) -> bool:
        """Cheap liveness check: can we read one row? (Fixes the reference
        dashboard's collect-the-whole-pool probe, app/main.py:46 — this reads
        a single row group.)"""
        return len(self.scan().limit(1).collect()) == 1

    # -- listings (dashboard surface, app/main.py:49-60) ----------------------

    def games(self) -> list[int]:
        rows = self.scan().select("gameId").distinct().orderBy("gameId").collect()
        return [r.gameId for r in rows]

    def plays(self, game_id: int) -> list[int]:
        rows = (
            self.scan()
            .filter(F.col("gameId") == game_id)
            .select("playId")
            .distinct()
            .orderBy("playId")
            .collect()
        )
        return [r.playId for r in rows]

    def fetch_play(self, game_id: int, play_id: int) -> DataFrame:
        """One play's frames in time order (app/main.py:74-81)."""
        return (
            self.scan()
            .filter((F.col("gameId") == game_id) & (F.col("playId") == play_id))
            .orderBy("frameId", "nflId")
        )

    # -- the signature sampler (src/query.py:31-55) ---------------------------

    def sample_plays(
        self,
        n: int,
        filters: Iterable[Column] = (),
        seed: int = 42,
        key_cols: Sequence[str] = PLAY_KEY,
    ) -> DataFrame:
        """Exactly-n seeded random plays, with all their frames.

        Pipeline: conjunctive filters → distinct key projection → rank-by-hash
        exact-n sample (gridiron_spark.sampling) → broadcast join-back. The
        sampled key set is ≤ n rows, so the join never shuffles the lake —
        one scan, map-side join, done. If fewer than n plays match, all are
        returned (reference return-all fallback, src/query.py:45-52).
        """
        pool = self.scan()
        for f in filters:
            pool = pool.filter(f)
        sampled = sample_exact_n(pool, key_cols, n, seed)
        full = self.scan()  # frames come from the unfiltered pool, like the reference
        return full.join(F.broadcast(sampled), on=list(key_cols), how="inner")

    # -- sinks (src/export.py) -------------------------------------------------

    def export_csv(
        self,
        df: DataFrame,
        out_dir: str | Path,
        single_file: bool = False,
        order_by: Sequence[str] = ("gameId", "playId", "frameId", "nflId"),
    ) -> None:
        """Canonically-ordered CSV dump (reference src/export.py + the
        sampler's sort contract, scripts/random_plays_sampler.py:96).
        ``single_file`` coalesces to one part — only for fixture-sized data."""
        out = df
        present = [c for c in order_by if c in df.columns]
        if present:
            out = out.orderBy(*present)
        if single_file:
            out = out.coalesce(1)
        out.write.mode("overwrite").option("header", True).csv(str(out_dir))
