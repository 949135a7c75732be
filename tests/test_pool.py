"""Query layer: pool scan, listings, play fetch, the seeded sampler, export —
the reference's core #2 (SURVEY.md §3.2-3.3)."""

from __future__ import annotations

from pathlib import Path

import pytest
from pyspark.sql import functions as F

from gridiron_spark.fixtures import write_tracking_csvs
from gridiron_spark.ingest import LakeIngestor
from gridiron_spark.pool import Pool

SCHEMA_PATH = Path(__file__).parent.parent / "gridiron_spark/configs/tracking.yaml"


@pytest.fixture(scope="module")
def pool(spark, tmp_path_factory):
    csvs = tmp_path_factory.mktemp("csvs")
    write_tracking_csvs(csvs)
    lake = tmp_path_factory.mktemp("lake")
    LakeIngestor(spark, SCHEMA_PATH, lake).ingest(f"{csvs}/*.csv")
    return Pool(spark, lake)


def test_probe_and_listings(pool):
    assert pool.probe()
    games = pool.games()
    assert len(games) == 4 and games == sorted(games)
    plays = pool.plays(games[0])
    assert plays == [50, 100, 150, 200, 250]


def test_probe_fails_on_empty_pool(spark, tmp_path):
    """probe() must be a real liveness check: an empty (schema-only) pool
    returns False, not a vacuous True."""
    empty = tmp_path / "empty_pool"
    spark.range(0).selectExpr(
        "cast(id as long) gameId", "cast(id as int) playId"
    ).write.parquet(str(empty))
    assert Pool(spark, empty).probe() is False


def test_fetch_play_ordered(pool):
    df = pool.fetch_play(2023090000, 50)
    rows = df.select("frameId").collect()
    frames = [r.frameId for r in rows]
    assert frames == sorted(frames)
    assert len(rows) == 50 * 23


def test_partition_pruning(pool):
    """A gameId filter must prune to one partition directory — the physical
    plan's read should mention a single partition, not the whole lake."""
    df = pool.scan().filter(F.col("gameId") == 2023090000)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan
    assert df.count() == 5 * 50 * 23


def test_sample_plays_exact_n_and_seed_stable(pool):
    s1 = pool.sample_plays(3, seed=7)
    s2 = pool.sample_plays(3, seed=7)
    k1 = sorted((r.gameId, r.playId) for r in s1.select("gameId", "playId").distinct().collect())
    k2 = sorted((r.gameId, r.playId) for r in s2.select("gameId", "playId").distinct().collect())
    assert len(k1) == 3
    assert k1 == k2  # seed-stable
    s3 = pool.sample_plays(3, seed=8)
    k3 = sorted((r.gameId, r.playId) for r in s3.select("gameId", "playId").distinct().collect())
    assert k1 != k3  # different seed → different plays (20 choose 3 space)
    # complete plays: every sampled play has all 50 frames × 23 entities
    per_play = s1.groupBy("gameId", "playId").count().collect()
    assert all(r["count"] == 50 * 23 for r in per_play)


def test_sample_plays_filters_and_fallback(pool):
    # filter to one game → only that game's plays sampled
    flt = [F.col("gameId") == 2023090000]
    s = pool.sample_plays(2, filters=flt, seed=1)
    games = {r.gameId for r in s.select("gameId").distinct().collect()}
    assert games == {2023090000}
    # ask for more plays than exist → return-all fallback (5 plays in game)
    s_all = pool.sample_plays(99, filters=flt, seed=1)
    assert s_all.select("gameId", "playId").distinct().count() == 5


def test_sample_join_is_broadcast(pool):
    """The join-back must broadcast the sampled key set — no shuffle of the lake."""
    plan = pool.sample_plays(3, seed=7)._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan


def test_export_csv(pool, tmp_path, spark):
    out = tmp_path / "export"
    pool.export_csv(pool.sample_plays(2, seed=3), out, single_file=True)
    files = list(out.glob("*.csv"))
    assert len(files) == 1
    back = spark.read.option("header", True).csv(str(out))
    assert back.count() == 2 * 50 * 23


def test_compact_pool_restores_one_file_per_partition(spark, tmp_path):
    """A fragmented partition (multiple append writes) compacts back to one
    file per Hive partition with identical rows."""
    from pathlib import Path

    from gridiron_spark.pool import compact_pool

    pool = str(tmp_path / "pool")
    base = spark.range(0, 300).selectExpr(
        "cast(2018111800 + id % 2 as long) gameId",
        "cast(id % 5 as int) playId",
        "cast(id as int) frameId",
        "cast(id * 0.1 as float) x",
        "'2018' as season",
    )
    # three append writes → ≥3 files per partition
    for i in range(3):
        base.filter(f"frameId % 3 = {i}").write.mode("append").partitionBy(
            "season", "gameId"
        ).parquet(pool)
    before = sorted(map(tuple, spark.read.option("basePath", pool).parquet(pool).collect()))
    frag = [
        len(list(p.glob("*.parquet")))
        for p in Path(pool).glob("season=*/gameId=*")
    ]
    assert frag and min(frag) >= 3, f"fixture not fragmented: {frag}"

    compacted = compact_pool(spark, pool, ("season", "gameId"), sort_by=("frameId",))

    after_files = [
        len(list(p.glob("*.parquet")))
        for p in Path(pool).glob("season=*/gameId=*")
    ]
    assert after_files and max(after_files) == 1, f"still fragmented: {after_files}"
    after = sorted(map(tuple, compacted.collect()))
    assert after == before


def test_unify_type_cross_family_widens_to_double():
    """int-family × float-family unifies to double (exact for |int|<2^53),
    NOT the string fallback that would silently de-numericize a lake-wide
    column; genuinely incompatible families still fall back to string."""
    from gridiron_spark.pool import Pool

    assert Pool._unify_type("bigint", "double") == "double"
    assert Pool._unify_type("float", "int") == "double"
    assert Pool._unify_type("smallint", "float") == "double"
    # same-family widening unchanged
    assert Pool._unify_type("int", "bigint") == "bigint"
    assert Pool._unify_type("float", "double") == "double"
    # incompatible families: lossless string render
    assert Pool._unify_type("string", "double") == "string"
    assert Pool._unify_type("timestamp", "bigint") == "string"


def test_scan_unified_warns_on_non_hive_layout(spark, tmp_path):
    """A lake without a single first-level Hive partition key cannot get
    per-branch schema reconciliation — the fallback must WARN, not silently
    adopt one parquet footprint."""
    import warnings

    from gridiron_spark.pool import Pool

    flat = tmp_path / "flat"
    spark.range(10).withColumn("x", F.col("id") * 2).write.parquet(str(flat))
    with warnings.catch_warnings(record=True) as caught:
        warnings.simplefilter("always")
        df = Pool(spark, str(flat)).scan_unified()
        assert df.count() == 10
    assert any("scan_unified" in str(w.message) for w in caught), [
        str(w.message) for w in caught
    ]
