"""M3: kinematic features, tensorization, feature store."""

from __future__ import annotations

import math
from pathlib import Path

import pytest
from pyspark.sql import functions as F

from gridiron_spark.feature_store import FeatureStore
from gridiron_spark.fixtures import write_tracking_csvs
from gridiron_spark.ingest import LakeIngestor
from gridiron_spark.operators.features import (
    is_ball,
    kinematics,
    per_play_normalized,
    play_events,
    play_summary,
    reindex_frames,
    side_predicates,
    side_split,
)
from gridiron_spark.operators.tensorize import tensorize_plays
from gridiron_spark.pool import Pool

SCHEMA_PATH = Path(__file__).parent.parent / "gridiron_spark/configs/tracking.yaml"


@pytest.fixture(scope="module")
def pool(spark, tmp_path_factory):
    csvs = tmp_path_factory.mktemp("csvs")
    write_tracking_csvs(csvs, flavors=("camel",))
    lake = tmp_path_factory.mktemp("lake")
    LakeIngestor(spark, SCHEMA_PATH, lake).ingest(f"{csvs}/*.csv")
    return Pool(spark, lake)


def test_kinematics_finite_difference(pool):
    """Fixture entities move linearly (x = x0 + vx*frame), so the
    finite-difference velocity must recover ~10*vx yd/s at every frame."""
    df = kinematics(pool.fetch_play(2023090000, 50))
    one = df.filter(F.col("nflId") == 1001).orderBy("frameId").collect()
    assert one[0].vx is None  # no predecessor frame
    vxs = {round(r.vx, 1) for r in one[1:]}
    assert len(vxs) <= 2  # constant velocity (rounding of 2-decimal coords)
    # unit vectors are unit-length where dir is present
    r = one[1]
    assert math.isclose(r.dir_x**2 + r.dir_y**2, 1.0, rel_tol=1e-6)


def test_ball_rule_and_side_split(pool):
    df = pool.fetch_play(2023090000, 50)
    n_ball = df.filter(is_ball()).count()
    assert n_ball == 50  # one ball row per frame
    preds = side_predicates()
    counts = {k: df.filter(p).count() for k, p in preds.items()}
    assert counts == {"ball": 50, "offense": 11 * 50, "defense": 11 * 50}
    # side_split labels exactly the is_ball rows as the ball
    split_ball = side_split(df).filter(F.col("side") == "ball").drop("side")
    assert split_ball.exceptAll(df.filter(is_ball())).count() == 0
    assert df.filter(is_ball()).exceptAll(split_ball).count() == 0


def test_reindex_and_events_and_summary(pool):
    df = pool.scan()
    ri = reindex_frames(df.filter(F.col("nflId") == 1001))
    head = ri.filter((F.col("playId") == 50) & (F.col("gameId") == 2023090000))
    assert [r.frame_idx for r in head.orderBy("frameId").limit(3).collect()] == [1, 2, 3]

    ev = play_events(df)
    evs = ev.filter((F.col("gameId") == 2023090000) & (F.col("playId") == 50)).collect()
    assert len(evs) == 1 and evs[0].event == "pass_forward"
    assert evs[0].first_frame == 25

    summ = play_summary(df).filter(
        (F.col("gameId") == 2023090000) & (F.col("playId") == 50)
    ).first()
    assert summ.n_frames == 50 and summ.duration_s == 5.0 and summ.n_players == 23


def test_per_play_normalized(pool):
    df = per_play_normalized(pool.fetch_play(2023090000, 50))
    stats = df.agg(F.min("x_norm"), F.max("x_norm")).first()
    assert stats[0] == 0.0 and stats[1] == 1.0


def test_tensorize_shape_and_determinism(pool):
    t = tensorize_plays(pool.scan(), max_frames=64, max_players=23)
    rows = t.orderBy("gameId", "playId").collect()
    assert len(rows) == 10  # 2 games × 5 plays
    r0 = rows[0]
    assert r0.n_frames == 50 and r0.n_players == 23
    tensor = r0.tensor
    assert len(tensor) == 64 and len(tensor[0]) == 23 and len(tensor[0][0]) == 4
    # padding beyond n_frames is zero
    assert all(v == 0.0 for player in tensor[50] for v in player)
    # deterministic across runs
    r0b = tensorize_plays(pool.scan(), max_frames=64, max_players=23).orderBy(
        "gameId", "playId"
    ).first()
    assert r0b.tensor == tensor


def test_feature_store_roundtrip_join(pool, tmp_path, spark):
    fs = FeatureStore(spark, tmp_path / "features")
    feats = kinematics(pool.scan()).select(
        "gameId", "playId", "frameId", "nflId", "vx", "vy"
    )
    fs.write("velocity_vectors", feats)
    joined = fs.join(pool.scan(), "velocity_vectors")
    # left join on frame key: feature rows are per (frame,entity) here → use
    # the velocity columns directly
    assert "vx" in joined.columns
    n = joined.filter(F.col("vx").isNotNull()).count()
    assert n > 0


def test_feature_store_rewrite_replaces_only_that_game(spark, tmp_path):
    """Re-writing one game's features replaces exactly that game's
    ``gameId=`` directory (one file) and leaves the other game untouched —
    the lake's per-partition upsert, carried to the side-car sets."""
    fs = FeatureStore(spark, tmp_path / "features")
    root = tmp_path / "features" / "speed"
    schema = "gameId long, playId int, frameId int, v double"
    games = (2023090000, 2023090001)
    rows = [(g, 1, f, float(f)) for g in games for f in range(1, 4)]
    fs.write("speed", spark.createDataFrame(rows, schema))

    def files(game):
        d = root / "season=2023" / f"gameId={game}"
        return {(p.name, p.stat().st_mtime_ns) for p in d.glob("*.parquet")}

    before = {g: files(g) for g in games}
    assert all(len(f) == 1 for f in before.values()), before

    changed = [(games[0], 1, f, 10.0 * f) for f in range(1, 4)]
    fs.write("speed", spark.createDataFrame(changed, schema))

    assert files(games[1]) == before[games[1]]
    after = files(games[0])
    assert len(after) == 1 and after != before[games[0]]
    got = sorted(
        (r.gameId, r.frameId, r.v)
        for r in fs.read("speed").select("gameId", "frameId", "v").collect()
    )
    assert got == sorted(
        [(games[0], f, 10.0 * f) for f in range(1, 4)]
        + [(games[1], f, float(f)) for f in range(1, 4)]
    )
