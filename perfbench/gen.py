"""Seeded load generator: tracking CSV drops and a ``documents`` table.

Everything here is in-process numpy/pyarrow and deterministic per seed.
It runs outside every timed region. It also returns the ground truth the
checkers compare the program's outputs against, so no check ever asks the
program under test what the right answer is.

Tracking shape (BDB-like, scaled down in plays per game):
- 23 entities per frame: 11 home, 11 away, and the ball with a null
  ``nflId`` and ``team = 'football'``;
- 10-16 plays per game; frames per play drawn log-normally around 45 (BDB
  fixtures: ~45), within [20, 120], so some plays exceed the tensorizer's
  64-frame cap; every drop has the same play and frame totals;
- gappy ``playId`` values, both play directions, a ``ball_snap`` on every
  play, ``pass_forward`` on most, and sparse ``qb_sack``/``touchdown``;
- camelCase or snake_case headers per drop, like two competition years.
"""

from __future__ import annotations

import hashlib
from dataclasses import dataclass, field
from pathlib import Path

import numpy as np
import pyarrow as pa
import pyarrow.csv as pacsv
import pyarrow.parquet as pq

N_ENTITIES = 23
PLAYS_PER_GAME = 13  # mean; a BDB game has several times more, scaled down
MEAN_FRAMES = 45  # BDB fixtures: about 45 frames per play
SPARSE_EVENT = "qb_sack"

# canonical → snake_case spelling (aliases declared in configs/tracking.yaml)
SNAKE = {
    "gameId": "game_id",
    "playId": "play_id",
    "nflId": "nfl_id",
    "frameId": "frame_id",
    "playDirection": "play_direction",
    "displayName": "player_name",
    "jerseyNumber": "jersey_number",
    "position": "player_position",
    "team": "player_side",
}

_POSITIONS = np.array(
    ["QB", "RB", "WR", "WR", "WR", "TE", "T", "G", "C", "G", "T"]
    + ["CB", "CB", "SS", "FS", "OLB", "OLB", "ILB", "DE", "DT", "DT", "DE"]
    + [None],
    dtype=object,
)


@dataclass(frozen=True)
class PlayTruth:
    season: int
    n_frames: int
    direction: str
    events: frozenset


@dataclass
class Drop:
    """One season drop: a CSV file of several games, plus its ground truth."""

    season: int
    flavor: str
    path: Path
    games: list[int]
    n_rows: int
    csv_bytes: int
    max_frame: int
    plays: dict[tuple[int, int], PlayTruth] = field(default_factory=dict)


def _drop_plays(rng: np.random.Generator, n_games: int):
    """Plays per game and frames per play for one drop. Both vary from game
    to game and from play to play (10-16 plays, 20-120 frames around a mean
    of 45), but every drop has the same totals, so drops made from any seed
    have the same row count and the same cost to ingest."""
    per_game = [PLAYS_PER_GAME] * n_games
    for _ in range(3 * n_games):
        a, b = (int(x) for x in rng.integers(n_games, size=2))
        if a != b and per_game[a] < 16 and per_game[b] > 10:
            per_game[a] += 1
            per_game[b] -= 1
    n_plays = PLAYS_PER_GAME * n_games
    frames = np.clip(
        np.round(rng.lognormal(np.log(MEAN_FRAMES), 0.35, size=n_plays)), 20, 120
    ).astype(np.int64)
    # move the total onto MEAN_FRAMES * n_plays, one frame at a time
    diff = MEAN_FRAMES * n_plays - int(frames.sum())
    order = rng.permutation(n_plays)
    k = 0
    while diff:
        j = order[k % n_plays]
        step = 1 if diff > 0 else -1
        if 20 <= frames[j] + step <= 120:
            frames[j] += step
            diff -= step
        k += 1
    return per_game, frames


def tracking_drop(
    seed: int,
    season: int,
    drop_idx: int,
    n_games: int,
    out_dir: Path,
    flavor: str,
) -> Drop:
    """Write one drop of ``n_games`` games as a single CSV; return its truth."""
    rng = np.random.default_rng([seed, season, drop_idx])
    cols: dict[str, list[np.ndarray]] = {}
    truth: dict[tuple[int, int], PlayTruth] = {}
    games = []
    max_frame = 0

    def add(name, arr):
        cols.setdefault(name, []).append(arr)

    plays_per_game, frames_per_play = _drop_plays(rng, n_games)
    # about one play in sixteen has the sparse event, and every drop at
    # least one, so a batch filtered on it is never empty
    sparse = rng.random(len(frames_per_play)) < 0.06
    if not sparse.any():
        sparse[rng.integers(len(sparse))] = True
    first = 0
    for g in range(n_games):
        game_id = season * 1_000_000 + drop_idx * 100 + g
        games.append(game_id)
        home_ids = 30_000 + rng.choice(9_000, size=11, replace=False)
        away_ids = 40_000 + rng.choice(9_000, size=11, replace=False)
        ids = np.concatenate([home_ids, away_ids]).astype(np.float64)
        ids = np.append(ids, np.nan)
        jerseys = np.append(rng.integers(1, 100, size=22).astype(np.float64), np.nan)
        team = np.array(["home"] * 11 + ["away"] * 11 + ["football"], dtype=object)
        names = np.array(
            [f"Player {int(i)}" for i in ids[:22]] + [None], dtype=object
        )
        n_plays = plays_per_game[g]
        play_ids = np.cumsum(rng.integers(20, 120, size=n_plays)) + 30
        plays = slice(first, first + n_plays)
        first += n_plays
        directions = np.where(rng.random(n_plays) < 0.5, "left", "right")
        for pid, nf, dirn, has_sparse in zip(
            play_ids, frames_per_play[plays], directions, sparse[plays]
        ):
            nf = int(nf)
            max_frame = max(max_frame, nf)
            n = nf * N_ENTITIES
            frame = np.repeat(np.arange(1, nf + 1), N_ENTITIES)
            ent = np.tile(np.arange(N_ENTITIES), nf)
            x0 = rng.uniform(20, 100, N_ENTITIES)
            y0 = rng.uniform(5, 48, N_ENTITIES)
            vx = rng.uniform(-0.6, 0.6, N_ENTITIES)
            vy = rng.uniform(-0.3, 0.3, N_ENTITIES)
            x = np.round(x0[ent] + vx[ent] * frame + rng.normal(0, 0.05, n), 2)
            y = np.round(y0[ent] + vy[ent] * frame + rng.normal(0, 0.05, n), 2)
            s = np.round(np.abs(rng.normal(np.hypot(vx, vy)[ent] * 10, 0.3)), 2)
            a = np.round(np.abs(rng.normal(0, 1.0, n)), 2)
            o = np.round(rng.uniform(0, 360, n), 1)
            d = np.round(rng.uniform(0, 360, n), 1)
            ball = ent == N_ENTITIES - 1
            o[ball] = np.nan
            d[ball] = np.nan
            # events land on one frame and are stamped on all 23 rows
            events = {min(10, nf): "ball_snap"}
            if rng.random() < 0.7:
                events[min(10 + int(rng.integers(5, 20)), nf)] = "pass_forward"
            if has_sparse:
                events[nf - 2] = SPARSE_EVENT
            elif rng.random() < 0.04:
                events[nf - 1] = "touchdown"
            ev = np.full(nf, None, dtype=object)
            for f, name in events.items():
                ev[f - 1] = name
            # 10 Hz ticks; plays are at most 120 frames, so under a minute
            secs = np.char.mod("%06.3f", (frame - 1) / 10.0)
            time = np.char.add(np.char.add(f"{season}-09-10T18:00:", secs), "Z")
            add("gameId", np.full(n, game_id, dtype=np.int64))
            add("playId", np.full(n, pid, dtype=np.int64))
            add("nflId", ids[ent])
            add("frameId", frame)
            add("time", time.astype(object))
            add("playDirection", np.full(n, dirn, dtype=object))
            add("x", x)
            add("y", y)
            add("s", s)
            add("a", a)
            add("dis", np.round(s / 10.0, 2))
            add("o", o)
            add("dir", d)
            add("event", ev[frame - 1])
            add("team", team[ent])
            add("position", _POSITIONS[ent])
            add("displayName", names[ent])
            add("jerseyNumber", jerseys[ent])
            truth[(game_id, int(pid))] = PlayTruth(
                season, nf, str(dirn), frozenset(events.values())
            )

    arrays = {}
    for name, parts in cols.items():
        arr = np.concatenate(parts)
        if arr.dtype == object:
            arrays[name] = pa.array(arr, type=pa.string(), from_pandas=True)
        elif name in ("nflId", "jerseyNumber"):
            arrays[name] = pa.array(arr, type=pa.float64(), from_pandas=True).cast(
                pa.int64()
            )
        else:
            arrays[name] = pa.array(arr, from_pandas=True)
    table = pa.table(arrays)
    if flavor == "snake":
        table = table.rename_columns([SNAKE.get(c, c) for c in table.column_names])
    out_dir.mkdir(parents=True, exist_ok=True)
    path = out_dir / f"tracking_{season}_{drop_idx:02d}_{flavor}.csv"
    pacsv.write_csv(table, path)
    return Drop(
        season=season,
        flavor=flavor,
        path=path,
        games=games,
        n_rows=table.num_rows,
        csv_bytes=path.stat().st_size,
        max_frame=max_frame,
        plays=truth,
    )


def tracking_drops(
    seed: int, out_dir: Path, seasons=(2022, 2023), n_drops: int = 2,
    games_per_drop: int = 2,
) -> list[Drop]:
    """Drops alternate season and header flavor."""
    drops = []
    for i in range(n_drops):
        season = seasons[i % len(seasons)]
        flavor = "camel" if i % 2 == 0 else "snake"
        drops.append(
            tracking_drop(
                seed, season, i, games_per_drop, Path(out_dir) / f"drop{i:02d}",
                flavor,
            )
        )
    return drops


def lake_truth(drops: list[Drop]) -> dict[tuple[int, int], PlayTruth]:
    out: dict[tuple[int, int], PlayTruth] = {}
    for d in drops:
        out.update(d.plays)
    return out


# -- train-batch filters: (label, SQL predicate, truth predicate) -----------


def batch_filters(seasons) -> list[tuple[str, str | None, object]]:
    """The sampler filters a train batch rotates through. The SQL text is
    handed to ``F.expr``; the lambda is the same predicate on generator
    truth, used to check every sampled play."""
    s = seasons[-1]
    return [
        ("none", None, lambda t: True),
        (
            f"event={SPARSE_EVENT}",
            f"event = '{SPARSE_EVENT}'",
            lambda t: SPARSE_EVENT in t.events,
        ),
        (f"season={s}", f"season = {s}", lambda t: t.season == s),
        ("direction=left", "playDirection = 'left'", lambda t: t.direction == "left"),
    ]


def selectivities(truth, filters) -> dict[str, float]:
    """Share of plays each filter keeps."""
    n = len(truth)
    return {
        label: round(sum(1 for t in truth.values() if pred(t)) / n, 4)
        for label, _, pred in filters
    }


def expected_sample(truth, pred, n: int, seed: int) -> list[tuple[int, int]]:
    """The sampler's contract replayed on truth: the n matching play keys
    with the smallest ``md5('gameId#playId#seed')``, ties by key."""
    keys = [k for k, t in truth.items() if pred(t)]
    keys.sort(
        key=lambda k: (hashlib.md5(f"{k[0]}#{k[1]}#{seed}".encode()).hexdigest(), k)
    )
    return sorted(keys[:n])


# -- documents ----------------------------------------------------------------


def documents(seed: int, n_docs: int, path: Path, vocab_size: int = 2000) -> dict:
    """A ``documents`` table in the testdata schema (doc_id, text, lang,
    source, n_chars). Zipf word choice over a 2,000-word vocabulary leaves
    about one doc in seven sharing two shingles with a benchmark doc, so the
    decontamination cut removes a minority and every later stage still has
    real work. Returns input sizes."""
    rng = np.random.default_rng([seed, 7])
    words = np.array(
        [f"w{chr(97 + i % 26)}{i:03d}" for i in range(vocab_size)], dtype=object
    )
    ranks = np.arange(1, vocab_size + 1, dtype=np.float64)
    p = 1.0 / ranks**0.9
    p /= p.sum()
    lens = np.clip(np.round(rng.lognormal(np.log(45), 0.55, n_docs)), 5, 160)
    lens = lens.astype(np.int64)
    flat = rng.choice(vocab_size, size=int(lens.sum()), p=p)
    bounds = np.concatenate([[0], np.cumsum(lens)])
    texts = [" ".join(words[flat[bounds[i]: bounds[i + 1]]]) for i in range(n_docs)]
    langs = np.array(["en", "de", "fr", "es", "zh"], dtype=object)[
        rng.choice(5, size=n_docs, p=[0.4, 0.15, 0.15, 0.15, 0.15])
    ]
    sources = np.char.add("src", rng.integers(0, 20, n_docs).astype(str))
    table = pa.table(
        {
            "doc_id": pa.array(np.arange(n_docs, dtype=np.int64)),
            "text": pa.array(texts, type=pa.string()),
            "lang": pa.array(langs, type=pa.string()),
            "source": pa.array(sources.astype(object), type=pa.string()),
            "n_chars": pa.array([len(t) for t in texts], type=pa.int64()),
        }
    )
    path.parent.mkdir(parents=True, exist_ok=True)
    pq.write_table(table, path)
    return {
        "docs": n_docs,
        "tokens": int(lens.sum()),
        "short_docs": int((lens < 15).sum()),
        "bytes": path.stat().st_size,
    }
