"""Self-tests of the benchmark: generator, checkers, spans and metric names.

No Spark session is started. Run with::

    python3 -m pytest perfbench -q -p no:cacheprovider
"""

from __future__ import annotations

import hashlib
import json
import sys
from collections import namedtuple
from pathlib import Path

import numpy as np
import pyarrow as pa
import pyarrow.csv as pacsv
import pyarrow.parquet as pq
import pytest

import gen
import metrics
import spans
import workloads

ROOT = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(ROOT))  # the program, for its figure template
Row = namedtuple("Row", "gameId playId n_frames n_players")
Summary = namedtuple("Summary", "n_rows n_games n_plays max_frame")


@pytest.fixture(scope="module")
def lake(tmp_path_factory):
    wl = workloads.TrackingLake(tmp_path_factory.mktemp("lake"), seed=5)
    wl.generate()
    return wl


# -- generator ----------------------------------------------------------------


def test_tracking_drop_is_deterministic_per_seed(tmp_path):
    a = gen.tracking_drop(3, 2022, 0, 2, tmp_path / "a", "camel")
    b = gen.tracking_drop(3, 2022, 0, 2, tmp_path / "b", "camel")
    c = gen.tracking_drop(4, 2022, 0, 2, tmp_path / "c", "camel")
    assert a.path.read_bytes() == b.path.read_bytes()
    assert a.plays == b.plays
    assert a.path.read_bytes() != c.path.read_bytes()


def test_tracking_drop_shape_matches_its_truth(tmp_path):
    d = gen.tracking_drop(1, 2023, 1, 2, tmp_path, "snake")
    t = pacsv.read_csv(d.path)
    assert "game_id" in t.column_names and "gameId" not in t.column_names
    assert t.num_rows == d.n_rows == sum(p.n_frames for p in d.plays.values()) * 23
    rows = t.to_pylist()
    assert {r["game_id"] for r in rows} == set(d.games)
    assert all(str(g).startswith("2023") for g in d.games)
    assert max(r["frame_id"] for r in rows) == d.max_frame
    ball = [r for r in rows if r["player_side"] == "football"]
    assert len(ball) == t.num_rows // 23
    assert all(r["nfl_id"] is None for r in ball)
    key = (rows[0]["game_id"], rows[0]["play_id"])
    frame1 = [r for r in rows if (r["game_id"], r["play_id"]) == key and r["frame_id"] == 1]
    assert len(frame1) == 23 and len({r["nfl_id"] for r in frame1}) == 23


def test_drops_cover_both_flavors_seasons_and_directions(lake):
    assert {d.flavor for d in lake.drops} == {"camel", "snake"}
    assert len({d.season for d in lake.drops}) >= 2
    assert {t.direction for t in lake.truth.values()} == {"left", "right"}
    sel = lake.inputs["filter_selectivity"]
    assert sel["none"] == 1.0
    assert 0 < sel[f"event={gen.SPARSE_EVENT}"] < 0.2  # sparse
    assert 0.2 < sel["direction=left"] < 0.8


def test_documents_are_deterministic_and_in_the_testdata_schema(tmp_path):
    a = gen.documents(2, 300, tmp_path / "a" / "documents.parquet")
    gen.documents(2, 300, tmp_path / "b" / "documents.parquet")
    ta = pq.read_table(tmp_path / "a" / "documents.parquet")
    tb = pq.read_table(tmp_path / "b" / "documents.parquet")
    assert ta.equals(tb)
    assert ta.column_names == ["doc_id", "text", "lang", "source", "n_chars"]
    assert a["docs"] == 300 and a["short_docs"] > 0
    rows = ta.to_pylist()
    assert all(r["n_chars"] == len(r["text"]) for r in rows)
    assert all(r["source"].startswith("src") for r in rows)


# -- sampler replay -------------------------------------------------------------


def test_expected_sample_is_the_md5_order(lake):
    keys = gen.expected_sample(lake.truth, lambda t: True, 5, seed=9)
    digest = {
        k: hashlib.md5(f"{k[0]}#{k[1]}#9".encode()).hexdigest() for k in lake.truth
    }
    assert keys == sorted(sorted(lake.truth, key=lambda k: (digest[k], k))[:5])


def test_expected_sample_returns_every_match_when_fewer_than_n(lake):
    pred = lambda t: gen.SPARSE_EVENT in t.events  # noqa: E731
    matching = sorted(k for k, t in lake.truth.items() if pred(t))
    assert gen.expected_sample(lake.truth, pred, 10_000, seed=1) == matching


# -- checkers -------------------------------------------------------------------


def _batch(lake, pred, seed):
    keys = gen.expected_sample(lake.lake_truth(), pred, workloads.BATCH_N, seed)
    rows = [
        Row(g, p, min(lake.truth[(g, p)].n_frames, workloads.MAX_FRAMES), 23)
        for g, p in keys
    ]
    shape = (len(rows), workloads.MAX_FRAMES, 23, len(workloads.TENSOR_FEATURES))
    return rows, np.zeros(shape, np.float32)


def test_check_batch_accepts_the_right_batch_and_flags_wrong_ones(lake):
    label, _, pred = next(f for f in lake.filters if f[0].startswith("season"))
    rows, batch = _batch(lake, pred, 77)
    assert len(rows) == workloads.BATCH_N  # more plays match than the batch holds
    assert lake.check_batch(0, label, pred, 77, rows, batch) == []
    assert lake.check_batch(0, label, pred, 78, rows, batch)  # another seed
    assert lake.check_batch(0, label, pred, 77, rows[:-1], batch[:-1])
    assert lake.check_batch(0, label, pred, 77, rows, batch[:, :32])
    bad = rows[:-1] + [rows[-1]._replace(n_players=22)]
    assert lake.check_batch(0, label, pred, 77, bad, batch)


def _page(n_frames: int, n_traces: int) -> bytes:
    from gridiron_spark.viz import figure_html

    fig = {"data": [{}] * n_traces, "layout": {}, "frames": [{}] * n_frames}
    return figure_html(fig).encode()


def test_fig_counts_reads_the_embedded_figure():
    assert workloads.fig_counts(_page(37, 26)) == (37, 26)


def test_check_session_compares_lists_and_figures_with_truth(lake):
    game = lake.lake_games()[0]
    figs = [(game, p) for p in lake.plays_of[game][:2]]
    good = [
        (200, json.dumps(lake.lake_games()).encode()),
        (200, json.dumps(lake.plays_of[game]).encode()),
        *((200, _page(lake.truth[k].n_frames, workloads.FIG_TRACES)) for k in figs),
    ]
    assert lake.check_session(0, game, figs, good) == []
    wrong_frames = good[:2] + [(200, _page(1, 26)), good[3]]
    assert lake.check_session(0, game, figs, wrong_frames)
    assert lake.check_session(0, game, figs, good[:1] + [(500, b"")] + good[2:])
    assert lake.check_session(0, game, figs, good[:3] + [(404, b"")])


def test_session_plan_has_two_misses_then_a_hit(lake):
    lake.shown.clear()
    for _ in range(6):
        game, figs = lake._session_plan()
        assert figs[0][0] == figs[1][0] == game
        assert figs[0] != figs[1]
        assert figs[2] in lake.shown + figs[:2]
        lake.shown.extend(k for k in figs if k not in lake.shown)
    lake.shown.clear()


def test_checks_follow_the_drops_already_in_the_lake(lake):
    label, _, pred = lake.filters[0]
    try:
        lake.present = {0}
        assert lake.lake_games() == sorted(lake.drops[0].games)
        rows, batch = _batch(lake, pred, 5)
        assert {(r.gameId, r.playId) for r in rows} <= set(lake.drops[0].plays)
        assert lake.check_batch(0, label, pred, 5, rows, batch) == []
        lake.present = set(range(len(lake.drops)))
        assert lake.check_batch(0, label, pred, 5, rows, batch)  # misses drop 1
    finally:
        lake.present = set(range(len(lake.drops)))


def test_check_summary_compares_with_the_drop_truth(lake):
    d = lake.drops[0]
    good = Summary(d.n_rows, len(d.games), len(d.plays), d.max_frame)
    assert workloads.check_summary(0, d, good) == []
    assert workloads.check_summary(0, d, good._replace(n_rows=d.n_rows + 1))


def test_corpus_check_output_compares_with_the_oracle_rows(tmp_path):
    wl = workloads.CorpusPrep(tmp_path, seed=1)
    wl.out = tmp_path / "shards"
    wl.want = [(16, 0, 8, 100, 28, 0), (32, 0, 4, 120, 8, 0)]
    cols = ("bucket_len", "seq_idx", "n_docs", "sum_tokens", "slot_pad", "tail_pad")
    table = pa.table({c: [r[k] for r in wl.want] for k, c in enumerate(cols)})
    pq.write_to_dataset(table, wl.out, partition_cols=["bucket_len"])
    assert wl.check_output(0, 0) == []
    assert wl.check_output(0, 1)
    wl.want = wl.want[:1]
    assert wl.check_output(0, 0)


# -- spans and statistics ---------------------------------------------------------


def test_union_length_merges_and_clips():
    assert spans.union_length([(0, 2), (1, 3), (5, 6)], 0, 10) == 4
    assert spans.union_length([(0, 2), (1, 3)], 1.5, 2.5) == 1
    assert spans.union_length([], 0, 1) == 0


def test_self_time_subtracts_children():
    parent = spans.Span(1, "op", start=0.0, end=10.0)
    a = spans.Span(2, "a", start=1.0, end=4.0, parent=1)
    b = spans.Span(3, "b", start=3.0, end=5.0, parent=1)
    grand = spans.Span(4, "c", start=1.0, end=2.0, parent=2)
    own = spans.self_times([parent, a, b, grand])
    assert own == {1: 6.0, 2: 2.0, 3: 2.0, 4: 1.0}


def test_tail_percentile_needs_ten_samples_beyond():
    assert metrics.tail_percentile(list(range(19))) is None
    assert metrics.tail_percentile(list(range(20)))[0] == 50
    assert metrics.tail_percentile(list(range(100)))[0] == 90
    assert metrics.tail_percentile(list(range(1000)))[0] == 99
    assert metrics.percentile([1, 2, 3, 4], 50) == 2.5


# -- metric names ---------------------------------------------------------------


@pytest.mark.parametrize(
    "name", ["setup_s", "op_p50_ms", "pool.fetch_play_share", "a-b.c_d", "9lives", "x" * 64]
)
def test_valid_names(name):
    assert metrics.valid_name(name)


@pytest.mark.parametrize(
    "name", ["", "_lead", ".lead", "has space", "slash/y", "x" * 65, "ünï", "a:b"]
)
def test_invalid_names(name):
    assert not metrics.valid_name(name)


def test_benchmark_json_is_valid_and_names_every_emitted_metric():
    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    assert metrics.validate_benchmark(spec) == []
    assert set(spec) == {
        "command", "paths", "run_seconds", "workloads", "end_to_end", "per_layer"
    }
    assert {w["name"] for w in spec["workloads"]} == set(workloads.WORKLOADS)
    import run

    assert {m["name"] for m in spec["end_to_end"]} == set(run.E2E_UNITS)
    assert {m["name"]: m["unit"] for m in spec["per_layer"]} == run.LAYER_UNITS


def test_validate_benchmark_flags_bad_specs():
    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    spec["per_layer"].append({"name": "bad name", "unit": "s", "better": "lower"})
    spec["end_to_end"][0]["bound"] = 0.5
    errs = metrics.validate_benchmark(spec)
    assert any("bad name" in e for e in errs)
    assert any("bound" in e for e in errs)
