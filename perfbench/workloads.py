"""The benchmark's workloads: inputs, set-up, one op, and the op's checks.

Each workload drives the program only through its public functions and
hands it only the generator's inputs. ``op(i)`` does the timed work and
returns an :class:`OpResult` whose ``check`` runs afterwards, untimed, and
lists every way the output differs from the generator's ground truth.
"""

from __future__ import annotations

import contextlib
import http.client
import json
import statistics
import sys
import threading
import time
from dataclasses import dataclass, field
from pathlib import Path
from typing import Callable

import numpy as np

import gen
from metrics import tail_percentile

REPO = Path(__file__).resolve().parent.parent
SCHEMA = REPO / "gridiron_spark" / "configs" / "tracking.yaml"
FEATURE_SET = "kinematics"
FEATURE_COLS = ("vx", "vy", "speed_fd", "accel_fd")
TENSOR_FEATURES = ("x", "y", "s", "a", "speed_fd", "accel_fd")
BATCH_N = 16
MAX_FRAMES = 64  # tensorize_plays' default frame cap
FIG_TRACES = 26  # 22 player ghosts + ball ghost + offense/defense/ball markers
CORPUS_DOCS = 3_000
# corpus ops run in set-up before the loop, so the cold first run (class
# loading, JIT) is not timed as an op
CORPUS_WARMUP_OPS = 1


@dataclass
class OpResult:
    items: int
    check: Callable[[], list[str]]
    parts: dict[str, float] = field(default_factory=dict)  # timed sub-steps, s
    samples: dict[str, list[float]] = field(default_factory=dict)
    info: dict = field(default_factory=dict)


def _now() -> float:
    return time.perf_counter()


class Workload:
    name = ""
    loop = "closed, 1 client"

    def __init__(self, work: Path, seed: int):
        self.work = work
        self.seed = seed
        self.spark = None
        self.inputs: dict = {}

    def generate(self) -> None:
        """Make the inputs. Runs before the session starts, untimed."""

    def build(self) -> list[str]:
        """Set-up after the session starts, warm-up included; returns the
        problems its checks found."""
        return []

    def op(self, i: int) -> OpResult:
        raise NotImplementedError

    def final_check(self) -> list[str]:
        """Checks on the state the ops leave behind, run after the loop."""
        return []

    def named(self, results: list[OpResult]) -> dict:
        """Metrics of this workload's own steps, from completed ops."""
        return {}

    def instrument(self, tracer) -> None:
        """Wrap the program entry points this workload reaches."""

    def on_disk(self) -> dict:
        """Layout figures of what the program wrote, read after the run."""
        return {}

    def close(self) -> None:
        pass


def _get(port: int, path: str) -> tuple[int, bytes]:
    conn = http.client.HTTPConnection("127.0.0.1", port, timeout=60)
    try:
        conn.request("GET", path)
        resp = conn.getresponse()
        return resp.status, resp.read()
    finally:
        conn.close()


def fig_counts(page: bytes) -> tuple[int, int]:
    """(animation frames, traces) of the figure embedded in a /fig page."""
    text = page.decode()
    start = text.index("const fig = ") + len("const fig = ")
    end = text.index(";\nPlotly.newPlot", start)
    fig = json.loads(text[start:end])
    return len(fig["frames"]), len(fig["data"])


def zipf_pick(rng: np.random.Generator, items: list, s: float = 1.1):
    """One item; the item at rank k is drawn with weight 1/k**s."""
    w = 1.0 / np.arange(1, len(items) + 1) ** s
    return items[int(rng.choice(len(items), p=w / w.sum()))]


def check_summary(i, drop, summary) -> list[str]:
    """An ingest summary against the drop's ground truth."""
    want = (drop.n_rows, len(drop.games), len(drop.plays), drop.max_frame)
    got = (summary.n_rows, summary.n_games, summary.n_plays, summary.max_frame)
    return [] if got == want else [f"op {i}: ingest summary {got} != truth {want}"]


def _dir_stats(root: Path) -> tuple[int, int, int]:
    """(parquet bytes, parquet files, gameId partition directories)."""
    files = list(root.rglob("*.parquet"))
    parts = {f.parent for f in files if f.parent.name.startswith("gameId=")}
    return sum(f.stat().st_size for f in files), len(files), len(parts)


class TrackingLake(Workload):
    """The tracking-lake cycle. Each op:

    1. ingests one season drop of CSVs (seasons and header flavors
       alternate) into the lake, where per-partition overwrite keeps the
       lake at a fixed size once every drop is in;
    2. rebuilds that drop's games in the ``kinematics`` feature set;
    3. draws one training batch: seeded exact-n sample with a rotating
       filter, join with the feature set, tensorize, collect into numpy;
    4. runs one dashboard session against an in-process server: the game
       list, the plays of a Zipf-drawn game, figures of two plays not shown
       before (memo misses) and one figure re-opened (a memo hit).

    Set-up builds the lake with one warm-up op per drop, plus one more, so
    the read steps run against a lake written by the same calls the loop
    makes.
    """

    name = "tracking_lake"

    # -- inputs -------------------------------------------------------------

    def generate(self) -> None:
        self.drops = gen.tracking_drops(self.seed, self.work / "csv")
        self.present = set(range(len(self.drops)))  # drops in the lake
        self.truth = gen.lake_truth(self.drops)
        self.csv_bytes = sum(d.csv_bytes for d in self.drops)
        seasons = sorted({d.season for d in self.drops})
        self.filters = gen.batch_filters(seasons)
        self.plays_of = {
            g: sorted(p for gg, p in self.truth if gg == g)
            for g in sorted({g for g, _ in self.truth})
        }
        rng = np.random.default_rng([self.seed, 11])
        # Zipf ranks over a seeded order, so each seed has its own hot games
        self.game_rank = [int(g) for g in rng.permutation(list(self.plays_of))]
        self.play_rank = {
            g: [int(p) for p in rng.permutation(ps)] for g, ps in self.plays_of.items()
        }
        self.session_rng = np.random.default_rng([self.seed, 12])
        self.shown: list[tuple[int, int]] = []  # figures requested, in order
        self.inputs = {
            "drops": len(self.drops),
            "rows_per_drop": [d.n_rows for d in self.drops],
            "csv_bytes": self.csv_bytes,
            "games": len(self.plays_of),
            "plays": len(self.truth),
            "seasons": seasons,
            "filter_selectivity": gen.selectivities(self.truth, self.filters),
        }

    def _in_lake(self) -> list[gen.Drop]:
        return [d for i, d in enumerate(self.drops) if i in self.present]

    def lake_truth(self) -> dict:
        return gen.lake_truth(self._in_lake())

    def lake_games(self) -> list[int]:
        return sorted(g for d in self._in_lake() for g in d.games)

    # -- set-up ---------------------------------------------------------------

    def build(self) -> list[str]:
        from gridiron_spark.feature_store import FeatureStore
        from gridiron_spark.ingest import LakeIngestor
        from gridiron_spark.pool import Pool

        self.lake = self.work / "lake"
        self.lake.mkdir()
        self.ingestor = LakeIngestor(self.spark, SCHEMA, self.lake)
        self.fs = FeatureStore(self.spark, self.work / "features")
        self.pool = Pool(self.spark, self.lake)
        self.present = set()
        problems = []
        # the warm-up ops build the lake, one drop each, and then run once
        # more on the full lake; each has a fresh server, because the server
        # memoizes the game list
        for i in range(-len(self.drops) - 1, 0):
            self._start_server()
            problems += [f"warm-up: {p}" for p in self.op(i).check()]
            self._stop_server()
        problems += self.final_check()
        self.shown.clear()
        self._start_server()
        return problems

    def _featurize(self, df) -> None:
        from gridiron_spark.operators import features

        feats = features.kinematics(df).select(
            "gameId", "playId", "nflId", "frameId", "season", *FEATURE_COLS
        )
        self.fs.write(FEATURE_SET, feats)

    def _start_server(self) -> None:
        from gridiron_spark import serve

        self.server = serve.make_server(self.spark, str(self.lake), port=0)
        self.port = self.server.server_address[1]
        self.thread = threading.Thread(target=self.server.serve_forever, daemon=True)
        self.thread.start()

    def _stop_server(self) -> None:
        self.server.shutdown()
        self.server.server_close()
        self.thread.join(timeout=30)
        self.server = None

    def close(self) -> None:
        if getattr(self, "server", None) is not None:
            self._stop_server()

    # -- the op ---------------------------------------------------------------

    def _session_plan(self) -> tuple[int, list[tuple[int, int]]]:
        """The game whose plays are listed, and the figures to open: two
        plays of that game not shown before, then one figure re-opened from
        all shown so far, so a third of the figure requests hit the memo."""
        games = set(self.lake_games())
        game = zipf_pick(self.session_rng, [g for g in self.game_rank if g in games])
        figs: list[tuple[int, int]] = []
        for _ in range(2):
            fresh = [
                p for p in self.play_rank[game]
                if (game, p) not in self.shown and (game, p) not in figs
            ]
            figs.append((game, zipf_pick(self.session_rng, fresh or self.play_rank[game])))
        figs.append(zipf_pick(self.session_rng, self.shown + figs))
        return game, figs

    def op(self, i: int) -> OpResult:
        from pyspark.sql import functions as F

        from gridiron_spark.operators import tensorize

        drop = self.drops[i % len(self.drops)]
        self.present.add(i % len(self.drops))
        label, sql, pred = self.filters[i % len(self.filters)]
        batch_seed = self.seed * 1000 + i
        game, figs = self._session_plan()
        hits = []
        for key in figs:
            hits.append(key in self.shown)
            if key not in self.shown:
                self.shown.append(key)

        t0 = _now()
        summary = self.ingestor.ingest(str(drop.path))
        t1 = _now()
        self._featurize(self.pool.scan().filter(F.col("gameId").isin(drop.games)))
        t2 = _now()
        sampled = self.pool.sample_plays(BATCH_N, [F.expr(sql)] if sql else [], seed=batch_seed)
        joined = self.fs.join(sampled, FEATURE_SET)
        plan = tensorize.tensorize_plays(joined, features=TENSOR_FEATURES)
        rows, batch = self._execute(plan)
        t3 = _now()
        replies, req_ms = [], []
        for path in (
            "/api/games",
            f"/api/plays?game={game}",
            *(f"/fig?game={g}&play={p}" for g, p in figs),
        ):
            r0 = _now()
            replies.append(_get(self.port, path))
            req_ms.append((_now() - r0) * 1e3)
        t4 = _now()

        def check() -> list[str]:
            problems = check_summary(i, drop, summary)
            problems += self.check_batch(i, label, pred, batch_seed, rows, batch)
            problems += self.check_session(i, game, figs, replies)
            return problems

        sampled_keys = [(r.gameId, r.playId) for r in rows]
        return OpResult(
            items=drop.n_rows,
            check=check,
            parts={
                "ingest": t1 - t0,
                "featurize": t2 - t1,
                "batch": t3 - t2,
                "dashboard": t4 - t3,
            },
            samples={"fig_ms": req_ms[2:], "req_ms": req_ms},
            info={
                "csv_bytes": drop.csv_bytes,
                "filter": label,
                "batch_plays": len(rows),
                "sampled_rows": sum(
                    self.truth[k].n_frames * gen.N_ENTITIES
                    for k in sampled_keys if k in self.truth
                ),
                "figs": len(figs),
                "fig_hits": sum(hits),
                "fig_miss_rows": sum(
                    self.truth[k].n_frames * gen.N_ENTITIES
                    for k, hit in zip(figs, hits) if not hit
                ),
                "page_bytes": sum(len(body) for _, body in replies[2:]),
            },
        )

    def named(self, results: list[OpResult]) -> dict:
        def total(part):
            return sum(r.parts[part] for r in results)

        rows = sum(r.items for r in results)
        n = len(results)
        batch_ms = [r.parts["batch"] * 1e3 for r in results]
        plays = sum(r.info["batch_plays"] for r in results)
        figs = [x for r in results for x in r.samples["fig_ms"]]
        reqs = sum(len(r.samples["req_ms"]) for r in results)
        hits = sum(r.info["fig_hits"] for r in results)
        out = {
            "ingest_rows_per_s": (rows / total("ingest"), "1/s", n),
            "featurize_rows_per_s": (rows / total("featurize"), "1/s", n),
            "train_batch_p50_ms": (statistics.median(batch_ms), "ms", n),
            "train_plays_per_s": (plays / total("batch"), "1/s", n),
            "dash_fig_p50_ms": (statistics.median(figs), "ms", len(figs)),
            "dash_requests_per_s": (reqs / total("dashboard"), "1/s", reqs),
            "dash_fig_memo_hit_share": (hits / len(figs), "share", len(figs)),
        }
        tail = tail_percentile(figs)
        if tail and tail[0] > 50:
            out[f"dash_fig_p{int(tail[0])}_ms"] = (tail[1], "ms", len(figs))
        return {k: {"value": v, "unit": u, "samples": c} for k, (v, u, c) in out.items()}

    def _execute(self, plan):
        """Collect the tensor plan and stack it into one numpy batch."""
        rows = plan.collect()
        shape = (0, MAX_FRAMES, gen.N_ENTITIES, len(TENSOR_FEATURES))
        batch = (
            np.stack([np.asarray(r.tensor, dtype=np.float32) for r in rows])
            if rows else np.zeros(shape, np.float32)
        )
        return rows, batch

    # -- checks ---------------------------------------------------------------

    def final_check(self) -> list[str]:
        """Re-ingesting a drop replaces its games: the lake and the feature
        set hold exactly the generated rows, however often drops came in."""
        problems = []
        want = sum(d.n_rows for d in self._in_lake())
        n_lake = self.pool.scan().count()
        if n_lake != want:
            problems.append(f"the lake holds {n_lake} rows, want {want}")
        n_feat = self.fs.read(FEATURE_SET).count()
        if n_feat != want:
            problems.append(f"the feature set holds {n_feat} rows, want {want}")
        return problems

    def check_batch(self, i, label, pred, batch_seed, rows, batch) -> list[str]:
        problems = []
        truth = self.lake_truth()
        want = gen.expected_sample(truth, pred, BATCH_N, batch_seed)
        if sorted((r.gameId, r.playId) for r in rows) != want:
            problems.append(f"op {i}: batch [{label}] keys differ from the seeded sample")
        if batch.shape != (len(want), MAX_FRAMES, gen.N_ENTITIES, len(TENSOR_FEATURES)):
            problems.append(f"op {i}: batch tensor shape {batch.shape}")
        for r in rows:
            t = truth.get((r.gameId, r.playId))
            if t is None or not pred(t):
                problems.append(f"op {i}: play {r.gameId}/{r.playId} fails {label}")
            elif (r.n_frames, r.n_players) != (min(t.n_frames, MAX_FRAMES), gen.N_ENTITIES):
                problems.append(
                    f"op {i}: play {r.gameId}/{r.playId} has {r.n_frames} frames, "
                    f"{r.n_players} players"
                )
        return problems

    def check_session(self, i, game, figs, replies) -> list[str]:
        problems = []
        (s0, games), (s1, plays), *fig_replies = replies
        if s0 != 200 or json.loads(games) != self.lake_games():
            problems.append(f"op {i}: /api/games returned {s0} or a wrong list")
        if s1 != 200 or json.loads(plays) != self.plays_of[game]:
            problems.append(f"op {i}: /api/plays returned {s1} or a wrong list")
        for (g, p), (status, page) in zip(figs, fig_replies):
            if status != 200:
                problems.append(f"op {i}: /fig {g}/{p} returned {status}")
                continue
            got = fig_counts(page)
            want = (self.truth[(g, p)].n_frames, FIG_TRACES)
            if got != want:
                problems.append(f"op {i}: figure {g}/{p} has (frames, traces) {got}, want {want}")
        return problems

    # -- tracing and layout ---------------------------------------------------

    def instrument(self, tracer) -> None:
        from gridiron_spark import feature_store, ingest, pool, serve, viz
        from gridiron_spark.operators import features, tensorize

        for owner, attr, name in (
            (ingest.LakeIngestor, "load_and_normalize", "ingest.load_normalize"),
            (ingest.LakeIngestor, "summarize", "ingest.summarize"),
            (ingest.LakeIngestor, "write", "ingest.write"),
            (features, "kinematics", "features.kinematics"),
            (feature_store.FeatureStore, "write", "feature_store.write"),
            (pool.Pool, "sample_plays", "pool.sample_plays"),
            (feature_store.FeatureStore, "join", "feature_store.join"),
            (tensorize, "tensorize_plays", "tensorize.plan"),
            (TrackingLake, "_execute", "train.execute"),
            (pool.Pool, "games", "pool.games"),
            (pool.Pool, "plays", "pool.plays"),
            (serve._Engine, "figure_page", "serve.figure_page"),
            (pool.Pool, "fetch_play", "pool.fetch_play"),
            (features, "side_split", "features.side_split"),
            (viz, "play_figure", "viz.play_figure"),
            (viz, "figure_html", "viz.figure_html"),
        ):
            tracer.instrument(owner, attr, name)
        tracer.scan_roots = {"lake": str(self.lake), "features": str(self.work / "features")}

    def on_disk(self) -> dict:
        lake_b, lake_f, lake_p = _dir_stats(self.lake)
        feat_b, _, _ = _dir_stats(self.work / "features")
        return {
            "lake_bytes": lake_b,
            "feature_bytes": feat_b,
            "lake_files": lake_f,
            "lake_partitions": lake_p,
            "csv_bytes": self.csv_bytes,
        }


class CorpusPrep(Workload):
    """Each op runs ``prepare-corpus`` through the CLI over a seeded
    synthetic ``documents`` table and writes packed parquet shards."""

    name = "corpus_prep"

    def generate(self) -> None:
        import duckdb

        import __spark_entry__

        self.tables = self.work / "tables"
        self.out = self.work / "shards"
        docs = self.tables / "documents.parquet"
        self.inputs = gen.documents(self.seed, CORPUS_DOCS, docs)
        con = duckdb.connect()
        try:
            con.execute(f"CREATE VIEW documents AS SELECT * FROM read_parquet('{docs}')")
            sql = __spark_entry__.oracle_sql()["training_data_pipeline"]
            self.want = sorted(
                tuple(int(v) for v in r)
                for r in con.execute(
                    "SELECT bucket_len, seq_idx, n_docs, sum_tokens, slot_pad, tail_pad "
                    f"FROM ({sql})"
                ).fetchall()
            )
        finally:
            con.close()
        self.inputs["packed_sequences"] = len(self.want)
        self.inputs["packed_docs"] = sum(r[2] for r in self.want)

    def build(self) -> list[str]:
        return [
            f"warm-up: {p}"
            for i in range(-CORPUS_WARMUP_OPS, 0)
            for p in self.op(i).check()
        ]

    def op(self, i: int) -> OpResult:
        from gridiron_spark import cli

        t0 = _now()
        with contextlib.redirect_stdout(sys.stderr):  # the CLI reports on stdout
            rc = cli.main(
                ["prepare-corpus", "--sf-dir", str(self.tables), "--output", str(self.out)],
                spark=self.spark,
            )
        t1 = _now()

        return OpResult(
            items=self.inputs["docs"],
            check=lambda: self.check_output(i, rc),
            parts={"pipeline": t1 - t0},
        )

    def check_output(self, i: int, rc: int) -> list[str]:
        """The written shards against the oracle's rows."""
        import pyarrow.dataset as ds

        if rc != 0:
            return [f"op {i}: prepare-corpus exited {rc}"]
        table = ds.dataset(self.out, format="parquet", partitioning="hive").to_table()
        cols = ("bucket_len", "seq_idx", "n_docs", "sum_tokens", "slot_pad", "tail_pad")
        got = sorted(zip(*(map(int, table.column(c).to_pylist()) for c in cols)))
        if got != self.want:
            return [
                f"op {i}: {len(got)} packed sequences differ from the "
                f"oracle's {len(self.want)}"
            ]
        return []

    def named(self, results: list[OpResult]) -> dict:
        docs = sum(r.items for r in results)
        seconds = sum(r.parts["pipeline"] for r in results)
        return {"corpus_docs_per_s": {"value": docs / seconds, "unit": "1/s", "samples": len(results)}}

    def instrument(self, tracer) -> None:
        from gridiron_spark import cli

        tracer.instrument(cli, "main", "corpus.prepare_corpus")

    def on_disk(self) -> dict:
        return {"output_files": len(list(self.out.rglob("*.parquet")))}


WORKLOADS = {w.name: w for w in (TrackingLake, CorpusPrep)}
