"""Run one benchmark workload and print its metrics.

    python3 perfbench/run.py --workload tracking_lake --seed 1 --seconds 15 --trace 0

Set-up (session start, the initial build and the warm-up ops) is timed as
``setup_s``. Input generation runs before it and is not timed. Then a closed
loop runs ops for ``--seconds`` seconds (at least two ops); each op's output
is checked after its timing stops, and a failed check or an exception counts
the op as failed.

With ``--trace 0`` the last stdout line holds the end-to-end metrics. With
``--trace 1`` the ops run with spans around the program's entry points and
the last line holds the per-layer metrics computed from those spans; the
traced ops' median latency, against ``op_p50_ms`` of an untraced run, gives
the tracing overhead. Spans are written to ``.perfbench_out/``. The line
before the last carries the per-workload report: inputs, op timings,
sample counts and the workload's named metrics.

Everything the run writes stays under the checkout: its working directory
``.perfbench_work/`` is removed at the end.
"""

from __future__ import annotations

import argparse
import json
import os
import shlex
import shutil
import signal
import statistics
import subprocess
import sys
import threading
import time
import traceback
from dataclasses import dataclass
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
CPUS = min(4, os.cpu_count() or 1)
JVM_HEAP = "2g"
DEADLINE_S = 170  # the whole run, set-up included
MIN_OPS = 2  # a window holds at least this many ops


def _parse(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def _confine(work: Path) -> None:
    """Point every temporary and scratch directory of Python, the JVM and
    Spark into ``work``. Must run before pyspark launches the JVM."""
    tmp = work / "tmp"
    tmp.mkdir(parents=True, exist_ok=True)
    os.environ["TMPDIR"] = str(tmp)
    os.environ["SPARK_LOCAL_DIRS"] = str(work / "spark-local")
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = JVM_HEAP
    os.environ["PYSPARK_PYTHON"] = sys.executable
    # every JVM (the launcher and Spark's): temp files under the work
    # directory, and no hsperfdata file in the system temp directory
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={tmp} -XX:+PerfDisableSharedMem"
    warehouse = shlex.quote(f"spark.sql.warehouse.dir={work / 'warehouse'}")
    os.environ["PYSPARK_SUBMIT_ARGS"] = f"--conf {warehouse} pyspark-shell"
    import tempfile

    tempfile.tempdir = None


def _kill_tree() -> None:
    from metrics import process_tree

    me = os.getpid()
    for pid in process_tree()[::-1]:
        if pid != me:
            try:
                os.kill(pid, signal.SIGKILL)
            except OSError:
                pass


def _watchdog(start: float) -> None:
    def fire():
        print(f"perfbench: run exceeded {DEADLINE_S} s, aborting", file=sys.stderr)
        _kill_tree()
        os._exit(3)

    t = threading.Timer(max(1.0, DEADLINE_S - (time.perf_counter() - start)), fire)
    t.daemon = True
    t.start()


def _stop_spark(spark) -> None:
    """Stop the session, then close the gateway's stdin (the JVM exits on
    EOF) and wait for the JVM and its Python workers to end."""
    from pyspark import SparkContext

    from metrics import process_tree

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait(timeout=10)
    for _ in range(50):
        if len(process_tree()) == 1:
            return
        time.sleep(0.1)
    _kill_tree()


@dataclass
class OpRecord:
    i: int
    seconds: float | None  # None when the op raised
    result: object
    problems: list[str]

    @property
    def ok(self) -> bool:
        return self.seconds is not None and not self.problems


def _run_op(wl, i: int, tracer) -> OpRecord:
    result, seconds, problems = None, None, []
    t0 = time.perf_counter()
    try:
        if tracer is None:
            result = wl.op(i)
        else:
            tracer.op = i
            with tracer.span("op"):
                result = wl.op(i)
        seconds = time.perf_counter() - t0
    except Exception:
        problems.append(traceback.format_exc())
    if tracer is not None:
        tracer.op = None
        tracer.harvest()
    if result is not None:
        try:
            problems += result.check()
        except Exception:
            problems.append(traceback.format_exc())
    for p in problems:
        print(f"perfbench: op {i} failed: {p}", file=sys.stderr)
    return OpRecord(i, seconds, result, problems)


def named_metrics(wl, ops) -> dict:
    """The workload's own metrics, by the names the layer map uses, each
    with its sample count, plus the failure share."""
    done = [o.result for o in ops if o.seconds is not None]
    out = {"failed_share": {"value": sum(not o.ok for o in ops) / len(ops), "unit": "share"}}
    if done:
        out.update(wl.named(done))
    return out


E2E_UNITS = {
    "setup_s": "s",
    "op_p50_ms": "ms",
    "items_per_s": "1/s",
    "peak_rss_mb": "MB",
    "ok_share": "share",
}

# Per-layer metric -> unit. A "share" is a part of the ops' wall time;
# counts and bytes are per op unless the name says otherwise.
LAYER_UNITS = {
    "session.start_s": "s",
    "trace.op_p50_ms": "ms",
    "trace.overhead_share": "share",
    "spark.jobs_per_op": "count",
    "spark.tasks_per_op": "count",
    "spark.job_share": "share",
    "ingest.load_normalize_share": "share",
    "ingest.summarize_share": "share",
    "ingest.write_share": "share",
    "ingest.spark_jobs": "count",
    "ingest.input_passes": "ratio",
    "ingest.lake_bytes_per_csv_byte": "ratio",
    "ingest.files_per_partition": "ratio",
    "feature_store.write_share": "share",
    "feature_store.shuffle_write_bytes": "B",
    "pool.sample_plays_share": "share",
    "train.execute_share": "share",
    "train.spark_jobs_per_batch": "count",
    "pool.records_read_per_sampled_row": "ratio",
    "pool.lake_scans_per_batch": "ratio",
    "feature_store.join_records_read": "count",
    "tensorize.collected_bytes": "B",
    "pool.fetch_play_share": "share",
    "pool.fetch_records_read_per_row": "ratio",
    "pool.fetch_spark_jobs": "count",
    "pool.games_share": "share",
    "pool.plays_share": "share",
    "viz.play_figure_spark_share": "share",
    "viz.play_figure_python_share": "share",
    "viz.figure_html_share": "share",
    "viz.page_bytes": "B",
    "serve.fig_memo_hit_share": "share",
    "corpus.spark_jobs": "count",
    "corpus.spark_share": "share",
    "corpus.shuffle_bytes": "B",
    "corpus.output_files": "count",
}

# span names per layer group
INGEST = ("ingest.load_normalize", "ingest.summarize", "ingest.write")
BATCH = ("pool.sample_plays", "feature_store.join", "tensorize.plan", "train.execute")
FIG = (
    "serve.figure_page", "pool.fetch_play", "features.side_split",
    "viz.play_figure", "viz.figure_html",
)
CORPUS = ("corpus.prepare_corpus",)


def layer_metrics(tracer, ops, session_s: float, disk: dict) -> dict:
    """Per-layer metrics from the spans of the traced ops (units in
    LAYER_UNITS). A layer the workload never reaches reads 0."""
    from spans import self_times, union_length

    traced = [o for o in ops if o.seconds is not None]
    ids = {o.i for o in traced}
    spans = [s for s in tracer.spans if s.op in ids]
    own = self_times(spans)
    n = max(1, len(traced))
    op_spans = [s for s in spans if s.name == "op"]
    wall = sum(s.end - s.start for s in op_spans) or 1.0

    def pick(names=None):
        return [s for s in spans if names is None or s.name in names]

    def share(*names):
        return sum(own[s.id] for s in pick(names)) / wall

    def spark_share(names):
        return sum(s.spark_s for s in pick(names)) / wall

    def stage(field, names=None):
        return sum(s.stages.get(field, 0) for s in pick(names))

    def scanned(label, names):
        return sum(s.scans.get(label, 0) for s in pick(names))

    def jobs(names=None):
        return sum(s.jobs for s in pick(names))

    def ratio(a, b):
        return a / b if b else 0.0

    def info(key):
        return sum(o.result.info.get(key, 0) for o in traced)

    job_time = sum(
        union_length(
            [iv for s in spans if s.op == o.op for iv in s.intervals], o.start, o.end
        )
        for o in op_spans
    )
    figure_calls = len(pick(("viz.play_figure",)))
    figs = info("figs")
    lake_bytes = disk.get("lake_bytes", 0) + disk.get("feature_bytes", 0)
    values = {
        "session.start_s": session_s,
        "trace.op_p50_ms": statistics.median(o.seconds for o in traced) * 1e3
        if traced else 0.0,
        "trace.overhead_share": tracer.bookkeeping_s / wall,
        "spark.jobs_per_op": jobs() / n,
        "spark.tasks_per_op": stage("numTasks") / n,
        "spark.job_share": job_time / wall,
        "ingest.load_normalize_share": share("ingest.load_normalize"),
        "ingest.summarize_share": share("ingest.summarize"),
        "ingest.write_share": share("ingest.write"),
        "ingest.spark_jobs": jobs(INGEST) / n,
        "ingest.input_passes": ratio(stage("inputBytes", INGEST), info("csv_bytes")),
        "ingest.lake_bytes_per_csv_byte": ratio(
            disk.get("lake_bytes", 0), disk.get("csv_bytes", 0)
        ),
        "ingest.files_per_partition": ratio(
            disk.get("lake_files", 0), disk.get("lake_partitions", 0)
        ),
        "feature_store.write_share": share("feature_store.write"),
        "feature_store.shuffle_write_bytes": stage(
            "shuffleWriteBytes", ("feature_store.write",)
        ) / n,
        "pool.sample_plays_share": share("pool.sample_plays"),
        "train.execute_share": share("train.execute"),
        "train.spark_jobs_per_batch": jobs(BATCH) / n,
        "pool.records_read_per_sampled_row": ratio(
            scanned("lake", BATCH), info("sampled_rows")
        ),
        "pool.lake_scans_per_batch": ratio(stage("inputBytes", BATCH), lake_bytes) / n,
        "feature_store.join_records_read": scanned("features", BATCH) / n,
        "tensorize.collected_bytes": stage("resultSize", ("train.execute",)) / n,
        "pool.fetch_play_share": share("pool.fetch_play"),
        "pool.fetch_records_read_per_row": ratio(
            scanned("lake", FIG), info("fig_miss_rows")
        ),
        "pool.fetch_spark_jobs": ratio(jobs(FIG), figure_calls),
        "pool.games_share": share("pool.games"),
        "pool.plays_share": share("pool.plays"),
        "viz.play_figure_spark_share": spark_share(("viz.play_figure",)),
        "viz.play_figure_python_share": share("viz.play_figure")
        - spark_share(("viz.play_figure",)),
        "viz.figure_html_share": share("viz.figure_html"),
        "viz.page_bytes": ratio(info("page_bytes"), figs),
        "serve.fig_memo_hit_share": ratio(figs - figure_calls, figs),
        "corpus.spark_jobs": jobs(CORPUS) / n,
        "corpus.spark_share": spark_share(CORPUS),
        "corpus.shuffle_bytes": stage("shuffleWriteBytes", CORPUS) / n,
        "corpus.output_files": disk.get("output_files", 0),
    }
    return {k: {"value": values[k], "unit": u} for k, u in LAYER_UNITS.items()}


def main(argv=None) -> int:
    args = _parse(argv)
    start = time.perf_counter()
    _watchdog(start)
    sys.path.insert(0, str(ROOT))
    try:
        import gridiron_spark  # noqa: F401  (the program under test)
    except ImportError as exc:
        print(f"perfbench: cannot import the program: {exc}", file=sys.stderr)
        return 2
    from workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}", file=sys.stderr)
        return 2
    work = ROOT / ".perfbench_work" / f"{args.workload}-{args.seed}-{os.getpid()}"
    shutil.rmtree(work, ignore_errors=True)
    try:
        return _run(args, work, WORKLOADS[args.workload])
    finally:
        shutil.rmtree(work, ignore_errors=True)


def _run(args, work: Path, workload_cls) -> int:
    _confine(work)
    spark = None
    try:
        wl = workload_cls(work, args.seed)
        wl.generate()

        from gridiron_spark.session import get_spark
        from metrics import peak_rss_mb, process_tree, valid_name

        t0 = time.perf_counter()
        spark = get_spark("perfbench", cpus=CPUS, shuffle_partitions=CPUS)
        session_s = time.perf_counter() - t0
        wl.spark = spark
        setup_problems = wl.build()
        setup_s = time.perf_counter() - t0
        for p in setup_problems:
            print(f"perfbench: set-up check failed: {p}", file=sys.stderr)

        tracer = None
        if args.trace:
            from spans import Tracer

            tracer = Tracer(spark)
            wl.instrument(tracer)
        ops = []
        deadline = time.perf_counter() + args.seconds
        try:
            while len(ops) < MIN_OPS or time.perf_counter() < deadline:
                ops.append(_run_op(wl, len(ops), tracer))
        finally:
            if tracer is not None:
                tracer.uninstrument()
        final = wl.final_check()
        for p in final:
            print(f"perfbench: final check failed: {p}", file=sys.stderr)
        ops[-1].problems += final
        rss = peak_rss_mb(process_tree())
        disk = wl.on_disk()
        wl.close()
    finally:
        if spark is not None:
            _stop_spark(spark)

    attempted = len(ops)
    failed = sum(not o.ok for o in ops)
    done = [o for o in ops if o.seconds is not None]
    report = {
        "workload": args.workload,
        "seed": args.seed,
        "loop": wl.loop,
        "inputs": wl.inputs,
        "ops": attempted,
        "failed": failed,
        "op_ms": [round(o.seconds * 1e3, 1) for o in done],
        "part_ms": {
            k: [round(o.result.parts[k] * 1e3, 1) for o in done]
            for k in (done[0].result.parts if done else {})
        },
        "session_s": session_s,
        "setup_problems": setup_problems,
        "named": named_metrics(wl, ops),
    }
    if tracer is not None:
        out = ROOT / ".perfbench_out"
        out.mkdir(exist_ok=True)
        tracer.dump(out / f"{args.workload}-seed{args.seed}.spans.jsonl")
        metrics = layer_metrics(tracer, ops, session_s, disk)
    else:
        values = {
            "setup_s": setup_s,
            "op_p50_ms": statistics.median(o.seconds for o in done) * 1e3 if done else 0.0,
            "items_per_s": sum(o.result.items for o in done) / sum(o.seconds for o in done)
            if done else 0.0,
            "peak_rss_mb": rss,
            "ok_share": (attempted - failed) / attempted,
        }
        metrics = {k: {"value": values[k], "unit": u} for k, u in E2E_UNITS.items()}
    bad = [k for k in metrics if not valid_name(k)]
    if bad:
        raise ValueError(f"invalid metric names: {bad}")
    print(json.dumps({"report": report}))
    print(
        json.dumps(
            {
                "correct": failed == 0 and not setup_problems,
                "attempted": attempted,
                "failed": failed,
                "metrics": metrics,
            }
        )
    )
    return 0


if __name__ == "__main__":
    sys.exit(main())
