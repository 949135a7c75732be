"""Spans around the calls into each program layer, with Spark job metrics.

A span records name, start, end, parent span, op id and the Spark job group
it set. Every span sets its own job group on the calling thread, so the jobs
a call triggers, including lazy plans that run inside a child call, are
attributed to the innermost span open when they ran. After each op the
benchmark calls :meth:`Tracer.harvest`, which reads each new span's jobs and
stages from Spark's status store (works with ``spark.ui.enabled=false``).

Spans live in memory and are written out once, by :meth:`Tracer.dump`.
Instrumentation wraps the program's entry points (:meth:`Tracer.instrument`)
only in a traced run, so an untraced run runs the program exactly as
shipped.
"""

from __future__ import annotations

import functools
import itertools
import json
import threading
import time
from contextlib import contextmanager
from dataclasses import asdict, dataclass, field

_GROUP_PROP = "spark.jobGroup.id"
STAGE_FIELDS = (
    "numTasks",
    "executorRunTime",
    "inputBytes",
    "inputRecords",
    "shuffleReadBytes",
    "shuffleWriteBytes",
    "resultSize",
    "outputBytes",
)


@dataclass
class Span:
    id: int
    name: str
    start: float
    end: float = 0.0
    parent: int | None = None
    op: int | None = None
    group: str = ""
    jobs: int = 0
    intervals: list = field(default_factory=list)  # (submitted, completed) per job
    spark_s: float = 0.0  # union of the job intervals, within the span
    stages: dict = field(default_factory=dict)  # STAGE_FIELDS summed
    scans: dict = field(default_factory=dict)  # scan root label -> rows read


class Tracer:
    def __init__(self, spark):
        self.sc = spark.sparkContext
        self._jspark = spark._jsparkSession
        self.spans: list[Span] = []
        self._ids = itertools.count(1)
        self._local = threading.local()
        self._lock = threading.Lock()
        self._patches: list[tuple[object, str, object]] = []
        self._harvested = 0
        self.op: int | None = None  # the client op in flight
        # label -> directory: parquet scans under it are counted per span
        self.scan_roots: dict[str, str] = {}
        self._seen_executions: set[int] = set()
        self.bookkeeping_s = 0.0  # time spent inside span enter/exit

    # -- spans ------------------------------------------------------------

    @contextmanager
    def span(self, name: str):
        t0 = time.perf_counter()
        stack = getattr(self._local, "stack", None)
        if stack is None:
            stack = self._local.stack = []
        sp = Span(
            id=next(self._ids),
            name=name,
            start=time.time(),
            parent=stack[-1].id if stack else None,
            op=self.op,
        )
        sp.group = f"perfbench-{sp.id}"
        prev = self.sc.getLocalProperty(_GROUP_PROP)
        self.sc.setJobGroup(sp.group, name)
        stack.append(sp)
        with self._lock:
            self.spans.append(sp)
            self.bookkeeping_s += time.perf_counter() - t0
        try:
            yield sp
        finally:
            t1 = time.perf_counter()
            sp.end = time.time()
            stack.pop()
            if prev is None:
                self.sc.setLocalProperty(_GROUP_PROP, None)
            else:
                self.sc.setJobGroup(prev, stack[-1].name if stack else prev)
            with self._lock:
                self.bookkeeping_s += time.perf_counter() - t1

    def instrument(self, owner, attr: str, name: str) -> None:
        """Replace ``owner.attr`` with a span-wrapped version until
        :meth:`uninstrument`. Works for module functions and for methods
        (patched on the class)."""
        orig = getattr(owner, attr)

        @functools.wraps(orig)
        def wrapped(*args, **kwargs):
            with self.span(name):
                return orig(*args, **kwargs)

        self._patches.append((owner, attr, orig))
        setattr(owner, attr, wrapped)

    def uninstrument(self) -> None:
        while self._patches:
            owner, attr, orig = self._patches.pop()
            setattr(owner, attr, orig)

    # -- Spark metrics ----------------------------------------------------

    def harvest(self) -> None:
        """Attach job, stage and scan metrics to every span finished since
        the last call. Waits for Spark's listener bus first, because the
        status stores are updated asynchronously."""
        jsc = self.sc._jsc.sc()
        jsc.listenerBus().waitUntilEmpty()
        store = jsc.statusStore()
        tracker = self.sc.statusTracker()
        with self._lock:
            todo = self.spans[self._harvested:]
            self._harvested = len(self.spans)
        by_job = {}
        for sp in todo:
            intervals = []
            totals = dict.fromkeys(STAGE_FIELDS, 0)
            seen = set()
            job_ids = tracker.getJobIdsForGroup(sp.group)
            for jid in job_ids:
                by_job[jid] = sp
                job = store.job(jid)
                sub, done = job.submissionTime(), job.completionTime()
                if sub.isDefined() and done.isDefined():
                    intervals.append(
                        (sub.get().getTime() / 1e3, done.get().getTime() / 1e3)
                    )
                stage_ids = job.stageIds()
                for i in range(stage_ids.size()):
                    sid = stage_ids.apply(i)
                    if sid in seen:
                        continue
                    seen.add(sid)
                    stage = store.lastStageAttempt(sid)
                    if stage.status().toString() != "COMPLETE":
                        continue  # skipped: its work ran in an earlier job
                    for f in STAGE_FIELDS:
                        totals[f] += getattr(stage, f)()
            sp.jobs = len(job_ids)
            sp.intervals = intervals
            sp.spark_s = union_length(intervals, sp.start, sp.end)
            sp.stages = totals
        if self.scan_roots:
            self._harvest_scans(by_job)

    def _harvest_scans(self, by_job: dict) -> None:
        """Rows each parquet scan node produced (after partition pruning and
        pushed filters), from the SQL status store, summed per span and per
        scan root."""
        store = self._jspark.sharedState().statusStore()
        executions = store.executionsList()
        for k in range(executions.size()):
            ex = executions.apply(k)
            eid = ex.executionId()
            if eid in self._seen_executions or ex.completionTime().isEmpty():
                continue
            self._seen_executions.add(eid)
            jobs = ex.jobs().keySet().toSeq()
            owners = [by_job[j] for j in (jobs.apply(i) for i in range(jobs.size())) if j in by_job]
            if not owners:
                continue
            values = store.executionMetrics(eid)
            nodes = store.planGraph(eid).allNodes()
            for n in range(nodes.size()):
                node = nodes.apply(n)
                if not node.name().startswith("Scan parquet"):
                    continue
                desc = node.desc()
                label = next((lb for lb, root in self.scan_roots.items() if root in desc), None)
                if label is None:
                    continue
                metrics = node.metrics()
                for m in range(metrics.size()):
                    metric = metrics.apply(m)
                    if metric.name() != "number of output rows":
                        continue
                    value = values.get(metric.accumulatorId())
                    if value.isDefined():
                        owner = owners[0]
                        rows = int(value.get().replace(",", ""))
                        owner.scans[label] = owner.scans.get(label, 0) + rows

    def dump(self, path) -> None:
        with open(path, "w") as fh:
            for sp in self.spans:
                fh.write(json.dumps(asdict(sp)) + "\n")


def union_length(intervals, lo: float, hi: float) -> float:
    """Length of the union of intervals, clipped to [lo, hi]."""
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted((max(s, lo), min(e, hi)) for s, e in intervals):
        if e <= s:
            continue
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def self_times(spans: list[Span]) -> dict[int, float]:
    """Span duration minus the part of it its child spans cover."""
    children: dict[int, list[Span]] = {}
    for sp in spans:
        if sp.parent is not None:
            children.setdefault(sp.parent, []).append(sp)
    return {
        sp.id: (sp.end - sp.start)
        - union_length(
            [(c.start, c.end) for c in children.get(sp.id, [])], sp.start, sp.end
        )
        for sp in spans
    }
