"""Metric helpers: summary statistics, name checks and process memory."""

from __future__ import annotations

import math
import os
import re
from pathlib import Path

_NAME = re.compile(r"[A-Za-z0-9][A-Za-z0-9_.\-]{0,63}")
_UNIT = re.compile(r"[A-Za-z0-9_/%.\-]{1,16}")


def valid_name(name: str) -> bool:
    """A metric or workload name: starts with a letter or digit, then at most
    63 more letters, digits, ``_``, ``.`` or ``-``."""
    return bool(_NAME.fullmatch(name))


def valid_unit(unit: str) -> bool:
    return bool(_UNIT.fullmatch(unit))


def percentile(values, q: float) -> float:
    """Linearly interpolated percentile, ``q`` in [0, 100]."""
    xs = sorted(values)
    if not xs:
        raise ValueError("percentile of no values")
    pos = (len(xs) - 1) * q / 100.0
    lo, hi = math.floor(pos), math.ceil(pos)
    return xs[lo] + (xs[hi] - xs[lo]) * (pos - lo)


def tail_percentile(values) -> tuple[float, float] | None:
    """The highest of p50/p90/p99 with at least ten samples beyond it, as
    ``(q, value)``; ``None`` when even the median has fewer than ten."""
    n = len(values)
    for q in (99.0, 90.0, 50.0):
        if n * (100.0 - q) / 100.0 >= 10:
            return q, percentile(values, q)
    return None


def _children(pid: int) -> list[int]:
    try:
        text = Path(f"/proc/{pid}/task/{pid}/children").read_text()
    except OSError:
        return []
    return [int(p) for p in text.split()]


def process_tree(pid: int | None = None) -> list[int]:
    """``pid`` and every live descendant (the JVM, Python workers)."""
    pid = os.getpid() if pid is None else pid
    out, todo = [], [pid]
    while todo:
        p = todo.pop()
        out.append(p)
        todo.extend(_children(p))
    return out


def peak_rss_mb(pids) -> float:
    """Sum of each process's peak resident set (VmHWM), in MiB. Processes do
    not all peak at once, so this bounds the joint peak from above."""
    kb = 0
    for p in pids:
        try:
            for line in Path(f"/proc/{p}/status").read_text().splitlines():
                if line.startswith("VmHWM:"):
                    kb += int(line.split()[1])
        except OSError:
            continue
    return kb / 1024.0


def validate_benchmark(spec: dict) -> list[str]:
    """Problems with a BENCHMARK.json document (empty when it is valid)."""
    errs = []
    names = set()
    for w in spec.get("workloads", []):
        if not valid_name(w["name"]):
            errs.append(f"bad workload name {w['name']!r}")
    for section in ("end_to_end", "per_layer"):
        for m in spec.get(section, []):
            if not valid_name(m["name"]):
                errs.append(f"bad metric name {m['name']!r}")
            if not valid_unit(m["unit"]):
                errs.append(f"bad unit {m['unit']!r} for {m['name']}")
            if m["name"] in names:
                errs.append(f"metric {m['name']} used twice")
            names.add(m["name"])
            if m["better"] not in ("higher", "lower"):
                errs.append(f"bad 'better' for {m['name']}")
            if section == "end_to_end" and not 0 < m["bound"] <= 0.25:
                errs.append(f"bound of {m['name']} outside (0, 0.25]")
    if "setup_s" not in {m["name"] for m in spec.get("end_to_end", [])}:
        errs.append("end_to_end lacks setup_s")
    return errs
