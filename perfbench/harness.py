"""Measurement plumbing shared by the workloads: spans, percentiles,
Spark job accounting, result comparison and process memory.

Nothing here imports the engine, so the helpers are testable without a
SparkSession.
"""

from __future__ import annotations

import math
import os
import threading
import time
from collections import defaultdict
from contextlib import contextmanager
from dataclasses import dataclass

import pandas as pd


def percentile(values: list[float], q: float) -> float:
    """Linear-interpolated ``q`` quantile of ``values``.

    Refuses a quantile with fewer than ten samples beyond it (p90 needs
    at least 100), because such a tail is one or two unlucky requests,
    not a property of the system."""
    n = len(values)
    if n == 0:
        raise ValueError("percentile of no samples")
    if q > 0.5 and n * (1.0 - q) < 10 - 1e-9:
        raise ValueError(
            f"p{round(q * 100)} needs at least {math.ceil(10 / (1 - q))} "
            f"samples, got {n}"
        )
    s = sorted(values)
    pos = (n - 1) * q
    lo = math.floor(pos)
    hi = min(lo + 1, n - 1)
    return s[lo] + (s[hi] - s[lo]) * (pos - lo)


@dataclass
class Span:
    name: str
    start: float
    end: float
    span_id: int
    parent: int | None
    request: str | None


class Tracer:
    """In-memory spans around the benchmark's calls into each layer.

    Disabled tracers record nothing and cost one attribute check per
    span, so the untraced run measures the engine alone.  Each thread
    keeps its own span stack, so concurrent clients nest correctly."""

    def __init__(self, enabled: bool) -> None:
        self.enabled = enabled
        self.spans: list[Span] = []
        self._local = threading.local()
        self._lock = threading.Lock()
        self._next_id = 0
        self.bookkeeping_s = 0.0

    @contextmanager
    def span(self, name: str, request: str | None = None):
        if not self.enabled:
            yield
            return
        t0 = time.perf_counter()
        stack = self._local.__dict__.setdefault("stack", [])
        with self._lock:
            self._next_id += 1
            span_id = self._next_id
        parent = stack[-1] if stack else None
        if request is None and parent is not None:
            request = parent[1]
        stack.append((span_id, request))
        start = time.perf_counter()
        self._add_bookkeeping(start - t0)
        try:
            yield
        finally:
            end = time.perf_counter()
            stack.pop()
            with self._lock:
                self.spans.append(
                    Span(name, start, end, span_id, parent[0] if parent else None, request)
                )
            self._add_bookkeeping(time.perf_counter() - end)

    def _add_bookkeeping(self, seconds: float) -> None:
        with self._lock:
            self.bookkeeping_s += seconds

    def totals(self) -> dict[str, float]:
        """Summed duration per span name."""
        out: dict[str, float] = defaultdict(float)
        for s in self.spans:
            out[s.name] += s.end - s.start
        return dict(out)

    def self_times(self) -> dict[str, float]:
        """Summed self time per span name: each span's duration minus
        the part of its interval its children cover (children of one
        span are sequential, because each thread keeps its own stack)."""
        child_time: dict[int, float] = defaultdict(float)
        for s in self.spans:
            if s.parent is not None:
                child_time[s.parent] += s.end - s.start
        out: dict[str, float] = defaultdict(float)
        for s in self.spans:
            out[s.name] += (s.end - s.start) - child_time[s.span_id]
        return dict(out)

    def durations(self, name: str) -> list[float]:
        return [s.end - s.start for s in self.spans if s.name == name]

    def dump(self) -> list[dict]:
        return [s.__dict__ for s in self.spans]


class SparkJobs:
    """Per-request Spark job accounting through job groups and the
    status tracker: the request's thread tags its jobs with a group id,
    and after the request the group's jobs, stages and tasks are read
    back.  Only the traced run pays for the read-back."""

    def __init__(self, sc) -> None:
        self.sc = sc
        self.tracker = sc.statusTracker()

    @contextmanager
    def group(self, group_id: str):
        self.sc.setJobGroup(group_id, group_id, interruptOnCancel=False)
        try:
            yield
        finally:
            self.sc.setLocalProperty("spark.jobGroup.id", None)
            self.sc.setLocalProperty("spark.job.description", None)

    def stats(self, group_id: str) -> dict[str, int]:
        jobs = self.tracker.getJobIdsForGroup(group_id)
        stages = tasks = failed = 0
        for jid in jobs:
            info = self.tracker.getJobInfo(jid)
            if info is None:
                continue
            for sid in info.stageIds:
                st = self.tracker.getStageInfo(sid)
                if st is None:
                    continue
                stages += 1
                tasks += st.numTasks
                failed += st.numFailedTasks
        return {"jobs": len(jobs), "stages": stages, "tasks": tasks, "failed_tasks": failed}


def _canonical(df: pd.DataFrame) -> pd.DataFrame:
    df = df[sorted(df.columns)].copy()
    for c in df.columns:
        kind = str(df[c].dtype)
        if kind.startswith(("int", "Int", "uint", "float", "Float")):
            df[c] = df[c].astype("float64")
        elif kind.startswith("datetime"):
            df[c] = pd.to_datetime(df[c]).dt.tz_localize(None)
        elif kind in ("object", "bool", "boolean"):
            df[c] = df[c].astype(str)
    return df.sort_values(by=list(df.columns), na_position="last").reset_index(drop=True)


def frames_match(got: pd.DataFrame, want: pd.DataFrame, rel_tol: float = 1e-9) -> str | None:
    """``None`` when the two result frames hold the same rows in any
    order, else a one-line reason.  Doubles may differ by ``rel_tol``
    (sum order differs between engines); everything else is exact."""
    if sorted(got.columns) != sorted(want.columns):
        return f"columns {sorted(got.columns)} != {sorted(want.columns)}"
    if len(got) != len(want):
        return f"{len(got)} rows != {len(want)}"
    a, b = _canonical(got), _canonical(want)
    for c in a.columns:
        x, y = a[c], b[c]
        if x.dtype == "float64" and y.dtype == "float64":
            both_na = x.isna() & y.isna()
            close = (x - y).abs() <= rel_tol * y.abs().clip(lower=1.0)
            ok = both_na | close
        else:
            ok = x.eq(y) | (x.isna() & y.isna())
        if not bool(ok.all()):
            i = int((~ok).to_numpy().argmax())
            return f"column {c!r} row {i}: {x.iloc[i]!r} != {y.iloc[i]!r}"
    return None


def _proc_tree(root: int) -> list[int]:
    """``root`` and every process below it."""
    children: dict[int, list[int]] = defaultdict(list)
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, ValueError, IndexError):
            continue
        children[ppid].append(int(entry))
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(children.get(pid, []))
    return out


def descendants() -> list[int]:
    """Process ids started (directly or not) by this process."""
    me = os.getpid()
    return [p for p in _proc_tree(me) if p != me]


def peak_rss_mb(pids: list[int]) -> float:
    """Sum of the peak resident set sizes (``VmHWM``) of ``pids``."""
    total_kb = 0
    for pid in pids:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    total_kb += int(line.split()[1])
                    break
    return total_kb / 1024.0
