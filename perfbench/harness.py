"""Measurement plumbing shared by the workloads: in-memory spans, Spark
job-group counters, a /proc memory sampler and the statistics the
result reports."""

from __future__ import annotations

import contextlib
import json
import math
import os
import statistics
import threading
import time
from dataclasses import dataclass

# ------------------------------------------------------------ tracing


@dataclass
class Span:
    id: int
    parent: int | None
    op: str | None
    name: str
    start: int
    end: int = 0


class Tracer:
    """Spans recorded around the benchmark's calls into each layer.
    Kept in memory (per-thread parent stacks, one shared list) and
    written out when the run ends. A disabled tracer records nothing;
    ``enabled`` can flip between operations, which the traced run
    uses to pair each traced execution with an untraced one."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[Span] = []
        self._ids = iter(range(1, 1 << 62))
        self._lock = threading.Lock()
        self._local = threading.local()

    @contextlib.contextmanager
    def span(self, name: str, op: str | None = None):
        if not self.enabled:
            yield
            return
        stack = self._local.__dict__.setdefault("stack", [])
        parent = stack[-1] if stack else None
        with self._lock:
            sid = next(self._ids)
        s = Span(sid, parent.id if parent else None,
                 op if op is not None else (parent.op if parent else None),
                 name, time.perf_counter_ns())
        stack.append(s)
        try:
            yield
        finally:
            s.end = time.perf_counter_ns()
            stack.pop()
            self.spans.append(s)

    def self_times(self, in_ops: bool = False) -> dict[str, list[float]]:
        """Per span name, each span's self time in ms: its duration
        minus the part its child spans cover (children nest on the
        same thread, so they never overlap one another). ``in_ops``
        keeps only spans that belong to an operation."""
        child = {}
        for s in self.spans:
            if s.parent is not None:
                child[s.parent] = child.get(s.parent, 0) + (s.end - s.start)
        out: dict[str, list[float]] = {}
        for s in self.spans:
            if in_ops and s.op is None:
                continue
            out.setdefault(s.name, []).append(
                (s.end - s.start - child.get(s.id, 0)) / 1e6)
        return out

    def durations(self, name: str) -> list[float]:
        return [(s.end - s.start) / 1e6 for s in self.spans if s.name == name]

    def write(self, path: str) -> None:
        os.makedirs(os.path.dirname(path) or ".", exist_ok=True)
        with open(path, "w") as f:
            for s in sorted(self.spans, key=lambda s: s.start):
                f.write(json.dumps(s.__dict__) + "\n")


class JobGroups:
    """One Spark job group per operation, read back through the public
    StatusTracker. Groups are only set while tracing; counts are read
    after the run, once the listener bus has caught up."""

    def __init__(self, sc):
        self.sc = sc
        self.groups: list[str] = []

    @contextlib.contextmanager
    def group(self, name: str, enabled: bool):
        if not enabled:
            yield
            return
        self.sc.setJobGroup(name, name)
        self.groups.append(name)
        try:
            yield
        finally:
            self.sc.setLocalProperty("spark.jobGroup.id", None)

    def counts(self) -> dict[str, dict]:
        st = self.sc.statusTracker()
        out = {}
        for g in self.groups:
            jobs = stages = tasks = failed = 0
            for j in st.getJobIdsForGroup(g):
                info = st.getJobInfo(j)
                if info is None:
                    continue
                jobs += 1
                for sid in info.stageIds:
                    si = st.getStageInfo(sid)
                    if si is not None:
                        stages += 1
                        tasks += si.numTasks
                        failed += si.numFailedTasks
            out[g] = {"jobs": jobs, "stages": stages, "tasks": tasks,
                      "failed_tasks": failed}
        return out


# ------------------------------------------------------------- memory


def _tree_rss_bytes(root: int) -> int:
    """Resident bytes of ``root`` and all its descendants, from /proc."""
    parent = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        parent[int(d)] = int(stat.rsplit(")", 1)[1].split()[1])
    tree, frontier = {root}, [root]
    while frontier:
        p = frontier.pop()
        kids = [c for c, pp in parent.items() if pp == p and c not in tree]
        tree.update(kids)
        frontier.extend(kids)
    page = os.sysconf("SC_PAGE_SIZE")
    total = 0
    for pid in tree:
        try:
            with open(f"/proc/{pid}/statm") as f:
                total += int(f.read().split()[1]) * page
        except OSError:
            pass
    return total


def cpu_steal() -> tuple[int, int]:
    """(steal, total) jiffies of the whole machine so far, from
    /proc/stat: the share of time a virtual machine's CPUs were taken
    by the host, which slows every run on a shared box."""
    with open("/proc/stat") as f:
        fields = [int(x) for x in f.readline().split()[1:]]
    return fields[7], sum(fields[:8])


class RssSampler:
    """Peak resident memory of this process and its children (driver
    JVM, Python workers), sampled from /proc on a background thread."""

    def __init__(self, interval_s: float = 0.25):
        self.interval_s = interval_s
        self.peak = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self):
        pid = os.getpid()
        while True:
            self.peak = max(self.peak, _tree_rss_bytes(pid))
            if self._stop.wait(self.interval_s):
                return

    def start(self) -> None:
        self._thread.start()

    def stop(self) -> None:
        self._stop.set()
        if self._thread.is_alive():
            self._thread.join(timeout=5)


# ------------------------------------------------------------ results


@dataclass
class OpRecord:
    """One timed operation: what ran, how long it took, and whether it
    raised; ``digest`` fingerprints its result for the repeat check."""

    kind: str
    key: str
    latency_s: float
    rows_in: int
    ok: bool = True
    digest: str | None = None
    error: str | None = None


def overhead(pairs: list[tuple[float, float, bool]]) -> float:
    """Tracing overhead from (traced, untraced, traced_first) latency
    pairs of the same operation run back to back. The second run of a
    pair is warmer, so the traced/untraced ratio is taken separately
    for each order and the two medians are combined geometrically,
    which cancels the order effect."""
    first = [t / u for t, u, tf in pairs if tf]
    second = [t / u for t, u, tf in pairs if not tf]
    if not first or not second:
        return statistics.median(t / u for t, u, _ in pairs) - 1
    return math.sqrt(statistics.median(first) * statistics.median(second)) - 1


def quantile(values: list[float], q: float) -> float:
    """Harrell-Davis estimate of the q-quantile: a weighted average of
    all order statistics, with Beta(q(n+1), (1-q)(n+1)) weights. A run
    holds a few dozen operations of a dozen kinds of different cost,
    so the single middle (or second-largest) sample jumps between
    kinds from run to run; the weighted estimate moves far less. The
    weights integrate the Beta density numerically (midpoint rule)."""
    import numpy as np

    x = np.sort(np.asarray(values, dtype=float))
    n = len(x)
    if n == 1:
        return float(x[0])
    a, b = q * (n + 1), (1 - q) * (n + 1)
    m = 200_000
    t = (np.arange(m) + 0.5) / m
    log_pdf = (a - 1) * np.log(t) + (b - 1) * np.log1p(-t)
    cdf = np.concatenate(([0.0], np.cumsum(np.exp(log_pdf - log_pdf.max()))))
    cdf /= cdf[-1]
    w = np.diff(cdf[np.round(np.arange(n + 1) * m / n).astype(int)])
    return float(w @ x)


def metric(value: float, unit: str) -> dict:
    return {"value": value, "unit": unit}
