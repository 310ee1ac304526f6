"""Timing and tracing of the benchmark's calls into program layers.

Every call the benchmark makes into a layer goes through
:meth:`Probe.call`, which runs it under its own Spark job group and
times it. With tracing on, the probe also keeps a span per call (name,
start, end, parent span, request id) in memory, and reads the call's
job, task and failed-task counts from the public
``SparkContext.statusTracker()``. Spans are written out once, when the
run ends. The per-layer self times come from the spans alone.
"""

from __future__ import annotations

import json
import threading
import time
from collections import defaultdict
from contextlib import contextmanager


def self_times(spans: list[dict]) -> list[float]:
    """Per span: its duration minus the part of it its children cover."""
    children: dict[int, list[tuple[float, float]]] = defaultdict(list)
    for s in spans:
        if s["parent"] is not None:
            children[s["parent"]].append((s["start"], s["end"]))
    return [
        (s["end"] - s["start"]) - covered(children.get(i, []), s["start"], s["end"])
        for i, s in enumerate(spans)
    ]


def covered(intervals: list[tuple[float, float]], lo: float, hi: float) -> float:
    """Length of the union of ``intervals`` clipped to [lo, hi]."""
    total, reach = 0.0, lo
    for a, b in sorted(intervals):
        a, b = max(a, reach), min(b, hi)
        if b > a:
            total += b - a
            reach = b
    return total


class _StagePoller:
    """Collects stage counts of one job group while a long call runs:
    the status store keeps only the newest jobs and stages, so a call
    that runs hundreds of jobs is sampled as it goes."""

    def __init__(self, probe: "Probe", group: str, period_s: float = 0.5):
        self._probe, self._group, self._period = probe, group, period_s
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def __enter__(self) -> "_StagePoller":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=30)

    def _loop(self) -> None:
        while not self._stop.wait(self._period):
            self._probe._sample(self._group)


class Probe:
    def __init__(self, trace: bool):
        self.trace = trace
        self.t0 = time.perf_counter()
        self.spans: list[dict] = []
        self._open: list[int] = []
        self._request: str | None = None
        self._sc = None
        self._seq = 0
        # group -> job ids seen, stage id -> (completed tasks, failed tasks)
        self._jobs: dict[str, set[int]] = defaultdict(set)
        self._stages: dict[str, dict[int, tuple[int, int]]] = defaultdict(dict)
        self._lock = threading.Lock()
        #: layer -> {"jobs", "tasks", "failed_tasks"} (traced runs only)
        self.counts: dict[str, dict[str, int]] = defaultdict(
            lambda: {"jobs": 0, "tasks": 0, "failed_tasks": 0})

    def attach(self, spark) -> None:
        self._sc = spark.sparkContext

    def now(self) -> float:
        return time.perf_counter() - self.t0

    @contextmanager
    def span(self, name: str, layer: str | None = None):
        if not self.trace:
            yield
            return
        idx = len(self.spans)
        self.spans.append({
            "name": name, "layer": layer, "start": self.now(), "end": None,
            "parent": self._open[-1] if self._open else None,
            "request": self._request,
        })
        self._open.append(idx)
        try:
            yield
        finally:
            self._open.pop()
            self.spans[idx]["end"] = self.now()

    @contextmanager
    def request(self, request_id: str, name: str):
        """Group the layer calls of one request or job under one span."""
        prev, self._request = self._request, request_id
        try:
            with self.span(name):
                yield
        finally:
            self._request = prev

    def call(self, layer: str, phase: str, fn, *args, poll: bool = False, **kwargs):
        """Run ``fn`` as one operation of ``layer``; returns
        (result, seconds). ``phase`` names the span (``plan`` for the
        public call that returns a DataFrame, ``exec`` for its collect);
        ``poll`` samples job counts while the call runs."""
        group = f"{layer}#{self._seq}"
        self._seq += 1
        if self._sc is not None:
            self._sc.setJobGroup(group, f"{layer}.{phase}")
        t = time.perf_counter()
        try:
            with self.span(f"{layer}.{phase}", layer):
                if poll and self.trace and self._sc is not None:
                    with _StagePoller(self, group):
                        result = fn(*args, **kwargs)
                else:
                    result = fn(*args, **kwargs)
            return result, time.perf_counter() - t
        finally:
            if self._sc is not None:
                if self.trace:
                    self._sample(group)
                    self._count(group, layer)
                self._sc.setLocalProperty("spark.jobGroup.id", None)

    def _sample(self, group: str) -> None:
        tracker = self._sc.statusTracker()
        ids = list(tracker.getJobIdsForGroup(group))
        stages: dict[int, tuple[int, int]] = {}
        for jid in ids:
            info = tracker.getJobInfo(jid)
            for sid in (info.stageIds if info else ()):
                st = tracker.getStageInfo(sid)
                if st is not None:
                    stages[sid] = (st.numCompletedTasks, st.numFailedTasks)
        with self._lock:
            self._jobs[group].update(ids)
            self._stages[group].update(stages)

    def _count(self, group: str, layer: str) -> None:
        with self._lock:
            ids = self._jobs.pop(group, set())
            stages = self._stages.pop(group, {})
        c = self.counts[layer]
        # Job ids are sequential and this client runs one operation at a
        # time, so the id range also covers jobs a call runs from other
        # threads under another group (structured-streaming batches).
        c["jobs"] += (max(ids) - min(ids) + 1) if ids else 0
        c["tasks"] += sum(t for t, _ in stages.values())
        c["failed_tasks"] += sum(f for _, f in stages.values())

    def layer_seconds(self, start: float, end: float) -> dict[str, float]:
        """Self time per span name over spans that start in [start, end]."""
        out: dict[str, float] = defaultdict(float)
        for s, st in zip(self.spans, self_times(self.spans)):
            if s["layer"] is not None and start <= s["start"] <= end:
                out[s["name"]] += st
        return out

    def coverage(self, start: float, end: float) -> float:
        """Share of [start, end] covered by spans around layer calls."""
        iv = [(s["start"], s["end"]) for s in self.spans if s["layer"] is not None]
        return covered(iv, start, end) / max(end - start, 1e-9)

    def dump(self, path: str) -> None:
        with open(path, "w", encoding="utf-8") as fh:
            for i, s in enumerate(self.spans):
                fh.write(json.dumps(dict(s, id=i)) + "\n")
