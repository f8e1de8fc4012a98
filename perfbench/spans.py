"""Span tracing from outside the engine.

``Tracer.install`` replaces each listed public function with a wrapper
on its defining module and on every loaded module of the package that
bound the same function object at import (``from ... import fn``).
No engine source changes. Each call records a span (name, layer,
start, end, parent, run id, process-tree CPU) and sets its own Spark
job group, so the jobs it launches can be attributed to the innermost
open span. Spans stay in memory; ``fold_event_log`` reads Spark's
uncompressed event log after the session stops and folds job, task
and stage-accumulable counts per job group.
"""

from __future__ import annotations

import functools
import importlib
import json
import os
import sys
import time
from contextlib import contextmanager
from dataclasses import dataclass

from measure import tree_cpu_delta, tree_cpu_sample


@dataclass
class Span:
    id: int
    name: str
    layer: str
    parent: int | None
    run_id: str
    start: float
    end: float = 0.0
    cpu_s: float = 0.0

    @property
    def group(self) -> str:
        return f"{self.run_id}-{self.id}"


def self_times(spans: list[Span]) -> dict[int, float]:
    """Seconds of each span's interval not covered by its children."""
    kids: dict[int | None, list[Span]] = {}
    for s in spans:
        kids.setdefault(s.parent, []).append(s)
    out = {}
    for s in spans:
        covered = 0.0
        cur_lo = cur_hi = None
        for c in sorted(kids.get(s.id, []), key=lambda c: c.start):
            lo, hi = max(c.start, s.start), min(c.end, s.end)
            if hi <= lo:
                continue
            if cur_hi is None or lo > cur_hi:
                if cur_hi is not None:
                    covered += cur_hi - cur_lo
                cur_lo, cur_hi = lo, hi
            else:
                cur_hi = max(cur_hi, hi)
        if cur_hi is not None:
            covered += cur_hi - cur_lo
        out[s.id] = (s.end - s.start) - covered
    return out


def self_cpu(spans: list[Span]) -> dict[int, float]:
    """Process-tree CPU of each span minus that of its children
    (attributable because one client thread makes every call)."""
    child_cpu: dict[int, float] = {}
    for s in spans:
        if s.parent is not None:
            child_cpu[s.parent] = child_cpu.get(s.parent, 0.0) + s.cpu_s
    return {s.id: max(0.0, s.cpu_s - child_cpu.get(s.id, 0.0)) for s in spans}


class Tracer:
    def __init__(self, sc, run_id: str) -> None:
        self.sc = sc
        self.run_id = run_id
        self.spans: list[Span] = []
        self.stack: list[Span] = []
        self.observers: dict[str, object] = {}  # span name -> fn(result)
        self._undo: list[tuple[object, str, object]] = []

    def _set_group(self, span: Span | None) -> None:
        if span is None:
            self.sc.setLocalProperty("spark.jobGroup.id", None)
            self.sc.setLocalProperty("spark.job.description", None)
        else:
            self.sc.setJobGroup(span.group, span.name)

    def enter(self, name: str, layer: str) -> tuple[Span, dict]:
        parent = self.stack[-1].id if self.stack else None
        span = Span(len(self.spans), name, layer, parent, self.run_id, 0.0)
        self.spans.append(span)
        self.stack.append(span)
        self._set_group(span)
        cpu0 = tree_cpu_sample()
        span.start = time.perf_counter()
        return span, cpu0

    def exit(self, span: Span, cpu0: dict) -> None:
        span.end = time.perf_counter()
        span.cpu_s = tree_cpu_delta(cpu0, tree_cpu_sample())
        self.stack.pop()
        self._set_group(self.stack[-1] if self.stack else None)

    @contextmanager
    def span(self, name: str, layer: str = "bench"):
        s, cpu0 = self.enter(name, layer)
        try:
            yield s
        finally:
            self.exit(s, cpu0)

    def _wrap(self, fn, name: str, layer: str):
        tracer = self

        @functools.wraps(fn)
        def wrapper(*args, **kwargs):
            with tracer.span(name, layer):
                out = fn(*args, **kwargs)
            if name in tracer.observers:
                tracer.observers[name](out)
            return out

        return wrapper

    def install(self, package: str, targets: dict[str, list[str]]) -> None:
        """``targets``: layer (module path under ``package``) -> public
        function names. Rebinds every loaded module of the package that
        holds the same function object."""
        for layer, names in targets.items():
            mod = importlib.import_module(f"{package}.{layer}")
            for fname in names:
                orig = getattr(mod, fname)
                wrapped = self._wrap(orig, f"{layer}.{fname}", layer)
                for mname, m in list(sys.modules.items()):
                    if m is None or not mname.startswith(package):
                        continue
                    for attr, val in list(vars(m).items()):
                        if val is orig:
                            setattr(m, attr, wrapped)
                            self._undo.append((m, attr, orig))

    def uninstall(self) -> None:
        for m, attr, orig in reversed(self._undo):
            setattr(m, attr, orig)
        self._undo.clear()

    def dump(self, path: str, groups: dict) -> None:
        selft = self_times(self.spans)
        with open(path, "w") as f:
            for s in self.spans:
                rec = dict(
                    id=s.id, name=s.name, layer=s.layer, parent=s.parent,
                    run_id=s.run_id, start=s.start, end=s.end,
                    self_s=selft[s.id], cpu_s=s.cpu_s,
                    spark=groups.get(s.group),
                )
                f.write(json.dumps(rec) + "\n")


_ACCUMS = {
    "internal.metrics.executorCpuTime": ("executor_cpu_s", 1e-9),
    "internal.metrics.shuffle.read.remoteBytesRead": ("shuffle_bytes", 1),
    "internal.metrics.shuffle.read.localBytesRead": ("shuffle_bytes", 1),
    "internal.metrics.shuffle.write.bytesWritten": ("shuffle_bytes", 1),
    "internal.metrics.memoryBytesSpilled": ("spill_bytes", 1),
    "internal.metrics.diskBytesSpilled": ("spill_bytes", 1),
}
SPARK_COUNTERS = ("jobs", "tasks", "executor_cpu_s", "shuffle_bytes", "spill_bytes")


def fold_event_log(log_dir: str) -> dict[str | None, dict[str, float]]:
    """Job group -> {jobs, tasks, executor_cpu_s, shuffle_bytes,
    spill_bytes}, folded from every event-log file under ``log_dir``.
    Jobs launched outside any span land under the ``None`` group."""
    stage_group: dict[int, str | None] = {}
    out: dict[str | None, dict[str, float]] = {}

    def bucket(g):
        return out.setdefault(g, dict.fromkeys(SPARK_COUNTERS, 0.0))

    files = sorted(
        os.path.join(d, f) for d, _, fs in os.walk(log_dir) for f in fs
        if not f.startswith(("appstatus", "."))
    )
    for path in files:
        with open(path) as f:
            for line in f:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    g = (ev.get("Properties") or {}).get("spark.jobGroup.id")
                    bucket(g)["jobs"] += 1
                    for sid in ev.get("Stage IDs", []):
                        stage_group[sid] = g
                elif kind == "SparkListenerStageCompleted":
                    info = ev["Stage Info"]
                    b = bucket(stage_group.get(info["Stage ID"]))
                    b["tasks"] += info.get("Number of Tasks", 0)
                    for acc in info.get("Accumulables", []):
                        key = _ACCUMS.get(acc.get("Name"))
                        if key is not None:
                            b[key[0]] += float(acc.get("Value", 0)) * key[1]
    return out
