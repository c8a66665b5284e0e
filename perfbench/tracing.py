"""Spans, self time and Spark event-log parsing for the traced run.

Spans are recorded from the benchmark's own files, around its calls into
each layer; nothing inside the program is instrumented. They stay in memory
and are written out once, when the run ends.
"""

from __future__ import annotations

import json
import statistics
import time
from contextlib import contextmanager
from dataclasses import asdict, dataclass
from pathlib import Path


@dataclass
class Span:
    id: int
    name: str
    start: float        # epoch seconds (aligns with event-log timestamps)
    end: float
    parent: int | None
    run_id: str

    @property
    def duration(self) -> float:
        return self.end - self.start


class Tracer:
    """In-memory span recorder. ``enabled=False`` keeps the same call sites
    but only returns wall times, so untraced runs pay no recording cost."""

    def __init__(self, run_id: str, enabled: bool):
        self.run_id = run_id
        self.enabled = enabled
        self.spans: list[Span] = []
        self._stack: list[int] = []

    @contextmanager
    def span(self, name: str):
        start = time.time()
        sid = len(self.spans)
        if self.enabled:
            self.spans.append(Span(sid, name, start, start,
                                   self._stack[-1] if self._stack else None,
                                   self.run_id))
            self._stack.append(sid)
        box = {"start": start}
        try:
            yield box
        finally:
            end = time.time()
            box["wall"] = end - start
            if self.enabled:
                self._stack.pop()
                self.spans[sid].end = end

    def children(self, span: Span) -> list[Span]:
        return [s for s in self.spans if s.parent == span.id]

    def find(self, name: str) -> list[Span]:
        return [s for s in self.spans if s.name == name]

    def write(self, path: Path) -> None:
        path.parent.mkdir(parents=True, exist_ok=True)
        path.write_text(json.dumps([asdict(s) for s in self.spans]) + "\n")


def self_time(span: Span, children: list[Span]) -> float:
    """Span duration minus the part of it its children's intervals cover
    (overlapping children are merged, so nothing is subtracted twice)."""
    covered = 0.0
    cur_a = cur_b = None
    for c in sorted(children, key=lambda c: c.start):
        a, b = max(c.start, span.start), min(c.end, span.end)
        if b <= a:
            continue
        if cur_b is None or a > cur_b:
            if cur_b is not None:
                covered += cur_b - cur_a
            cur_a, cur_b = a, b
        else:
            cur_b = max(cur_b, b)
    if cur_b is not None:
        covered += cur_b - cur_a
    return span.duration - covered


class FnTimer:
    """Wraps module-level functions so each call becomes a span. Used only
    on the in-process kernel pass of the traced run."""

    def __init__(self, tracer: Tracer):
        self.tracer = tracer
        self._saved: list[tuple[object, str, object]] = []

    def wrap(self, module, attr: str, span_name: str) -> None:
        fn = getattr(module, attr)
        tracer = self.tracer

        def timed(*a, **kw):
            with tracer.span(span_name):
                return fn(*a, **kw)

        self._saved.append((module, attr, fn))
        setattr(module, attr, timed)

    def restore(self) -> None:
        for module, attr, fn in reversed(self._saved):
            setattr(module, attr, fn)
        self._saved.clear()


# ---------------------------------------------------------------- event log

PY_SENT = "data sent to Python workers"
PY_RECEIVED = "data returned from Python workers"


def _walk_plan(node: dict, out: dict) -> None:
    for m in node.get("metrics", []):
        out[m["accumulatorId"]] = (node.get("nodeName", ""), m["name"])
    for child in node.get("children", []):
        _walk_plan(child, out)


class EventLog:
    """The parts of a Spark event log the per-layer metrics need: one record
    per task (stage, launch/finish ms, run/GC ms, shuffle and spill bytes,
    SQL accumulator updates) and the job count."""

    def __init__(self, path: Path):
        self.tasks: list[dict] = []
        self.job_times: list[int] = []
        accum_names: dict = {}
        with open(path, encoding="utf-8") as fh:
            for line in fh:
                ev = json.loads(line)
                kind = ev.get("Event", "")
                if kind == "SparkListenerJobStart":
                    self.job_times.append(ev["Submission Time"])
                elif kind == "SparkListenerTaskEnd":
                    self._task(ev)
                elif kind.endswith("SparkListenerSQLExecutionStart") or \
                        kind.endswith("SparkListenerSQLAdaptiveExecutionUpdate"):
                    _walk_plan(ev.get("sparkPlanInfo", {}), accum_names)
        self.accum_names = accum_names

    def _task(self, ev: dict) -> None:
        info, m = ev["Task Info"], ev.get("Task Metrics") or {}
        shuffle_r = m.get("Shuffle Read Metrics", {})
        shuffle_w = m.get("Shuffle Write Metrics", {})
        self.tasks.append({
            "stage": ev["Stage ID"],
            "launch": info["Launch Time"],
            "finish": info["Finish Time"],
            "run_ms": m.get("Executor Run Time", 0),
            "gc_ms": m.get("JVM GC Time", 0),
            "shuffle_read": shuffle_r.get("Remote Bytes Read", 0)
            + shuffle_r.get("Local Bytes Read", 0),
            "shuffle_write": shuffle_w.get("Shuffle Bytes Written", 0),
            "spill": m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0),
            "accums": {a["ID"]: a.get("Update") for a in info.get("Accumulables", [])
                       if "Update" in a},
        })

    def window(self, start_s: float, end_s: float) -> "TaskWindow":
        return self.windows([(start_s, end_s)])

    def windows(self, spans: list[tuple[float, float]]) -> "TaskWindow":
        """The tasks and jobs inside any of the (start, end) wall-time spans,
        in epoch seconds; the window's wall time is the spans' sum."""
        ms = [(a * 1000.0, b * 1000.0) for a, b in spans]
        tasks = [t for t in self.tasks
                 if any(a <= t["launch"] and t["finish"] <= b for a, b in ms)]
        jobs = sum(1 for j in self.job_times if any(a <= j <= b for a, b in ms))
        return TaskWindow(tasks, jobs, sum(b - a for a, b in spans), self.accum_names)


class TaskWindow:
    """Spark counters over the tasks that ran inside one wall-time window."""

    def __init__(self, tasks, jobs, wall_s, accum_names):
        self.tasks, self.jobs, self.wall_s = tasks, jobs, wall_s
        self.accum_names = accum_names

    def total(self, key: str) -> int:
        return sum(t[key] for t in self.tasks)

    def stages(self) -> int:
        return len({t["stage"] for t in self.tasks})

    def busy_share(self, slots: int) -> float:
        return self.total("run_ms") / 1000.0 / (self.wall_s * slots)

    def heaviest_stage_skew(self) -> float:
        by_stage: dict = {}
        for t in self.tasks:
            by_stage.setdefault(t["stage"], []).append(t["run_ms"])
        if not by_stage:
            return 0.0
        runs = max(by_stage.values(), key=sum)
        med = statistics.median(runs)
        return max(runs) / med if med > 0 else float(max(runs) > 0)

    def sql_metric(self, node: str, name: str) -> int:
        ids = {i for i, (n, m) in self.accum_names.items() if n == node and m == name}
        total = 0
        for t in self.tasks:
            for i, v in t["accums"].items():
                if i in ids:  # SQL metric updates are logged as strings
                    total += int(v)
        return int(total)
