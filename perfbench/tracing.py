"""Spans, Spark status REST reads and the statistics the benchmark
reports.

Spans are recorded by the benchmark around its calls into the engine's
public functions; nothing inside the engine is changed. Each root span
is one API call and carries a call id; its Spark jobs are found through
the job group the tracer sets around it. Spark's numbers come from the
driver's own status REST API (`sc.uiWebUrl + /api/v1/...`) after the
traced phase, once the listener bus has drained.
"""

from __future__ import annotations

import contextlib
import json
import re
import time
import urllib.request
from dataclasses import dataclass, field
from datetime import datetime, timezone


def median(values: list[float]) -> float:
    """The middle value; the mean of the middle two for an even count."""
    if not values:
        raise ValueError("median of no values")
    xs = sorted(values)
    mid = len(xs) // 2
    return xs[mid] if len(xs) % 2 else (xs[mid - 1] + xs[mid]) / 2


def union_ms(intervals: list[tuple[float, float]], lo: float, hi: float) -> float:
    """Length of the union of `intervals`, clipped to [lo, hi]."""
    clipped = sorted((max(a, lo), min(b, hi)) for a, b in intervals if b > lo and a < hi)
    total, cur_a, cur_b = 0.0, None, None
    for a, b in clipped:
        if cur_b is None or a > cur_b:
            if cur_b is not None:
                total += cur_b - cur_a
            cur_a, cur_b = a, b
        else:
            cur_b = max(cur_b, b)
    if cur_b is not None:
        total += cur_b - cur_a
    return total


@dataclass
class Span:
    span_id: int
    name: str
    call_id: int
    parent: int | None
    start: float  # epoch seconds
    end: float = 0.0
    attrs: dict = field(default_factory=dict)

    @property
    def ms(self) -> float:
        return (self.end - self.start) * 1000.0


class Tracer:
    """In-memory span recorder. `call` opens a root span (one API call)
    and names the Spark job group after it; `span` opens a child of
    the innermost open span. When disabled both are no-ops, so the
    untraced and traced phases run the same code."""

    def __init__(self, sc, enabled: bool):
        self.sc = sc
        self.enabled = enabled
        self.spans: list[Span] = []
        self._stack: list[Span] = []
        self._next_call = 0

    @contextlib.contextmanager
    def call(self, name: str, **attrs):
        if not self.enabled:
            yield None
            return
        call_id = self._next_call
        self._next_call += 1
        self.sc.setJobGroup(f"{name}#{call_id}", name, False)
        try:
            with self._open(name, call_id, None, attrs) as s:
                yield s
        finally:
            self.sc.setLocalProperty("spark.jobGroup.id", None)
            self.sc.setLocalProperty("spark.job.description", None)

    @contextlib.contextmanager
    def span(self, name: str, **attrs):
        if not self.enabled or not self._stack:
            yield None
            return
        top = self._stack[-1]
        with self._open(name, top.call_id, top.span_id, attrs) as s:
            yield s

    @contextlib.contextmanager
    def _open(self, name, call_id, parent, attrs):
        s = Span(len(self.spans), name, call_id, parent, time.time(), attrs=dict(attrs))
        self.spans.append(s)
        self._stack.append(s)
        try:
            yield s
        finally:
            s.end = time.time()
            self._stack.pop()

    def add(self, name: str, call_id: int, parent: int, start: float, end: float, **attrs) -> Span:
        """Record a finished span measured elsewhere (a Spark job)."""
        s = Span(len(self.spans), name, call_id, parent, start, end, dict(attrs))
        self.spans.append(s)
        return s

    def roots(self) -> list[Span]:
        return [s for s in self.spans if s.parent is None]

    def children(self, span: Span) -> list[Span]:
        return [s for s in self.spans if s.parent == span.span_id]

    def self_ms(self, span: Span) -> float:
        """Duration minus the part of it that child spans cover."""
        covered = union_ms([(c.start, c.end) for c in self.children(span)], span.start, span.end)
        return span.ms - covered * 1000.0

    def dump(self, path: str, summary: dict) -> None:
        out = {
            "summary": summary,
            "spans": [
                {
                    "id": s.span_id, "name": s.name, "call_id": s.call_id,
                    "parent": s.parent, "start": s.start, "end": s.end,
                    "ms": round(s.ms, 3), "self_ms": round(self.self_ms(s), 3),
                    **({"attrs": s.attrs} if s.attrs else {}),
                }
                for s in self.spans
            ],
        }
        with open(path, "w") as fh:
            json.dump(out, fh, indent=1)


# ----------------------------------------------------------- REST

_UNITS = {
    "ns": 1e-6, "ms": 1.0, "s": 1e3, "m": 60e3, "min": 60e3, "h": 3600e3,
    "B": 1.0, "KiB": 1024.0, "MiB": 1024.0**2, "GiB": 1024.0**3, "TiB": 1024.0**4,
}
_METRIC_RE = re.compile(r"^\s*(-?[\d,]*\.?\d+)\s*([A-Za-z]+)?")


def parse_metric(value: str) -> float:
    """A Spark SQL UI metric string → a number: milliseconds for
    times, bytes for sizes, the plain count otherwise. Accumulated
    metrics read `total (min, med, max (stageId: taskId))\\n<total>
    (<min>, <med>, <max> (...))`; only the total is kept."""
    text = value.split("\n", 1)[1] if "\n" in value else value
    m = _METRIC_RE.match(text)
    if m is None:
        raise ValueError(f"unparseable metric value: {value!r}")
    num = float(m.group(1).replace(",", ""))
    unit = m.group(2)
    if unit is None:
        return num
    if unit not in _UNITS:
        raise ValueError(f"unknown metric unit {unit!r} in {value!r}")
    return num * _UNITS[unit]


def parse_time(stamp: str) -> float:
    """REST timestamps ('2026-01-02T03:04:05.678GMT') → epoch seconds."""
    dt = datetime.strptime(stamp.replace("GMT", ""), "%Y-%m-%dT%H:%M:%S.%f")
    return dt.replace(tzinfo=timezone.utc).timestamp()


class SparkStatus:
    """Reads the local driver's status REST API."""

    def __init__(self, sc):
        self.sc = sc
        self.base = f"{sc.uiWebUrl}/api/v1/applications/{sc.applicationId}"

    def get(self, path: str):
        with urllib.request.urlopen(self.base + path, timeout=30) as resp:
            return json.load(resp)

    def drain(self, timeout_s: float = 20.0) -> None:
        """Wait until the listener bus has delivered every event, so the
        status store holds each finished job, stage and execution."""
        self.sc._jsc.sc().listenerBus().waitUntilEmpty(int(timeout_s * 1000))

    def snapshot(self) -> dict:
        return {
            "jobs": self.get("/jobs"),
            "stages": self.get("/stages"),
            "sql": self.get("/sql?details=true&planDescription=false&length=100000"),
            "rdd": self.get("/storage/rdd"),
        }


PY_NODES = ("MapInPandas", "MapInArrow", "FlatMapGroupsInPandas", "ArrowEvalPython",
            "BatchEvalPython", "FlatMapCoGroupsInPandas", "PythonMapInArrow")


@dataclass
class CallSpark:
    """Spark work attributed to one root call."""
    jobs: int = 0
    stages: int = 0
    tasks: int = 0
    run_ms: float = 0.0
    deser_ms: float = 0.0
    gc_ms: float = 0.0
    shuffle_read: float = 0.0
    shuffle_write: float = 0.0
    stage_spans: list = field(default_factory=list)
    first_submit: float | None = None
    py_run_ms: float = 0.0
    py_init_ms: float = 0.0
    to_py: float = 0.0
    from_py: float = 0.0
    scan_rows: dict = field(default_factory=dict)


def attribute(snapshot: dict) -> dict[str, CallSpark]:
    """Group jobs, stages and SQL node metrics by job group."""
    stages = {(s["stageId"], s["attemptId"]): s for s in snapshot["stages"]}
    by_stage: dict[int, list] = {}
    for s in stages.values():
        by_stage.setdefault(s["stageId"], []).append(s)
    out: dict[str, CallSpark] = {}
    job_group: dict[int, str] = {}
    for job in snapshot["jobs"]:
        group = job.get("jobGroup")
        if not group:
            continue
        job_group[job["jobId"]] = group
        c = out.setdefault(group, CallSpark())
        c.jobs += 1
        submit = parse_time(job["submissionTime"])
        c.first_submit = submit if c.first_submit is None else min(c.first_submit, submit)
        for sid in job["stageIds"]:
            for st in by_stage.get(sid, []):
                if st["status"] == "SKIPPED" or "submissionTime" not in st:
                    continue
                c.stages += 1
                c.tasks += st["numTasks"]
                c.run_ms += st["executorRunTime"]
                c.deser_ms += st["executorDeserializeTime"]
                c.gc_ms += st["jvmGcTime"]
                c.shuffle_read += st["shuffleReadBytes"]
                c.shuffle_write += st["shuffleWriteBytes"]
                end = st.get("completionTime", st["submissionTime"])
                c.stage_spans.append((sid, parse_time(st["submissionTime"]), parse_time(end)))
    for ex in snapshot["sql"]:
        jobs = ex.get("successJobIds", []) + ex.get("failedJobIds", []) + ex.get("runningJobIds", [])
        groups = {job_group[j] for j in jobs if j in job_group}
        if len(groups) != 1:
            continue
        c = out[groups.pop()]
        for node in ex.get("nodes", []):
            metrics = {m["name"]: m["value"] for m in node.get("metrics", [])}
            name = node["nodeName"]
            if name in PY_NODES:
                c.py_run_ms += parse_metric(metrics.get("time to run Python workers", "0"))
                c.py_init_ms += parse_metric(metrics.get("time to start Python workers", "0"))
                c.py_init_ms += parse_metric(metrics.get("time to initialize Python workers", "0"))
                c.to_py += parse_metric(metrics.get("data sent to Python workers", "0"))
                c.from_py += parse_metric(metrics.get("data returned from Python workers", "0"))
            elif name.startswith("Scan parquet"):
                rows = parse_metric(metrics.get("number of output rows", "0"))
                c.scan_rows[name] = c.scan_rows.get(name, 0.0) + rows
    return out
