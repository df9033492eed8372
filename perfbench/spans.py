"""Traced-run instruments: spans around the layer entry points the API
service calls, and a parser for Spark's JSON event log.

Spans are recorded from outside the program: ``Tracer.install`` swaps the
names ``api/service.py`` resolves at call time (``rasterize_all_touched``,
``mask_df``, ``zonal_series``, ``collect_with_timeout``, ``windows.*``,
``TimeseriesService.execute`` / ``execute_many``) for timing wrappers and
``uninstall`` puts the originals back. Spark jobs are assigned to a
benchmark call by the call's wall-clock window.
"""

from __future__ import annotations

import json
import time
from collections import defaultdict
from dataclasses import dataclass, field
from pathlib import Path

WINDOW_FNS = (
    "rolling_zscore",
    "fixed_interval_zscore",
    "fixed_reference_zscore",
    "centered_moving_average",
    "trailing_moving_average",
)


@dataclass
class Span:
    name: str
    start: float
    end: float
    parent: int | None  # index of the enclosing span, None at the top
    op: int
    count: int = 0  # cells, for rasterize spans

    @property
    def ms(self) -> float:
        return (self.end - self.start) * 1000


@dataclass
class Tracer:
    spans: list[Span] = field(default_factory=list)
    op: int = -1
    _stack: list[int] = field(default_factory=list)
    _saved: list[tuple[object, str, object]] = field(default_factory=list)

    def wrap(self, name: str, fn):
        def traced(*args, **kwargs):
            span = Span(name, time.perf_counter(), 0.0,
                        self._stack[-1] if self._stack else None, self.op)
            self.spans.append(span)
            self._stack.append(len(self.spans) - 1)
            try:
                out = fn(*args, **kwargs)
                if name == "geometry.rasterize":
                    span.count = len(out)
                return out
            finally:
                span.end = time.perf_counter()
                self._stack.pop()

        return traced

    def _patch(self, owner, attr: str, name: str) -> None:
        orig = getattr(owner, attr)
        self._saved.append((owner, attr, orig))
        setattr(owner, attr, self.wrap(name, orig))

    def install(self) -> None:
        from skope_api_spark.api import service
        from skope_api_spark.operators import windows

        self._patch(service.TimeseriesService, "execute", "service.execute")
        self._patch(service.TimeseriesService, "execute_many", "service.execute")
        self._patch(service, "collect_with_timeout", "service.collect")
        self._patch(service, "rasterize_all_touched", "geometry.rasterize")
        self._patch(service, "mask_df", "geometry.mask_df")
        self._patch(service, "zonal_series", "operators.zonal_series")
        for fn in WINDOW_FNS:
            self._patch(windows, fn, "operators.windows")

    def uninstall(self) -> None:
        while self._saved:
            owner, attr, orig = self._saved.pop()
            setattr(owner, attr, orig)

    def per_op(self, op: int) -> dict[str, float]:
        """Layer times (ms) and counts for one benchmark call."""
        mine = [(i, s) for i, s in enumerate(self.spans) if s.op == op]
        tot: dict[str, float] = defaultdict(float)
        calls: dict[str, int] = defaultdict(int)
        for i, s in mine:
            tot[s.name] += s.ms
            calls[s.name] += 1
            if s.name == "service.execute":
                children = sum(c.ms for c in self.spans if c.parent == i)
                tot["service.self"] += s.ms - children
        tot["geometry.cells"] = sum(s.count for _, s in mine)
        tot["service.collects"] = calls["service.collect"]
        return dict(tot)


# -- Spark event log ---------------------------------------------------------


@dataclass
class StageStats:
    tasks: int = 0
    run_ms: float = 0.0
    shuffle_write_bytes: int = 0
    input_rows: int = 0
    input_bytes: int = 0
    completed: bool = False


@dataclass
class Job:
    job_id: int
    submit_ms: int
    end_ms: int | None
    stage_ids: list[int]


def parse_eventlog(lines) -> tuple[dict[int, Job], dict[int, StageStats]]:
    """Jobs and per-stage task totals from Spark's JSON event log lines."""
    jobs: dict[int, Job] = {}
    stages: dict[int, StageStats] = defaultdict(StageStats)
    for line in lines:
        line = line.strip()
        if not line:
            continue
        ev = json.loads(line)
        kind = ev.get("Event")
        if kind == "SparkListenerJobStart":
            jobs[ev["Job ID"]] = Job(ev["Job ID"], ev["Submission Time"], None, list(ev["Stage IDs"]))
        elif kind == "SparkListenerJobEnd" and ev["Job ID"] in jobs:
            jobs[ev["Job ID"]].end_ms = ev["Completion Time"]
        elif kind == "SparkListenerStageCompleted":
            stages[ev["Stage Info"]["Stage ID"]].completed = True
        elif kind == "SparkListenerTaskEnd":
            st = stages[ev["Stage ID"]]
            m = ev.get("Task Metrics") or {}
            st.tasks += 1
            st.run_ms += m.get("Executor Run Time", 0)
            st.shuffle_write_bytes += (m.get("Shuffle Write Metrics") or {}).get("Shuffle Bytes Written", 0)
            inp = m.get("Input Metrics") or {}
            st.input_rows += inp.get("Records Read", 0)
            st.input_bytes += inp.get("Bytes Read", 0)
    return jobs, dict(stages)


App = tuple[dict[int, Job], dict[int, StageStats]]


def parse_eventlog_dir(path: Path) -> list[App]:
    """One (jobs, stages) per application log under ``path``; job and stage
    ids restart at 0 in every application."""
    return [
        parse_eventlog(f.read_text().splitlines())
        for f in sorted(path.rglob("*"))
        if f.is_file() and not f.name.startswith(".") and "appstatus" not in f.name
    ]


def _union_ms(intervals: list[tuple[float, float]]) -> float:
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def spark_per_window(apps: list[App], windows: list[tuple[float, float]]) -> list[dict[str, float]]:
    """Spark work per wall-clock window (epoch ms): every job submitted
    inside a window belongs to it."""
    out = []
    for w0, w1 in windows:
        mine, st = [], []
        for jobs, stages in apps:
            app_jobs = [j for j in jobs.values() if w0 <= j.submit_ms <= w1]
            done = {sid for j in app_jobs for sid in j.stage_ids if sid in stages and stages[sid].completed}
            mine += app_jobs
            st += [stages[s] for s in done]
        out.append({
            "jobs": len(mine),
            "stages": len(st),
            "tasks": sum(s.tasks for s in st),
            "job_ms": _union_ms([(j.submit_ms, j.end_ms or j.submit_ms) for j in mine]),
            "task_run_ms": sum(s.run_ms for s in st),
            "shuffle_write_bytes": sum(s.shuffle_write_bytes for s in st),
            "input_rows": sum(s.input_rows for s in st),
            "input_bytes": sum(s.input_bytes for s in st),
        })
    return out
