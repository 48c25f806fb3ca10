"""Spans recorded around the benchmark's calls into each layer, and the
per-layer Spark metrics read back from the session's event log.

A span is (name, start, end, parent, run id), kept in memory and
written out once when the run ends. A layer's self time is its span's
duration minus the part of that interval its child spans cover.

The event log groups work by the job group the benchmark sets around
each layer call: every stage carries its job's properties, so a task is
charged to the layer that submitted its stage.
"""

from __future__ import annotations

import contextlib
import glob
import json
import os
import statistics
import time
from dataclasses import asdict, dataclass


@dataclass
class Span:
    name: str
    start: float
    end: float
    parent: int | None
    run_id: str


class Tracer:
    def __init__(self, run_id: str):
        self.run_id = run_id
        self.spans: list[Span] = []
        self._stack: list[int] = []

    @contextlib.contextmanager
    def span(self, name: str):
        parent = self._stack[-1] if self._stack else None
        idx = len(self.spans)
        self.spans.append(Span(name, time.perf_counter(), 0.0, parent, self.run_id))
        self._stack.append(idx)
        try:
            yield idx
        finally:
            self._stack.pop()
            self.spans[idx].end = time.perf_counter()

    def wall_s(self, idx: int) -> float:
        s = self.spans[idx]
        return s.end - s.start

    def self_s(self, idx: int) -> float:
        """Span duration minus the union of its children's intervals."""
        s = self.spans[idx]
        kids = sorted((c.start, c.end) for c in self.spans if c.parent == idx)
        covered, cur_start, cur_end = 0.0, None, None
        for a, b in kids:
            a, b = max(a, s.start), min(b, s.end)
            if cur_end is None or a > cur_end:
                if cur_end is not None:
                    covered += cur_end - cur_start
                cur_start, cur_end = a, b
            else:
                cur_end = max(cur_end, b)
        if cur_end is not None:
            covered += cur_end - cur_start
        return (s.end - s.start) - covered

    def by_name(self) -> dict[str, dict[str, float]]:
        """wall_s and self_s summed over every span of each name."""
        out: dict[str, dict[str, float]] = {}
        for i, s in enumerate(self.spans):
            agg = out.setdefault(s.name, {"wall_s": 0.0, "self_s": 0.0})
            agg["wall_s"] += self.wall_s(i)
            agg["self_s"] += self.self_s(i)
        return out

    def dump(self, path: str) -> None:
        with open(path, "w") as fh:
            for s in self.spans:
                fh.write(json.dumps(asdict(s)) + "\n")


# ---------------------------------------------------------------------------
# event log
# ---------------------------------------------------------------------------

#: SQL metric names Spark attaches to Python-UDF tasks
_PY_RUN = "time to run Python workers"            # ms
_PY_SENT = "data sent to Python workers"          # bytes
_PY_BACK = "data returned from Python workers"    # bytes


def read_events(log_dir: str) -> list[dict]:
    """Every event of every application log under ``log_dir`` (plain or
    rolling layout, uncompressed), in file order."""
    events = []
    paths = sorted(p for p in glob.glob(os.path.join(log_dir, "**", "*"), recursive=True)
                   if os.path.isfile(p) and not os.path.basename(p).startswith("appstatus"))
    for path in paths:
        with open(path) as fh:
            for line in fh:
                line = line.strip()
                if line:
                    events.append(json.loads(line))
    return events


def group_metrics(events: list[dict]) -> dict[str, dict[str, float]]:
    """Per job group: jobs, tasks, cpu_s (executor CPU), shuffle_mb
    (bytes written), py_s (Python worker run time), arrow_mb (bytes sent
    to and returned from Python workers) and task_skew (slowest task over
    the median task of the group's busiest stage)."""
    stage_group: dict[tuple[int, int], str] = {}
    out: dict[str, dict[str, float]] = {}
    task_ms: dict[tuple[int, int], list[int]] = {}

    def agg(group: str) -> dict[str, float]:
        return out.setdefault(group, {"jobs": 0, "tasks": 0, "cpu_s": 0.0, "shuffle_mb": 0.0,
                                      "py_s": 0.0, "arrow_mb": 0.0, "task_skew": 0.0})

    for e in events:
        kind = e.get("Event")
        if kind == "SparkListenerJobStart":
            group = (e.get("Properties") or {}).get("spark.jobGroup.id")
            if group:
                agg(group)["jobs"] += 1
        elif kind == "SparkListenerStageSubmitted":
            group = (e.get("Properties") or {}).get("spark.jobGroup.id")
            info = e["Stage Info"]
            if group:
                stage_group[(info["Stage ID"], info["Stage Attempt ID"])] = group
        elif kind == "SparkListenerTaskEnd":
            key = (e["Stage ID"], e["Stage Attempt ID"])
            group = stage_group.get(key)
            if group is None:
                continue
            g = agg(group)
            g["tasks"] += 1
            tm = e.get("Task Metrics") or {}
            g["cpu_s"] += tm.get("Executor CPU Time", 0) / 1e9
            g["shuffle_mb"] += (tm.get("Shuffle Write Metrics") or {}).get("Shuffle Bytes Written", 0) / 2**20
            task_ms.setdefault(key, []).append(tm.get("Executor Run Time", 0))
            for acc in (e.get("Task Info") or {}).get("Accumulables", []):
                name, upd = acc.get("Name"), acc.get("Update")
                if upd is None:
                    continue
                if name == _PY_RUN:
                    g["py_s"] += int(upd) / 1e3
                elif name in (_PY_SENT, _PY_BACK):
                    g["arrow_mb"] += int(upd) / 2**20
    busiest: dict[str, list[int]] = {}
    for key, ms in task_ms.items():
        group = stage_group[key]
        if sum(ms) > sum(busiest.get(group, [])):
            busiest[group] = ms
    for group, ms in busiest.items():
        med = statistics.median(ms)
        out[group]["task_skew"] = max(ms) / med if med > 0 else 1.0
    return out
