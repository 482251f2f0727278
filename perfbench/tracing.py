"""Spans recorded around layer calls, and per-layer Spark metrics read back
from the run's event log. Standard library only.

A span is (name, start, end, parent, run_id). Spans stay in memory while the
run goes and are written out once at the end. Each span also names the Spark
job group that was active while it was open, so the jobs, stages and tasks
of the event log can be charged to the layer that submitted them.
"""

from __future__ import annotations

import json
import time
from contextlib import contextmanager
from dataclasses import asdict, dataclass
from typing import Callable, Dict, Iterable, List, Optional

JOB_GROUP_PREFIX = "perfbench"


@dataclass
class Span:
    name: str
    start: float
    end: float
    parent: Optional[str]
    run_id: int

    @property
    def wall(self) -> float:
        return self.end - self.start


def job_group(run_id: int, name: str) -> str:
    return f"{JOB_GROUP_PREFIX}:{run_id}:{name}"


class Tracer:
    """Nested spans for one process. `set_group` is called with the job
    group of the innermost open span on entry and with the enclosing span's
    group on exit, so every Spark job lands in exactly one span."""

    def __init__(self, set_group: Callable[[Optional[str]], None] = lambda g: None):
        self.spans: List[Span] = []
        self._stack: List[str] = []
        self._set_group = set_group

    @contextmanager
    def span(self, name: str, run_id: int):
        parent = self._stack[-1] if self._stack else None
        self._stack.append(name)
        self._set_group(job_group(run_id, name))
        start = time.perf_counter()
        try:
            yield
        finally:
            end = time.perf_counter()
            self._stack.pop()
            self._set_group(job_group(run_id, parent) if parent else None)
            self.spans.append(Span(name, start, end, parent, run_id))

    def dump(self, path: str) -> None:
        with open(path, "w") as fh:
            json.dump([asdict(s) for s in self.spans], fh)


def _covered(intervals: Iterable[tuple]) -> float:
    """Length of the union of (start, end) intervals."""
    total, cur_start, cur_end = 0.0, None, None
    for start, end in sorted(intervals):
        if cur_end is None or start > cur_end:
            if cur_end is not None:
                total += cur_end - cur_start
            cur_start, cur_end = start, end
        else:
            cur_end = max(cur_end, end)
    if cur_end is not None:
        total += cur_end - cur_start
    return total


def self_times(spans: List[Span]) -> Dict[tuple, float]:
    """(run_id, name) -> span duration minus the part its children cover.
    Children are clipped to the parent's interval."""
    out = {}
    for s in spans:
        kids = [
            (max(c.start, s.start), min(c.end, s.end))
            for c in spans
            if c.run_id == s.run_id and c.parent == s.name
        ]
        out[(s.run_id, s.name)] = s.wall - _covered(k for k in kids if k[1] > k[0])
    return out


# --- event log --------------------------------------------------------------

_PY_ACCUMS = {
    "time to run Python workers": "py_time_ms",
    "data sent to Python workers": "py_bytes_sent",
    "data returned from Python workers": "py_bytes_received",
}
_WANTED = (
    '"SparkListenerJobStart"',
    '"SparkListenerStageCompleted"',
    '"SparkListenerTaskEnd"',
)


def _zero_stage() -> dict:
    return {
        "tasks": 0,
        "run_ms": 0,
        "cpu_ns": 0,
        "shuffle_read_bytes": 0,
        "shuffle_write_bytes": 0,
        "spill_bytes": 0,
        "peak_exec_mem_bytes": 0,
        "py_time_ms": 0,
        "py_bytes_sent": 0,
        "py_bytes_received": 0,
    }


def parse_event_log(lines: Iterable[str]) -> Dict[str, dict]:
    """job group -> {jobs, stages, tasks, run_ms, cpu_ns, shuffle bytes,
    spill_bytes, peak_exec_mem_bytes, py_*} summed over the completed stages
    of the group's jobs. A stage listed by several jobs is charged to the
    first job that lists it; skipped stages never complete and count
    nothing. Lines of other event types are skipped before decoding (plan
    descriptions make them the bulk of the file)."""
    stage_group: Dict[int, str] = {}
    jobs: Dict[str, int] = {}
    completed: set = set()
    per_stage: Dict[int, dict] = {}
    for line in lines:
        head = line[:48]
        if not any(w in head for w in _WANTED):
            continue
        ev = json.loads(line)
        kind = ev["Event"]
        if kind == "SparkListenerJobStart":
            group = (ev.get("Properties") or {}).get("spark.jobGroup.id")
            if group is None:
                continue
            jobs[group] = jobs.get(group, 0) + 1
            for sid in ev.get("Stage IDs", []):
                stage_group.setdefault(sid, group)
        elif kind == "SparkListenerStageCompleted":
            info = ev["Stage Info"]
            if "Failure Reason" not in info:
                completed.add(info["Stage ID"])
        else:
            sid = ev["Stage ID"]
            st = per_stage.setdefault(sid, _zero_stage())
            tm = ev.get("Task Metrics") or {}
            sr = tm.get("Shuffle Read Metrics") or {}
            sw = tm.get("Shuffle Write Metrics") or {}
            st["tasks"] += 1
            st["run_ms"] += tm.get("Executor Run Time", 0)
            st["cpu_ns"] += tm.get("Executor CPU Time", 0)
            st["shuffle_read_bytes"] += sr.get("Remote Bytes Read", 0) + sr.get(
                "Local Bytes Read", 0
            )
            st["shuffle_write_bytes"] += sw.get("Shuffle Bytes Written", 0)
            st["spill_bytes"] += tm.get("Memory Bytes Spilled", 0) + tm.get(
                "Disk Bytes Spilled", 0
            )
            st["peak_exec_mem_bytes"] = max(
                st["peak_exec_mem_bytes"], tm.get("Peak Execution Memory", 0)
            )
            for acc in (ev.get("Task Info") or {}).get("Accumulables", []):
                key = _PY_ACCUMS.get(acc.get("Name"))
                if key is not None:
                    st[key] += int(acc.get("Update") or 0)

    out: Dict[str, dict] = {
        g: dict(_zero_stage(), jobs=n, stages=0) for g, n in jobs.items()
    }
    for sid in sorted(completed):
        group = stage_group.get(sid)
        if group is None:
            continue
        agg = out[group]
        agg["stages"] += 1
        st = per_stage.get(sid, _zero_stage())
        for key, value in st.items():
            if key == "peak_exec_mem_bytes":
                agg[key] = max(agg[key], value)
            else:
                agg[key] += value
    return out


def layer_metrics(span: Span, self_s: float, spark: dict, cores: int) -> dict:
    """One layer's row: span times plus the Spark totals of its job group."""
    wall = span.wall
    return {
        "wall_s": wall,
        "self_s": self_s,
        "jobs": spark.get("jobs", 0),
        "stages": spark.get("stages", 0),
        "tasks": spark.get("tasks", 0),
        "cpu_s": spark.get("cpu_ns", 0) / 1e9,
        "slot_busy_frac": (spark.get("run_ms", 0) / 1e3) / (wall * cores)
        if wall > 0
        else 0.0,
        "shuffle_read_bytes": spark.get("shuffle_read_bytes", 0),
        "shuffle_write_bytes": spark.get("shuffle_write_bytes", 0),
        "spill_bytes": spark.get("spill_bytes", 0),
        "peak_exec_mem_bytes": spark.get("peak_exec_mem_bytes", 0),
        "py_time_s": spark.get("py_time_ms", 0) / 1e3,
        "py_bytes_sent": spark.get("py_bytes_sent", 0),
        "py_bytes_received": spark.get("py_bytes_received", 0),
    }
