"""Spark event-log reader: engine counts for a wall-clock window.

The benchmark turns on ``spark.eventLog`` for its own session in traced
runs and reads the log after ``spark.stop()``.  A span's engine figures
are those of the jobs submitted and the tasks finished inside the
span's [start, end] window; spans run one after another on one driver
thread, so windows do not overlap.

Per window: jobs, tasks, executor run / CPU / GC time, shuffle bytes
written, Python-worker run and start time and bytes sent to / returned
from Python workers (Spark's SQL metrics on the Arrow-Python
operators), the driver gap (window length minus the union of its job
intervals: planning, listings and the time between jobs), and the task
skew of its heaviest Python stage (max ÷ median task time).
"""

from __future__ import annotations

import json
import os
import statistics
from dataclasses import dataclass, field

# SQL metric names of the Python operators (timings in ms, sizes in B)
PY_RUN = "time to run Python workers"
PY_BOOT = "time to start Python workers"
PY_SENT = "data sent to Python workers"
PY_BACK = "data returned from Python workers"
_PY_METRICS = (PY_RUN, PY_BOOT, PY_SENT, PY_BACK)


@dataclass
class Task:
    stage_id: int
    launch: float
    finish: float
    run_s: float
    cpu_s: float
    gc_s: float
    shuffle_bytes: int
    python: dict[str, float] = field(default_factory=dict)


@dataclass
class Job:
    submit: float
    end: float


def _merged_length(intervals: list[tuple[float, float]]) -> float:
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


class EventLog:
    """Jobs and tasks parsed from every event file under ``log_dir``."""

    def __init__(self, log_dir: str) -> None:
        self.jobs: list[Job] = []
        self.tasks: list[Task] = []
        starts: dict[int, float] = {}
        for root, _dirs, files in os.walk(log_dir):
            for name in sorted(files):
                if name.startswith((".", "appstatus")):
                    continue
                with open(os.path.join(root, name)) as f:
                    for line in f:
                        self._event(json.loads(line), starts)

    def _event(self, e: dict, starts: dict[int, float]) -> None:
        kind = e.get("Event")
        if kind == "SparkListenerJobStart":
            starts[e["Job ID"]] = e["Submission Time"] / 1000.0
        elif kind == "SparkListenerJobEnd":
            submit = starts.pop(e["Job ID"], None)
            if submit is not None:
                self.jobs.append(Job(submit, e["Completion Time"] / 1000.0))
        elif kind == "SparkListenerTaskEnd":
            info, m = e["Task Info"], e.get("Task Metrics") or {}
            py = {}
            for acc in info.get("Accumulables", []):
                if acc.get("Name") in _PY_METRICS:
                    py[acc["Name"]] = py.get(acc["Name"], 0.0) \
                        + float(acc.get("Update") or 0)
            self.tasks.append(Task(
                stage_id=e["Stage ID"],
                launch=info["Launch Time"] / 1000.0,
                finish=info["Finish Time"] / 1000.0,
                run_s=m.get("Executor Run Time", 0) / 1000.0,
                cpu_s=m.get("Executor CPU Time", 0) / 1e9,
                gc_s=m.get("JVM GC Time", 0) / 1000.0,
                shuffle_bytes=(m.get("Shuffle Write Metrics") or {})
                .get("Shuffle Bytes Written", 0),
                python=py,
            ))

    def window(self, start: float, end: float) -> dict[str, float]:
        jobs = [j for j in self.jobs if start <= j.submit <= end]
        tasks = [t for t in self.tasks if start <= t.finish <= end]
        covered = _merged_length([(max(j.submit, start), min(j.end, end))
                                  for j in jobs])
        out = {
            "jobs": len(jobs),
            "tasks": len(tasks),
            "executor_run_s": sum(t.run_s for t in tasks),
            "executor_cpu_s": sum(t.cpu_s for t in tasks),
            "gc_s": sum(t.gc_s for t in tasks),
            "shuffle_bytes": sum(t.shuffle_bytes for t in tasks),
            "python_run_s": sum(t.python.get(PY_RUN, 0) for t in tasks)
            / 1000.0,
            "python_boot_s": sum(t.python.get(PY_BOOT, 0) for t in tasks)
            / 1000.0,
            "bytes_to_python": sum(t.python.get(PY_SENT, 0) for t in tasks),
            "bytes_from_python": sum(t.python.get(PY_BACK, 0)
                                     for t in tasks),
            "driver_gap_s": max(end - start - covered, 0.0),
            "task_skew": 0.0,
        }
        py_stages: dict[int, list[Task]] = {}
        for t in tasks:
            if t.python:
                py_stages.setdefault(t.stage_id, []).append(t)
        if py_stages:
            heaviest = max(py_stages.values(),
                           key=lambda ts: sum(t.run_s for t in ts))
            durs = [t.finish - t.launch for t in heaviest]
            med = statistics.median(durs)
            out["task_skew"] = max(durs) / med if med > 0 else 0.0
        return out
