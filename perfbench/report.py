"""The result lines a run prints.

The last line of standard output is the result object; the
line before it is the detail record (every metric of the run with its
unit, plus seed, nproc, load average at start and end, commit, per-op
and per-query timings, and the first output-check problems).  The
detail record is also appended to ``.perfbench/results.jsonl``.

Every traced run prints every per-layer metric BENCHMARK.json declares.
A layer the workload does not run reports 0: the operator suite writes
no checkpoint, and the extraction jobs run no headline query.
"""

from __future__ import annotations

import json

SUITE_ONLY = ("suite.", "q.")
SHARED = ("trace.", "mem.")


class MissingMetric(Exception):
    pass


def exercised(workload: str, name: str) -> bool:
    if name.startswith(SHARED):
        return True
    return name.startswith(SUITE_ONLY) == (workload == "operator_suite")


def metric_block(bench: dict, workload: str, trace: int,
                 values: dict[str, float]) -> dict[str, dict]:
    declared = bench["per_layer" if trace else "end_to_end"]
    out = {}
    for m in declared:
        name = m["name"]
        if name in values:
            v = values[name]
        elif trace and not exercised(workload, name):
            v = 0
        else:
            raise MissingMetric(f"{workload}: no value for {name}")
        out[name] = {"value": v, "unit": m["unit"]}
    return out


def final_line(bench: dict, workload: str, trace: int, correct: bool,
               attempted: int, failed: int,
               values: dict[str, float]) -> str:
    return json.dumps({
        "correct": bool(correct),
        "attempted": int(attempted),
        "failed": int(failed),
        "metrics": metric_block(bench, workload, trace, values),
    })
