"""Pure-Python reference outputs for the extraction workload's check.

``extract_document`` run directly over the generated rows gives each
url's expected (status, error_kind, text bytes, category, metadata);
``processing_time`` is not compared.  The rows are split across nproc
child processes of this script:

    python3 perfbench/expected.py LO HI OUT   # pickles rows [LO, HI)
"""

from __future__ import annotations

import os
import pickle
import subprocess
import sys

FIELDS = ("status", "error_kind", "text", "category", "metadata")


def _norm(v):
    if hasattr(v, "asDict"):
        v = v.asDict(recursive=True)
    if isinstance(v, dict):
        return {k: _norm(x) for k, x in sorted(v.items())}
    if isinstance(v, (list, tuple)):
        return [_norm(x) for x in v]
    return v


def fields(d: dict) -> tuple:
    """The compared fields of one result row (a dict keyed like
    RESULT_SCHEMA, from ``extract_document`` or a collected Spark row)."""
    from docvault_ocr_service_spark.schemas import METADATA_SCHEMA

    meta = d.get("metadata")
    if meta is not None:
        meta = _norm({f.name: meta.get(f.name)
                      for f in METADATA_SCHEMA.fields})
    text = d.get("text")
    return (d["status"], d.get("error_kind"),
            None if text is None else text.encode("utf-8"),
            d.get("category"), meta)


def expected_rows(lo: int, hi: int) -> list[tuple[str, tuple]]:
    """(url, fields) of ``extract_document`` over corpus rows [lo, hi)."""
    from docvault_ocr_service_spark.corpus import generate_row
    from docvault_ocr_service_spark.extract.document import extract_document

    out = []
    for i in range(lo, hi):
        r = generate_row(i)
        d = extract_document(r["url"], r["html"], r["text"], r["lang"])
        out.append((d["url"], fields(d)))
    return out


def expected_outputs(rows: range, work: str, procs: int,
                     timeout: float = 120.0) -> dict[str, tuple]:
    """url → expected fields over ``rows``, computed by ``procs`` child
    processes that have all exited when this returns."""
    step = -(-len(rows) // procs)
    jobs = []
    for k, lo in enumerate(range(rows.start, rows.stop, step)):
        out = os.path.join(work, f"expected-{k}.pkl")
        cmd = [sys.executable, os.path.abspath(__file__), str(lo),
               str(min(lo + step, rows.stop)), out]
        jobs.append((subprocess.Popen(cmd), out))
    result: dict[str, tuple] = {}
    try:
        for proc, out in jobs:
            if proc.wait(timeout=timeout) != 0:
                raise RuntimeError(f"expected-output child failed: "
                                   f"{proc.args}")
            with open(out, "rb") as f:
                result.update(pickle.load(f))
    finally:
        for proc, _out in jobs:
            if proc.poll() is None:
                proc.kill()
                proc.wait()
    return result


def compare_outputs(expected: dict[str, tuple],
                    checkpoint: dict[str, tuple],
                    results: dict[str, tuple]) -> list[str]:
    """Problems found; empty when a job's tables match ``expected``.

    ``checkpoint``: url → (status, error_kind) of every checkpoint row;
    ``results``: url → fields of its ``read_results_current`` row (done
    rows only)."""
    problems = []
    if set(checkpoint) != set(expected):
        problems.append(
            f"checkpoint urls differ: {len(set(checkpoint) - set(expected))}"
            f" extra, {len(set(expected) - set(checkpoint))} missing")
    done = {u for u, f in expected.items() if f[0] == "done"}
    if set(results) != done:
        problems.append(
            f"results urls differ: {len(set(results) - done)} extra, "
            f"{len(done - set(results))} missing")
    for url, exp in expected.items():
        cp = checkpoint.get(url)
        if cp is not None and cp != exp[:2]:
            problems.append(f"{url}: checkpoint {cp} != {exp[:2]}")
        got = results.get(url)
        if got is not None and got != exp:
            diff = [n for n, a, b in zip(FIELDS, got, exp) if a != b]
            problems.append(f"{url}: results differ in {diff}")
    return problems


if __name__ == "__main__":
    lo, hi, path = int(sys.argv[1]), int(sys.argv[2]), sys.argv[3]
    with open(path, "wb") as f:
        pickle.dump(expected_rows(lo, hi), f)
