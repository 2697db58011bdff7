"""Layered benchmark of the resumable extraction job and the operator suite.

    python3 perfbench/run.py --workload extract_cold --seed 1 \
        --seconds 10 --trace 0

Run from the root of a checkout.  Workloads (BENCHMARK.json says why
each was chosen):

- extract_cold:   ``run_extract_job`` into an empty state dir;
- operator_suite: headline queries to the noop sink.

``--trace 0`` measures the end-to-end metrics with no tracing;
``--trace 1`` additionally turns on the Spark event log, runs one job
(or suite pass) decomposed into spans and times the extraction kernels,
and prints the per-layer metrics instead.  Every run checks the
program's outputs outside its timed regions.  Everything the run writes
goes under ``.perfbench/`` in the checkout.
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os
import shutil
import subprocess
import sys
import time


def _program_importable(root: str) -> bool:
    sys.path.insert(0, root)
    try:
        import __spark_entry__  # noqa: F401
        import docvault_ocr_service_spark.plans.extract_job  # noqa: F401
    except ImportError as e:
        print(f"perfbench: program not found under {root}: {e}",
              file=sys.stderr)
        return False
    return True


def _commit(root: str) -> dict:
    sha = None
    if os.path.isdir(os.path.join(root, ".git")):
        r = subprocess.run(["git", "rev-parse", "HEAD"], cwd=root,
                           capture_output=True, text=True, check=False)
        sha = r.stdout.strip() or None
    h = hashlib.sha256()
    paths = [os.path.join(root, "__spark_entry__.py")]
    for base, _dirs, files in os.walk(
            os.path.join(root, "docvault_ocr_service_spark")):
        paths += [os.path.join(base, f) for f in files if f.endswith(".py")]
    for p in sorted(paths):
        h.update(os.path.relpath(p, root).encode())
        with open(p, "rb") as f:
            h.update(f.read())
    return {"git": sha, "source_sha256": h.hexdigest()[:16]}


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    root = os.getcwd()
    bench_path = os.path.join(root, "BENCHMARK.json")
    with open(bench_path) as f:
        bench = json.load(f)
    if args.workload not in {w["name"] for w in bench["workloads"]}:
        print(f"perfbench: unknown workload {args.workload}",
              file=sys.stderr)
        return 2
    if not _program_importable(root):
        return 2

    import engine
    import report
    import selfcheck

    selfcheck.run_all(bench)

    out_dir = os.path.join(root, ".perfbench")
    tag = f"{args.workload}-s{args.seed}-t{args.trace}-{os.getpid()}"
    work = os.path.join(out_dir, "work", tag)
    if os.path.isdir(work):
        shutil.rmtree(work)
    os.makedirs(work)
    engine.prepare_env(root, work)
    load_start = os.getloadavg()
    started = time.time()
    try:
        if args.workload == "operator_suite":
            import suite as workload
        else:
            import extraction as workload
        res = workload.run(args.seed, args.seconds, work, bool(args.trace))
        values = res.get("layers") if args.trace else res["metrics"]
        correct = res["failed"] == 0
        final = report.final_line(bench, args.workload, args.trace,
                                  correct, res["attempted"], res["failed"],
                                  values)
        if args.trace:
            traces = os.path.join(out_dir, "traces")
            os.makedirs(traces, exist_ok=True)
            shutil.copy(os.path.join(work, "spans.json"),
                        os.path.join(traces, f"{tag}.json"))
    finally:
        shutil.rmtree(work, ignore_errors=True)

    units = {m["name"]: m["unit"]
             for m in bench["end_to_end"] + bench["per_layer"]}
    every = dict(res["metrics"], **res.get("layers", {}))
    detail = {
        "perfbench": 1,
        "workload": args.workload,
        "seed": args.seed,
        "seconds": args.seconds,
        "trace": args.trace,
        "nproc": engine.nproc(),
        "loadavg_start": load_start,
        "loadavg_end": os.getloadavg(),
        "wall_s": time.time() - started,
        "commit": _commit(root),
        "metrics": {k: {"value": v, "unit": units.get(k, "")}
                    for k, v in every.items()},
        "ops_s": res["ops_s"],
        "phases_s": res["phases_s"],
        "queries_s": res.get("queries_s", {}),
        "problems": res["problems"],
    }
    line = json.dumps(detail)
    with open(os.path.join(out_dir, "results.jsonl"), "a") as f:
        f.write(line + "\n")
    print(line)
    print(final, flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
