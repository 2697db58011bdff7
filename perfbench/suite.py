"""The ``operator_suite`` workload: headline queries to the noop sink.

One client runs a fixed subset of ``bench.HEADLINE`` through
``__spark_entry__.queries()`` in a closed loop over ``data/sf0.01``, a
byte-for-byte copy of the sf0.01 tables the queries and their oracles
were written against, kept in the benchmark's directory because a run
reads nothing outside its checkout.  Each query is written to Spark's
``noop`` sink, so every column is computed; ``.count()`` would let
Catalyst prune the UDF columns.  ``--seed`` permutes the query order.

The subset keeps one pass near eight seconds on four cores while still
covering the layers this workload stands for: the metadata and
categorize kernels (``invoice_metadata_from_orders``,
``doc_categories``), dedup (MinHash LSH with its connected-components
loop), the link graph and its scoped shuffle tuning
(``host_pagerank``), similarity (k-NN), text statistics and one plain
TPC-H aggregate.

One pass's time is the sum over queries of each query's median over
the run's passes, so the first timed pass's compilation of the noop
plans and a transient stall on a shared host both drop out.

The warm pass in set-up collects each query's output; after the run
the check compares it with the query's ``oracle_sql()`` twin on DuckDB
over the same tables, using ``tools/check_oracles.py``'s comparison.
"""

from __future__ import annotations

import importlib
import os
import random
import statistics
import sys
import time

import engine
from procfs import tree_peak_rss_mb
from spans import Phases, SpanRecorder

QUERIES = (
    "q1_pricing_summary",
    "doc_token_stats",
    "doc_categories",
    "invoice_metadata_from_orders",
    "minhash_dup_pairs",
    "host_pagerank",
    "knn_bruteforce",
)
SF_DIR = os.path.join(os.path.dirname(os.path.abspath(__file__)),
                      "data", "sf0.01")
MIN_PASSES = 3   # per run, at least: a per-query median needs three


def _tool(root: str, name: str):
    """Import ``tools/<name>.py`` without keeping its sys.path edit."""
    saved = list(sys.path)
    sys.path.insert(0, os.path.join(root, "tools"))
    try:
        return importlib.import_module(name)
    finally:
        sys.path[:] = saved


def check(root: str, sf_dir: str, outputs: dict) -> dict[str, str]:
    """query → problem, for every query whose output is wrong."""
    import duckdb

    import __spark_entry__ as entry
    from docvault_ocr_service_spark.sources.tables import TPCH_TABLES

    compare = _tool(root, "check_oracles").compare
    oracles = entry.oracle_sql()
    con = duckdb.connect()
    try:
        for t in TPCH_TABLES:
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                        f"read_parquet('{sf_dir}/{t}.parquet')")
        bad = {}
        for name, got in outputs.items():
            if isinstance(got, str):
                bad[name] = got
                continue
            verdict = compare(name, got, con.execute(oracles[name]).df())
            if not verdict.startswith("OK"):
                bad[name] = verdict
        return bad
    finally:
        con.close()


def run(seed: int, seconds: float, work: str, trace: bool) -> dict:
    import __spark_entry__ as entry
    from eventlog import EventLog

    root = os.getcwd()
    order = list(QUERIES)
    random.Random(seed).shuffle(order)
    qs = entry.queries()

    phase = Phases()
    with phase("session"):
        spark = engine.start(work, event_log=trace)
    sf_dir = SF_DIR
    try:
        def one_pass(rec: SpanRecorder | None) -> tuple:
            """(wall s, per-query s, per-query error)"""
            per, errors = {}, {}
            start = time.perf_counter()
            for q in order:
                t = time.perf_counter()
                try:
                    df = qs[q](spark, sf_dir)
                    if rec is None:
                        df.write.format("noop").mode("overwrite").save()
                    else:
                        with rec.span(f"q.{q}"):
                            df.write.format("noop").mode("overwrite").save()
                except Exception as e:  # noqa: BLE001 - counted as failed
                    errors[q] = f"{type(e).__name__}: {e}"
                per[q] = time.perf_counter() - t
            return time.perf_counter() - start, per, errors

        with phase("warm"):
            # collect every output once, for the check after the run
            outputs = {}
            for q in order:
                try:
                    outputs[q] = qs[q](spark, sf_dir).toPandas()
                except Exception as e:  # noqa: BLE001 - a failed output
                    outputs[q] = f"{type(e).__name__}: {e}"
        # the session's start and each plan's first run happen once per
        # JVM, so unlike the extraction input they cannot be repeated
        setup_s = phase.seconds["session"] + phase.seconds["warm"]
        with phase("timed"):
            passes = []
            start = time.perf_counter()
            while (len(passes) < MIN_PASSES
                   or time.perf_counter() - start < seconds):
                passes.append(one_pass(None))
                if len(passes) == 1:
                    # after a fixed amount of work, however many follow
                    peak = tree_peak_rss_mb()
        queries_s = {q: statistics.median(p[1][q] for p in passes)
                     for q in order}
        op_s = sum(queries_s.values())
        layers = {}
        if trace:
            with phase("traced"):
                rec = SpanRecorder()
                with rec.trace("suite") as root_span:
                    _, per, _ = one_pass(rec)
            layers["trace.total_s"] = root_span.seconds
            layers["trace.overhead_frac"] = \
                (root_span.seconds - op_s) / op_s
    finally:
        with phase("stop"):
            engine.stop(spark)
    with phase("check"):
        bad = check(root, sf_dir, outputs)

    failed = 0
    problems = []
    for *_, errors in passes:
        for q in order:
            if q in errors or q in bad:
                failed += 1
                problems.append(f"{q}: {errors.get(q) or bad[q]}")
    out = {
        "attempted": len(passes) * len(order),
        "failed": failed,
        "problems": problems[:20],
        "ops_s": [p[0] for p in passes],
        "phases_s": phase.seconds,
        "queries_s": queries_s,
        "metrics": {"op_s": op_s, "setup_s": setup_s, "peak_rss_mb": peak},
    }
    if trace:
        log = EventLog(os.path.join(work, "eventlog"))
        w = log.window(root_span.start, root_span.end)
        for k in ("jobs", "tasks", "executor_run_s", "python_run_s",
                  "driver_gap_s"):
            layers[f"suite.{k}"] = w[k]
        for q in order:
            layers[f"q.{q}.s"] = per[q]
        layers["mem.peak_rss_mb"] = peak
        rec.dump(os.path.join(work, "spans.json"))
        out["layers"] = layers
    return out
