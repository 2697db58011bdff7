"""Auxiliary benchmarks for the optimization rounds (bench.py is frozen
for measurement; this file is where extra evidence lives — guide §1.4).

Modes:
  python bench_extra.py                 # headline phase only, FULL
                                        # per-query map (median-of-3,
                                        # same session/methodology as
                                        # bench.py's run_headline)
  python bench_extra.py --query NAME [NAME ...]
                                        # isolated: fresh session, warm
                                        # pass, median-of-5 per query
                                        # (noop sink)
  python bench_extra.py --explain NAME [NAME ...]
                                        # write .explain("formatted")
                                        # for the query to stdout
  python bench_extra.py --noop NAME [NAME ...]
                                        # time with the noop sink in
                                        # one shared session

``--query`` and ``--noop`` time with the noop sink, which computes
every column (``.count()`` lets Catalyst prune UDF columns).  A mode
flag needs at least one query name; anything else prints this usage
and exits 1.  All modes print one JSON line at the end.
"""

from __future__ import annotations

import json
import os
import sys
import time

REPO = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, REPO)

import bench as benchmod  # noqa: E402  (frozen; reused, never edited)

SF_DIR = benchmod.SF_DIR
CPUS = benchmod.CPUS


def _warm(spark) -> None:
    spark.read.parquet(os.path.join(SF_DIR, "lineitem.parquet")).count()
    spark.range(256).mapInPandas(lambda it: it, schema="id long").count()


def _run_noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def headline_full() -> None:
    spark = benchmod._fresh_session(CPUS)
    timings = benchmod.run_headline(spark)
    spark.stop()
    print(json.dumps({
        "mode": "headline_full",
        "value": round(sum(timings.values()), 3),
        "unit": "sec",
        "queries": timings,
        "n_queries": len(timings),
        "sf": SF_DIR.rstrip("/").rsplit("sf", 1)[-1],
        "loadavg": round(os.getloadavg()[0], 2),
    }))


def isolated(names: list[str], reps: int = 5) -> None:
    import __spark_entry__ as entrymod

    out: dict[str, dict] = {}
    for name in names:
        spark = benchmod._fresh_session(CPUS)
        _warm(spark)
        qs = entrymod.queries()
        spark.sparkContext.setJobDescription(f"isolated:{name}")
        _run_noop(qs[name](spark, SF_DIR))  # warm pass
        samples = []
        for _ in range(reps):
            t0 = time.monotonic()
            _run_noop(qs[name](spark, SF_DIR))
            samples.append(round(time.monotonic() - t0, 3))
        spark.stop()
        out[name] = {"median": sorted(samples)[len(samples) // 2],
                     "min": min(samples), "samples": samples}
    print(json.dumps({"mode": "isolated", "queries": out,
                      "loadavg": round(os.getloadavg()[0], 2)}))


def explain(names: list[str]) -> None:
    import __spark_entry__ as entrymod

    spark = benchmod._fresh_session(CPUS)
    qs = entrymod.queries()
    for name in names:
        df = qs[name](spark, SF_DIR)
        print(f"==== {name} ====")
        print(df._sc._jvm.PythonSQLUtils.explainString(
            df._jdf.queryExecution(), "formatted"))
    spark.stop()
    print(json.dumps({"mode": "explain", "queries": names}))


def noop(names: list[str], reps: int = 3) -> None:
    import __spark_entry__ as entrymod

    out: dict[str, dict] = {}
    spark = benchmod._fresh_session(CPUS)
    _warm(spark)
    qs = entrymod.queries()
    for name in names:
        _run_noop(qs[name](spark, SF_DIR))  # warm
        samples = []
        for _ in range(reps):
            t0 = time.monotonic()
            _run_noop(qs[name](spark, SF_DIR))
            samples.append(round(time.monotonic() - t0, 3))
        out[name] = {"median": sorted(samples)[len(samples) // 2],
                     "samples": samples}
    spark.stop()
    print(json.dumps({"mode": "noop", "queries": out}))


_MODES = {"--query": isolated, "--explain": explain, "--noop": noop}

if __name__ == "__main__":
    args = sys.argv[1:]
    if not args:
        headline_full()
    elif args[0] in _MODES and len(args) > 1:
        _MODES[args[0]](args[1:])
    else:
        sys.exit(__doc__)
