"""Self-checks of the benchmark itself; every run calls ``run_all``
before it starts Spark, and ``python3 perfbench/selfcheck.py`` runs them
alone.

- flipping one byte of one url's text fails the extraction output check;
- two seeds give disjoint urls with equal template counts, and the
  last seed window's timestamps fit pandas' nanosecond range;
- the printer refuses a metric set that misses a name BENCHMARK.json
  declares, and emits every declared name.
"""

from __future__ import annotations

import json
import os
import sys

import extraction
from expected import compare_outputs, expected_rows


def check_flip_byte() -> None:
    start = extraction.window(0).start
    expected = dict(expected_rows(start, start + 40))
    checkpoint = {u: f[:2] for u, f in expected.items()}
    results = {u: f for u, f in expected.items() if f[0] == "done"}
    if compare_outputs(expected, checkpoint, results):
        raise AssertionError("output check rejects correct outputs")
    url = next(u for u, f in results.items() if f[2])
    status, kind, text, cat, meta = results[url]
    flipped = bytes([text[0] ^ 0x01]) + text[1:]
    results[url] = (status, kind, flipped, cat, meta)
    if not compare_outputs(expected, checkpoint, results):
        raise AssertionError("output check accepts a flipped text byte")


def check_seed_windows() -> None:
    from docvault_ocr_service_spark.corpus import generate_row, url_for

    a, b = extraction.window(1), extraction.window(2)
    if {url_for(i) for i in a} & {url_for(i) for i in b}:
        raise AssertionError("two seeds share urls")
    if extraction.template_counts(a) != extraction.template_counts(b):
        raise AssertionError("two seeds differ in template mix")
    last = extraction.window(extraction.SEED_WINDOWS - 1)
    if generate_row(last[-1])["warc_ts"].year >= 2262:
        raise AssertionError("a seed window's warc_ts passes pandas' "
                             "nanosecond range")


def check_printer(bench: dict) -> None:
    import report

    for trace, key in ((0, "end_to_end"), (1, "per_layer")):
        names = [m["name"] for m in bench[key]]
        full = {n: 1.0 for n in names}
        for workload in (w["name"] for w in bench["workloads"]):
            line = report.final_line(bench, workload, trace, True, 1, 0,
                                     full)
            if set(json.loads(line)["metrics"]) != set(names):
                raise AssertionError(f"printer drops {key} metrics")
        try:
            report.final_line(bench, "extract_cold", trace, True, 1, 0,
                              {n: 1.0 for n in names[1:]})
        except report.MissingMetric:
            pass
        else:
            raise AssertionError("printer accepts a missing metric")


def run_all(bench: dict) -> None:
    check_flip_byte()
    check_seed_windows()
    check_printer(bench)


if __name__ == "__main__":
    sys.path.insert(0, os.getcwd())
    with open(os.path.join(os.getcwd(), "BENCHMARK.json")) as f:
        run_all(json.load(f))
    print("selfcheck ok", file=sys.stderr)
