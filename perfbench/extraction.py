"""The ``extract_cold`` workload: the resumable extraction job, cold.

One client (this process) calls ``plans.extract_job.run_extract_job``
in a closed loop, each job into an empty state dir; the next job starts
when the previous one returns.

Input: ``--seed`` picks a window of corpus row indices, which set-up
materializes through ``corpus.generate_row`` into parquet; the program
reads only that parquet.  ``generate_row`` is a pure function of the
index and the template is ``i % 100``, so the windows of two seeds hold
disjoint urls with the same template mix.  Every window is centred on a
multiple of 10 000, so each holds exactly one of the corpus's 1000x
giants: five times the corpus's rate, so that the giant route of
``route_by_size`` carries the same work in every job.
"""

from __future__ import annotations

import inspect
import os
import shutil
import statistics
import time
from collections import Counter

import pyarrow as pa
import pyarrow.parquet as pq

import engine
from expected import compare_outputs, expected_outputs, fields
from procfs import dir_bytes, file_sizes, tree_peak_rss_mb
from spans import Phases, SpanRecorder

WINDOW = 2000          # rows of one seed's window
SEED_WINDOWS = 1000    # distinct windows; seeds are taken modulo this
MIN_OPS = 3            # timed jobs per run, at least: a robust median
SETUP_REPS = 3         # repeats of input generation in set-up
KERNEL_SAMPLE = 300    # rows timed per kernel in the traced run
KERNEL_REPS = 3


# -- seeded input ------------------------------------------------------------

def window(seed: int) -> range:
    """Row indices of ``seed``'s window: WINDOW rows centred on
    10 000 * (seed mod SEED_WINDOWS + 1).  The modulus keeps the rows'
    ``warc_ts`` (``corpus.ts_for``: 137 s per row from 2024) before
    2070: past row ~5.5e7 it passes 2262, the end of the nanosecond
    timestamps the Arrow-to-pandas UDF stage converts to, and the
    extraction job fails on the input."""
    centre = 10_000 * (seed % SEED_WINDOWS + 1)
    return range(centre - WINDOW // 2, centre + WINDOW // 2)


def template_counts(indices: range) -> Counter:
    from docvault_ocr_service_spark.corpus import template_for

    return Counter(template_for(i) for i in indices)


def materialize(indices: range, path: str) -> None:
    """Corpus rows ``indices`` as one parquet file under ``path``."""
    from docvault_ocr_service_spark.corpus import generate_row

    if os.path.isdir(path):
        shutil.rmtree(path)
    os.makedirs(path)
    rows = [generate_row(i) for i in indices]
    schema = pa.schema([
        pa.field("url", pa.string(), nullable=False),
        pa.field("warc_ts", pa.timestamp("us", tz="UTC")),
        pa.field("html", pa.binary()),
        pa.field("text", pa.string()),
        pa.field("lang", pa.string()),
    ])
    table = pa.table({f.name: [r[f.name] for r in rows] for f in schema},
                     schema=schema)
    pq.write_table(table, os.path.join(path, "part-0.parquet"))


def read_parquet_dir(path: str, columns: list[str]) -> dict[str, list]:
    """Columns of every ``*.parquet`` file under ``path``, as lists;
    unlike ``pq.read_table`` this also reads the checkpoint's ``_b=K``
    bucket directories, which pyarrow skips for their leading
    underscore."""
    out: dict[str, list] = {c: [] for c in columns}
    for root, _dirs, names in sorted(os.walk(path)):
        for name in sorted(names):
            if name.endswith(".parquet"):
                t = pq.read_table(os.path.join(root, name), columns=columns)
                for c in columns:
                    out[c] += t.column(c).to_pylist()
    return out


def _new_parquet(before: dict[str, int], after: dict[str, int]
                 ) -> dict[str, int]:
    return {p: s for p, s in after.items()
            if p not in before and p.endswith(".parquet")}


def check_state(spark, state: str, claimed: int, expected: dict
                ) -> list[str]:
    """Problems in one job's state dir against the pure-Python
    reference; empty when its tables match."""
    from docvault_ocr_service_spark.operators.checkpoint import (
        ParquetCheckpointStore,
    )

    store = ParquetCheckpointStore(spark, state)
    cp_rows = store.read_checkpoint().select(
        "url", "status", "error_kind").collect()
    checkpoint = {r["url"]: (r["status"], r["error_kind"])
                  for r in cp_rows}
    results = {}
    current = store.read_results_current()
    if current is not None:
        for r in current.select("url", "status", "error_kind", "text",
                                "category", "metadata").collect():
            results[r["url"]] = fields(r.asDict(recursive=True))
    problems = compare_outputs(expected, checkpoint, results)
    if len(cp_rows) != len(checkpoint):
        problems.append(f"{len(cp_rows) - len(checkpoint)} duplicate "
                        f"checkpoint rows")
    if claimed != len(expected):
        problems.append(f"claimed {claimed} != {len(expected)}")
    return problems


# -- the workload ------------------------------------------------------------

class ExtractCold:
    def __init__(self, seed: int, seconds: float, work: str) -> None:
        self.rows = window(seed)
        self.seconds = seconds
        self.work = work

    def _state(self, tag: str) -> str:
        return os.path.join(self.work, "state", tag)

    def set_up(self, spark) -> float:
        """Input generation (SETUP_REPS times, median counted) and one
        warm job on the same input: it starts every Python worker and
        compiles the very plans the timed jobs run (a smaller warm input
        leads AQE to other plans, and the first timed job compiles them).
        Returns the set-up seconds beyond session start."""
        from docvault_ocr_service_spark.plans.extract_job import (
            run_extract_job,
        )
        from docvault_ocr_service_spark.sources.tables import read_corpus

        gen = []
        for _ in range(SETUP_REPS):
            t0 = time.perf_counter()
            materialize(self.rows, os.path.join(self.work, "input"))
            gen.append(time.perf_counter() - t0)
        self.input_df = read_corpus(spark, os.path.join(self.work, "input"))
        t0 = time.perf_counter()
        run_extract_job(spark, self.input_df, self._state("warm"))
        return statistics.median(gen) + time.perf_counter() - t0

    def run_timed(self, spark) -> list[dict]:
        from docvault_ocr_service_spark.plans.extract_job import (
            run_extract_job,
        )

        ops = []
        start = time.perf_counter()
        while len(ops) < MIN_OPS or time.perf_counter() - start < self.seconds:
            op = {"state": self._state(f"op{len(ops)}"), "error": None}
            t0 = time.perf_counter()
            try:
                op["claimed"] = run_extract_job(spark, self.input_df,
                                                op["state"]).claimed
            except Exception as e:  # noqa: BLE001 - counted as failed
                op["error"] = f"{type(e).__name__}: {e}"
            op["s"] = time.perf_counter() - t0
            if not ops:
                # after a fixed amount of work, however many ops follow
                self.peak_rss_mb = tree_peak_rss_mb()
            ops.append(op)
        return ops

    def check(self, spark, ops: list[dict]) -> list[str]:
        """Check every job's tables (timed and traced) against the
        pure-Python reference; sets ``op["problems"]``.  Runs outside all
        timing."""
        expected = expected_outputs(self.rows, self.work, engine.nproc())
        all_problems = []
        for op in ops:
            problems = [op["error"]] if op["error"] else []
            if not op["error"]:
                problems += check_state(spark, op["state"], op["claimed"],
                                        expected)
            op["problems"] = problems
            all_problems += problems
        return all_problems

    def traced(self, spark, untraced_s: float
               ) -> tuple[SpanRecorder, dict[str, float], dict]:
        """One job decomposed into spans: the public functions
        ``run_extract_job`` calls, in its order, each lazy step forced by
        its own action (``route`` counts the rows ``route_by_size`` sends
        down the giant path, an action the job itself does not take).
        Returns the spans, the layer counters and the job, to check."""
        from pyspark.sql import functions as F

        from docvault_ocr_service_spark.extract.document import (
            MAX_PAYLOAD_BYTES,
        )
        from docvault_ocr_service_spark.functions.udfs import run_extraction
        from docvault_ocr_service_spark.operators.checkpoint import (
            ParquetCheckpointStore,
            new_run_id,
        )
        from docvault_ocr_service_spark.operators.lineage import (
            append_observability,
        )
        from docvault_ocr_service_spark.operators.pages import (
            extract_pdf_docs,
        )
        from docvault_ocr_service_spark.operators.skew import route_by_size
        from docvault_ocr_service_spark.plans.extract_job import (
            run_extract_job,
        )

        threshold = inspect.signature(run_extract_job) \
            .parameters["size_threshold"].default
        rows_in = self.input_df.count()
        state = self._state("traced")
        n_parts = spark.sparkContext.defaultParallelism
        store = ParquetCheckpointStore(spark, state)
        run_id = new_run_id()
        run_dir = os.path.join(state, "runs", run_id)
        lineage_dir = os.path.join(state, "lineage")
        rec = SpanRecorder()
        with rec.trace("job") as root:
            with rec.span("claim"):
                claimed = store.claimable(self.input_df)
                claimed.write.format("noop").mode("overwrite").save()
            normal, giants = route_by_size(claimed, n_parts,
                                           size_threshold=threshold)
            with rec.span("route"):
                giant_rows = giants.count()
            with rec.span("extract_stage"):
                giant_pdf = (
                    (F.col("text").isNull() | (F.col("text") == ""))
                    & (F.substring("html", 1, 5) == F.lit(b"%PDF-"))
                    & (F.octet_length("html") <= MAX_PAYLOAD_BYTES))
                extracted = (
                    run_extraction(normal)
                    .unionByName(run_extraction(giants.where(~giant_pdf)))
                    .unionByName(extract_pdf_docs(giants.where(giant_pdf),
                                                  n_parts)))
                extracted.write.mode("overwrite").parquet(run_dir)
            staged = spark.read.parquet(run_dir)
            cp_before = file_sizes(store.checkpoint_dir)
            with rec.span("merge"):
                store.merge_results(staged, run_id)
            cp_new = _new_parquet(cp_before, file_sizes(store.checkpoint_dir))
            lin_before = file_sizes(lineage_dir)
            with rec.span("lineage"):
                append_observability(spark, state, staged,
                                     store.read_checkpoint(), run_id)
            lin_new = _new_parquet(lin_before, file_sizes(lineage_dir))
            # run_extract_job's report aggregate: job self time
            n_claimed = staged.agg(
                F.count("*"),
                F.sum((F.col("status") == "done").cast("int"))).first()[0]

        rows_rewritten = sum(
            pq.read_metadata(os.path.join(store.checkpoint_dir, p)).num_rows
            for p in cp_new)
        bytes_written = sum(cp_new.values())
        new_rows_bytes = dir_bytes(run_dir)   # the staged run output
        cp_rows = len(read_parquet_dir(store.checkpoint_dir, ["url"])["url"])
        layers = {f"{s.name}.s": s.seconds for s in rec.children(root)}
        layers.update({
            "claim.rows_in": rows_in,
            "claim.rows_claimed": n_claimed,
            "route.giant_rows": giant_rows,
            "merge.buckets_touched": len({p.split(os.sep)[0]
                                          for p in cp_new}),
            "merge.rows_rewritten": rows_rewritten,
            "merge.bytes_written": bytes_written,
            "merge.write_amp": bytes_written / new_rows_bytes
            if new_rows_bytes else 0.0,
            "lineage.rows": sum(
                pq.read_metadata(os.path.join(lineage_dir, p)).num_rows
                for p in lin_new),
            "state.bytes_per_doc": dir_bytes(state) / max(cp_rows, 1),
            "job.other_s": rec.self_seconds(root),
            "job.docs_per_s": n_claimed / untraced_s,
            "trace.total_s": root.seconds,
            "trace.overhead_frac": (root.seconds - untraced_s) / untraced_s,
        })
        return rec, layers, {"state": state, "claimed": n_claimed,
                             "error": None}


# -- kernels -----------------------------------------------------------------

def time_kernels(rows: range) -> dict[str, float]:
    """µs per sampled doc spent in each extraction kernel, timed
    single-threaded in this process over the window's first
    KERNEL_SAMPLE rows (every template, no giant), each kernel fed what
    ``extract_document`` would feed it.  Median of KERNEL_REPS passes."""
    from docvault_ocr_service_spark.corpus import generate_row
    from docvault_ocr_service_spark.extract.categorize import categorize_fast
    from docvault_ocr_service_spark.extract.charset import decode_html_bytes
    from docvault_ocr_service_spark.extract.document import (
        PAGE_JOINER,
        detect_format,
        extract_document,
    )
    from docvault_ocr_service_spark.extract.htmltext import extract_main_text
    from docvault_ocr_service_spark.extract.metadata import extract_metadata
    from docvault_ocr_service_spark.extract.pdftext import (
        PdfParseError,
        extract_pdf_pages,
        has_native_text,
    )

    sample = [generate_row(i) for i in rows[:KERNEL_SAMPLE]]
    sniff = [r["html"] for r in sample if not r["text"]]
    html = [h for h in sniff if detect_format(h) == "html"]
    decoded = [decode_html_bytes(h)[0] for h in html]
    pdfs = [h for h in sniff if detect_format(h) == "pdf"]
    texts = [r["text"] for r in sample if r["text"]]
    texts += [extract_main_text(d)[0] for d in decoded]
    for h in pdfs:
        try:
            pages = extract_pdf_pages(h)
        except PdfParseError:
            continue
        if has_native_text(pages):
            texts.append(PAGE_JOINER.join(pages))

    def pdf_pages(h):
        try:
            extract_pdf_pages(h)
        except PdfParseError:
            pass

    kernels = {
        "detect_format": (detect_format, sniff),
        "charset": (decode_html_bytes, html),
        "dom_strip": (extract_main_text, decoded),
        "pdf": (pdf_pages, pdfs),
        "metadata": (extract_metadata, texts),
        "categorize": (categorize_fast, texts),
        "extract_document": (
            lambda r: extract_document(r["url"], r["html"], r["text"],
                                       r["lang"]), sample),
    }
    out = {}
    for name, (fn, inputs) in kernels.items():
        reps = []
        for _ in range(KERNEL_REPS):
            t0 = time.perf_counter()
            for x in inputs:
                fn(x)
            reps.append(time.perf_counter() - t0)
        out[f"kernel.{name}.us_per_doc"] = \
            statistics.median(reps) * 1e6 / len(sample)
    out["kernel.docs"] = len(sample)
    return out


# -- entry point -------------------------------------------------------------

def run(seed: int, seconds: float, work: str, trace: bool) -> dict:
    from eventlog import EventLog

    wl = ExtractCold(seed, seconds, work)
    phase = Phases()
    with phase("session"):
        spark = engine.start(work, event_log=trace)
    try:
        with phase("setup"):
            setup_s = phase.seconds["session"] + wl.set_up(spark)
        with phase("timed"):
            ops = wl.run_timed(spark)
        op_s = statistics.median(o["s"] for o in ops)
        checked = list(ops)
        if trace:
            with phase("traced"):
                rec, layers, traced_job = wl.traced(spark, op_s)
            checked.append(traced_job)
        with phase("check"):
            problems = wl.check(spark, checked)
    finally:
        with phase("stop"):
            engine.stop(spark)
    out = {
        "attempted": len(checked),
        "failed": sum(1 for o in checked if o["problems"]),
        "problems": problems[:20],
        "ops_s": [o["s"] for o in ops],
        "phases_s": phase.seconds,
        "metrics": {"op_s": op_s, "setup_s": setup_s,
                    "peak_rss_mb": wl.peak_rss_mb},
    }
    if trace:
        log = EventLog(os.path.join(work, "eventlog"))
        for s in rec.spans:
            if s.parent is None:
                continue
            w = log.window(s.start, s.end)
            for k in ("jobs", "tasks", "shuffle_bytes", "driver_gap_s"):
                layers[f"{s.name}.{k}"] = w[k]
            if s.name == "extract_stage":
                for k in ("executor_run_s", "executor_cpu_s", "gc_s",
                          "python_run_s", "python_boot_s",
                          "bytes_to_python", "bytes_from_python",
                          "task_skew"):
                    layers[f"extract_stage.{k}"] = w[k]
        with phase("kernels"):
            layers.update(time_kernels(wl.rows))
        layers["mem.peak_rss_mb"] = wl.peak_rss_mb
        layers["job.parallel_eff"] = layers["job.docs_per_s"] / (
            engine.nproc() * 1e6
            / layers["kernel.extract_document.us_per_doc"])
        rec.dump(os.path.join(work, "spans.json"))
        out["layers"] = layers
    return out
