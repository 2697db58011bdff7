"""Scoped execution-layout tuning for iterative operators.

Iterative fixpoint loops (PageRank/HITS score propagation, connected-
components label propagation) carry a few bytes of state per node, but
under the session defaults every per-iteration shuffle keeps the full
shuffle-partition count and AQE materializes every query stage as its
own job.  Measured r7 on a 32-core host: a trivial 32-task stage has a
~0.2 s wall floor (vs ~0.08 s at 1 task), and a 3-iteration PageRank
ran 32 AQE stage-jobs whose inter-job driver latency (~35 ms each)
summed to 1.16 s against 0.75 s of job time.

This is the engine's only scoped session-conf mechanism; loops where
it measured within noise of the session defaults (GD training, with
AQE's cached-plan coalescing on) run under the defaults instead.

``iteration_shuffles`` scopes two knobs to a loop and restores them on
exit:

- ``spark.sql.shuffle.partitions`` = clamp(n_rows / ROWS_PER_PARTITION,
  1, session default) — derived from the MEASURED state size, so at
  1e9+ nodes the clamp returns the session default and the scope is a
  shape no-op (never a constant tuned to the local box);
- ``spark.sql.adaptive.enabled`` = false — with the partition count
  already data-derived there is nothing left for AQE to adapt inside
  the loop, and each eager checkpoint/aggregate becomes ONE job.

Layout safety.  The scope changes how rows are partitioned, so a loop
may only use it if its output does not depend on that.  Connected
components is layout-safe by construction: its cross-row arithmetic is
integer min-labels and integer sums.  PageRank and HITS sum doubles
across rows, and reordering float partial sums can move the last bits;
their contract is equality of the micro-quantized ranks/scores the
driver gate compares, and ``tests/test_linkgraph.py`` holds them to it
by running each with the scope as shipped and with the scope removed
under a different shuffle-partition count.  A new float loop needs the
same test before it enters the scope.

Session-conf mutations are GLOBAL to the SparkSession: a concurrent
driver thread planning queries on the same session while a scoped loop
runs would observe the loop's layout.  The engine's operators run
their loops on the calling thread and the only in-repo concurrency
(the datasheet's report pool) never overlaps an iterative loop; a
caller composing these operators from multiple threads should give
each thread its own ``spark.newSession()``.
"""

from __future__ import annotations

from contextlib import contextmanager

_ADAPTIVE = "spark.sql.adaptive.enabled"
_SHUFFLE_PARTS = "spark.sql.shuffle.partitions"
ROWS_PER_PARTITION = 100_000


@contextmanager
def iteration_shuffles(spark, n_rows: int):
    old_parts = spark.conf.get(_SHUFFLE_PARTS)
    old_aqe = spark.conf.get(_ADAPTIVE)
    parts = max(1, min(int(old_parts),
                       n_rows // ROWS_PER_PARTITION or 1))
    spark.conf.set(_SHUFFLE_PARTS, str(parts))
    spark.conf.set(_ADAPTIVE, "false")
    try:
        yield
    finally:
        spark.conf.set(_SHUFFLE_PARTS, old_parts)
        spark.conf.set(_ADAPTIVE, old_aqe)
