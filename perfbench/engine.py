"""Spark session lifetime for one benchmark process.

Everything the session writes (shuffle files, JVM temp files, event
logs) goes under the run's work directory inside the checkout.  The
driver heap is capped well below the host's memory (the program's own
default asks for 24g) and starts at that size, so that peak memory does
not depend on how far the heap happened to grow.
"""

from __future__ import annotations

import os
import subprocess
import time

from procfs import descendants, running

DRIVER_MEMORY = "2g"


def nproc() -> int:
    return len(os.sched_getaffinity(0))


def prepare_env(root: str, work: str) -> None:
    """Point temp files and Python workers at the checkout; must run
    before pyspark starts its JVM."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (root, os.environ.get("PYTHONPATH")) if p)


def start(work: str, event_log: bool):
    """``session.get_spark(cores=nproc)`` with the benchmark's confs."""
    from docvault_ocr_service_spark.session import get_spark

    tmp = os.path.join(work, "tmp")
    conf = {
        "spark.driver.memory": DRIVER_MEMORY,
        "spark.local.dir": os.environ["SPARK_LOCAL_DIRS"],
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.driver.extraJavaOptions":
            f"-Xms{DRIVER_MEMORY} -Djava.io.tmpdir={tmp} -XX:-UsePerfData",
        "spark.ui.showConsoleProgress": "false",
    }
    if event_log:
        log_dir = os.path.join(work, "eventlog")
        os.makedirs(log_dir, exist_ok=True)
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": log_dir,
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        })
    spark = get_spark(app_name="perfbench", cores=nproc(), extra_conf=conf)
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop(spark, timeout: float = 60.0) -> None:
    """Stop the session, then the JVM, and wait until the JVM and every
    Python worker below it have exited."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    tree = descendants(proc.pid) if proc is not None else []
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
        SparkContext._gateway = None
        SparkContext._jvm = None
    if proc is not None:
        # the JVM exits when its stdin pipe closes
        proc.stdin.close()
        try:
            proc.wait(timeout=timeout)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait(timeout=timeout)
    deadline = time.monotonic() + timeout
    alive = [p for p in tree if running(p)]
    while alive and time.monotonic() < deadline:
        time.sleep(0.1)
        alive = [p for p in alive if running(p)]
    for p in alive:
        try:
            os.kill(p, 9)
        except OSError:
            pass
