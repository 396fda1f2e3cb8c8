"""The one local SparkSession of ``bench.py``, the tests and the example
scripts: ``local[N]`` with N shuffle partitions, N = ``$SPARK_GRAFT_CPUS``
or else the CPUs this process may run on; a driver heap of
``$SPARK_GRAFT_DRIVER_MEM`` or else a quarter of physical memory, at most
32g; UTC, AQE and Arrow on; no UI or console progress; log level ERROR."""

from __future__ import annotations

import os

#: On a 96g heap the checkpoint-loop queries (partitioned kNN, closure) ran
#: 2-8x slower with wild variance: G1 defers collection on a huge heap until
#: mixed cycles land mid-query.  At 24-32g they are stable (measured on a
#: 128g box: j18 took 13-43 s at 96g, 5.4 s warm at 24g).
MAX_HEAP_GB = 32


def default_cpus() -> int:
    return int(os.environ.get("SPARK_GRAFT_CPUS") or len(os.sched_getaffinity(0)))


def default_heap() -> str:
    heap = os.environ.get("SPARK_GRAFT_DRIVER_MEM")
    if heap:
        return heap
    phys = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")
    return f"{min(MAX_HEAP_GB, max(1, phys // 4 // 1024**3))}g"


def local_session(app_name: str, cpus: int | None = None):
    """The session, or the one already active in this process."""
    from pyspark.sql import SparkSession

    n = str(cpus or default_cpus())
    spark = (
        SparkSession.builder.master(f"local[{n}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", n)
        .config("spark.driver.memory", default_heap())
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        # not set: -XX:ReservedCodeCacheSize.  A 1 GB code cache did not
        # remove a mid-bench slowdown, it moved it: outside load, not the JIT.
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark
