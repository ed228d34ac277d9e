"""SparkSession factory with the settings this engine assumes.

Key choices (and why they matter at 100 TB):

* AQE on — runtime coalescing of shuffle partitions, skew-join splitting.
* ``spark.sql.session.timeZone=UTC`` — deterministic timestamp semantics across
  engines (the DuckDB oracle compares timestamp values).
* shuffle partitions default sized for the local harness; a real cluster sets
  this to ~2-3× total cores (or relies on AQE coalescing from a high initial
  value).
* Arrow enabled for the Pandas-UDF (multimodal) path with a bounded batch size
  so MB-scale binary payloads can't blow an executor.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

#: Driver heap past which more memory stopped helping: parts_pagerank at sf1
#: went >560 s (GCLocker retries) on the 1g default and 29.7 s at 16g.
HEAP_KNEE_MB = 16 << 10


def default_cpus() -> int:
    """CPUs this process may run on (its affinity mask, not the host's
    count — containers and ``taskset`` narrow it)."""
    return len(os.sched_getaffinity(0))


def default_driver_mem() -> str:
    """Driver heap from physical RAM: half of ``MemTotal`` (the JVM's
    off-heap buffers, Python workers and the page cache share the rest),
    capped at :data:`HEAP_KNEE_MB`."""
    with open("/proc/meminfo") as fh:
        kb = next(int(ln.split()[1]) for ln in fh if ln.startswith("MemTotal:"))
    return f"{min(kb // 2048, HEAP_KNEE_MB)}m"


def get_session(
    app_name: str = "iceberg-evolve-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
) -> SparkSession:
    cpus = os.environ.get("SPARK_GRAFT_CPUS") or str(default_cpus())
    master = master or f"local[{cpus}]"
    shuffle_partitions = shuffle_partitions or int(cpus)
    return (
        SparkSession.builder.master(master)
        .appName(app_name)
        # local[N] runs driver and executors in ONE JVM: the default 1g heap
        # that is fine at sf0.1 collapses into GC thrash at sf1 (N threads
        # sharing shuffle/codegen buffers). Only effective at JVM launch; a
        # pre-existing session keeps its heap.
        .config(
            "spark.driver.memory",
            os.environ.get("SPARK_GRAFT_DRIVER_MEM") or default_driver_mem(),
        )
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "4096")
        .config("spark.sql.parquet.filterPushdown", "true")
        # events.parquet stores ts as TIMESTAMP(NANOS); Spark can't read nanos
        # natively — read as long, converted in load_table (TESTDATA quirk)
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        .config("spark.ui.enabled", "false")
        .getOrCreate()
    )
