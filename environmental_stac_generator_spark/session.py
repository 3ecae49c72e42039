"""SparkSession factory with scale-oriented defaults.

The reference is single-node with a 4-worker process pool
(``cli.py:24-26``, pool at ``stac/generator.py:781-789``); here the
unit of parallelism is the Spark task and the knobs below are chosen
so the same code runs on local[32] for tests and on a 1000-executor
cluster unchanged:

- AQE on: runtime coalescing of shuffle partitions, skew-join
  splitting, and dynamic broadcast selection replace any hand-tuned
  worker count.
- UTC session timezone: the reference normalizes all timestamps to
  UTC (``utils.py:169-187``); doing it at the session level makes
  every timestamp column comparable without per-column fixups.
- Arrow enabled: all pandas-UDF kernels (NetCDF explode, COG encode)
  move data via Arrow batches, never row-at-a-time pickle.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

# the host's usable cores unless SPARK_GRAFT_CPUS says otherwise: the
# one core-count default that bench.py and tools/ read too
# (sched_getaffinity is Linux-only; cpu_count counts every core)
DEFAULT_SHUFFLE_PARTITIONS = int(
    os.environ.get("SPARK_GRAFT_CPUS")
    or (
        len(os.sched_getaffinity(0))
        if hasattr(os, "sched_getaffinity")
        else os.cpu_count()
    )
)

# local-mode heap: Spark's 1g driver default is sized for a CLUSTER
# driver that only coordinates — but local[N] runs every executor
# thread inside the driver JVM, so N concurrent tasks share that 1 GB
# and a million-document scan OOMs where a real cluster would not
# (each executor there gets its own multi-GB heap). 4g keeps tests
# comfortable on small CI hosts; bench/soak raise it via the env var
# to executor-realistic sizes. Only effective for the process's FIRST
# session (the JVM heap is fixed at launch).
DEFAULT_DRIVER_MEMORY = os.environ.get("SPARK_GRAFT_DRIVER_MEM", "4g")


def get_spark(
    app_name: str = "environmental-stac-generator-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    driver_memory: str | None = None,
) -> SparkSession:
    """Build (or fetch) a SparkSession with the engine's defaults.

    ``master=None`` defers to an existing session / spark-submit; tests
    and bench pass ``local[N]`` explicitly.
    """
    builder = SparkSession.builder.appName(app_name)
    if master:
        builder = builder.master(master)
        builder = builder.config(
            "spark.driver.memory", driver_memory or DEFAULT_DRIVER_MEMORY
        )
    sp = shuffle_partitions or DEFAULT_SHUFFLE_PARTITIONS
    builder = (
        builder.config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.shuffle.partitions", str(sp))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.parquet.compression.codec", "snappy")
        # Dimension tables (region/nation/supplier and the pgSTAC key
        # scans of SURVEY §2 J4/J5) are tiny relative to fact tables —
        # keep the broadcast threshold at a level where AQE picks
        # broadcast anti-joins for them.
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        .config("spark.driver.maxResultSize", "2g")
    )
    return builder.getOrCreate()
