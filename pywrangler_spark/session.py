"""SparkSession factory with the engine's required configuration: the one
place a session's configuration is written, for the library, its tests,
scripts and benchmark harness alike.

Local mode for tests/bench; on a real cluster the same configs apply (AQE,
arrow, nanos handling) while master/memory come from the deployment.
"""

from __future__ import annotations

import contextlib
import os
import re

from pyspark.sql import SparkSession


def local_driver_memory(meminfo: str) -> str:
    """The driver heap of a local session: half of the ``MemTotal`` line
    of ``/proc/meminfo`` text, in whole GiB, at least ``1g``."""
    kib = int(re.search(r"^MemTotal:\s+(\d+) kB", meminfo, re.M).group(1))
    return f"{max(1, kib // 2 // 2**20)}g"


def get_spark(
    app_name: str = "pywrangler_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict | None = None,
) -> SparkSession:
    """Build (or reuse) a SparkSession configured for this engine.

    Required configs:
    - ``spark.sql.legacy.parquet.nanosAsLong``: accept TIMESTAMP(NANOS)
      parquet columns (restored to TimestampType by
      :mod:`pywrangler_spark.sources.parquet`).
    - AQE on: runtime coalescing + skew-join handling.
    - Arrow on: fast pandas interchange for the Pandas-UDF operators.

    Driver heap: a local master gets :func:`local_driver_memory` of the
    host (in local mode the driver heap holds the executors' memory too),
    so a run cannot ask for more memory than the machine has and its
    spill numbers mean what they say. ``extra_conf`` is the one override,
    for the heap as for every other key:
    ``extra_conf={"spark.driver.memory": "4g"}``. The heap takes effect
    only when this call starts the JVM: ``getOrCreate`` hands back a
    running session with the heap it started with.
    """
    cpus = os.environ.get("SPARK_GRAFT_CPUS", str(os.cpu_count() or 4))
    master = master or f"local[{cpus}]"
    extra_conf = dict(extra_conf or {})
    if master.startswith("local") and "spark.driver.memory" not in extra_conf:
        # without /proc (not Linux) Spark's default heap applies
        with contextlib.suppress(OSError), open("/proc/meminfo") as fh:
            extra_conf["spark.driver.memory"] = local_driver_memory(fh.read())
    builder = (
        SparkSession.builder.master(master)
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions or cpus))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        # start exchanges WIDE and let AQE coalesce by bytes: with the
        # initial count pinned to shuffle.partitions (Spark's default),
        # a shuffle that grows with the data makes per-task sorts
        # exceed execution memory and spill — measured at the sf100
        # probe (dedup_span_mask 18 GB, dedup_cdc_chunks 50 GB of
        # spill at 32 partitions). 8x the core count costs nothing at
        # small scale (AQE merges small partitions back) and bounds
        # per-task shuffle bytes as the data grows; a real cluster
        # raises it further with its executor count.
        .config(
            "spark.sql.adaptive.coalescePartitions.initialPartitionNum",
            str(8 * int(shuffle_partitions or cpus)),
        )
        # let AQE re-optimize (coalesce) the plans of persisted frames:
        # off, every .persist() freezes the exchange at
        # initialPartitionNum tasks, and each downstream stage over the
        # cache — mapInPandas GEMMs, broadcast builds, joins — pays that
        # task count forever (measured: the sf0.1 docvec cache froze at
        # 256 partitions of ~20 rows; the exact ANN tier spent 74 s of
        # executor time on task+Python-worker startup, 3.4 -> 0.75 s
        # with the flag). Partitioning is decided by BYTES, so cached
        # frames stay scale-adaptive instead of constant-partitioned.
        .config(
            "spark.sql.optimizer.canChangeCachedPlanOutputPartitioning",
            "true",
        )
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        # naive parquet timestamps scan as TimestampType, not TIMESTAMP_NTZ
        .config("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
        # honor sortBy order of bucketed tables (off by default since
        # 3.1 because it needs an eager file listing): the engine's
        # bucket writer guarantees one file per bucket, which is the
        # layout this flag exists for — a bucket-sorted fact-fact merge
        # join then plans with neither Exchange NOR Sort; multi-file
        # buckets just fall back to sorting, no correctness risk
        .config("spark.sql.legacy.bucketedTableScan.outputOrdering", "true")
        .config("spark.ui.enabled", "false")
    )
    for key, value in extra_conf.items():
        builder = builder.config(key, value)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
