"""SparkSession builder tuned for the extraction workload.

Local testing runs ``local[N]`` single-JVM; the same configs are the
ones we would ship in ``spark-submit --conf`` on a real cluster
(documented per config).  No custom Catalyst rules anywhere — the plan
is declared with the DataFrame API and Catalyst/AQE do the physical
planning (SURVEY.md §4).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

# Documents can be megabytes each (giant-PDF tail) — 10k rows/Arrow
# batch would balloon memory in the Python workers, while tiny batches
# pay per-batch IPC/GC overhead (measured: 1024 beats 256 by ~1.6x and
# 10k by ~2x on the heavy corpus). 1024 docs/batch ≈ tens of MB typical.
ARROW_BATCH_ROWS = 1024

_LISTING_PARALLELISM = "spark.sql.sources.parallelPartitionDiscovery.parallelism"


def get_spark(
    app: str = "accountant_pdf_extract_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    # default: the cores this process may run on (its affinity mask)
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", len(os.sched_getaffinity(0))))
    master = master or f"local[{cpus}]"
    builder = (
        SparkSession.builder.appName(app)
        .master(master)
        # AQE: runtime coalesce + skew-join splitting (on top of our
        # explicit doc_id-hash salting for map-side UDF skew).
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config(
            "spark.sql.shuffle.partitions",
            str(shuffle_partitions if shuffle_partitions is not None else max(32, cpus * 2)),
        )
        # Arrow is the only executor<->Python transport we use.
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config(
            "spark.sql.execution.arrow.maxRecordsPerBatch", str(ARROW_BATCH_ROWS)
        )
        # Large text payloads: 64-bit offsets end-to-end.
        .config("spark.sql.execution.arrow.useLargeVarTypes", "true")
        .config("spark.sql.session.timeZone", "UTC")
        # Local-mode heap: giant-PDF strings + Arrow buffers churn hard;
        # a small heap turns into GC serialization at high core counts
        # (measured).  On a real cluster this is executor memory.
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEM", "24g"))
        .config(
            "spark.driver.extraJavaOptions",
            "-XX:+UseG1GC -XX:ParallelGCThreads=16",
        )
        # Local small-file reads: default 128 MB splits + 4 MB open cost
        # pack everything into a handful of scan tasks; at 100 TB the
        # files are big and these defaults are fine, locally they starve
        # the scan stage.
        .config("spark.sql.files.maxPartitionBytes", "16m")
        .config("spark.sql.files.openCostInBytes", "262144")
        .config("spark.ui.enabled", "false")
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    # Listing a partitioned table with more than 32 directories (the
    # discovery threshold) runs a Spark job with, by default, one task
    # per directory.  Capped at the core budget it is one wave of
    # tasks: a warm `spark.read.parquet` of 183 bucket directories on
    # local[4] went 1.16-1.48 s -> 0.21-0.28 s.  A read of run_job's
    # output or of a bucketed input lists this way.
    if _LISTING_PARALLELISM not in (extra_conf or {}):
        spark.conf.set(
            _LISTING_PARALLELISM, str(spark.sparkContext.defaultParallelism)
        )
    return spark
