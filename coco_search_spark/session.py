"""SparkSession factory tuned for this engine.

Local-mode knobs mirror what a cluster deployment would set per-executor;
the design targets a multi-executor cluster (see BENCH/BASELINE.md for the
N vs 4N scaling protocol run as local[8] vs local[32] in this sandbox).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

DEFAULT_SHUFFLE_PARTITIONS = 32


def get_spark(
    cores: int | str = "*",
    app_name: str = "coco_search_spark",
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) a SparkSession.

    Arrow is always on (every Python-side stage is Arrow-batched), AQE is on
    (runtime coalesce + skew-join splitting — the reference has no skew
    handling at all because it is single-process; we inherit Spark's).
    """
    if shuffle_partitions is None:
        shuffle_partitions = int(
            os.environ.get("SPARK_GRAFT_SHUFFLE_PARTITIONS", DEFAULT_SHUFFLE_PARTITIONS)
        )
    builder = (
        SparkSession.builder.master(f"local[{cores}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        # coalesce small shuffles by SIZE, not by core count — vocabulary-
        # sized stages (canonicalization, node aggs) otherwise schedule
        # cores× empty tasks and anti-scale with parallelism
        .config("spark.sql.adaptive.coalescePartitions.parallelismFirst", "false")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # FAIR scheduling: the pipeline overlaps corpus-sized background
        # sinks (chunk write, quarantine) with vocabulary-sized foreground
        # stages (linking/canonicalize, guide §2.6). Under default FIFO the
        # background job's long pending-task queue starves the foreground
        # stage's tiny jobs (measured: link_canonicalize 5s → 11s); FAIR
        # round-robins slots between concurrent jobs so the tiny jobs
        # schedule promptly while the big sink soaks the remaining cores.
        .config("spark.scheduler.mode", "FAIR")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "4096")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "48g"))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        # ParallelGC: measured 10-30x faster than default G1 for this
        # allocation-heavy string/explode workload at 32 executor threads
        # (G1 degraded to 31s on a job ParallelGC runs in 0.9s); throughput
        # collector is the right choice for batch analytics
        .config(
            "spark.driver.extraJavaOptions",
            os.environ.get("SPARK_GRAFT_JAVA_OPTS", "-XX:+UseParallelGC"),
        )
        .config("spark.executor.extraJavaOptions", "-XX:+UseParallelGC")
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark

