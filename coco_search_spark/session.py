"""SparkSession factory tuned for this engine.

Local-mode knobs mirror what a cluster deployment would set per-executor;
the design targets a multi-executor cluster (see BENCH/BASELINE.md for the
N vs 4N scaling protocol run as local[8] vs local[32] in this sandbox).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

DEFAULT_SHUFFLE_PARTITIONS = 32

# The fixed settings of every session this engine runs in. ``get_spark``
# applies them, and tools/submit.sh renders its ``--conf`` flags from this
# dict, so the two entry points cannot drift apart. Settings that take a
# parameter or an environment variable (master, shuffle partitions, driver
# heap) stay in the entry points.
SESSION_CONF: dict[str, str] = {
    # AQE: runtime coalesce + skew-join splitting — the reference has no
    # skew handling at all because it is single-process; we inherit Spark's
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    # coalesce small shuffles by SIZE, not by core count — vocabulary-
    # sized stages (canonicalization, node aggs) otherwise schedule
    # cores× empty tasks and anti-scale with parallelism
    "spark.sql.adaptive.coalescePartitions.parallelismFirst": "false",
    # ...and let that coalescing reach cached and checkpointed plans. Off
    # (Spark's default), a persist or localCheckpoint output keeps all
    # spark.sql.shuffle.partitions partitions, so a vocabulary-sized frame
    # cached once (a CC round's labels, the link map) schedules that many
    # near-empty tasks in every job that reads it
    "spark.sql.optimizer.canChangeCachedPlanOutputPartitioning": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    # FAIR scheduling: the pipeline overlaps corpus-sized background
    # sinks (chunk write, quarantine) with vocabulary-sized foreground
    # stages (linking/canonicalize, guide §2.6). Under default FIFO the
    # background job's long pending-task queue starves the foreground
    # stage's tiny jobs (measured: link_canonicalize 5s → 11s); FAIR
    # round-robins slots between concurrent jobs so the tiny jobs
    # schedule promptly while the big sink soaks the remaining cores.
    "spark.scheduler.mode": "FAIR",
    "spark.sql.session.timeZone": "UTC",
    # Arrow is always on: every Python-side stage is Arrow-batched
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    "spark.sql.execution.arrow.maxRecordsPerBatch": "4096",
    "spark.ui.enabled": "false",
    "spark.sql.autoBroadcastJoinThreshold": str(64 * 1024 * 1024),
    # Whole-stage codegen cache, one per JVM. A cold build generates about
    # 340 distinct classes and the refresh path about 230 more, so Spark's
    # default of 100 entries evicts the working set within one run: every
    # warm refresh in a long-lived session (streaming micro-batches, the
    # test suite's one session) re-ran 311-329 Janino compiles and the JVM
    # unloaded 550-700 classes per refresh. At 1,000 entries the second and
    # later refreshes compile 18-37 classes (new inlined literals) and the
    # unloaded-class count stays flat. A static conf: it takes effect only
    # in the session that creates the JVM.
    "spark.sql.codegen.cache.maxEntries": "1000",
    # Name generated classes without the codegen stage id. AQE numbers
    # whole-stage subtrees in the order shuffle stages finish, so with the
    # id in the name an identical stage body missed the cache whenever that
    # order changed, and a repeated identical build still compiled 8-26
    # classes. Without it, identical bodies share one cached class.
    "spark.sql.codegen.useIdInClassName": "false",
    # ParallelGC: measured 10-30x faster than default G1 for this
    # allocation-heavy string/explode workload at 32 executor threads
    # (G1 degraded to 31s on a job ParallelGC runs in 0.9s); throughput
    # collector is the right choice for batch analytics.
    #
    # The driver's C2 (tier-4) thresholds are 10x the JDK 17 defaults
    # (5000, 600, 15000). Each index or refresh call starts a fresh JVM, and
    # at the defaults its C2 threads recompiled Catalyst, AQE and scheduler
    # code on every call: 12-31 s of compile time per one-file refresh of
    # the benchmark corpus, against 2-4 s of task CPU. Planner code that
    # runs a few thousand times per call now stays on C1, while row loops
    # still reach C2: by call count, and by on-stack replacement, whose
    # back-edge threshold keeps its default. At 100x the benchmark corpus
    # (8,000 conversations, 64 files) a build costs 1% more CPU and 8% more
    # wall than at the defaults, and refreshes 20-25% less CPU; C1 alone
    # (TieredStopAtLevel=1) made that build 40% slower. The executors keep
    # the defaults: on a cluster they run no planning, and in local mode
    # the one JVM is the driver.
    "spark.driver.extraJavaOptions": (
        "-XX:+UseParallelGC -XX:Tier4InvocationThreshold=50000"
        " -XX:Tier4MinInvocationThreshold=6000 -XX:Tier4CompileThreshold=150000"
    ),
    "spark.executor.extraJavaOptions": "-XX:+UseParallelGC",
}


def get_spark(
    cores: int | str = "*",
    app_name: str = "coco_search_spark",
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) a SparkSession with ``SESSION_CONF`` applied;
    ``extra_conf`` entries win over it."""
    if shuffle_partitions is None:
        shuffle_partitions = int(
            os.environ.get("SPARK_GRAFT_SHUFFLE_PARTITIONS", DEFAULT_SHUFFLE_PARTITIONS)
        )
    conf = {
        **SESSION_CONF,
        "spark.sql.shuffle.partitions": str(shuffle_partitions),
        "spark.driver.memory": os.environ.get("SPARK_GRAFT_DRIVER_MEM", "48g"),
        **(extra_conf or {}),
    }
    builder = SparkSession.builder.master(f"local[{cores}]").appName(app_name)
    for k, v in conf.items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


def jvm_key(spark: SparkSession) -> str:
    """Identity of the SparkContext (and so of the gateway JVM) behind
    ``spark``. Memos of objects that hold py4j references (Columns,
    sessions) key on it: a restarted context gets a new applicationId, and
    the old references are dead."""
    return spark.sparkContext.applicationId
