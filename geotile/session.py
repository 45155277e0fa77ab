"""SparkSession factory tuned for the engine.

Local-mode testing runs on ``local[default_cores()]``; on a real
cluster the same settings apply minus the master override (spark-submit
provides it).  AQE is on so skewed cell joins re-plan at runtime.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def default_cores() -> int:
    """The core count a session gets unless its caller names one:
    ``$SPARK_GRAFT_CPUS``, else every core this process may run on."""
    return int(os.environ.get("SPARK_GRAFT_CPUS") or 0) or len(os.sched_getaffinity(0))


def get_spark(app: str = "geotile", cores: int | None = None,
              shuffle_partitions: int | None = None) -> SparkSession:
    if cores is None:
        cores = default_cores()
    if shuffle_partitions is None:
        shuffle_partitions = max(cores, 8)
    builder = SparkSession.builder
    # Master resolution order: explicit SPARK_GRAFT_MASTER env > a master
    # already provided by the launcher (spark-submit --master sets the
    # spark.master JVM system property, visible through SparkConf) >
    # local[cores] fallback.  Calling .master() unconditionally would
    # override spark-submit and trap the engine in local mode.
    master_env = os.environ.get("SPARK_GRAFT_MASTER")
    if master_env:
        builder = builder.master(master_env)
    else:
        try:
            from pyspark import SparkConf

            has_master = SparkConf().contains("spark.master")
        except Exception:
            has_master = False
        if not has_master:
            builder = builder.master(f"local[{cores}]")
    builder = (
        builder
        .appName(app)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "65536")
        # small enough that bench-scale tables still split across all
        # cores (at cluster scale the platform config overrides this)
        .config("spark.sql.files.maxPartitionBytes",
                os.environ.get("SPARK_GRAFT_MAX_PARTITION_BYTES", "16m"))
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
        .config("spark.ui.enabled", "false")
        # scale JVM GC threads with the executor-thread count: by default
        # the JVM sizes GC for every host core, which would hand a
        # local[1] run 32 hidden GC threads and skew N-vs-4N scaling
        # comparisons (a real 1-core executor has 1-2 GC threads)
        .config("spark.driver.extraJavaOptions",
                f"-XX:ParallelGCThreads={max(2, cores)} -XX:ConcGCThreads={max(1, cores // 4)}")
    )
    # Shuffle/spill scratch space.  On a real cluster every executor has
    # its own local disks; in this sandbox all threads share one device,
    # so scaling runs point this at tmpfs to measure the engine, not the
    # single shared disk.
    local_dir = os.environ.get("SPARK_GRAFT_LOCAL_DIR")
    if local_dir:
        os.makedirs(local_dir, exist_ok=True)
        builder = builder.config("spark.local.dir", local_dir)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
