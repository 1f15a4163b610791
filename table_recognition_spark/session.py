"""SparkSession factory with scale-appropriate defaults."""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def get_spark(
    app_name: str = "table_recognition_spark",
    parallelism: int | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict | None = None,
) -> SparkSession:
    """Build a local SparkSession.

    ``parallelism``: local[N] core count (default: $SPARK_GRAFT_CPUS or *).
    On a real cluster these settings move to spark-submit conf; the job
    code below is identical either way.
    """
    if parallelism is None:
        env = os.environ.get("SPARK_GRAFT_CPUS")
        master = f"local[{env}]" if env else "local[*]"
        cores = int(env) if env else (os.cpu_count() or 8)
    else:
        master = f"local[{parallelism}]"
        cores = parallelism
    if shuffle_partitions is None:
        shuffle_partitions = max(cores, 8)

    # shuffle/spill on tmpfs when available: local disks can show erratic
    # writeback stalls under concurrent writers; shuffles here are a few
    # GB at most, well inside a 16 GB /dev/shm
    local_dir = (
        "/dev/shm/spark-local" if os.path.isdir("/dev/shm") else None
    )

    b = (
        SparkSession.builder.master(master)
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.default.parallelism", str(cores))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "256")
        .config("spark.ui.enabled", "false")
        # single-thread BLAS in python workers: throughput + bit-exact
        # parity with the oracle (see table_recognition_spark/__init__.py)
        .config("spark.executorEnv.OMP_NUM_THREADS", "1")
        .config("spark.executorEnv.OPENBLAS_NUM_THREADS", "1")
        .config("spark.executorEnv.MKL_NUM_THREADS", "1")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEM", "16g"))
    )
    if local_dir:
        b = b.config("spark.local.dir", local_dir)
    for k, v in (extra_conf or {}).items():
        b = b.config(k, v)
    spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
