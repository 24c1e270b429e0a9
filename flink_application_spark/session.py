"""SparkSession construction.

One place to encode the scale-aware defaults: AQE on (runtime re-plan,
skew-join handling, partition coalescing), shuffle partitions sized to
the local core count for tests (on a real cluster this would be ~2-3x
total cores), Arrow enabled for the Pandas-UDF slow path.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def get_spark(
    app_name: str = "flink_application_spark",
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    # Local-mode Python workers inherit THIS process's env, and resolve
    # module-by-reference UDF functions (e.g. the CEP automaton's
    # helpers) by importing flink_application_spark on the worker.
    # Launching the driver from any cwd other than the repo root used
    # to crash those workers with ModuleNotFoundError (the worker's
    # sys.path gets the driver cwd, nothing else repo-related) — pin
    # the package root into PYTHONPATH before the JVM starts.
    _root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    _pp = os.environ.get("PYTHONPATH", "")
    if _root not in _pp.split(os.pathsep):
        os.environ["PYTHONPATH"] = _root + (os.pathsep + _pp if _pp else "")

    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 8))
    if shuffle_partitions is None:
        shuffle_partitions = cpus
    builder = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", "16g"))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        # The driver's events.parquet stores TIMESTAMP(NANOS) which Spark's
        # parquet reader rejects; read as long ns and convert in catalog.py.
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        # Streaming offset/commit/source logs and state-store files
        # commit with FileSystem.rename (atomic on the local file system
        # and HDFS) instead of FileContext's rename-with-overwrite, which
        # on a file system without native helpers forks a `readlink`
        # child process per call (about 40 ms vs under 1 ms).
        .config(
            "spark.sql.streaming.checkpointFileManagerClass",
            "org.apache.spark.sql.execution.streaming.checkpointing."
            "FileSystemBasedCheckpointFileManager",
        )
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
