"""Table handles for the driver's parquet testdata.

Tables (TESTDATA.md): region nation customer supplier part orders
lineitem events documents embeddings — one parquet file each under a
scale-factor directory.

`table` is the one entry point. It keeps one handle per (application,
table path, the file's inode / mtime_ns / size): a plan, not data —
nothing is persisted, and a file rewritten at the same path is listed
and loaded again. Every call also (re)binds the temp view named after
the table, so a dropped view comes back and a second sf_dir re-points
it. A new application forgets the handles of the ones before it
(`_keep_application`, the rule every session memo follows).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession, functions as F

TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

DEFAULT_SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    df = spark.read.parquet(os.path.join(sf_dir, f"{name}.parquet"))
    if name == "events":
        # Normalize events.ts to timestamp_ntz regardless of how the driver
        # generated it. Historically it has been TIMESTAMP(NANOS) surfaced as
        # long ns (via nanosAsLong); current testdata stores timestamp[us]
        # directly. Branch on the physical type so both generations load.
        # For the long-ns form, `div` (integer division) floors to µs —
        # matching DuckDB's truncation — and avoids the double-precision
        # corruption float division would cause on epoch-ns magnitudes.
        ts_type = dict(df.dtypes)["ts"]
        if ts_type in ("bigint", "long"):
            df = df.withColumn(
                "ts",
                F.expr("cast(timestamp_micros(ts div 1000) as timestamp_ntz)"),
            )
        elif ts_type != "timestamp_ntz":
            # timestamp -> timestamp_ntz keeps the wall clock ONLY because
            # session.get_spark pins spark.sql.session.timeZone=UTC; a
            # session built elsewhere would shift ts by its local offset.
            # Always construct sessions through get_spark.
            df = df.withColumn("ts", F.col("ts").cast("timestamp_ntz"))
    return df


def fan_out(df: DataFrame) -> DataFrame:
    """Repartition up to defaultParallelism when the input arrives in
    fewer partitions — the driver testdata parquet files are ONE row
    group each (unsplittable), so any expensive per-row stage chained
    onto a raw scan runs on a single core. Cost is one small
    round-robin shuffle of the projected columns; at 100 TB the scan
    is already multi-split and this is a no-op. Use on the INPUT of
    interpreted-HOF / Arrow stages, not blanket in the catalog (a
    blanket repartition taxes every cheap query with a shuffle)."""
    n = df.sparkSession.sparkContext.defaultParallelism
    if df.rdd.getNumPartitions() < n:
        return df.repartition(n)
    return df


def _keep_application(memo: dict[tuple, object], app_id: str) -> None:
    """Forget the entries of every application but ``app_id`` — a
    stopped session's values can never be read again."""
    for key in [k for k in memo if k[0] != app_id]:
        del memo[key]


# (applicationId, path, st_ino, st_mtime_ns, st_size) -> loaded frame
_HANDLES: dict[tuple, DataFrame] = {}


def table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """The ``name`` table of ``sf_dir``, bound as the temp view ``name``.

    Calls `load_table` once per file version per application; later
    calls return the same handle."""
    path = os.path.join(sf_dir, f"{name}.parquet")
    st = os.stat(path)
    key = (spark.sparkContext.applicationId, path, st.st_ino, st.st_mtime_ns, st.st_size)
    df = _HANDLES.get(key)
    if df is None:
        _keep_application(_HANDLES, key[0])
        for stale in [k for k in _HANDLES if k[1] == path]:
            del _HANDLES[stale]  # an older version of this file
        df = _HANDLES[key] = load_table(spark, sf_dir, name)
    df.createOrReplaceTempView(name)
    return df
