"""The `_batch` store writer (`sinks._commit_arrow_batch`, what the
parquet sink runs per micro-batch): a micro-batch collected as Arrow
and written with pyarrow must read back exactly as the Spark-written
batch it replaces — same partition directory names, same rows, same
schema — with one row group per file."""

from __future__ import annotations

import datetime as dt
import glob
import os

import duckdb
import pyarrow.parquet as pq
from pyspark.sql import functions as F

from flink_application_spark.streaming.sinks import _commit_arrow_batch

from arrow_batches import collect_batch


def _write_batch(df, root, batch_id, partition_by=(), max_records_per_file=None):
    return _commit_arrow_batch(
        collect_batch(df, partition_by), root, batch_id, partition_by, max_records_per_file
    )


def _rows(df):
    return sorted((tuple(r) for r in df.collect()), key=repr)


def test_one_row_group_per_file_under_the_cap(spark, tmp_path):
    df = spark.range(0, 4000, numPartitions=8).select(
        "id", (F.col("id") % 3).cast("string").alias("p")
    )
    # precondition: the collected table arrives in several record
    # batches, the case that used to cut one row group per batch
    assert collect_batch(df, ("p",)).column("id").num_chunks >= 4
    files = _write_batch(
        df, str(tmp_path), 0, partition_by=("p",), max_records_per_file=10_000
    )
    assert len(files) == 3  # one file per partition cell
    for path, rows, nbytes in files:
        meta = pq.ParquetFile(path).metadata
        assert meta.num_row_groups == 1, path
        assert (meta.num_rows, os.path.getsize(path)) == (rows, nbytes)
    assert sum(r for _, r, _ in files) == 4000
    # over the cap: files roll on the record count
    files = _write_batch(
        df, str(tmp_path), 1, partition_by=("p",), max_records_per_file=500
    )
    assert max(r for _, r, _ in files) == 500
    assert all(pq.ParquetFile(p).metadata.num_row_groups == 1 for p, _, _ in files)


def _partition_dirs(root):
    return sorted(
        os.path.relpath(d, root)
        for d in glob.glob(os.path.join(root, "**", "*=*"), recursive=True)
        if os.path.isdir(d)
    )


def test_partition_directory_names_match_spark(spark, tmp_path):
    values = [None, "", "a/b", "x=y", "pct%", "sp ace", "c:d", "{b}[r]^", "tab\tq"]
    df = spark.createDataFrame(
        [(i, v, i % 2) for i, v in enumerate(values)], "id int, p string, q int"
    )
    twin = str(tmp_path / "spark")
    df.write.partitionBy("p", "q").parquet(twin)
    root = str(tmp_path / "store")
    _write_batch(df, root, 0, partition_by=("p", "q"))
    sub = os.path.join(root, "_batch=0")
    assert _partition_dirs(sub) == _partition_dirs(twin)
    got = spark.read.option("basePath", root).parquet(sub).drop("_batch")
    want = spark.read.parquet(twin)
    assert got.schema == want.schema
    assert _rows(got) == _rows(want)


def test_partition_values_print_as_spark_prints_them(spark, tmp_path):
    df = spark.sql(
        "SELECT 1 AS id, timestamp'2024-01-02 03:04:05.5' AS ts, "
        "date'2024-01-02' AS d, 1e20D AS big, true AS b, 1.25BD AS dec"
    )
    parts = ("ts", "d", "big", "b", "dec")
    twin = str(tmp_path / "spark")
    df.write.partitionBy(*parts).parquet(twin)
    root = str(tmp_path / "store")
    _write_batch(df, root, 0, partition_by=parts)
    assert _partition_dirs(os.path.join(root, "_batch=0")) == _partition_dirs(twin)


def test_types_round_trip(spark, tmp_path):
    schema = (
        "ts timestamp, ntz timestamp_ntz, d date, dec string, "
        "ad array<double>, al array<bigint>, m map<string,bigint>, "
        "bin binary, s struct<a: int, b: string>"
    )
    big = "9" * 38
    rows = [
        (
            dt.datetime(2024, 1, 2, 3, 4, 5, 123456, tzinfo=dt.timezone.utc),
            dt.datetime(2024, 1, 2, 3, 4, 5, 654321),
            dt.date(2024, 1, 2),
            big,
            [1.5, None, -0.0],
            [1, None, 2**62],
            {"a": 1, "b": None},
            bytes(range(256)),
            (7, "x"),
        ),
        (
            dt.datetime(1969, 12, 31, 23, 59, 59, 1, tzinfo=dt.timezone.utc),
            dt.datetime(1900, 1, 1),
            dt.date(1, 1, 1),
            "-" + big,
            [],
            [],
            {},
            b"",
            (None, None),
        ),
        (None,) * 9,
    ]
    # the widest decimal goes in as a string: Python decimals above
    # 2^63 do not survive createDataFrame
    df = spark.createDataFrame(rows, schema).withColumn(
        "dec", F.col("dec").cast("decimal(38,0)")
    )
    root = str(tmp_path / "store")
    _write_batch(df, root, 3)
    back = (
        spark.read.option("basePath", root)
        .parquet(os.path.join(root, "_batch=3"))
        .drop("_batch")
    )
    assert back.schema == df.schema
    assert _rows(back) == _rows(df)

    want = _rows(
        df.select(F.unix_micros("ts"), F.unix_micros(F.col("ntz").cast("timestamp")))
    )
    con = duckdb.connect()
    con.execute("SET TimeZone = 'UTC'")
    got = con.execute(
        "SELECT epoch_us(ts), epoch_us(ntz) FROM read_parquet(?)",
        [os.path.join(root, "_batch=3", "*.parquet")],
    ).fetchall()
    assert sorted(got, key=repr) == sorted(want, key=repr)


def test_empty_batches_commit_like_spark(spark, tmp_path):
    empty = spark.createDataFrame([], "id bigint, p string")
    root = str(tmp_path)
    # unpartitioned: one schema-only file, so readers still get a schema
    _write_batch(empty, root, 0)
    assert spark.read.parquet(os.path.join(root, "_batch=0")).schema == empty.schema
    _write_batch(empty, root, 1, partition_by=("p",))
    assert sorted(os.listdir(os.path.join(root, "_batch=1"))) == ["_SUCCESS"]


def test_replay_replaces_the_batch_and_leaves_no_staging(spark, tmp_path):
    root = str(tmp_path)
    df = spark.range(10).select("id", (F.col("id") % 2).alias("p"))
    _write_batch(df, root, 0, partition_by=("p",))
    _write_batch(df.filter("id < 4"), root, 0, partition_by=("p",))
    assert sorted(os.listdir(root)) == ["_batch=0"]
    assert spark.read.parquet(root).count() == 4


def test_memory_writer_sends_each_batch_once(spark):
    """The memory sink hands each batch's rows to the JVM once (not
    every row written so far, again, per batch), and a replayed batch
    id still replaces its own rows."""
    import pyarrow as pa

    from flink_application_spark.streaming.sinks import memory_table_writer

    sent = []

    class Spy:
        def createDataFrame(self, table):
            sent.append(table.num_rows)
            return spark.createDataFrame(table)

    write = memory_table_writer(Spy(), "memory_writer_once")
    batches = [list(range(10 * b, 10 * b + 3 + b)) for b in range(4)]
    for b, ids in enumerate(batches):
        write(pa.table({"id": ids}), b)
    assert sum(sent) == sum(len(ids) for ids in batches)
    write(pa.table({"id": [100, 101]}), 2)  # replay of batch 2
    got = sorted(r.id for r in spark.table("memory_writer_once").collect())
    assert got == sorted(batches[0] + batches[1] + [100, 101] + batches[3])


def test_memory_writer_folds_batches(spark, monkeypatch):
    """Every MEMORY_FOLD_BATCHES batches the memory sink folds its
    per-batch relations into one local checkpoint, so the view's plan
    has a bounded number of leaves; a replay of a folded batch and of
    a recent one still replaces their rows, each row once."""
    import pyarrow as pa

    from flink_application_spark.streaming import sinks

    monkeypatch.setattr(sinks, "MEMORY_FOLD_BATCHES", 2)
    write = sinks.memory_table_writer(spark, "memory_writer_fold")
    batches = {b: [10 * b, 10 * b + 1] for b in range(7)}
    for b, ids in batches.items():
        write(pa.table({"id": ids}), b)
        plan = spark.table("memory_writer_fold")._jdf.queryExecution().analyzed()
        assert plan.collectLeaves().size() <= 2, b
    batches[1] = [100]  # folded
    batches[6] = [106, 107, 108]  # not yet folded
    for b in (1, 6):
        write(pa.table({"id": batches[b]}), b)
    got = sorted(r.id for r in spark.table("memory_writer_fold").collect())
    assert got == sorted(i for ids in batches.values() for i in ids)
