"""Checkpoint/restart recovery (SURVEY §2.6 R1).

The reference enables 180 s checkpointing so a restarted job resumes
without reprocessing (EnrichmentApp.java:48, flink.conf:1). Spark's
equivalent contract: a restarted streaming query with the same
checkpointLocation resumes from committed offsets — files processed
before the stop are not emitted again, files added while down are
picked up, and the output is exactly the union.

Both tests run in the default tier: they check the session's streaming
checkpoint file manager (offset, commit and source logs, and the state
store's delta files) on every run.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from flink_application_spark.plans.cdr import CANONICAL, cdr_views
from flink_application_spark.sources.streams import file_stream
from flink_application_spark.streaming.pipeline import streaming_enrichment
from flink_application_spark.streaming.sinks import (
    SizeCalibratedRoller,
    committed_batch_dirs,
)

from arrow_batches import collect_batch


def _run_once(spark, src, out, ckpt):
    q = (
        spark.readStream.schema("v bigint")
        .parquet(src)
        .withColumn("doubled", F.col("v") * 2)
        .writeStream.format("parquet")
        .option("path", out)
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(300)


def test_restart_resumes_without_duplicates(spark, tmp_path):
    src, out, ckpt = (str(tmp_path / d) for d in ("src", "out", "ckpt"))

    spark.createDataFrame([(1,), (2,), (3,)], "v bigint").write.parquet(src)
    _run_once(spark, src, out, ckpt)
    first = sorted(r.v for r in spark.read.parquet(out).collect())
    assert first == [1, 2, 3]

    # new data lands while the query is down; restart with same checkpoint
    spark.createDataFrame([(4,), (5,)], "v bigint").write.mode("append").parquet(src)
    _run_once(spark, src, out, ckpt)

    rows = spark.read.parquet(out).collect()
    assert sorted(r.v for r in rows) == [1, 2, 3, 4, 5]  # no dupes, no loss
    assert all(r.doubled == 2 * r.v for r in rows)


def test_stateful_restart_equals_batch(spark, sf_dir, tmp_path):
    """The session-window dedup restarted on its checkpoint: the first
    run leaves open sessions in the state store, the restart (which
    only sees a far-future event) must restore and close them. The
    sink then holds exactly the batch pipeline's rows."""
    src, out, ckpt = (str(tmp_path / d) for d in ("src", "out", "ckpt"))
    v = cdr_views(spark, sf_dir)
    cdr = v["cdr_src"].withColumn("start_time", F.col("start_time").cast("timestamp"))
    cdr.write.parquet(src)
    imsi_msisdn = v["imsi_msisdn"]
    ms_ip = v["ms_ip"].withColumn("start_time", F.col("start_time").cast("timestamp"))

    def run():
        enriched = streaming_enrichment(
            file_stream(spark, src),
            imsi_msisdn,
            ms_ip,
            gap="1 hour",
            watermark_delay="0 seconds",
        )
        part = ("event_date", "probe")
        roller = SizeCalibratedRoller(out, part, 110 * 1024 * 1024)
        q = (
            enriched.writeStream.foreachBatch(
                lambda df, bid: roller.write_arrow(collect_batch(df, part), bid)
            )
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(300)
        return q

    first = run()
    assert first.lastProgress["stateOperators"][0]["numRowsTotal"] > 0
    n_first = len(committed_batch_dirs(out))

    # the watermark-flush event lands while the query is down; it must
    # reach the as-of join (a probe and IP the dim knows) to move the
    # dedup's watermark
    dim_row = ms_ip.first()
    cdr.limit(1).select(
        F.lit("2099-01-01 00:00:00").cast("timestamp").alias("start_time"),
        F.lit(dim_row.probe + "-sentinel").alias("measuring_probe_name"),
        F.lit(None).cast("bigint").alias("imsi"),
        F.lit(None).cast("bigint").alias("msisdn"),
        F.lit(dim_row.ms_ip_address).alias("ms_ip_address"),
        F.lit(-1).cast("bigint").alias("unique_cdr_id"),
    ).write.mode("append").parquet(src)
    run()
    assert len(committed_batch_dirs(out)) > n_first

    def canonical(df):
        return sorted(
            (tuple(r) for r in df.select(*[F.col(c).cast("string") for c in CANONICAL]).collect()),
            key=repr,
        )

    got = (
        spark.read.option("basePath", out)
        .parquet(*committed_batch_dirs(out))
        .filter(F.col("unique_cdr_id") != -1)
    )
    # the restart emitted the sessions the first run left open
    assert got.filter(F.col("_batch") >= n_first).count() > 0
    want = streaming_enrichment(
        spark.read.parquet(src).filter(F.col("unique_cdr_id") != -1),
        imsi_msisdn,
        ms_ip,
        gap="1 hour",
        watermark_delay="0 seconds",
    )
    assert canonical(got) == canonical(want)


def _files(root):
    import os

    out = {}
    for d, _, names in os.walk(root):
        for n in names:
            if n.endswith(".parquet"):
                p = os.path.join(d, n)
                with open(p, "rb") as f:
                    out[os.path.relpath(p, root)] = f.read()
    return out


def test_app_run_restart_and_replay_equal_batch(spark, sf_dir, tmp_path):
    """`app.run`'s size-rolled path closes sessions on the driver with
    its state in ``<checkpoint>/sessions``. The first availableNow run
    leaves sessions open; a restart that only sees a far-future event
    closes them, and the sink equals the batch pipeline as a multiset.
    A batch replayed because its commit-log entry is missing rewrites
    the same bytes in its sink and session-state directories."""
    import glob
    import os

    import pyarrow.parquet as pq

    from flink_application_spark.app import run

    src, out, ckpt = (str(tmp_path / d) for d in ("src", "out", "ckpt"))
    v = cdr_views(spark, sf_dir)
    cdr = v["cdr_src"].withColumn("start_time", F.col("start_time").cast("timestamp"))
    cdr.write.parquet(src)
    ms_ip = v["ms_ip"].withColumn("start_time", F.col("start_time").cast("timestamp"))
    v["imsi_msisdn"].write.parquet(str(tmp_path / "imsi_msisdn"))
    ms_ip.write.parquet(str(tmp_path / "ms_ip"))
    cfg = {
        "mode": "streaming",
        "source": {"format": "parquet", "path": src},
        "dims": {"imsi_msisdn": str(tmp_path / "imsi_msisdn"), "ms_ip": str(tmp_path / "ms_ip")},
        "sink": {
            "format": "parquet",
            "path": out,
            "checkpoint": ckpt,
            "trigger": None,
            "sink.rolling-policy.file-size": 110 * 1024 * 1024,
        },
        "dedup": {"gap": "1 hour", "watermark": "0 seconds"},
    }

    def open_sessions():
        (last,) = committed_batch_dirs(os.path.join(ckpt, "sessions"))[-1:]
        return pq.read_table(glob.glob(os.path.join(last, "*.parquet"))[0]).num_rows

    run(spark, cfg).awaitTermination(300)
    assert not os.path.exists(os.path.join(ckpt, "state"))  # no Spark state store
    assert open_sessions() > 0
    n_first = len(committed_batch_dirs(out))

    dim_row = ms_ip.first()
    cdr.limit(1).select(
        F.lit("2099-01-01 00:00:00").cast("timestamp").alias("start_time"),
        F.lit(dim_row.probe + "-sentinel").alias("measuring_probe_name"),
        F.lit(None).cast("bigint").alias("imsi"),
        F.lit(None).cast("bigint").alias("msisdn"),
        F.lit(dim_row.ms_ip_address).alias("ms_ip_address"),
        F.lit(-1).cast("bigint").alias("unique_cdr_id"),
    ).write.mode("append").parquet(src)
    run(spark, cfg).awaitTermination(300)
    assert open_sessions() == 1  # the flush event's own session

    def canonical(df):
        return sorted(
            (tuple(r) for r in df.select(*[F.col(c).cast("string") for c in CANONICAL]).collect()),
            key=repr,
        )

    got = spark.read.option("basePath", out).parquet(*committed_batch_dirs(out))
    assert got.filter(F.col("_batch") >= n_first).count() > 0
    want = streaming_enrichment(
        spark.read.parquet(src).filter(F.col("unique_cdr_id") != -1),
        v["imsi_msisdn"],
        ms_ip,
        gap="1 hour",
        watermark_delay="0 seconds",
    )
    assert canonical(got) == canonical(want)

    # replay: the last batch's sink commit happened, its commit-log entry
    # did not
    last = max(int(p.rsplit("=", 1)[1]) for p in committed_batch_dirs(out))
    sink_dir = os.path.join(out, f"_batch={last}")
    state_dir = os.path.join(ckpt, "sessions", f"_batch={last}")
    before = (_files(sink_dir), _files(state_dir))
    stamps = [os.stat(os.path.join(d, "_SUCCESS")).st_mtime_ns for d in (sink_dir, state_dir)]
    os.remove(os.path.join(ckpt, "commits", str(last)))
    q = run(spark, cfg)
    q.awaitTermination(300)
    assert q.lastProgress["batchId"] == last
    # rewritten, not left in place
    for d, stamp in zip((sink_dir, state_dir), stamps):
        assert os.stat(os.path.join(d, "_SUCCESS")).st_mtime_ns > stamp
    assert (_files(sink_dir), _files(state_dir)) == before
    assert before[0] and before[1]
