"""The closing path's dim lookups on the driver: `pipeline.lookup_candidates`
runs both joins of `enrichment_candidates` in Arrow over one collected
micro-batch of `lookup_projection` rows.

Parity: on a seeded random batch plus the edge rows the two engines
could read differently (NULL keys and values, odd IP lists, duplicate
dim keys, a dim version starting exactly at the event, a non-ASCII
probe), the Arrow rows equal Spark's as multisets, in Spark's schema.
Cost: a query started by `app.run`, for every sink format, runs one
Spark job per micro-batch, plans no join and no stateful operator, and
loads a plain dim once.
"""

from __future__ import annotations

import datetime as dt
import glob
import os
import random
import re
import tempfile
import time
from collections import Counter

import pytest

from flink_application_spark.streaming.pipeline import (
    enrichment_candidates,
    imsi_lookup_dim,
    lookup_candidates,
    lookup_projection,
    ms_ip_lookup_dim,
)

from arrow_batches import collect_batch

SRC = (
    "start_time timestamp, measuring_probe_name string, imsi bigint, "
    "msisdn bigint, ms_ip_address string, unique_cdr_id bigint"
)
IMSI = "imsi bigint, msisdn bigint"
MS_IP = "start_time timestamp, imsi bigint, msisdn bigint, ms_ip_address string, probe string"
T0 = dt.datetime(2024, 1, 1)
PART = ("event_date", "probe")


def _at(s):
    return None if s is None else T0 + dt.timedelta(seconds=s)


def _frames(spark, tmp_path):
    rng = random.Random(11)
    probes = ["mo-a", "mt-b", "äö-c", "x"]
    ips = ["10.0.0.1", "10.0.0.2", "10.0.0.3", "10.0.0.4"]

    def ip_list():
        toks = rng.sample(ips, rng.randrange(0, 3)) + [""] * rng.randrange(0, 2)
        rng.shuffle(toks)
        return rng.choice(["", ";", " "]) + rng.choice([";", " ; ", ";;"]).join(toks) + rng.choice(["", ";"])

    src = [
        (
            _at(rng.randrange(0, 40)),
            rng.choice(probes + [None]),
            rng.choice([None, None, 1, 2, 3, 4, 99]),
            rng.choice([None, 500, 600]),
            rng.choice([ip_list(), ip_list(), None]),
            i,
        )
        for i in range(300)
    ]
    src += [
        # Path B: start_time equal to a dim version's start; an event
        # msisdn the writeback must replace
        (_at(20), "mo-z", None, 123, ";10.0.0.9;", 1000),
        (_at(20), "äö-probe", None, None, " ;; 10.0.0.9 ;", 1001),  # non-ASCII prefix
        (_at(5), "mo-z", None, None, ";; ;", 1002),  # only empty tokens
        (_at(5), None, None, None, ";10.0.0.9;", 1003),  # NULL probe
        (None, "mo-z", None, None, ";10.0.0.9;", 1004),  # NULL start_time
        (_at(5), "mo-z", None, None, None, 1005),  # NULL IP list
        # Path A: duplicate dim key, unmatched key, event msisdn set
        (_at(5), "mo-z", 7, 777, ";10.0.0.9;", 1006),
        (_at(5), None, 6, None, None, 1007),
        (_at(5), "mo-z", 98, 1, ";10.0.0.9;", None),  # NULL id
    ]
    imsi = [(k, 10_000 + k) for k in (1, 2, 3, 4, 5)] + [(7, 71), (7, 72), (None, 1), (8, None)]
    ms_ip = [
        (_at(rng.randrange(0, 40)), rng.randrange(10), rng.choice([None, 900, 901]), ip_list(), p[:2])
        for p in rng.choices(probes, k=30)
    ]
    ms_ip += [
        (_at(20), 31, 310, ";10.0.0.9;", "mo"),  # starts exactly at event 1000
        (_at(10), 32, None, ";10.0.0.9;", "mo"),  # a second version of (mo, 10.0.0.9)
        (_at(0), 33, 330, " 10.0.0.9 ", "äö"),
        (_at(0), 34, 340, ";10.0.0.9;", None),  # NULL keys and start never match
        (_at(0), 35, 350, None, "mo"),
        (None, 36, 360, ";10.0.0.9;", "mo"),
    ]
    out = []
    for name, rows, ddl in (("src", src, SRC), ("imsi", imsi, IMSI), ("ms_ip", ms_ip, MS_IP)):
        # read back from parquet, as the stream and the dims are
        spark.createDataFrame(rows, ddl).write.parquet(str(tmp_path / name))
        out.append(spark.read.parquet(str(tmp_path / name)))
    return out


@pytest.mark.parametrize("how", ["inner", "left"])
def test_arrow_lookups_equal_spark_candidates(spark, tmp_path, how):
    src, imsi, ms_ip = _frames(spark, tmp_path)
    want = collect_batch(enrichment_candidates(src, imsi, ms_ip, path_a_how=how), PART)
    got = lookup_candidates(
        lookup_projection(src, PART).toArrow(),
        imsi_lookup_dim(imsi).toArrow(),
        ms_ip_lookup_dim(ms_ip).toArrow(),
        path_a_how=how,
    )
    assert got.schema.equals(want.schema)
    rows = Counter(tuple(r.values()) for r in got.to_pylist())
    assert rows == Counter(tuple(r.values()) for r in want.to_pylist())
    ids = {r[5] for r in rows}
    # the edge rows that must land, and the ones no dim row matches
    assert {1000, 1001, 1006} <= ids and not {1002, 1003, 1004, 1005} & ids
    assert (1007 in ids) == (how == "left")


def _status_jobs(spark, run_id) -> int:
    return len(spark.sparkContext.statusTracker().getJobIdsForGroup(str(run_id)))


# the sinks `app.run` starts; a parquet sink gets a path and a
# checkpoint, memory and console run without one
SINKS = {
    "rolled_parquet": {"format": "parquet", "sink.rolling-policy.file-size": 1 << 20},
    "plain_parquet": {"format": "parquet"},
    "memory": {"format": "memory", "name": "closing_memory_out"},
    "console": {"format": "console"},
}


def _closing_run(spark, tmp_path, root, src, sink):
    """`app.run` on ``sink``, fed ``src`` as three one-file waves, one
    micro-batch each; returns the stopped query."""
    from flink_application_spark import app

    stream_dir = root / "stream"
    stream_dir.mkdir(parents=True)

    def release(k):
        # one file per micro-batch, moved in whole
        stage = str(root / f"stage{k}")
        src.filter(src.unique_cdr_id % 3 == k).coalesce(1).write.parquet(stage)
        (part,) = glob.glob(os.path.join(stage, "part-*.parquet"))
        os.rename(part, stream_dir / f"{k}.parquet")

    if sink["format"] == "parquet":
        sink = {**sink, "path": str(root / "out"), "checkpoint": str(root / "ckpt")}
    release(0)
    cfg = {
        "mode": "streaming",
        "source": {"format": "parquet", "path": str(stream_dir)},
        "dims": {"imsi_msisdn": str(tmp_path / "imsi"), "ms_ip": str(tmp_path / "ms_ip")},
        "sink": {**sink, "trigger": "200 milliseconds"},
    }
    q = app.run(spark, cfg)
    try:

        def batches():
            return sum(p["numInputRows"] > 0 for p in q.recentProgress)

        for k in range(3):
            if k:
                release(k)
            deadline = time.time() + 120
            while batches() < k + 1:
                assert time.time() < deadline and q.exception() is None
                time.sleep(0.2)
    finally:
        q.stop()
    assert batches() == 3
    return q


@pytest.mark.parametrize("sink", list(SINKS))
def test_closing_query_runs_one_job_per_batch_and_loads_dims_once(
    spark, tmp_path, monkeypatch, capsys, sink
):
    from flink_application_spark import app

    src, _, _ = _frames(spark, tmp_path)
    loads = Counter()
    load_dim = app._load_dim

    def counting(spark_, spec):
        loads[spec] += 1
        return load_dim(spark_, spec)

    monkeypatch.setattr(app, "_load_dim", counting)
    # a sink without a checkpoint leaves nothing in the system temp dir
    systmp = tmp_path / "systmp"
    systmp.mkdir()
    monkeypatch.setattr(tempfile, "tempdir", str(systmp))
    q = _closing_run(spark, tmp_path, tmp_path / sink, src, SINKS[sink])
    assert list(systmp.iterdir()) == []
    assert all(p["stateOperators"] == [] for p in q.recentProgress)
    plan = q._jsq.streamingQuery().lastExecution().executedPlan().toString()
    assert "Join" not in plan and "Broadcast" not in plan
    # no watermark in Spark's plan, so no no-data batch
    assert len(q.recentProgress) == 3 and _status_jobs(spark, q.runId) == 3
    assert dict(loads) == {str(tmp_path / "imsi"): 1, str(tmp_path / "ms_ip"): 1}
    if sink == "console":
        assert re.findall(r"^Batch: (\d+)$", capsys.readouterr().out, re.M) == ["0", "1", "2"]
    if sink == "memory":
        got = spark.table(SINKS["memory"]["name"])
        _closing_run(spark, tmp_path, tmp_path / "plain", src, SINKS["plain_parquet"])
        want = spark.read.parquet(str(tmp_path / "plain" / "out")).drop("_batch")
        assert [(f.name, f.dataType) for f in got.schema] == [
            (f.name, f.dataType) for f in want.schema
        ]
        rows = Counter(map(tuple, got.collect()))
        assert rows and rows == Counter(map(tuple, want.collect()))


def test_unknown_sink_format_fails_before_loading_or_starting(spark, tmp_path, monkeypatch):
    from flink_application_spark import app

    loads = []
    monkeypatch.setattr(app, "_load_dim", lambda *a: loads.append(a))
    cfg = {
        "mode": "streaming",
        "source": {"format": "parquet", "path": str(tmp_path / "src")},
        "dims": {"imsi_msisdn": str(tmp_path / "imsi"), "ms_ip": str(tmp_path / "ms_ip")},
        "sink": {"format": "kafka", "checkpoint": str(tmp_path / "ckpt")},
    }
    with pytest.raises(ValueError, match="'kafka': the supported formats are parquet, memory and console"):
        app.run(spark, cfg)
    assert loads == [] and spark.streams.active == []


def test_closing_query_raises_the_loaders_error_and_stops(spark, tmp_path):
    """The dims load while the query starts; a failed load still fails
    `app.run` itself, with the loader's own exception, and leaves no
    query running."""
    from pyspark.errors import AnalysisException

    from flink_application_spark import app

    src, _, _ = _frames(spark, tmp_path)
    missing = str(tmp_path / "no_such_dim")
    cfg = {
        "mode": "streaming",
        "source": {"format": "parquet", "path": str(tmp_path / "src")},
        "dims": {"imsi_msisdn": missing, "ms_ip": str(tmp_path / "ms_ip")},
        "sink": {
            "format": "parquet",
            "path": str(tmp_path / "out"),
            "checkpoint": str(tmp_path / "ckpt"),
            "trigger": "200 milliseconds",
            "sink.rolling-policy.file-size": 1 << 20,
        },
    }
    with pytest.raises(AnalysisException, match="PATH_NOT_FOUND") as err:
        app.run(spark, cfg)
    assert missing in str(err.value)
    assert spark.streams.active == []
