"""The closing path's dim lookups on the driver: `pipeline.lookup_candidates`
runs both joins of `enrichment_candidates` in Arrow over one collected
micro-batch of `lookup_projection` rows.

Parity: on a seeded random batch plus the edge rows the two engines
could read differently (NULL keys and values, odd IP lists, duplicate
dim keys, a dim version starting exactly at the event, a non-ASCII
probe), the Arrow rows equal Spark's as multisets, in Spark's schema.
Cost: a closing query started by `app.run` runs one Spark job per
micro-batch, plans no join, and loads a plain dim once.
"""

from __future__ import annotations

import datetime as dt
import glob
import os
import random
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
from flink_application_spark.streaming.sinks import _collect_batch

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
    want = _collect_batch(enrichment_candidates(src, imsi, ms_ip, path_a_how=how), PART)
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


def test_closing_query_runs_one_job_per_batch_and_loads_dims_once(spark, tmp_path, monkeypatch):
    from flink_application_spark import app

    src, imsi, ms_ip = _frames(spark, tmp_path)
    loads = Counter()
    load_dim = app._load_dim

    def counting(spark_, spec):
        loads[spec] += 1
        return load_dim(spark_, spec)

    monkeypatch.setattr(app, "_load_dim", counting)
    stream_dir = tmp_path / "stream"
    stream_dir.mkdir()

    def release(k):
        # one file per micro-batch, moved in whole
        stage = str(tmp_path / f"stage{k}")
        src.filter(src.unique_cdr_id % 3 == k).coalesce(1).write.parquet(stage)
        (part,) = glob.glob(os.path.join(stage, "part-*.parquet"))
        os.rename(part, stream_dir / f"{k}.parquet")

    release(0)
    cfg = {
        "mode": "streaming",
        "source": {"format": "parquet", "path": str(stream_dir)},
        "dims": {"imsi_msisdn": str(tmp_path / "imsi"), "ms_ip": str(tmp_path / "ms_ip")},
        "sink": {
            "format": "parquet",
            "path": str(tmp_path / "out"),
            "checkpoint": str(tmp_path / "ckpt"),
            "trigger": "200 milliseconds",
            "sink.rolling-policy.file-size": 1 << 20,
        },
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
    n = batches()
    assert n == 3 and len(q.recentProgress) == n
    assert _status_jobs(spark, q.runId) == n
    plan = q._jsq.streamingQuery().lastExecution().executedPlan().toString()
    assert "Join" not in plan and "Broadcast" not in plan
    assert dict(loads) == {str(tmp_path / "imsi"): 1, str(tmp_path / "ms_ip"): 1}


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
