"""Dynamic per-event session gaps — Flink's SessionWindowTimeGapExtractor
as Spark's expression-valued `session_window(ts, gapDuration)`:
purchase events hold a session open 3× longer than clicks. Streamed
result equals a hand-rolled batch sessionization with the same
per-event gap rule."""

from __future__ import annotations

import pytest as _pytest_tier

# slow tier: e2e streaming / stateful-store / property tests (round-8
# verdict item 8). Default runs exclude these via pytest.ini addopts;
# run the full suite with:  python -m pytest tests/ -q -m ''
pytestmark = _pytest_tier.mark.slow

import time

import pyspark.sql.functions as F

from flink_application_spark.catalog import table
from flink_application_spark.sources.streams import file_stream

_GAP_CLICK_S = 600     # 10 min
_GAP_PURCHASE_S = 1800  # 30 min


def _gap_col():
    return F.when(
        F.col("event_type") == "purchase", F.lit(f"{_GAP_PURCHASE_S} seconds")
    ).otherwise(F.lit(f"{_GAP_CLICK_S} seconds"))


def _batch_reference(ev):
    """Per-event-gap sessionization: an event EXTENDS the session while
    it starts before the previous event's (ts + its own gap); session
    end = max(ts + gap) over members (Spark's session_window merge
    semantics)."""
    rows = sorted(
        ev.collect(), key=lambda r: (r["user_id"], r["ts"], r["event_id"])
    )
    sessions = {}
    cur = None
    for r in rows:
        gap = _GAP_PURCHASE_S if r["event_type"] == "purchase" else _GAP_CLICK_S
        end_candidate = r["ts"].timestamp() + gap
        key = r["user_id"]
        if cur and cur[0] == key and r["ts"].timestamp() < cur[2]:
            cur = (key, cur[1], max(cur[2], end_candidate), cur[3] + 1)
        else:
            if cur:
                sessions.setdefault(cur[0], []).append(cur[1:])
            cur = (key, r["ts"].timestamp(), end_candidate, 1)
    if cur:
        sessions.setdefault(cur[0], []).append(cur[1:])
    return {
        (u, int(start), int(end), n)
        for u, lst in sessions.items()
        for (start, end, n) in lst
    }


def test_dynamic_gap_stream_equals_reference(spark, sf_dir, tmp_path):
    ev = (
        table(spark, sf_dir, "events")
        .select("event_id", "user_id", "ts", "event_type")
        .filter(F.col("user_id") < 40)  # keep the reference loop small
        .cache()
    )
    src = tmp_path / "waves"
    lo, hi = ev.agg(F.min("ts"), F.max("ts")).collect()[0]
    mid = lo + (hi - lo) / 2
    for cond in (F.col("ts") < mid, F.col("ts") >= mid):
        ev.filter(cond).coalesce(1).write.mode("append").parquet(str(src))
        time.sleep(1.2)
    # flush sentinels: far-future rows per user so the watermark closes
    # every real session (two waves for the propagation lag)
    users = ev.select("user_id").distinct()
    for j, stamp in enumerate(("2099-01-01 00:00:00", "2099-01-01 01:00:00")):
        users.select(
            (
                F.lit(30_000_000 + j).cast("long") * 100 + F.col("user_id")
            ).alias("event_id"),
            "user_id",
            F.lit(stamp).cast("timestamp_ntz").alias("ts"),
            F.lit("view").alias("event_type"),
        ).coalesce(1).write.mode("append").parquet(str(src))
        time.sleep(1.2)

    stream = (
        file_stream(spark, str(src), max_files_per_trigger=1)
        .withColumn("ts", F.col("ts").cast("timestamp"))
        .withWatermark("ts", "1 minute")
    )
    out = (
        stream.groupBy(
            F.session_window(F.col("ts"), _gap_col()).alias("w"), "user_id"
        )
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            "user_id",
            F.unix_timestamp("w.start").alias("start_s"),
            F.unix_timestamp("w.end").alias("end_s"),
            "n_events",
        )
    )
    q = (
        out.writeStream.format("memory")
        .queryName("dyn_session_out")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(300)

    got = {
        (r["user_id"], r["start_s"], r["end_s"], r["n_events"])
        for r in spark.table("dyn_session_out").collect()
        if r["start_s"] < 4_000_000_000  # drop sentinel sessions
    }
    want = {
        s
        for s in _batch_reference(ev)
        if s[1] < 4_000_000_000
    }
    assert got == want
    assert len(want) > 0
    # non-vacuous: the dynamic gap actually differs from a fixed one —
    # some session must contain a purchase whose longer gap merged it
    fixed = (
        ev.groupBy(
            F.session_window(
                F.col("ts").cast("timestamp"), f"{_GAP_CLICK_S} seconds"
            ).alias("w"),
            "user_id",
        )
        .agg(F.count(F.lit(1)).alias("n_events"))
        .count()
    )
    assert fixed != len(want)
    ev.unpersist()
