"""Bucketed keyless range join: equivalence to the naive theta join
and the plan property that justifies its existence (equi-join, not
nested-loop)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from flink_application_spark.catalog import table
from flink_application_spark.operators.rangejoin import interval_point_join


@pytest.fixture(scope="module")
def sides(spark, sf_dir):
    ev = table(spark, sf_dir, "events")
    points = ev.filter(F.col("event_type") == "click").select(
        F.col("event_id").alias("click_id"), F.col("ts").alias("click_ts")
    )
    intervals = ev.filter(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("purchase_id"),
        (F.col("ts") - F.expr("INTERVAL 30 MINUTES")).alias("start_ts"),
        F.col("ts").alias("end_ts"),
    )
    return points.cache(), intervals.cache()


def _pairs(df):
    return {(r["click_id"], r["purchase_id"]) for r in df.select("click_id", "purchase_id").collect()}


@pytest.mark.parametrize("width", [60, 1800, 7200])
def test_matches_naive_theta_join(sides, width):
    points, intervals = sides
    naive = points.join(
        intervals,
        (F.col("start_ts") <= F.col("click_ts")) & (F.col("click_ts") < F.col("end_ts")),
    )
    bucketed = interval_point_join(
        points, intervals, "click_ts", "start_ts", "end_ts", bucket_width_sec=width
    )
    assert bucketed.count() == naive.count()  # exactly-once, not just set-equal
    assert _pairs(bucketed) == _pairs(naive)


def test_plan_is_equi_join_not_nested_loop(sides):
    points, intervals = sides
    plan = interval_point_join(
        points, intervals, "click_ts", "start_ts", "end_ts"
    )._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastNestedLoopJoin" not in plan and "CartesianProduct" not in plan
    assert "Join" in plan


def test_boundary_semantics(spark):
    import datetime as dt

    t0 = dt.datetime(2024, 1, 1, 12, 0, 0)
    points = spark.createDataFrame(
        [(1, t0), (2, t0 + dt.timedelta(minutes=30))], "click_id: long, click_ts: timestamp_ntz"
    )
    intervals = spark.createDataFrame(
        [(9, t0, t0 + dt.timedelta(minutes=30))],
        "purchase_id: long, start_ts: timestamp_ntz, end_ts: timestamp_ntz",
    )
    got = _pairs(interval_point_join(points, intervals, "click_ts", "start_ts", "end_ts"))
    assert got == {(1, 9)}  # start inclusive, end exclusive
