"""HLL sketch rollup contracts."""

from __future__ import annotations

from pyspark.sql import functions as F

from flink_application_spark.catalog import table
from flink_application_spark.plans.sketch_queries import (
    daily_user_sketches,
    rollup_sketches,
)


def test_hll_rollup_within_error_bounds(spark, sf_dir):
    """Union-merged per-type estimates must sit within HLL's error
    envelope of the exact distinct counts (default lgK=12 → ~1.6%
    standard error; assert a generous 5%)."""
    events = table(spark, sf_dir, "events")
    est = {
        r["event_type"]: r["est_users"]
        for r in rollup_sketches(daily_user_sketches(events)).collect()
    }
    exact = {
        r["event_type"]: r["d"]
        for r in events.groupBy("event_type")
        .agg(F.countDistinct("user_id").alias("d"))
        .collect()
    }
    assert set(est) == set(exact)
    for t, d in exact.items():
        assert abs(est[t] - d) <= max(0.05 * d, 2.0), (t, est[t], d)


def test_hll_merge_equals_direct_sketch(spark, sf_dir):
    """Merging daily sketches must estimate the same as sketching the
    whole slice directly — the mergeability contract that makes the
    sketch table a valid substitute for re-scanning raw data."""
    events = table(spark, sf_dir, "events")
    merged = {
        r["event_type"]: r["est_users"]
        for r in rollup_sketches(daily_user_sketches(events)).collect()
    }
    direct = {
        r["event_type"]: r["est"]
        for r in events.groupBy("event_type")
        .agg(F.hll_sketch_estimate(F.hll_sketch_agg("user_id")).alias("est"))
        .collect()
    }
    assert merged == direct
