"""Keyless range-join query: clicks attributed to ANY purchase's
trailing 30-minute window (no user equi key — the cross-user
"activity near a conversion" shape that a naive planner turns into a
nested-loop cross product).

`operators/rangejoin.py:interval_point_join` blocks on 30-minute time
buckets so the plan is a hash-partitioned equi-join; the oracle is the
plain theta join. `tests/test_rangejoin.py` pins both the row-level
equivalence against a naive Spark theta join and the plan property
(no BroadcastNestedLoopJoin / CartesianProduct).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from flink_application_spark.catalog import table
from flink_application_spark.operators.rangejoin import interval_point_join
from flink_application_spark.plans.registry import register


def _purchases(ev: DataFrame) -> DataFrame:
    return ev.filter(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("purchase_id"),
        (F.col("ts") - F.expr("INTERVAL 30 MINUTES")).alias("start_ts"),
        F.col("ts").alias("end_ts"),
    )


def _clicks(ev: DataFrame) -> DataFrame:
    return ev.filter(F.col("event_type") == "click").select(
        F.col("ts").alias("click_ts"), F.col("user_id").alias("click_user")
    )


@register(
    "events_global_interval_join",
    """
SELECT p.event_id AS purchase_id,
       count(*) AS n_clicks,
       count(DISTINCT c.user_id) AS n_users
FROM events p
JOIN events c
  ON p.event_type = 'purchase' AND c.event_type = 'click'
 AND p.ts - INTERVAL 30 MINUTE <= c.ts AND c.ts < p.ts
GROUP BY p.event_id
""",
    doc="Keyless point-in-interval range join: every click inside ANY "
    "purchase's trailing 30-minute window, aggregated per purchase. "
    "Bucket blocking (30-min quantization, interval exploded onto "
    "covered buckets) turns the keyless theta join into a "
    "hash-partitioned equi-join — each qualifying pair produced "
    "exactly once, no nested-loop cross product.",
    tags=("events", "rangejoin"),
)
def q_global_interval_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = table(spark, sf_dir, "events")
    j = interval_point_join(
        _clicks(ev),
        _purchases(ev),
        ts_col="click_ts",
        start_col="start_ts",
        end_col="end_ts",
        bucket_width_sec=1800,
    )
    return j.groupBy("purchase_id").agg(
        F.count(F.lit(1)).alias("n_clicks"),
        F.countDistinct("click_user").alias("n_users"),
    )
