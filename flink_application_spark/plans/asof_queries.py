"""As-of join queries — the applyInPandas merge_asof scale path,
checked against (a) the reference pipeline's join+argmax oracle and
(b) DuckDB's native ASOF JOIN.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from flink_application_spark.catalog import table
from flink_application_spark.operators.asof import asof_join
from flink_application_spark.operators.dedup import argmax_dedup
from flink_application_spark.operators.enrichment import (
    coalesce_enrich,
    explode_delimited,
    extend_with_partition_cols,
    select_canonical,
)
from flink_application_spark.plans.cdr import (
    _ASOF_ORDER_SPARK,
    _PATH_B_ORACLE,
    CANONICAL,
    cdr_views,
)
from flink_application_spark.plans.registry import register


@register(
    "cdr_enrich_path_b_asof",
    _PATH_B_ORACLE,
    doc="Path B re-implemented with the per-key merge_asof operator "
    "(operators/asof.py) instead of theta-join + window-rank: both "
    "sides shuffle ONCE on (probe, ip), each key's version history is "
    "merged sorted in an Arrow batch — no |left|×|versions| candidate "
    "blowup. Same oracle as cdr_enrich_path_b ⇒ proves plan "
    "equivalence of the two physical strategies.",
    tags=("cdr", "asof", "join"),
)
def q_path_b_asof(spark: SparkSession, sf_dir: str) -> DataFrame:
    v = cdr_views(spark, sf_dir)
    src = extend_with_partition_cols(v["cdr_src"]).filter(F.col("imsi").isNull())
    exploded = explode_delimited(src, "ms_ip_address", out_col="ip")
    dim = explode_delimited(v["ms_ip"], "ms_ip_address", out_col="ip").select(
        F.col("probe").alias("_probe"),
        F.col("ip").alias("_ip"),
        F.col("start_time").alias("_start_time"),
        F.col("msisdn").alias("_msisdn"),
        F.col("imsi").alias("_imsi"),
    )
    best_per_ip = asof_join(
        exploded,
        dim,
        equi_keys=[("probe", "_probe"), ("ip", "_ip")],
        left_ts="start_time",
        right_ts="_start_time",
        # tie-break order matches _ASOF_ORDER_SPARK (_msisdn before _imsi)
        right_payload=["_msisdn", "_imsi"],
        how="inner",
    )
    # a CDR may explode to several IPs → reduce to the best match per id
    best = argmax_dedup(best_per_ip, ["unique_cdr_id"], _ASOF_ORDER_SPARK)
    return select_canonical(
        coalesce_enrich(best, {"imsi": "_imsi", "msisdn": "_msisdn"}), CANONICAL
    )


@register(
    "events_asof_last_signup",
    """
WITH signups AS (
  SELECT user_id, ts, max(event_id) AS signup_event_id
  FROM events WHERE event_type = 'signup'
  GROUP BY user_id, ts
),
clicks AS (
  SELECT user_id, event_id, ts, value FROM events WHERE event_type = 'click'
)
SELECT c.user_id, c.event_id, c.ts, round(c.value, 2) AS value,
       s.ts AS signup_ts, s.signup_event_id
FROM clicks c
ASOF JOIN signups s ON c.user_id = s.user_id AND c.ts >= s.ts
""",
    doc="Generic as-of: each click joined to the user's most recent "
    "signup at-or-before it — DuckDB's native ASOF JOIN is the oracle "
    "for the applyInPandas merge_asof implementation.",
    tags=("asof", "events", "join"),
)
def q_events_asof(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = table(spark, sf_dir, "events")
    signups = (
        ev.filter(F.col("event_type") == "signup")
        .groupBy("user_id", "ts")
        .agg(F.max("event_id").alias("signup_event_id"))
        .select(
            F.col("user_id").alias("s_user_id"),
            F.col("ts").alias("signup_ts"),
            "signup_event_id",
        )
    )
    clicks = ev.filter(F.col("event_type") == "click").select(
        "user_id", "event_id", "ts", F.round("value", 2).alias("value")
    )
    return asof_join(
        clicks,
        signups,
        equi_keys=[("user_id", "s_user_id")],
        left_ts="ts",
        right_ts="signup_ts",
        right_payload=["signup_event_id"],
        how="inner",
    )


@register(
    "events_interval_join_purchase_clicks",
    """
SELECT p.user_id AS user_id,
       p.event_id AS purchase_id,
       c.event_id AS click_id,
       p.ts AS purchase_ts,
       c.ts AS click_ts
FROM (SELECT user_id, event_id, ts FROM events WHERE event_type = 'purchase') p
JOIN (SELECT user_id, event_id, ts FROM events WHERE event_type = 'click') c
  ON c.user_id = p.user_id
 AND c.ts >= p.ts - INTERVAL 10 MINUTE
 AND c.ts <= p.ts
""",
    doc="Attribution interval join: every click of the same user in the "
    "10 minutes before a purchase (streaming/interval_join.py on batch "
    "frames — watermarks no-op, identical condition; the streaming "
    "equivalence is tests/test_streaming.py::"
    "test_interval_join_stream_equals_batch). Equi-key user_id keeps "
    "it a hash join with the band as residual, never a cross product.",
    tags=("events", "interval", "join"),
)
def q_events_interval(spark: SparkSession, sf_dir: str) -> DataFrame:
    from flink_application_spark.streaming.interval_join import interval_join

    ev = table(spark, sf_dir, "events")
    p = ev.filter(F.col("event_type") == "purchase").select(
        "user_id", F.col("event_id").alias("purchase_id"), F.col("ts").alias("purchase_ts")
    )
    c = ev.filter(F.col("event_type") == "click").select(
        F.col("user_id").alias("c_user_id"),
        F.col("event_id").alias("click_id"),
        F.col("ts").alias("click_ts"),
    )
    out = interval_join(
        c,
        p,
        F.col("c_user_id") == F.col("user_id"),
        left_ts="click_ts",
        right_ts="purchase_ts",
        lower="10 minutes",
        upper="0 seconds",
        left_watermark="0 seconds",
        right_watermark="0 seconds",
    )
    return out.select("user_id", "purchase_id", "click_id", "purchase_ts", "click_ts")
