"""Seasonal-baseline anomaly detection: per (event_type, iso-dow,
hour) median baselines with spike counts — the calendar-seasonality
profile `events_anomaly_zscore` (global moments) deliberately
lacks, and the standard first model for traffic/metrics monitoring.

Shape: one exact-median aggregate over (type, dow, hour) — 5×7×24
groups regardless of corpus size — then a broadcast-back join flags
events above k× their OWN slot's baseline. Both engines compute the
interpolating median (`percentile(…, 0.5)` / `quantile_cont`) over
identical doubles, so the oracle reproduces every baseline.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from flink_application_spark.catalog import table
from flink_application_spark.plans.registry import register

_SPIKE = 3.0  # flag events above 3× their slot median


@register(
    "events_seasonal_baseline_anomaly",
    f"""
WITH slotted AS (
  SELECT event_type, isodow(ts) AS dow, hour(ts) AS hr, value
  FROM events
),
base AS (
  SELECT event_type, dow, hr,
         CAST(count(*) AS BIGINT) AS n,
         round(quantile_cont(value, 0.5), 6) AS median_value
  FROM slotted GROUP BY event_type, dow, hr
)
SELECT b.event_type AS event_type,
       CAST(b.dow AS BIGINT) AS dow,
       CAST(b.hr AS BIGINT) AS hr,
       b.n AS n,
       b.median_value AS median_value,
       CAST(sum(CASE WHEN s.value > {_SPIKE} * b.median_value THEN 1 ELSE 0 END)
            AS BIGINT) AS n_spikes
FROM base b
JOIN slotted s
  ON s.event_type = b.event_type AND s.dow = b.dow AND s.hr = b.hr
GROUP BY b.event_type, b.dow, b.hr, b.n, b.median_value
""",
    doc="Calendar-seasonality baseline: exact interpolating median per "
    "(event_type, iso-dow, hour) slot — a fixed 840-group aggregate at "
    f"any corpus size — with per-slot counts of >{_SPIKE}× spikes via a "
    "broadcast-back join. The seasonal complement to the global and "
    "online z-score detectors.",
    tags=("events", "anomaly", "seasonal"),
)
def q_seasonal_baseline(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = table(spark, sf_dir, "events")
    slotted = ev.select(
        "event_type",
        F.expr("extract(DAYOFWEEK_ISO FROM ts)").cast("bigint").alias("dow"),
        F.hour("ts").cast("bigint").alias("hr"),
        "value",
    )
    base = slotted.groupBy("event_type", "dow", "hr").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.round(F.expr("percentile(value, 0.5)"), 6).alias("median_value"),
    )
    return (
        slotted.join(F.broadcast(base), ["event_type", "dow", "hr"])
        .groupBy("event_type", "dow", "hr", "n", "median_value")
        .agg(
            F.sum(
                F.when(
                    F.col("value") > F.lit(_SPIKE) * F.col("median_value"), 1
                ).otherwise(0)
            )
            .cast("bigint")
            .alias("n_spikes")
        )
    )
