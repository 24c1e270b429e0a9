"""CUMULATE windows — Flink SQL's third windowing TVF (alongside
TUMBLE and HOP, both already covered): within each 1-hour period,
emit cumulative aggregates at every 15-minute step — the "running
total that resets each hour" dashboards want (early partial results
that grow toward the tumbling total).

Spark has no native CUMULATE; the re-expression is an event-side
explode: an event at ts belongs to every step-window of its hour
whose end lies after ts (≤ size/step replicas — scan-local transform
+ filter + explode, the same Expand shape F.window uses for HOP).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from flink_application_spark.catalog import table
from flink_application_spark.plans.registry import register

_STEPS = 4  # 1-hour window, 15-minute cumulate step


def cumulate_window(
    events: DataFrame, ts_col: str = "ts", steps: int = _STEPS
) -> DataFrame:
    """Explode each event onto its cumulative windows: (window_start =
    hour, window_end = hour + j·step) for every j with end > ts."""
    h = F.date_trunc("hour", F.col(ts_col))
    ends = F.filter(
        F.transform(
            F.sequence(F.lit(1), F.lit(steps)),
            lambda j: F.timestamp_add("MINUTE", j * (60 // steps), h),
        ),
        lambda e: e > F.col(ts_col),
    )
    return events.withColumn("window_start", h).withColumn(
        "window_end", F.explode(ends)
    )


@register(
    "events_cumulate_window",
    f"""
WITH expanded AS (
  SELECT event_type, value, user_id,
         date_trunc('hour', ts) AS window_start,
         date_trunc('hour', ts) + j * (INTERVAL 15 MINUTE) AS window_end
  FROM events, unnest(generate_series(1, {_STEPS})) AS t(j)
  WHERE date_trunc('hour', ts) + j * (INTERVAL 15 MINUTE) > ts
)
SELECT window_start, window_end, event_type,
       CAST(count(*) AS BIGINT) AS n_events,
       round(sum(value), 2) AS sum_value
FROM expanded
GROUP BY window_start, window_end, event_type
""",
    doc="CUMULATE windowing TVF (Flink SQL parity): per 1-hour period, "
    "cumulative counts/sums at every 15-minute step — early partials "
    "growing into the tumbling total. Event-side explode (≤ 4 "
    "replicas, scan-local) + one hash aggregate; the HOP Expand "
    "shape with a data-dependent replica count.",
    tags=("sql", "window", "events", "streaming-op", "flink-parity"),
)
def q_cumulate(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = table(spark, sf_dir, "events")
    return (
        cumulate_window(ev)
        .groupBy("window_start", "window_end", "event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.sum("value"), 2).alias("sum_value"),
        )
    )
