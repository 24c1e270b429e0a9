"""EWMA smoothing + residual anomaly score per event-type daily series
— the classic operational-monitoring smoother (exponentially weighted
moving average, the simplest state-space baseline): s_t = α·x_t +
(1−α)·s_{t−1}, flagging days whose count deviates from the smoothed
level by more than a band.

The recurrence is inherently sequential PER SERIES — exactly what a
scan-local ordered fold expresses: one row per (type), the day series
collected as a date-ordered array (bounded: days, not events), folded
once. Engine-reproducible float order, so the oracle matches every
smoothed value. At 100 TB the daily pre-aggregate is the only
corpus-sized pass; series arrays are ~365 entries/key/year.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from flink_application_spark.catalog import table
from flink_application_spark.plans.registry import register

_ALPHA = 0.3
_BAND = 0.5  # |x - s_prev| / s_prev above this flags the day


@register(
    "events_ewma_daily_anomaly",
    f"""
WITH daily AS (
  SELECT event_type, CAST(ts AS DATE) AS day,
         CAST(count(*) AS BIGINT) AS n
  FROM events GROUP BY event_type, CAST(ts AS DATE)
),
series AS (
  SELECT event_type,
         list(day ORDER BY day) AS days,
         list(CAST(n AS DOUBLE) ORDER BY day) AS xs,
         list(n ORDER BY day) AS ns
  FROM daily GROUP BY event_type
),
folded AS (
  SELECT event_type, days, ns, xs,
         -- running EWMA: state carried as a growing list (days-sized)
         list_reduce(
           list_transform(xs, x -> [x]),
           (acc, x) -> list_append(acc,
             {_ALPHA} * x[1] + {1 - _ALPHA} * acc[-1])
         ) AS sm
  FROM series
)
SELECT event_type,
       CAST(days[i] AS DATE) AS day,
       ns[i] AS n_events,
       round(sm[i], 6) AS ewma,
       CASE WHEN i > 1 AND abs(xs[i] - sm[i - 1]) > {_BAND} * sm[i - 1]
            THEN TRUE ELSE FALSE END AS anomaly
FROM folded, unnest(generate_series(1, len(days))) AS t(i)
""",
    doc=f"EWMA (α={_ALPHA}) smoothing of per-type daily event counts "
    f"with residual anomaly flags (> {int(_BAND * 100)}% deviation "
    "from yesterday's smoothed level): the sequential recurrence runs "
    "as ONE date-ordered fold per series (arrays are days-sized, not "
    "event-sized); the daily pre-agg is the only corpus pass.",
    tags=("events", "monitoring", "timeseries"),
)
def q_ewma_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = table(spark, sf_dir, "events")
    daily = ev.groupBy(
        "event_type", F.col("ts").cast("date").alias("day")
    ).agg(F.count(F.lit(1)).alias("n"))
    series = daily.groupBy("event_type").agg(
        F.transform(
            F.array_sort(F.collect_list(F.struct("day", "n"))),
            lambda s: s["day"],
        ).alias("days"),
        F.transform(
            F.array_sort(F.collect_list(F.struct("day", "n"))),
            lambda s: s["n"].cast("double"),
        ).alias("xs"),
        F.transform(
            F.array_sort(F.collect_list(F.struct("day", "n"))),
            lambda s: s["n"],
        ).alias("ns"),
    )
    folded = series.withColumn(
        "sm",
        F.aggregate(
            F.slice(F.col("xs"), 2, F.size("xs")),
            F.slice(F.col("xs"), 1, 1),
            lambda acc, x: F.concat(
                acc,
                F.array(
                    F.lit(_ALPHA) * x + F.lit(1 - _ALPHA) * F.element_at(acc, -1)
                ),
            ),
        ),
    )
    idx = F.explode(F.sequence(F.lit(1), F.size("days"))).alias("i")
    out = folded.select("event_type", "days", "xs", "ns", "sm", idx)
    return out.select(
        "event_type",
        F.element_at("days", F.col("i")).alias("day"),
        F.element_at("ns", F.col("i")).alias("n_events"),
        F.round(F.element_at("sm", F.col("i")), 6).alias("ewma"),
        F.when(
            (F.col("i") > 1)
            & (
                F.abs(
                    F.element_at("xs", F.col("i"))
                    # greatest(..., 1): element_at rejects index 0 even
                    # under a false when-branch (strict evaluation)
                    - F.element_at("sm", F.greatest(F.col("i") - 1, F.lit(1)))
                )
                > F.lit(_BAND)
                * F.element_at("sm", F.greatest(F.col("i") - 1, F.lit(1)))
            ),
            F.lit(True),
        )
        .otherwise(F.lit(False))
        .alias("anomaly"),
    )
