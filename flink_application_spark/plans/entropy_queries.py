"""Per-entity Shannon entropy over a categorical distribution — the
behavioral-diversity signal (a user doing only one thing vs a mixed
session; a doc source emitting one template vs varied content).

Determinism pattern: the per-type counts collect into a TYPE-ORDERED
array and the −p·ln p terms fold sequentially (same discipline as the
temperature-mixture normalizer), so both engines sum the identical
sequence; `+ 0.0` folds the single-category −0.0 to +0.0.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from flink_application_spark.catalog import table
from flink_application_spark.plans.registry import register


@register(
    "events_user_activity_entropy",
    """
WITH counts AS (
  SELECT user_id, event_type, CAST(count(*) AS BIGINT) AS c
  FROM events GROUP BY user_id, event_type
),
agg AS (
  SELECT user_id,
         CAST(list_sum(list(c ORDER BY event_type)) AS BIGINT) AS n_events,
         list_sum(list(-(CAST(c AS DOUBLE) / t) * ln(CAST(c AS DOUBLE) / t)
                       ORDER BY event_type)) AS h
  FROM (SELECT user_id, event_type, c,
               sum(c) OVER (PARTITION BY user_id) AS t
        FROM counts)
  GROUP BY user_id
)
SELECT user_id, n_events, round(h, 6) + 0.0 AS entropy FROM agg
""",
    doc="Per-user Shannon entropy of the event-type distribution "
    "(behavioral diversity, nats): per-(user, type) counts — the only "
    "wide aggregate — then a type-ordered sequential fold per user so "
    "the float sum is engine-reproducible. Single-type users score "
    "exactly 0 (−0.0 folded to +0.0).",
    tags=("events", "analytics", "entropy"),
)
def q_user_activity_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = table(spark, sf_dir, "events")
    counts = ev.groupBy("user_id", "event_type").agg(
        F.count(F.lit(1)).cast("bigint").alias("c")
    )
    per_user = counts.groupBy("user_id").agg(
        F.array_sort(
            F.collect_list(F.struct(F.col("event_type"), F.col("c").alias("c")))
        ).alias("arr")
    )
    total = F.aggregate(
        F.col("arr"), F.lit(0).cast("bigint"), lambda acc, s: acc + s["c"]
    )
    h = F.aggregate(
        F.col("arr"),
        F.lit(0.0),
        lambda acc, s: acc
        - (s["c"].cast("double") / F.col("n_events"))
        * F.log(s["c"].cast("double") / F.col("n_events")),
    )
    return (
        per_user.withColumn("n_events", total)
        .withColumn("entropy", F.round(h, 6) + F.lit(0.0))
        .select("user_id", "n_events", "entropy")
    )
