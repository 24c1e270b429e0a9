"""§2-mapped reference operators registered EARLY.

The driver's correctness gate samples the first 50 registered queries
(CORRECTNESS_r01 is exactly the first 50 of round 1's registration
order). These two queries are the only §2 inventory rows whose driver
evidence was 'local-oracle only' in round 1 — W2 (max-by arg-max
dedup, `EnrichmentApp.java:142-156`) and P12 (the scalar/NOT LIKE
surface of `EnrichmentAppWithoutExplode.java`) — because their home
module (`plans.sql_surface`) registers past the sample window. They
live here, imported right after the CDR core, so every §2-mapped row
gets driver-oracle rows. Queries are verbatim; only the registration
position changed.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from flink_application_spark.catalog import table
from flink_application_spark.operators.dedup import argmax_dedup
from flink_application_spark.plans.registry import register


@register(
    "scalar_function_library",
    """
SELECT p_partkey,
       upper(p_name) AS name_upper,
       length(p_name) AS name_len,
       replace(p_brand, 'Brand', 'B') AS brand_short,
       substr(p_type, 1, 5) AS type_prefix,
       abs(p_size - 25) AS size_dev,
       round(p_retailprice * 1.1, 2) AS price_up,
       CAST(floor(p_retailprice) AS BIGINT) AS price_floor,
       CAST(ceil(p_retailprice) AS BIGINT) AS price_ceil,
       p_size % 7 AS size_mod
FROM part
""",
    doc="Scalar function library: string (upper/length/replace/substr), "
    "math (abs/round/floor/ceil/mod) — all JVM-side codegen. §2 P12 "
    "surface.",
    tags=("sql", "scalar"),
)
def q_scalar_lib(spark: SparkSession, sf_dir: str) -> DataFrame:
    p = table(spark, sf_dir, "part")
    return p.select(
        "p_partkey",
        F.upper("p_name").alias("name_upper"),
        F.length("p_name").alias("name_len"),
        F.replace(F.col("p_brand"), F.lit("Brand"), F.lit("B")).alias("brand_short"),
        F.substring("p_type", 1, 5).alias("type_prefix"),
        F.abs(F.col("p_size") - 25).alias("size_dev"),
        F.round(F.col("p_retailprice") * 1.1, 2).alias("price_up"),
        F.floor("p_retailprice").cast("bigint").alias("price_floor"),
        F.ceil("p_retailprice").cast("bigint").alias("price_ceil"),
        (F.col("p_size") % 7).alias("size_mod"),
    )


@register(
    "events_latest_per_user",
    """
SELECT user_id, event_id, ts, event_type, value
FROM (
  SELECT user_id, event_id, ts, event_type, value,
         row_number() OVER (
           PARTITION BY user_id
           ORDER BY ts DESC NULLS LAST, event_id DESC NULLS LAST
         ) AS rn
  FROM events
)
WHERE rn = 1
""",
    doc="Arg-max dedup on a generic table: latest event per user — the "
    "reference's W1/W2 max-by pattern reused outside the CDR domain. "
    "§2 W2 surface.",
    tags=("sql", "dedup", "events"),
)
def q_events_latest(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = table(spark, sf_dir, "events")
    return argmax_dedup(
        ev.select("user_id", "event_id", "ts", "event_type", "value"),
        ["user_id"],
        ["ts", "event_id"],
    )
