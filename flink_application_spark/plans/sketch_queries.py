"""Re-aggregatable distinct-count sketches (Apache DataSketches HLL,
exposed by Spark as ``hll_sketch_agg`` / ``hll_union_agg``).

This is the 100 TB cardinality shape: build a tiny sketch PER PARTITION
SLICE (here per event-type × day), persist/ship the sketches, and
re-aggregate by UNION — rollups over any dimension subset without
re-scanning the raw events. A plain ``approx_count_distinct`` answers
one query; a sketch TABLE answers every rollup after one corpus pass
(the sketch column is mergeable state, same philosophy as the
streaming heavy-hitters' additive count-min partials).

Estimates are engine-specific (DataSketches internals), so the query is
rows-only at the driver gate; `tests/test_sketches.py` pins the
estimate within HLL's published error bounds against the exact
distinct count and proves union-merge == direct-sketch on the union.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from flink_application_spark.catalog import table
from flink_application_spark.plans.registry import register


def daily_user_sketches(events: DataFrame) -> DataFrame:
    """(event_type, day, sketch, n_rows): one HLL sketch of user_id per
    type × day slice — the mergeable building block."""
    return (
        events.select(
            "event_type", F.to_date("ts").alias("day"), "user_id"
        )
        .groupBy("event_type", "day")
        .agg(
            F.hll_sketch_agg("user_id").alias("sketch"),
            F.count(F.lit(1)).alias("n_rows"),
        )
    )


def rollup_sketches(daily: DataFrame) -> DataFrame:
    """Union-merge the daily sketches up to per-type totals — no
    re-scan of the raw table, just sketch state."""
    return (
        daily.groupBy("event_type")
        .agg(
            F.hll_sketch_estimate(F.hll_union_agg("sketch")).alias("est_users"),
            F.sum("n_rows").alias("n_rows"),
            F.count(F.lit(1)).alias("n_days"),
        )
    )


@register(
    "events_hll_user_rollup",
    None,  # DataSketches estimates are engine-specific — bounds pinned in pytest
    doc="Mergeable HLL distinct-user rollup: per (event_type, day) "
    "sketches built in ONE events pass, union-aggregated to per-type "
    "totals. The sketch table is the scale artifact — any dimensional "
    "rollup afterwards merges kilobyte sketches instead of re-scanning "
    "100 TB. Estimate accuracy and merge-equals-direct pinned in "
    "tests/test_sketches.py.",
    tags=("events", "sketch", "approx"),
)
def q_hll_user_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = table(spark, sf_dir, "events")
    return rollup_sketches(daily_user_sketches(events)).select(
        "event_type",
        F.col("est_users").cast("bigint").alias("est_users"),
        "n_rows",
        "n_days",
    )


def _det_hll_oracle() -> str:
    from flink_application_spark.operators.hll import (
        M,
        RANK_CAP,
        det_hll_numerator,
    )

    return f"""
WITH e AS (
  SELECT event_type, CAST(ts AS DATE) AS day, user_id,
         md5(CAST(user_id AS VARCHAR)) AS h
  FROM events
),
rr AS (
  SELECT event_type, day,
         CAST(CAST(('0x' || substr(h, 1, 3)) AS UBIGINT) AS INTEGER)
           AS register,
         least(CASE WHEN strip = '' THEN 53
                    ELSE 4 * (13 - length(strip))
                         + CASE WHEN substr(strip, 1, 1) = '1' THEN 3
                                WHEN substr(strip, 1, 1) IN ('2', '3') THEN 2
                                WHEN substr(strip, 1, 1)
                                     IN ('4', '5', '6', '7') THEN 1
                                ELSE 0 END
                         + 1 END,
               {RANK_CAP}) AS rank
  FROM (SELECT *, regexp_replace(substr(h, 4, 13), '^0+', '') AS strip
        FROM e WHERE h IS NOT NULL)
),
daily_sketch AS (
  SELECT event_type, day, register, max(rank) AS rank
  FROM rr GROUP BY event_type, day, register
),
merged AS (
  SELECT event_type, register, max(rank) AS rank
  FROM daily_sketch GROUP BY event_type, register
),
est AS (
  SELECT event_type,
         CAST(sum(CAST(pow(2, {RANK_CAP} - rank) AS BIGINT)) AS BIGINT)
           AS sobs,
         CAST(count(*) AS BIGINT) AS n_registers
  FROM merged GROUP BY event_type
),
scored AS (
  SELECT event_type, n_registers, {M} - n_registers AS v,
         CAST({det_hll_numerator()} AS DOUBLE)
           / CAST(sobs + ({M} - n_registers) * 4294967296 AS DOUBLE)
           AS e_raw
  FROM est
),
daily AS (
  SELECT event_type, day, count(*) AS c FROM e GROUP BY event_type, day
),
totals AS (
  SELECT event_type, CAST(sum(c) AS BIGINT) AS n_rows,
         CAST(count(*) AS BIGINT) AS n_days
  FROM daily GROUP BY event_type
)
SELECT s.event_type AS event_type,
       round(CASE WHEN s.e_raw <= CAST({2.5 * M} AS DOUBLE) AND s.v > 0
                  THEN CAST({M} AS DOUBLE)
                       * ln(CAST({M} AS DOUBLE) / CAST(s.v AS DOUBLE))
                  ELSE s.e_raw END, 4) AS est_users,
       s.n_registers AS n_registers, t.n_rows AS n_rows, t.n_days AS n_days
FROM scored s JOIN totals t ON t.event_type = s.event_type
"""


@register(
    "events_hll_det_rollup",
    _det_hll_oracle(),
    doc="Deterministic mergeable HLL distinct-user rollup "
    "(operators/hll.py): per (event_type, day) long-format register "
    "sketches (md5 register/rank by exact string surgery, rank capped "
    "at 32 so the harmonic sum is an exact BIGINT), max-merged to "
    "per-type sketches, then the α·m²·2³²/S estimate with the "
    "small-range linear-counting correction. Same 100 TB "
    "merge-not-rescan shape as events_hll_user_rollup, but every bit "
    "is engine-portable — the oracle replays it exactly (the sketch "
    "analogue of the seeded-IVF/integer-MMR determinism recipe). "
    "Accuracy vs exact distinct + merge==direct + Python parity in "
    "tests/test_det_hll.py.",
    tags=("events", "sketch", "approx", "deterministic"),
)
def q_hll_det_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    from flink_application_spark.operators.hll import (
        det_hll_estimate,
        det_hll_sketch,
        merge_sketches,
    )

    events = table(spark, sf_dir, "events")
    ev = events.select("event_type", F.to_date("ts").alias("day"), "user_id")
    daily_sketch = det_hll_sketch(ev, "user_id", ["event_type", "day"])
    est = det_hll_estimate(
        merge_sketches(daily_sketch, ["event_type"]), ["event_type"]
    )
    daily = ev.groupBy("event_type", "day").agg(F.count(F.lit(1)).alias("c"))
    totals = daily.groupBy("event_type").agg(
        F.sum("c").cast("bigint").alias("n_rows"),
        F.count(F.lit(1)).alias("n_days"),
    )
    return est.join(totals, "event_type").select(
        "event_type", "est_users", "n_registers", "n_rows", "n_days"
    )
