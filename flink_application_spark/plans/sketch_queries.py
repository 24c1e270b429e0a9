"""Re-aggregatable distinct-count sketches: the deterministic
mergeable HLL of `operators/hll.py`.

This is the 100 TB cardinality shape: build a tiny sketch PER PARTITION
SLICE (here per event-type × day), persist/ship the sketches, and
re-aggregate by register-wise max — rollups over any dimension subset
without re-scanning the raw events. A plain ``approx_count_distinct``
answers one query; a sketch TABLE answers every rollup after one corpus
pass (the sketch is mergeable state). Every step is integer or exact
string surgery on md5, so the DuckDB oracle replays it bit-for-bit.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from flink_application_spark.catalog import table
from flink_application_spark.plans.registry import register


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
    "small-range linear-counting correction. The 100 TB "
    "merge-not-rescan shape, with every bit engine-portable — the "
    "oracle replays it exactly (the sketch "
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
