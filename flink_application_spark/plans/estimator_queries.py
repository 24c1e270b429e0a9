"""Statistical-sampling queries.

**Neyman-allocated stratified sample** — optimal allocation
(Neyman 1934): stratum h gets sample share ∝ N_h·σ_h, so
high-variance strata are oversampled at fixed total budget. The
allocation arithmetic is kept INTEGER (rounded weights, integer
division) so both engines derive identical counts — float
summation-order ulps can't flip a floor().

(The MinHash estimator-vs-exact audit lives in
`plans/dedup_queries.py:doc_minhash_estimate_vs_exact` — driver-green
since round 1; est/err are scan-local arithmetic on its output.)

Scale notes: the sampler is one stats aggregate (|strata| rows), one
1-row broadcast normalizer append, and a per-stratum md5 rank — the
same range-partitionable window every other sampler here uses.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window, functions as F

from flink_application_spark.catalog import table
from flink_application_spark.plans.registry import register

_BUDGET = 100  # total sample size across strata


@register(
    "doc_stratified_sample_neyman",
    f"""
WITH strat AS (
  SELECT source,
         CAST(count(*) AS BIGINT) AS n_h,
         -- integer weight: summation-order ulps cannot flip the floor
         CAST(round(count(*) * stddev_pop(n_chars)) AS BIGINT) AS w_h
  FROM documents GROUP BY source
),
z AS (SELECT CAST(sum(w_h) AS BIGINT) AS z FROM strat),
alloc AS (
  SELECT source, n_h,
         greatest(CAST(1 AS BIGINT), ({_BUDGET} * w_h) // z.z) AS take_n
  FROM strat, z
),
ranked AS (
  SELECT doc_id, source, n_chars,
         row_number() OVER (
           PARTITION BY source ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id
         ) AS strat_rank
  FROM documents
)
SELECT r.doc_id AS doc_id, r.source AS source, r.n_chars AS n_chars,
       CAST(r.strat_rank AS BIGINT) AS strat_rank,
       a.take_n AS stratum_quota
FROM ranked r JOIN alloc a ON a.source = r.source
WHERE r.strat_rank <= a.take_n
""",
    doc=f"Neyman-allocated stratified sample (budget {_BUDGET}): each "
    "source stratum's quota ∝ N_h·σ_h(n_chars) — high-variance strata "
    "oversampled at fixed cost, the survey-sampling optimum. Within a "
    "stratum the pick is the md5(doc_id) rank (deterministic, "
    "retry-safe, no RNG state). Allocation uses ROUNDED-INTEGER "
    "weights + integer division so both engines compute identical "
    "quotas. One stats agg + one 1-row normalizer broadcast + one "
    "per-stratum window.",
    tags=("documents", "sampling"),
)
def q_stratified_neyman(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = table(spark, sf_dir, "documents")
    strat = docs.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_h"),
        F.round(F.count(F.lit(1)) * F.stddev_pop("n_chars"))
        .cast("bigint")
        .alias("w_h"),
    )
    z = strat.agg(F.sum("w_h").alias("z"))
    alloc = strat.join(F.broadcast(z)).select(
        "source",
        F.greatest(
            F.lit(1).cast("bigint"), F.expr(f"({_BUDGET} * w_h) div z")
        ).alias("take_n"),
    )
    w = Window.partitionBy("source").orderBy(
        F.md5(F.col("doc_id").cast("string")), "doc_id"
    )
    ranked = docs.select(
        "doc_id", "source", "n_chars", F.row_number().over(w).alias("strat_rank")
    )
    return (
        ranked.join(F.broadcast(alloc), "source")
        .filter(F.col("strat_rank") <= F.col("take_n"))
        .select(
            "doc_id",
            "source",
            "n_chars",
            F.col("strat_rank").cast("bigint").alias("strat_rank"),
            F.col("take_n").alias("stratum_quota"),
        )
    )
