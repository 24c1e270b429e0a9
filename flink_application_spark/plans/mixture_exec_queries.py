"""Mixture EXECUTION — materialize the temperature-mixture plan into
an actual per-document sampling decision: languages below their target
downsample (keep with probability = rate), languages above it
upsample (floor(rate) guaranteed copies + one more with the
fractional probability). This closes the plan → corpus gap: the plan
query says per-lang rates; this one says which documents ship, and
how many times.

Determinism: the Bernoulli draw is the md5-uniform key u ∈ [0, 1)
from `sampling_queries` (retry-safe, engine-reproducible); the rate is
the plan's ROUNDED sample_rate (already oracle-pinned), so every
keep/copy decision is bit-reproducible — the materialized corpus is a
pure function of the data, never of the run.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from flink_application_spark.catalog import table
from flink_application_spark.plans.registry import register
from flink_application_spark.plans.training_prep_queries import (
    q_temperature_mixture,
)

_U_SQL = (
    "CAST(('0x' || substr(md5('mix:' || CAST(doc_id AS VARCHAR)), 1, 12)) AS BIGINT)"
    " / 281474976710656.0"
)


def _u_col() -> F.Column:
    return (
        F.conv(
            F.substring(
                F.md5(F.concat(F.lit("mix:"), F.col("doc_id").cast("string"))),
                1,
                12,
            ),
            16,
            10,
        ).cast("double")
        / F.lit(281474976710656.0)  # 2^48
    )


@register(
    "corpus_mixture_materialized",
    f"""
WITH per_lang AS (
  SELECT lang,
         CAST(sum(len(list_filter(regexp_split_to_array(lower(trim(text)), '\\s+'),
                                  w -> w <> ''))) AS BIGINT) AS tokens
  FROM documents GROUP BY lang
),
powed AS (
  SELECT lang, tokens, pow(CAST(tokens AS DOUBLE), 0.3) AS pw FROM per_lang
),
total AS (
  SELECT list_sum(list(pw ORDER BY lang)) AS z,
         list_sum(list(CAST(tokens AS DOUBLE) ORDER BY lang)) AS budget
  FROM powed
),
rates AS (
  SELECT lang,
         round(least(pw / z * budget / tokens, 10.0), 6) AS sample_rate
  FROM powed CROSS JOIN total
),
decided AS (
  SELECT d.doc_id AS doc_id, d.lang AS lang, r.sample_rate AS sample_rate,
         CAST(floor(r.sample_rate) AS BIGINT)
         + CASE WHEN {_U_SQL} < r.sample_rate - floor(r.sample_rate)
                THEN 1 ELSE 0 END AS n_copies
  FROM documents d JOIN rates r ON r.lang = d.lang
)
SELECT doc_id, lang, sample_rate, n_copies
FROM decided WHERE n_copies >= 1
""",
    doc="Mixture plan EXECUTED: per-document copy counts under the "
    "temperature mixture's per-lang rates — floor(rate) guaranteed "
    "copies plus an md5-uniform Bernoulli for the fraction (retry-"
    "safe, no RNG state; downsampling is the rate<1 special case). "
    "One broadcast join of the ≤|langs|-row rate table onto the scan; "
    "every decision oracle-reproduced.",
    tags=("documents", "training-prep", "mixture"),
)
def q_mixture_materialized(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = table(spark, sf_dir, "documents")
    rates = q_temperature_mixture(spark, sf_dir).select("lang", "sample_rate")
    frac = F.col("sample_rate") - F.floor(F.col("sample_rate"))
    return (
        docs.select("doc_id", "lang")
        .join(F.broadcast(rates), "lang")
        .select(
            "doc_id",
            "lang",
            "sample_rate",
            (
                F.floor(F.col("sample_rate")).cast("bigint")
                + F.when(_u_col() < frac, 1).otherwise(0)
            ).alias("n_copies"),
        )
        .filter(F.col("n_copies") >= 1)
        .select("doc_id", "lang", "sample_rate", "n_copies")
    )
