"""Weighted sampling without replacement — deterministic A-ES.

Efraimidis–Spirakis exponential-clocks sampling: each row draws
u ∈ (0,1] and gets key ln(u)/w; the k largest keys are a weighted
sample without replacement (longer documents proportionally more
likely — the standard "sample by token mass" curation move).

Spark-first scale shape: the key is a scan-local expression (one md5 +
one log per row, no RNG state, no shuffle of the corpus) and the
selection is a global top-k — `row_number` over the key here, a
`TakeOrderedAndProject` at a 100 TB operating point where k rows fit
on the driver. Determinism: u is md5-derived (replayable on retry —
the property that makes sampling safe under task re-execution), and
both engines rank on the ROUNDED key with an id tie-break so a last-ulp
libm `ln` divergence cannot flip the selected set.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window, functions as F

from flink_application_spark.catalog import table
from flink_application_spark.plans.registry import register

_K = 50


@register(
    "doc_weighted_sample",
    f"""
WITH keyed AS (
  SELECT doc_id, n_chars,
         round(ln((CAST(('0x' || substr(md5('ws:' || CAST(doc_id AS VARCHAR)), 1, 12))
                        AS BIGINT) + 1) / 281474976710656.0)
               / n_chars, 6) + 0.0 AS es_key
  FROM documents
  WHERE n_chars > 0
),
ranked AS (
  SELECT doc_id, n_chars, es_key,
         row_number() OVER (ORDER BY es_key DESC, doc_id) AS sample_rank
  FROM keyed
)
SELECT doc_id, n_chars, es_key, CAST(sample_rank AS BIGINT) AS sample_rank
FROM ranked WHERE sample_rank <= {_K}
""",
    doc=f"Deterministic weighted sampling without replacement "
    f"(Efraimidis–Spirakis): P[selected] ∝ n_chars, top-{_K} by "
    "ln(md5-uniform)/weight. Scan-local key, global top-k selection, "
    "retry-safe (no RNG state). Both engines rank on the rounded key "
    "so libm ulp noise cannot flip membership.",
    tags=("documents", "sampling"),
)
def q_weighted_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = table(spark, sf_dir, "documents")
    h = F.conv(
        F.substring(F.md5(F.concat(F.lit("ws:"), F.col("doc_id").cast("string"))), 1, 12),
        16,
        10,
    ).cast("bigint")
    u = (h + F.lit(1)) / F.lit(float(1 << 48))
    # + 0.0 folds IEEE −0.0 to +0.0 so both engines hash identically
    key = F.round(F.log(u) / F.col("n_chars"), 6) + F.lit(0.0)
    # TakeOrdered top-K first (distributed partial top-k — the global
    # window form single-tasked the whole corpus); the rank window
    # then runs over K rows only
    top = (
        docs.filter(F.col("n_chars") > 0)
        .select("doc_id", "n_chars", key.alias("es_key"))
        .orderBy(F.desc("es_key"), "doc_id")
        .limit(_K)
    )
    w = Window.orderBy(F.desc("es_key"), "doc_id")
    return top.withColumn("sample_rank", F.row_number().over(w).cast("bigint"))
