"""Corpus drift detection — Population Stability Index, the standard
production monitor for "has the data feeding this pipeline changed":
PSI(P, Q) = Σ_b (p_b − q_b)·ln(p_b / q_b) over a fixed bucketing,
computed here between a baseline slice and a comparison slice of the
corpus (doc_id halves stand in for two ingest windows; the estimator
only sees two row sets and a bucket expression).

Rule-of-thumb thresholds (banking practice): < 0.1 stable,
0.1–0.25 moderate shift, > 0.25 major shift.

Shape: two filtered aggregates over FIXED buckets (char-length bands,
plus a per-lang distribution) → a ≤-buckets-sized join → one fold in
bucket order so the float sum is deterministic. Laplace-smoothed so
an empty bucket on one side cannot produce ±∞.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from flink_application_spark.catalog import table
from flink_application_spark.plans.registry import register

_BAND = 50  # chars per length band


def _psi(
    base: DataFrame, comp: DataFrame, bucket: F.Column, name: str
) -> DataFrame:
    """One-row (feature, psi, n_buckets) from two slices + a bucket
    expression; add-one smoothing per bucket on both sides."""
    b = base.select(bucket.alias("bk")).groupBy("bk").agg(
        F.count(F.lit(1)).alias("nb")
    )
    c = comp.select(bucket.alias("bk")).groupBy("bk").agg(
        F.count(F.lit(1)).alias("nc")
    )
    joined = b.join(c, "bk", "full_outer").select(
        "bk",
        F.coalesce(F.col("nb"), F.lit(0)).alias("nb"),
        F.coalesce(F.col("nc"), F.lit(0)).alias("nc"),
    )
    totals = joined.agg(
        F.sum("nb").alias("tb"),
        F.sum("nc").alias("tc"),
        F.count(F.lit(1)).alias("k"),
    )
    terms = joined.crossJoin(F.broadcast(totals)).select(
        "bk",
        (
            (
                (F.col("nb") + 1).cast("double")
                / (F.col("tb") + F.col("k")).cast("double")
                - (F.col("nc") + 1).cast("double")
                / (F.col("tc") + F.col("k")).cast("double")
            )
            * F.log(
                (
                    (F.col("nb") + 1).cast("double")
                    / (F.col("tb") + F.col("k")).cast("double")
                )
                / (
                    (F.col("nc") + 1).cast("double")
                    / (F.col("tc") + F.col("k")).cast("double")
                )
            )
        ).alias("term"),
    )
    # bucket-ordered sequential fold → deterministic float sum
    return terms.agg(
        F.lit(name).alias("feature"),
        (
            F.round(
                F.aggregate(
                    F.transform(
                        F.array_sort(F.collect_list(F.struct("bk", "term"))),
                        lambda s: s["term"],
                    ),
                    F.lit(0.0),
                    lambda acc, x: acc + x,
                ),
                6,
            )
            + F.lit(0.0)
        ).alias("psi"),
        F.count(F.lit(1)).cast("bigint").alias("n_buckets"),
    )


def corpus_drift(docs: DataFrame) -> DataFrame:
    base = docs.filter(F.col("doc_id") < 250)
    comp = docs.filter(F.col("doc_id") >= 250)
    len_bucket = (F.col("n_chars") / F.lit(_BAND)).cast("bigint").cast("string")
    lang_bucket = F.coalesce(F.col("lang"), F.lit("?"))
    src_bucket = F.coalesce(F.col("source"), F.lit("?"))
    return (
        _psi(base, comp, len_bucket, "len_band")
        .unionByName(_psi(base, comp, lang_bucket, "lang"))
        .unionByName(_psi(base, comp, src_bucket, "source"))
    )


def _psi_sql(bucket: str, name: str) -> str:
    return f"""
SELECT '{name}' AS feature,
       round(list_sum(list(term ORDER BY bk)), 6) + 0.0 AS psi,
       CAST(count(*) AS BIGINT) AS n_buckets
FROM (
  SELECT bk,
         (CAST(nb + 1 AS DOUBLE) / CAST(tb + k AS DOUBLE)
          - CAST(nc + 1 AS DOUBLE) / CAST(tc + k AS DOUBLE))
         * ln((CAST(nb + 1 AS DOUBLE) / CAST(tb + k AS DOUBLE))
              / (CAST(nc + 1 AS DOUBLE) / CAST(tc + k AS DOUBLE))) AS term
  FROM (
    SELECT bk, nb, nc,
           sum(nb) OVER () AS tb, sum(nc) OVER () AS tc,
           count(*) OVER () AS k
    FROM (
      SELECT coalesce(b.bk, c.bk) AS bk,
             coalesce(nb, 0) AS nb, coalesce(nc, 0) AS nc
      FROM (SELECT {bucket} AS bk, count(*) AS nb
            FROM documents WHERE doc_id < 250 GROUP BY 1) b
      FULL OUTER JOIN
           (SELECT {bucket} AS bk, count(*) AS nc
            FROM documents WHERE doc_id >= 250 GROUP BY 1) c
        ON b.bk = c.bk
    )
  )
)
"""


@register(
    "corpus_drift_psi",
    " UNION ALL ".join(
        [
            _psi_sql(
                f"CAST(n_chars // {_BAND} AS VARCHAR)", "len_band"
            ),
            _psi_sql("coalesce(lang, '?')", "lang"),
            _psi_sql("coalesce(source, '?')", "source"),
        ]
    ),
    doc="Population Stability Index between two corpus slices over "
    f"char-length bands ({_BAND}-char buckets), language, and source "
    "distributions — the standard 'did the feed change' monitor "
    "(<0.1 stable, >0.25 major shift). Two fixed-bucket aggregates + "
    "a buckets-sized join per feature; add-one smoothing kills ±∞; "
    "bucket-ordered fold keeps the float sum oracle-exact.",
    tags=("documents", "monitoring", "drift"),
)
def q_corpus_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = table(spark, sf_dir, "documents")
    return corpus_drift(docs)
