"""Label-noise detection by neighborhood agreement — the classic
k-NN label-consistency audit (Confident-Learning-adjacent): a vector
whose nearest neighbors almost all carry a DIFFERENT label is a
mislabeling candidate. This is the label-quality counterpart to the
embedding dedup stack, run before training on labeled corpora.

Shape: one exact cosine top-k retrieval with the full corpus as the
query set (the pinned brute-force machinery; swap `retrieve_topk(...,
use_ann=True)` at scale — the agreement aggregate is retriever-
agnostic), then a broadcast label dim join and a per-query count.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from flink_application_spark.catalog import table
from flink_application_spark.operators.similarity import brute_force_topk
from flink_application_spark.plans.registry import register

_K = 5

_COS = (
    "round(list_dot_product(CAST({a} AS DOUBLE[]), CAST({b} AS DOUBLE[]))"
    " / (sqrt(list_dot_product(CAST({a} AS DOUBLE[]), CAST({a} AS DOUBLE[])))"
    " * sqrt(list_dot_product(CAST({b} AS DOUBLE[]), CAST({b} AS DOUBLE[])))), 6)"
)


@register(
    "emb_label_noise_knn",
    f"""
WITH topk AS (
  SELECT query_id, vec_id FROM (
    SELECT q.vec_id AS query_id, c.vec_id AS vec_id,
           row_number() OVER (
             PARTITION BY q.vec_id
             ORDER BY {_COS.format(a='q.embedding', b='c.embedding')} DESC,
                      c.vec_id ASC
           ) AS rank
    FROM embeddings q JOIN embeddings c ON c.vec_id <> q.vec_id
  ) WHERE rank <= {_K}
)
SELECT t.query_id AS vec_id, ql.label AS label,
       CAST(sum(CASE WHEN nl.label = ql.label THEN 1 ELSE 0 END) AS BIGINT)
         AS n_same_label,
       CAST(sum(CASE WHEN nl.label = ql.label THEN 1 ELSE 0 END) AS BIGINT) <= 1
         AS noise_candidate
FROM topk t
JOIN embeddings ql ON ql.vec_id = t.query_id
JOIN embeddings nl ON nl.vec_id = t.vec_id
GROUP BY t.query_id, ql.label
""",
    doc=f"k-NN label-noise audit: for every labeled vector, how many of "
    f"its {_K} nearest neighbors (exact cosine, deterministic "
    "tie-break) share its label; ≤ 1 agreeing neighbor flags a "
    "mislabeling candidate. Retrieval is the pinned brute-force path "
    "(ANN drop-in via retrieve_topk(use_ann=True) at scale); the "
    "label joins are broadcast dims over (query, neighbor) ids only.",
    tags=("embeddings", "labels", "quality"),
)
def q_label_noise_knn(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = table(spark, sf_dir, "embeddings")
    topk = brute_force_topk(emb, emb, k=_K).select("query_id", "vec_id")
    labels = emb.select("vec_id", "label")
    joined = (
        topk.join(
            F.broadcast(
                labels.select(
                    F.col("vec_id").alias("query_id"), F.col("label").alias("qlabel")
                )
            ),
            "query_id",
        )
        .join(
            F.broadcast(
                labels.select("vec_id", F.col("label").alias("nlabel"))
            ),
            "vec_id",
        )
    )
    agg = joined.groupBy(
        F.col("query_id").alias("vec_id"), F.col("qlabel").alias("label")
    ).agg(
        F.sum(F.when(F.col("nlabel") == F.col("qlabel"), 1).otherwise(0)).alias(
            "n_same_label"
        )
    )
    return agg.select(
        "vec_id", "label", "n_same_label",
        (F.col("n_same_label") <= 1).alias("noise_candidate"),
    )
