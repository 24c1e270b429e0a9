"""Contrastive pair mining over the embeddings table — for each query
vector, its best same-label neighbor (positive) and best
different-label neighbor (the HARD negative: maximally similar yet
wrong), the standard triplet-construction step for contrastive /
metric-learning fine-tunes.

Composition shape: one retrieval pass (exact here — the oracle path;
`retrieve_topk(use_ann=True)` is the drop-in scale retriever since
both positives and hard negatives live in the query's neighborhood by
definition) followed by two windowed arg-maxes over the candidate set.
The embeddings never shuffle — scoring is the JVM dot-product fold and
the windows run over (query, candidate, cosine, label) rows.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window, functions as F

from flink_application_spark.catalog import table
from flink_application_spark.functions.vectors import cosine
from flink_application_spark.plans.registry import register
from flink_application_spark.plans.similarity_queries import _COS

_N_QUERIES = 20


@register(
    "emb_contrastive_triplets",
    f"""
WITH labeled AS (
  SELECT vec_id, embedding, label FROM embeddings
),
scored AS (
  SELECT q.vec_id AS query_id, q.label AS query_label,
         c.vec_id AS cand_id, c.label AS cand_label,
         {_COS.format(a='q.embedding', b='c.embedding')} AS cosine
  FROM labeled q JOIN labeled c ON c.vec_id <> q.vec_id
  WHERE q.vec_id < {_N_QUERIES}
),
best AS (
  SELECT query_id, query_label, cand_id, cand_label, cosine,
         row_number() OVER (
           PARTITION BY query_id, (cand_label = query_label)
           ORDER BY cosine DESC, cand_id ASC
         ) AS rn
  FROM scored
)
SELECT p.query_id AS query_id,
       p.query_label AS label,
       p.cand_id AS positive_id,
       p.cosine AS positive_cos,
       n.cand_id AS negative_id,
       n.cosine AS negative_cos,
       round(p.cosine - n.cosine, 6) + 0.0 AS margin
FROM best p
JOIN best n ON n.query_id = p.query_id AND n.rn = 1
WHERE p.rn = 1 AND p.cand_label = p.query_label
  AND n.cand_label <> n.query_label
""",
    doc=f"Contrastive triplet mining for {_N_QUERIES} query vectors: "
    "best same-label neighbor (positive) + best different-label "
    "neighbor (hard negative) + margin, via one exact retrieval pass "
    "and two windowed arg-maxes. The ANN retriever (`retrieve_topk("
    "use_ann=True)`) drops in for the scoring join at scale.",
    tags=("embeddings", "similarity", "training-prep"),
)
def q_contrastive_triplets(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = table(spark, sf_dir, "embeddings")
    q = emb.filter(F.col("vec_id") < _N_QUERIES).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("qv"),
        F.col("label").alias("query_label"),
    )
    c = emb.select(
        F.col("vec_id").alias("cand_id"),
        F.col("embedding").alias("cv"),
        F.col("label").alias("cand_label"),
    )
    scored = (
        c.join(F.broadcast(q), F.col("cand_id") != F.col("query_id"))
        .select(
            "query_id",
            "query_label",
            "cand_id",
            "cand_label",
            F.round(cosine(F.col("qv"), F.col("cv")), 6).alias("cosine"),
        )
    )
    w = Window.partitionBy(
        "query_id", F.col("cand_label") == F.col("query_label")
    ).orderBy(F.col("cosine").desc(), F.col("cand_id").asc())
    best = scored.withColumn("rn", F.row_number().over(w)).filter(F.col("rn") == 1)
    pos = best.filter(F.col("cand_label") == F.col("query_label")).select(
        "query_id",
        F.col("query_label").alias("label"),
        F.col("cand_id").alias("positive_id"),
        F.col("cosine").alias("positive_cos"),
    )
    neg = best.filter(F.col("cand_label") != F.col("query_label")).select(
        "query_id",
        F.col("cand_id").alias("negative_id"),
        F.col("cosine").alias("negative_cos"),
    )
    # one row per query per side after the rn=1 filter — broadcast
    return pos.join(F.broadcast(neg), "query_id").select(
        "query_id",
        "label",
        "positive_id",
        "positive_cos",
        "negative_id",
        "negative_cos",
        # + 0.0 folds a rounded −0.0 to +0.0 (hash parity)
        (F.round(F.col("positive_cos") - F.col("negative_cos"), 6) + F.lit(0.0)).alias(
            "margin"
        ),
    )
