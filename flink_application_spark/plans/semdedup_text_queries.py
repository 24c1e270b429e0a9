"""SemDeDup applied to RAW TEXT — the full document pipeline: every
document is hash-embedded (vocabulary-free, no model), clustered, and
pruned within clusters at cosine ≥ 0.95 (the planted near-dup band on
this corpus; random doc pairs sit ≈ 0.8 on hashed stopword mass).
Composes three separately-pinned stages (hashing vectorizer, k-means
assignment, within-cluster cosine) into one oracle-checked verdict per
document — semantic dedup with NO embedding model in the loop.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from flink_application_spark.catalog import table
from flink_application_spark.functions.vectors import norm
from flink_application_spark.operators.semdedup import semdedup_flags
from flink_application_spark.plans.registry import register
from flink_application_spark.plans.vectorize_queries import (
    _oracle_sql,
    hashing_trick_features,
)

_K = 8
_T = 0.95

_COS = (
    "round(list_dot_product(CAST({a} AS DOUBLE[]), CAST({b} AS DOUBLE[]))"
    " / (sqrt(list_dot_product(CAST({a} AS DOUBLE[]), CAST({a} AS DOUBLE[])))"
    " * sqrt(list_dot_product(CAST({b} AS DOUBLE[]), CAST({b} AS DOUBLE[])))), 6)"
)


@register(
    "doc_semdedup_flags",
    f"""
WITH hemb AS MATERIALIZED ({_oracle_sql()}),
vecs AS MATERIALIZED (
  SELECT doc_id AS vec_id, embedding FROM hemb
  WHERE embedding IS NOT NULL
    AND sqrt(list_dot_product(CAST(embedding AS DOUBLE[]),
                              CAST(embedding AS DOUBLE[]))) > 0
),
cent AS MATERIALIZED (
  SELECT row_number() OVER (ORDER BY vec_id) - 1 AS cluster,
         list_transform(embedding, v -> CAST(v AS DOUBLE)) AS c
  FROM vecs ORDER BY vec_id LIMIT {_K}
),
dists AS MATERIALIZED (
  SELECT e.vec_id AS vec_id, e.embedding AS embedding, cent.cluster AS cluster,
         list_sum(list_transform(
           list_zip(list_transform(e.embedding, v -> CAST(v AS DOUBLE)), cent.c),
           p -> (p[1] - p[2]) * (p[1] - p[2]))) AS d2
  FROM vecs e CROSS JOIN cent
),
assigned AS MATERIALIZED (
  SELECT vec_id, embedding, cluster FROM (
    SELECT vec_id, embedding, cluster,
           row_number() OVER (PARTITION BY vec_id ORDER BY d2, cluster) AS rn
    FROM dists
  ) WHERE rn = 1
),
close_pairs AS MATERIALIZED (
  SELECT b.vec_id AS id_b,
         {_COS.format(a='a.embedding', b='b.embedding')} AS cos
  FROM assigned a JOIN assigned b
    ON a.cluster = b.cluster AND a.vec_id < b.vec_id
  WHERE {_COS.format(a='a.embedding', b='b.embedding')} >= {_T}
),
drops AS (
  SELECT id_b, CAST(count(*) AS BIGINT) AS n_close_smaller,
         max(cos) AS max_sim_smaller
  FROM close_pairs GROUP BY id_b
)
SELECT s.vec_id AS doc_id, s.cluster AS cluster,
       d.id_b IS NULL AS kept,
       coalesce(d.n_close_smaller, 0) AS n_close_smaller,
       d.max_sim_smaller AS max_sim_smaller
FROM assigned s LEFT JOIN drops d ON d.id_b = s.vec_id
""",
    doc=f"SemDeDup on raw documents: hashing-trick embed (no model) → "
    f"{_K}-cluster assignment → within-cluster cosine ≥ {_T} pruning. "
    "The model-free text form of emb_semdedup_flags — catches the "
    "planted near-dup band while random doc pairs (≈0.8 on shared "
    "stopword mass) survive. Every verdict oracle-reproduced through "
    "all three composed stages.",
    tags=("documents", "dedup", "clustering", "vectorize"),
)
def q_doc_semdedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = table(spark, sf_dir, "documents")
    vecs = (
        hashing_trick_features(docs)
        .select(F.col("doc_id").alias("vec_id"), "embedding")
        .filter(F.col("embedding").isNotNull() & (norm(F.col("embedding")) > 0))
    )
    # computed per call (the r11 session memo is gone — see
    # plans/semdedup_queries._flags); the Arrow pair stage keeps the
    # honest cost gate-cheap
    return semdedup_flags(vecs, threshold=_T, k=_K).select(
        F.col("vec_id").alias("doc_id"),
        "cluster",
        "kept",
        "n_close_smaller",
        "max_sim_smaller",
    )
