"""End-to-end text similarity search over raw documents — the full
text → vector → retrieval composition: feature-hash every document
(vocabulary-free, scan-local), then exact cosine top-k against query
documents. Demonstrates that the vectorizer's output really does feed
the retrieval stack (the claim `doc_hashing_trick_embedding`'s doc
makes), as ONE oracle-checked query.

Scale: the embed stage is the codegen explode→histogram form (no
Python); retrieval here is the exact broadcast path for oracle-ability
— at 100 TB the same vectors go through `retrieve_topk(use_ann=True)`
(IVF) unchanged.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from flink_application_spark.catalog import table
from flink_application_spark.functions.vectors import norm
from flink_application_spark.operators.similarity import brute_force_topk_fold
from flink_application_spark.plans.registry import register
from flink_application_spark.plans.vectorize_queries import (
    _oracle_sql,
    hashing_trick_features,
)

_K = 5
_N_QUERIES = 3

_COS = (
    "round(list_dot_product(CAST({a} AS DOUBLE[]), CAST({b} AS DOUBLE[]))"
    " / (sqrt(list_dot_product(CAST({a} AS DOUBLE[]), CAST({a} AS DOUBLE[])))"
    " * sqrt(list_dot_product(CAST({b} AS DOUBLE[]), CAST({b} AS DOUBLE[])))), 6)"
)


@register(
    "doc_text_search_topk",
    f"""
WITH emb AS ({_oracle_sql()}),
vecs AS (
  SELECT doc_id AS vec_id, embedding
  FROM emb
  WHERE embedding IS NOT NULL
    AND sqrt(list_dot_product(CAST(embedding AS DOUBLE[]),
                              CAST(embedding AS DOUBLE[]))) > 0
)
SELECT query_id, vec_id, cosine, rank FROM (
  SELECT q.vec_id AS query_id, c.vec_id AS vec_id,
         {_COS.format(a='q.embedding', b='c.embedding')} AS cosine,
         row_number() OVER (
           PARTITION BY q.vec_id
           ORDER BY {_COS.format(a='q.embedding', b='c.embedding')} DESC,
                    c.vec_id ASC
         ) AS rank
  FROM vecs q JOIN vecs c ON c.vec_id <> q.vec_id
  WHERE q.vec_id < {_N_QUERIES}
)
WHERE rank <= {_K}
""",
    doc=f"Text search end-to-end: hashing-trick embed (codegen "
    f"explode→histogram, no vocabulary) → exact cosine top-{_K} for "
    f"{_N_QUERIES} query documents (zero-token docs excluded — no "
    "norm to compare). The same vectors drop into IVF ANN via "
    "retrieve_topk(use_ann=True) at scale; the exact path keeps the "
    "oracle bit-for-bit.",
    tags=("documents", "vectorize", "similarity", "search"),
)
def q_text_search_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = table(spark, sf_dir, "documents")
    vecs = (
        hashing_trick_features(docs)
        .select(F.col("doc_id").alias("vec_id"), "embedding")
        .filter(F.col("embedding").isNotNull() & (norm(F.col("embedding")) > 0))
    )
    # small-|Q| consumer (~tens of k pairs): the JVM fold beats the
    # Arrow matrix path's fixed round-trip here (round-12 same-session
    # A/B in OPTIMIZATION_r12.md; bit-identical results, pinned by
    # tests/test_similarity_arrow.py)
    return brute_force_topk_fold(vecs.filter(F.col("vec_id") < _N_QUERIES), vecs, k=_K)
