"""nDCG@k retrieval evaluation — the graded companion to the
Matryoshka recall query: recall counts overlap, nDCG weighs WHERE the
good candidates landed (a near-miss at rank 5 scores higher than one
missing entirely). Gain = exact cosine of the retrieved pair; ideal =
the exact top-k's own DCG; discounts 1/log2(rank+1) are POSITION
constants, inlined as Python-computed literals so no cross-engine log
arithmetic exists anywhere.

Evaluated system: the deterministic 8-bit sign-LSH ANN (the same
bucketing `emb_lsh_ann_topk` pins). ANN lists shorter than k (bucket
under-fill) simply contribute fewer DCG terms — the honest penalty.
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame, SparkSession, functions as F

from flink_application_spark.catalog import table
from flink_application_spark.operators.similarity import brute_force_topk_fold, lsh_ann_topk
from flink_application_spark.plans.registry import register

_K = 5
_NQ = 5
_N_BITS = 8
_DISC = [1.0 / math.log2(r + 1) for r in range(1, _K + 1)]

_COS = (
    "round(list_dot_product(CAST({a} AS DOUBLE[]), CAST({b} AS DOUBLE[]))"
    " / (sqrt(list_dot_product(CAST({a} AS DOUBLE[]), CAST({a} AS DOUBLE[])))"
    " * sqrt(list_dot_product(CAST({b} AS DOUBLE[]), CAST({b} AS DOUBLE[])))), 6)"
)

_DISC_SQL = "CASE rank " + " ".join(
    f"WHEN {r + 1} THEN {_DISC[r]!r}" for r in range(_K)
) + " END"

_BUCKET_SQL = " || ".join(
    f"CASE WHEN embedding[{i + 1}] >= 0 THEN '1' ELSE '0' END"
    for i in range(_N_BITS)
)


def _dcg_col() -> F.Column:
    disc = F.create_map(
        *[x for r in range(_K) for x in (F.lit(r + 1), F.lit(_DISC[r]))]
    )
    return F.aggregate(
        F.transform(
            F.array_sort(F.collect_list(F.struct("rank", "gain"))),
            lambda s: F.greatest(s["gain"], F.lit(0.0))
            * F.element_at(disc, s["rank"]),
        ),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


@register(
    "emb_lsh_ndcg",
    f"""
WITH b AS (
  SELECT vec_id, embedding, {_BUCKET_SQL} AS bucket FROM embeddings
),
exact AS (
  SELECT query_id, vec_id, cosine, rank FROM (
    SELECT q.vec_id AS query_id, c.vec_id AS vec_id,
           {_COS.format(a='q.embedding', b='c.embedding')} AS cosine,
           row_number() OVER (
             PARTITION BY q.vec_id
             ORDER BY {_COS.format(a='q.embedding', b='c.embedding')} DESC,
                      c.vec_id ASC
           ) AS rank
    FROM embeddings q JOIN embeddings c ON c.vec_id <> q.vec_id
    WHERE q.vec_id < {_NQ}
  ) WHERE rank <= {_K}
),
ann AS (
  SELECT query_id, vec_id, cosine, rank FROM (
    SELECT q.vec_id AS query_id, c.vec_id AS vec_id,
           {_COS.format(a='q.embedding', b='c.embedding')} AS cosine,
           row_number() OVER (
             PARTITION BY q.vec_id
             ORDER BY {_COS.format(a='q.embedding', b='c.embedding')} DESC,
                      c.vec_id ASC
           ) AS rank
    FROM b q JOIN b c ON q.bucket = c.bucket AND c.vec_id <> q.vec_id
    WHERE q.vec_id < {_NQ}
  ) WHERE rank <= {_K}
),
dcg AS (
  SELECT query_id,
         list_sum(list(greatest(cosine, 0.0) * ({_DISC_SQL}) ORDER BY rank)) AS dcg,
         CAST(count(*) AS BIGINT) AS n_retrieved
  FROM ann GROUP BY query_id
),
idcg AS (
  SELECT query_id,
         list_sum(list(greatest(cosine, 0.0) * ({_DISC_SQL}) ORDER BY rank)) AS idcg
  FROM exact GROUP BY query_id
)
SELECT i.query_id AS query_id,
       coalesce(d.n_retrieved, 0) AS n_retrieved,
       round(coalesce(d.dcg, 0.0) / i.idcg, 6) + 0.0 AS ndcg
FROM idcg i LEFT JOIN dcg d ON d.query_id = i.query_id
""",
    doc=f"nDCG@{_K} of the {_N_BITS}-bit sign-LSH ANN against the exact "
    "cosine ranking: gain = exact cosine of each retrieved pair, "
    "discounts are rank-position CONSTANTS (no engine log math), "
    "negative cosines clamp to zero gain (irrelevant, not anti-relevant), "
    "ideal = the exact top-k's own DCG. The graded retrieval-quality "
    "companion to emb_matryoshka_recall; under-filled buckets lose "
    "DCG terms — the honest penalty.",
    tags=("embeddings", "similarity", "eval"),
)
def q_lsh_ndcg(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < _NQ)
    # small-|Q| consumer (~tens of k pairs): the JVM fold beats the
    # Arrow matrix path's fixed round-trip here (round-12 same-session
    # A/B in OPTIMIZATION_r12.md; bit-identical results, pinned by
    # tests/test_similarity_arrow.py)
    exact = brute_force_topk_fold(queries, emb, k=_K).withColumnRenamed(
        "cosine", "gain"
    )
    ann = lsh_ann_topk(queries, emb, k=_K, n_bits=_N_BITS).withColumnRenamed(
        "cosine", "gain"
    )
    dcg = ann.groupBy("query_id").agg(
        _dcg_col().alias("dcg"), F.count(F.lit(1)).alias("n_retrieved")
    )
    idcg = exact.groupBy("query_id").agg(_dcg_col().alias("idcg"))
    return (
        idcg.join(dcg, "query_id", "left")
        .select(
            "query_id",
            F.coalesce(F.col("n_retrieved"), F.lit(0).cast("bigint")).alias(
                "n_retrieved"
            ),
            (
                F.round(
                    F.coalesce(F.col("dcg"), F.lit(0.0)) / F.col("idcg"), 6
                )
                + F.lit(0.0)
            ).alias("ndcg"),
        )
    )
