"""Product-quantization queries over the `embeddings` table, fully
oracle-checked: the per-subspace argmin encoding and the ADC search
are both closed-form given the deterministic seed codebooks, so DuckDB
reproduces every code and every estimated distance bit-for-bit (same
sequential-fold arithmetic family as the kmeans assignment oracle).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from flink_application_spark.catalog import table
from flink_application_spark.operators.pq import pq_adc_topk, pq_encode, seed_codebooks
from flink_application_spark.plans.registry import register

_M = 4       # subspaces
_K = 8       # codes per subspace
_DIM = 64
_SUB = _DIM // _M
_NQ = 5      # ADC query set: vec_id < 5
_TOPK = 5


def _sub_slice(col: str, s: int) -> str:
    return f"{col}[{s * _SUB + 1}:{(s + 1) * _SUB}]"


def _encode_ctes() -> str:
    parts = [
        """base AS (
  SELECT vec_id, list_transform(embedding, v -> CAST(v AS DOUBLE)) AS e
  FROM embeddings WHERE embedding IS NOT NULL
)"""
    ]
    for s in range(_M):
        parts.append(
            f"""cent_{s} AS (
  SELECT row_number() OVER (ORDER BY vec_id) - 1 AS code,
         {_sub_slice('e', s)} AS c
  FROM base ORDER BY vec_id LIMIT {_K}
),
best_{s} AS (
  SELECT vec_id, code, d2 FROM (
    SELECT b.vec_id AS vec_id, cent_{s}.code AS code,
           list_sum(list_transform(
             list_zip({_sub_slice('b.e', s)}, cent_{s}.c),
             p -> (p[1] - p[2]) * (p[1] - p[2]))) AS d2,
           row_number() OVER (
             PARTITION BY b.vec_id
             ORDER BY list_sum(list_transform(
               list_zip({_sub_slice('b.e', s)}, cent_{s}.c),
               p -> (p[1] - p[2]) * (p[1] - p[2]))), cent_{s}.code
           ) AS rn
    FROM base b CROSS JOIN cent_{s}
  ) WHERE rn = 1
)"""
        )
    return ",\n".join(parts)


_CODES_SQL = (
    "WITH "
    + _encode_ctes()
    + "\nSELECT b.vec_id AS vec_id, "
    + ", ".join(f"best_{s}.code AS code_{s}" for s in range(_M))
    + ",\n round("
    + " + ".join(f"best_{s}.d2" for s in range(_M))
    + ", 6) AS recon_d2\nFROM base b "
    + " ".join(
        f"JOIN best_{s} ON best_{s}.vec_id = b.vec_id" for s in range(_M)
    )
)


@register(
    "emb_pq_codes",
    _CODES_SQL,
    doc=f"Product quantization (TPAMI'11, the FAISS compression step): "
    f"{_DIM}-dim vectors → {_M} codes from {_K}-entry per-subspace "
    "codebooks (deterministic k-smallest-id seeds; the trained form is "
    "emb_pq_exact_trained_adc_topk). Encoding is a scan-local argmin fold per "
    "subspace — zero shuffle; recon_d2 is the total quantization "
    "error. Every code and error oracle-reproduced.",
    tags=("embeddings", "quantization", "ann"),
)
def q_pq_codes(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = table(spark, sf_dir, "embeddings")
    books = seed_codebooks(emb, _M, _K, _DIM)
    return pq_encode(emb, books, _DIM)


_ADC_SQL = (
    "WITH "
    + _encode_ctes()
    + f""",
codes AS (
  SELECT b.vec_id AS vec_id, {", ".join(f"best_{s}.code AS code_{s}" for s in range(_M))}
  FROM base b {" ".join(f"JOIN best_{s} ON best_{s}.vec_id = b.vec_id" for s in range(_M))}
),
pairs AS (
  SELECT q.vec_id AS query_id, c.vec_id AS vec_id,
         round("""
    + " + ".join(
        f"""(SELECT list_sum(list_transform(
               list_zip({_sub_slice('q.e', s)}, cent_{s}.c),
               p -> (p[1] - p[2]) * (p[1] - p[2])))
             FROM cent_{s} WHERE cent_{s}.code = c.code_{s})"""
        for s in range(_M)
    )
    + f""", 6) AS est_d2
  FROM base q JOIN codes c ON c.vec_id <> q.vec_id
  WHERE q.vec_id < {_NQ}
)
SELECT query_id, vec_id, est_d2, rank FROM (
  SELECT query_id, vec_id, est_d2,
         row_number() OVER (
           PARTITION BY query_id ORDER BY est_d2, vec_id
         ) AS rank
  FROM pairs
) WHERE rank <= {_TOPK}
"""
)


@register(
    "emb_pq_adc_topk",
    _ADC_SQL,
    doc=f"PQ asymmetric-distance search (ADC): the query stays "
    "full-precision, the corpus contributes ONLY its codes — distance "
    f"is {_M} lookup-table reads per vector (the tables are per-query "
    "literal folds computed once). Approximate by quantization error; "
    "estimates and ranks oracle-reproduced exactly.",
    tags=("embeddings", "quantization", "ann", "similarity"),
)
def q_pq_adc(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = table(spark, sf_dir, "embeddings")
    books = seed_codebooks(emb, _M, _K, _DIM)
    codes = pq_encode(emb, books, _DIM).drop("recon_d2")
    queries = emb.filter(F.col("vec_id") < _NQ)
    return pq_adc_topk(queries, codes, books, _DIM, k=_TOPK)
