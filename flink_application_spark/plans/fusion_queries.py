"""Hybrid retrieval: reciprocal rank fusion (RRF) of a lexical BM25
ranking and a semantic hashed-embedding cosine ranking for the same
query (Cormack et al., SIGIR'09: score = Σ 1/(k + rank), k = 60).

This is the retrieval shape a RAG/data-curation stack actually ships —
neither pure lexical nor pure vector search — and it composes two
already-oracle-checked components: the BM25 ranking (text_queries) and
the hashing-trick bucket space (vectorize_queries). The semantic side
never materializes vectors: the query's md5 bucket weights are computed
at plan-build time (pure integer arithmetic shared by Python, Spark,
and DuckDB), so per-doc cosine is a (doc, bucket)-count aggregate
joined against 3 literal buckets — scan → one shuffle, 100-TB-shaped.

RRF arithmetic is integer-rank-derived (1.0/(60+rank)), so both engines
produce identical doubles with no float-discipline care needed.
"""

from __future__ import annotations

import hashlib
from collections import Counter

from pyspark.sql import DataFrame, SparkSession, Window, functions as F

from flink_application_spark.catalog import table
from flink_application_spark.functions.text import tokens
from flink_application_spark.plans import text_queries
from flink_application_spark.plans.registry import REGISTRY, register

_DIM = 32
_K_RRF = 60
_TOPK = 20
_QUERY_TERMS = text_queries._BM25_TERMS  # same query for both rankings


def _bucket(term: str) -> int:
    """Python twin of the Spark/DuckDB md5 bucket derivation
    (conv(substr(md5(t),1,8),16,10) % dim) — exact integer parity."""
    return int(hashlib.md5(term.encode()).hexdigest()[:8], 16) % _DIM

_QBUCKETS = dict(Counter(_bucket(t) for t in _QUERY_TERMS))  # bucket -> weight
_SSQ = sum(w * w for w in _QBUCKETS.values())

_BM25_ORACLE = REGISTRY["doc_bm25_search"].oracle

_SEM_ORACLE = f"""
  WITH tok AS (
    SELECT doc_id, unnest(regexp_split_to_array(lower(trim(text)), '\\s+')) AS token
    FROM documents
  ),
  dc AS (
    SELECT doc_id,
           CAST(('0x' || substr(md5(token), 1, 8)) AS UBIGINT) % {_DIM} AS bucket,
           CAST(count(*) AS BIGINT) AS c
    FROM tok WHERE token <> '' GROUP BY 1, 2
  ),
  ssd AS (
    SELECT doc_id, CAST(sum(c * c) AS BIGINT) AS ssd FROM dc GROUP BY doc_id
  ),
  dot AS (
    SELECT doc_id, CAST(sum(c * (CASE bucket {' '.join(f'WHEN {b} THEN {w}' for b, w in sorted(_QBUCKETS.items()))} ELSE 0 END)) AS BIGINT) AS dot
    FROM dc WHERE bucket IN ({', '.join(str(b) for b in sorted(_QBUCKETS))})
    GROUP BY doc_id
  ),
  sem_scored AS (
    SELECT dot.doc_id AS doc_id,
           round(dot / (sqrt(ssd * 1.0) * sqrt(CAST({_SSQ} AS DOUBLE))), 6) AS sem_score
    FROM dot JOIN ssd USING (doc_id)
    WHERE dot > 0
  )
  SELECT doc_id, sem_score,
         row_number() OVER (ORDER BY sem_score DESC, doc_id) AS rank
  FROM (SELECT * FROM sem_scored ORDER BY sem_score DESC, doc_id LIMIT {_TOPK})
"""


@register(
    "doc_hybrid_rrf_search",
    f"""
WITH bm AS ({_BM25_ORACLE}),
sem AS ({_SEM_ORACLE}),
fused AS (
  SELECT coalesce(bm.doc_id, sem.doc_id) AS doc_id,
         CAST(coalesce(bm.rank, 0) AS BIGINT) AS bm25_rank,
         CAST(coalesce(sem.rank, 0) AS BIGINT) AS sem_rank,
         round(coalesce(1.0 / ({_K_RRF} + bm.rank), 0.0)
             + coalesce(1.0 / ({_K_RRF} + sem.rank), 0.0), 6) AS rrf_score
  FROM bm FULL OUTER JOIN sem ON bm.doc_id = sem.doc_id
)
SELECT doc_id, bm25_rank, sem_rank, rrf_score,
       row_number() OVER (ORDER BY rrf_score DESC, doc_id) AS rank
FROM (SELECT * FROM fused ORDER BY rrf_score DESC, doc_id LIMIT {_TOPK})
""",
    doc=f"Hybrid search: reciprocal rank fusion (k={_K_RRF}) of the "
    "BM25 top-20 and a hashed-embedding cosine top-20 for the same "
    f"query {_QUERY_TERMS}. The semantic side computes per-doc cosine "
    "against the query's feature-hash vector WITHOUT materializing doc "
    "vectors: the query's md5 bucket weights are plan-time integer "
    "literals, so scoring is one (doc, bucket) count aggregate + a "
    "3-literal-bucket sum — the fusion itself is a 20∪20-row full "
    "outer join. RRF scores derive from integer ranks only, so "
    "cross-engine doubles are identical by construction.",
    tags=("text", "search", "fusion", "documents"),
)
def q_hybrid_rrf_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = table(spark, sf_dir, "documents")

    bm = text_queries.q_bm25_search(spark, sf_dir).select(
        "doc_id", F.col("rank").alias("bm_rank")
    )

    tok = docs.select(
        "doc_id", F.explode(tokens(F.col("text"))).alias("token")
    ).filter((F.col("token") != "") & F.col("doc_id").isNotNull())
    dc = tok.select(
        "doc_id",
        (
            F.conv(F.substring(F.md5("token"), 1, 8), 16, 10).cast("bigint")
            % F.lit(_DIM)
        ).alias("bucket"),
    ).groupBy("doc_id", "bucket").agg(F.count(F.lit(1)).alias("c"))
    # dc feeds both the norm branch and the dot branch
    dc = dc.persist()
    ssd = dc.groupBy("doc_id").agg(
        F.sum(F.col("c") * F.col("c")).cast("bigint").alias("ssd")
    )
    wexpr = F.lit(0)
    for b, wgt in sorted(_QBUCKETS.items()):
        wexpr = F.when(F.col("bucket") == b, F.lit(wgt)).otherwise(wexpr)
    dot = (
        dc.filter(F.col("bucket").isin(list(_QBUCKETS)))
        .groupBy("doc_id")
        .agg(F.sum(F.col("c") * wexpr).cast("bigint").alias("dot"))
        .filter(F.col("dot") > 0)
    )
    sem_scored = dot.join(ssd, "doc_id").select(
        "doc_id",
        F.round(
            F.col("dot")
            / (
                F.sqrt(F.col("ssd") * F.lit(1.0))
                * F.sqrt(F.lit(_SSQ).cast("double"))
            ),
            6,
        ).alias("sem_score"),
    )
    sem_top = sem_scored.orderBy(
        F.col("sem_score").desc(), F.col("doc_id")
    ).limit(_TOPK)
    sem = sem_top.withColumn(
        "sem_rank",
        F.row_number().over(Window.orderBy(F.col("sem_score").desc(), "doc_id")),
    ).select("doc_id", "sem_rank")

    fused = (
        bm.join(sem, "doc_id", "full_outer")
        .select(
            "doc_id",
            F.coalesce("bm_rank", F.lit(0)).cast("bigint").alias("bm25_rank"),
            F.coalesce("sem_rank", F.lit(0)).cast("bigint").alias("sem_rank"),
            F.round(
                F.coalesce(F.lit(1.0) / (_K_RRF + F.col("bm_rank")), F.lit(0.0))
                + F.coalesce(
                    F.lit(1.0) / (_K_RRF + F.col("sem_rank")), F.lit(0.0)
                ),
                6,
            ).alias("rrf_score"),
        )
    )
    top = fused.orderBy(F.col("rrf_score").desc(), F.col("doc_id")).limit(_TOPK)
    return top.withColumn(
        "rank",
        F.row_number().over(Window.orderBy(F.col("rrf_score").desc(), "doc_id")),
    )
