"""Matryoshka truncation evaluation — how much retrieval quality
survives when embeddings are truncated to a prefix of their dimensions
(Kusupati et al. 2022, arXiv:2205.13147). The operational question at
100 TB: can the ANN index store 16 of 64 dims (4× memory/bandwidth
saving) and keep acceptable recall?

Shape: for each truncation width d, run the exact cosine top-k on the
SLICED embedding (a scan-local ``slice`` — no copy of the corpus, the
fold just reads fewer elements), then measure overlap against the
full-width top-k. Every stage is the already-pinned brute-force
retrieval machinery; the recall join compares (query, vec) id sets —
tiny. Integer ppm keeps the oracle hash float-free.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from flink_application_spark.catalog import table
from flink_application_spark.operators.similarity import brute_force_topk_fold
from flink_application_spark.plans.registry import register

_DIMS = (8, 16, 32)
_FULL = 64
_K = 10
_N_QUERIES = 5  # query set: vec_id < 5 (same as emb_cosine_topk_bruteforce)

_COS_SLICE = (
    "round(list_dot_product(CAST({a}[1:{d}] AS DOUBLE[]), CAST({b}[1:{d}] AS DOUBLE[]))"
    " / (sqrt(list_dot_product(CAST({a}[1:{d}] AS DOUBLE[]), CAST({a}[1:{d}] AS DOUBLE[])))"
    " * sqrt(list_dot_product(CAST({b}[1:{d}] AS DOUBLE[]), CAST({b}[1:{d}] AS DOUBLE[])))), 6)"
)


def _topk_cte(name: str, d: int) -> str:
    cos = _COS_SLICE.format(a="q.embedding", b="c.embedding", d=d)
    return f"""
{name} AS (
  SELECT query_id, vec_id FROM (
    SELECT q.vec_id AS query_id, c.vec_id AS vec_id,
           row_number() OVER (
             PARTITION BY q.vec_id ORDER BY {cos} DESC, c.vec_id ASC
           ) AS rank
    FROM embeddings q JOIN embeddings c ON c.vec_id <> q.vec_id
    WHERE q.vec_id < {_N_QUERIES}
  ) WHERE rank <= {_K}
)"""


def _truncated(emb: DataFrame, d: int) -> DataFrame:
    return emb.select("vec_id", F.slice("embedding", 1, d).alias("embedding"))


def matryoshka_recall(emb: DataFrame) -> DataFrame:
    queries = emb.filter(F.col("vec_id") < _N_QUERIES)
    full = brute_force_topk_fold(queries, emb, k=_K).select("query_id", "vec_id")
    per_dim = []
    for d in _DIMS:
        trunc = brute_force_topk_fold(
            _truncated(queries, d), _truncated(emb, d), k=_K
        ).select("query_id", "vec_id")
        hits = trunc.join(full, ["query_id", "vec_id"]).count()
        per_dim.append((d, hits))
    spark = emb.sparkSession
    rows = spark.createDataFrame(per_dim, "trunc_dim int, n_hits bigint")
    denom = _N_QUERIES * _K
    return rows.select(
        "trunc_dim",
        "n_hits",
        F.expr(f"n_hits * 1000000L div {denom}").alias("recall_ppm"),
    )


_UNION_SQL = "\nUNION ALL\n".join(
    f"SELECT {d} AS trunc_dim, CAST(count(*) AS BIGINT) AS n_hits, "
    f"CAST(count(*) * 1000000 // {_N_QUERIES * _K} AS BIGINT) AS recall_ppm "
    f"FROM t{d} JOIN tfull USING (query_id, vec_id)"
    for d in _DIMS
)

_ORACLE = (
    "WITH "
    + ",".join(_topk_cte(f"t{d}", d) for d in _DIMS)
    + ","
    + _topk_cte("tfull", _FULL)
    + "\n"
    + _UNION_SQL
)


@register(
    "emb_matryoshka_recall",
    _ORACLE,
    doc=f"Matryoshka truncation eval (arXiv:2205.13147): recall@{_K} "
    f"of cosine retrieval on {_DIMS}-dim embedding prefixes vs the "
    f"full {_FULL}-dim ranking — the memory/recall trade curve that "
    "decides how many dims the 100 TB ANN index must store. "
    "Truncation is a scan-local slice (no corpus rewrite); integer "
    "ppm recall keeps the oracle exact.",
    tags=("embeddings", "similarity", "eval"),
)
def q_matryoshka_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = table(spark, sf_dir, "embeddings")
    return matryoshka_recall(emb)
