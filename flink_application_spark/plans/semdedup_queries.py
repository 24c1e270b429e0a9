"""SemDeDup queries over the `embeddings` table.

`emb_semdedup_flags` is fully oracle-checked: the cluster assignment is
the deterministic-seed argmin already pinned by `emb_kmeans_assign`, and
the within-cluster cosine uses the same sequential-fold arithmetic as
`similarity_queries._COS`, so DuckDB reproduces every kept/dropped
verdict bit-for-bit.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from flink_application_spark.catalog import table
from flink_application_spark.operators.semdedup import semdedup_flags
from flink_application_spark.plans.registry import register

_K = 8
_T = 0.3

_COS = (
    "round(list_dot_product(CAST({a} AS DOUBLE[]), CAST({b} AS DOUBLE[]))"
    " / (sqrt(list_dot_product(CAST({a} AS DOUBLE[]), CAST({a} AS DOUBLE[])))"
    " * sqrt(list_dot_product(CAST({b} AS DOUBLE[]), CAST({b} AS DOUBLE[])))), 6)"
)

# Deterministic-seed assignment, identical to the emb_kmeans_assign
# oracle but carrying the embedding through for the pair stage.
_ASSIGNED = f"""
cent AS (
  SELECT row_number() OVER (ORDER BY vec_id) - 1 AS cluster,
         list_transform(embedding, v -> CAST(v AS DOUBLE)) AS c
  FROM embeddings
  WHERE embedding IS NOT NULL
  ORDER BY vec_id
  LIMIT {_K}
),
dists AS (
  SELECT e.vec_id AS vec_id, e.embedding AS embedding, cent.cluster AS cluster,
         list_sum(list_transform(
           list_zip(list_transform(e.embedding, v -> CAST(v AS DOUBLE)), cent.c),
           p -> (p[1] - p[2]) * (p[1] - p[2]))) AS d2
  FROM embeddings e CROSS JOIN cent
  WHERE e.embedding IS NOT NULL
),
assigned AS (
  SELECT vec_id, embedding, cluster FROM (
    SELECT vec_id, embedding, cluster,
           row_number() OVER (PARTITION BY vec_id ORDER BY d2, cluster) AS rn
    FROM dists
  ) WHERE rn = 1
)
"""


def _flags(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup verdicts over the embeddings table, computed per call.

    The round-11 build had routed this through a module-level session
    memo (plans/_memo.semdedup_flags_cached) so repeat invocations
    replayed a cached verdict frame; the optimization round removed it
    — a timed bench sample must compute from the parquet inputs, and
    the Arrow pair stage (operators/semdedup._close_pairs_arrow) makes
    the honest per-call cost ~1.1 s at sf0.1 (was ~6 s), cheap enough
    to pay every time."""
    emb = table(spark, sf_dir, "embeddings")
    return semdedup_flags(emb, threshold=_T, k=_K)


@register(
    "emb_semdedup_flags",
    f"""
WITH {_ASSIGNED},
close_pairs AS (
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
SELECT s.vec_id AS vec_id, s.cluster AS cluster,
       d.id_b IS NULL AS kept,
       coalesce(d.n_close_smaller, 0) AS n_close_smaller,
       d.max_sim_smaller AS max_sim_smaller
FROM assigned s LEFT JOIN drops d ON d.id_b = s.vec_id
""",
    doc=f"SemDeDup (cluster-then-prune semantic dedup, arXiv:2303.09540): "
    f"nearest-of-{_K}-centroids assignment (scan-local broadcast-literal "
    f"argmin), cosine pairs WITHIN clusters only (equi-join on cluster — "
    f"the bounded blocking that replaces a corpus cross product), drop "
    f"any vector with a lower-id neighbor at cosine ≥ {_T}. At 100 TB "
    "the cluster count scales with the corpus so per-cluster pair work "
    "stays constant per row; here k is small and seeded so the oracle "
    "reproduces every verdict.",
    tags=("embeddings", "dedup", "clustering"),
)
def q_semdedup_flags(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _flags(spark, sf_dir)


@register(
    "emb_semdedup_cluster_stats",
    f"""
WITH {_ASSIGNED},
close_pairs AS (
  SELECT b.vec_id AS id_b, b.cluster AS cluster
  FROM assigned a JOIN assigned b
    ON a.cluster = b.cluster AND a.vec_id < b.vec_id
  WHERE {_COS.format(a='a.embedding', b='b.embedding')} >= {_T}
),
drops AS (SELECT DISTINCT id_b, cluster FROM close_pairs)
SELECT s.cluster AS cluster,
       CAST(count(*) AS BIGINT) AS n_vectors,
       CAST(count(d.id_b) AS BIGINT) AS n_dropped,
       CAST(count(*) - count(d.id_b) AS BIGINT) AS n_kept,
       CAST((count(*) - count(d.id_b)) * 1000000 // count(*) AS BIGINT) AS keep_ppm
FROM assigned s LEFT JOIN drops d ON d.id_b = s.vec_id
GROUP BY s.cluster
""",
    doc="Per-cluster SemDeDup summary (size, dropped, kept, integer-ppm "
    "keep rate) — the curation dashboard row a dedup run reports. Same "
    "assignment + within-cluster pair machinery as emb_semdedup_flags; "
    "integer ppm keeps the oracle hash float-free.",
    tags=("embeddings", "dedup", "clustering"),
)
def q_semdedup_cluster_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    flags = _flags(spark, sf_dir)
    return (
        flags.groupBy("cluster")
        .agg(
            F.count(F.lit(1)).alias("n_vectors"),
            F.sum(F.when(~F.col("kept"), 1).otherwise(0)).alias("n_dropped"),
            F.sum(F.when(F.col("kept"), 1).otherwise(0)).alias("n_kept"),
        )
        .select(
            "cluster",
            "n_vectors",
            "n_dropped",
            "n_kept",
            F.expr("n_kept * 1000000L div n_vectors").alias("keep_ppm"),
        )
    )
