"""k-means clustering queries over the `embeddings` table.

The oracle-checkable piece is the **assignment pass** — the scan-local
argmin over broadcast centroids (`operators/kmeans.py:assign_clusters`)
whose squared-L2 folds are sequential double arithmetic, reproducible
bit-for-bit in DuckDB (same pattern as `similarity_queries._COS`).
`emb_kmeans_assign` pins it against deterministic seed centroids (the
k smallest vec_ids — no RNG).

Training is exact-integer Lloyd's (`operators/kmeans_exact.py`):
float centroid means are distributed partial aggregates whose
summation order differs across engines, ppm-integer sums are not, so
`emb_kmeans_fit_exact_profile` replays the whole training trajectory
in DuckDB.

This centroid machinery is the same coarse-quantizer training IVF ANN
uses (`operators/similarity.py`) — registering it standalone makes the
clustering surface (corpus bucketing, topic-ish grouping, quantizer
training) a first-class, tested operator.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from flink_application_spark.catalog import table
from flink_application_spark.operators.kmeans import (
    assign_clusters,
    init_centroids,
)
from flink_application_spark.plans.registry import register

_K = 8


@register(
    "emb_kmeans_assign",
    f"""
WITH cent AS (
  SELECT row_number() OVER (ORDER BY vec_id) - 1 AS cluster,
         list_transform(embedding, v -> CAST(v AS DOUBLE)) AS c
  FROM embeddings
  WHERE embedding IS NOT NULL
  ORDER BY vec_id
  LIMIT {_K}
),
dists AS (
  SELECT e.vec_id AS vec_id, cent.cluster AS cluster,
         list_sum(list_transform(
           list_zip(list_transform(e.embedding, v -> CAST(v AS DOUBLE)), cent.c),
           p -> (p[1] - p[2]) * (p[1] - p[2]))) AS d2
  FROM embeddings e CROSS JOIN cent
  WHERE e.embedding IS NOT NULL
),
best AS (
  SELECT vec_id, cluster, d2,
         row_number() OVER (PARTITION BY vec_id ORDER BY d2, cluster) AS rn
  FROM dists
)
SELECT vec_id, cluster, round(d2, 6) AS d2
FROM best WHERE rn = 1
""",
    doc=f"k-means assignment pass: argmin squared-L2 over {_K} broadcast "
    "seed centroids (k smallest vec_ids, no RNG), computed as scan-local "
    "JVM zip_with/aggregate folds with array_min-struct argmin — the "
    "embeddings never shuffle. The oracle reproduces the identical "
    "sequential double arithmetic and the (d2, cluster) tie-break.",
    tags=("embeddings", "clustering"),
)
def q_kmeans_assign(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = table(spark, sf_dir, "embeddings")
    emb = emb.filter(F.col("embedding").isNotNull())
    cents = init_centroids(emb, _K, "vec_id")
    return assign_clusters(emb, cents).select(
        "vec_id", "cluster", F.round("d2", 6).alias("d2")
    )


def _kmeans_exact_oracle() -> str:
    from flink_application_spark.operators.kmeans_exact import (
        kmeans_exact_oracle_sql,
    )

    return kmeans_exact_oracle_sql(k=_K, iters=5, dim=64)


@register(
    "emb_kmeans_fit_exact_profile",
    _kmeans_exact_oracle(),
    doc=f"Exact-integer (ppm-quantized) Lloyd's k-means (k={_K}, 5 "
    "iterations, the shared k-smallest-id seeding) — the TRAINED-model "
    "blocker class made oracle-verifiable: coordinates quantize once "
    "to ppm BIGINTs, distances and inertia are exact integer folds "
    "(order-free under any partitioning), centroid updates reduce "
    "exact integer sums and re-quantize with one double division + "
    "round. The per-iteration (inertia, centroid-L1) profile pins the "
    "whole training trajectory; DuckDB replays the 5 rounds as "
    "unrolled CTE stages (operators/kmeans_exact.py — the mmr_sql/CEP "
    "recipe applied to a training loop). Monotone descent + "
    "determinism contracts in tests/test_kmeans_exact.py.",
    tags=("embeddings", "clustering", "training", "deterministic"),
)
def q_kmeans_fit_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    from flink_application_spark.plans._memo import kmeans_fit_exact_cached

    emb = table(spark, sf_dir, "embeddings")
    # shared with emb_ivf_exact_trained_topk (same table, k, iters):
    # the fit is pure, so one training run serves both queries
    _, prof = kmeans_fit_exact_cached(spark, emb, sf_dir, _K, 5)
    return spark.createDataFrame(
        prof, "iteration bigint, inertia bigint, centroid_l1 bigint"
    )
