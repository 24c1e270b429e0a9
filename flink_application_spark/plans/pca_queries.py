"""PCA queries over the `embeddings` table.

The scale-relevant piece of distributed PCA is the Gram accumulation
(`operators/pca.py:gram_long`) — a full-data pass whose shuffle carries
O(d²) partials per partition instead of rows. That piece IS
SQL-expressible, so `emb_pca_gram` gets a real DuckDB oracle (position
cross-join + sum of products). The eigen step is exact-integer power
iteration (`operators/pca_exact.py`), replayed stage by stage in
DuckDB: `emb_pca_power_exact` here, the two-component projection
`emb_pca_top2_projection` in `multimodal_extra.py`.

Reference parity note: the sketch-to-driver / broadcast-back shape
mirrors the enrichment pattern of
/root/reference/src/main/java/org/example/EnrichmentApp.java (dim
model joined back to every row), generalized to a learned model.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from flink_application_spark.catalog import table
from flink_application_spark.operators.pca import gram_long
from flink_application_spark.plans.registry import register

_DIM = 64


@register(
    "emb_pca_gram",
    f"""
WITH x AS (
  SELECT list_transform(embedding, v -> CAST(v AS DOUBLE)) AS e
  FROM embeddings WHERE embedding IS NOT NULL
),
cells AS (
  SELECT i.i AS i, j.j AS j,
         sum(e[i.i + 1] * e[j.j + 1]) AS s,
         CAST(sum(CASE WHEN i.i = 0 AND j.j = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n
  FROM x
  CROSS JOIN (SELECT unnest(generate_series(0, {_DIM - 1})) AS i) i
  CROSS JOIN (SELECT unnest(generate_series(0, {_DIM - 1})) AS j) j
  WHERE j.j >= i.i
  GROUP BY 1, 2
)
SELECT CAST(i AS INTEGER) AS i, CAST(j AS INTEGER) AS j,
       round(s, 4) + 0.0 AS s, n
FROM cells
""",
    doc="Distributed Gram matrix XᵀX of the embedding column in long "
    "upper-triangle form — the one full-data pass of PCA. The Spark "
    "side is a mapInPandas per-Arrow-batch numpy matmul emitting "
    "d(d+1)/2 partials per batch, combined by a map-side-partial "
    "groupBy: the shuffle carries O(d²) doubles per partition "
    "regardless of corpus size (the property that survives 1000 "
    "executors). The oracle recomputes every cell as a position "
    "cross-join sum of products; both sides accumulate in float64 and "
    "round to 4 decimals so summation-order ulps cannot flip the hash.",
    tags=("embeddings", "pca", "sketch"),
)
def q_pca_gram(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = table(spark, sf_dir, "embeddings")
    g = gram_long(emb.filter(F.col("embedding").isNotNull()), dim=_DIM)
    return g.select("i", "j", (F.round(F.col("s"), 4) + F.lit(0.0)).alias("s"), "n")


def _pca_exact_oracle() -> str:
    from flink_application_spark.operators.pca_exact import (
        pca_power_exact_oracle_sql,
    )

    return pca_power_exact_oracle_sql(iters=8, dim=_DIM)


@register(
    "emb_pca_power_exact",
    _pca_exact_oracle(),
    doc="Exact-integer power iteration (8 rounds) — the spectral "
    "blocker class made oracle-verifiable (operators/pca_exact.py): "
    "ppm-quantized coordinates, EXACT integer Gram (per-Arrow-batch "
    "int64 matmul partials, order-free integer combine), then "
    "arbitrary-precision matvec + max-|w| renormalization with "
    "truncating integer division per round. Output is every round's "
    "renormalized vector as (iteration, pos, v) long rows — the whole "
    "trajectory in the value hash; DuckDB replays the rounds as "
    "MATERIALIZED HUGEINT CTE stages. |cos| ≥ 0.999 vs numpy eigh "
    "pinned on a planted-spike corpus (the fixture is isotropic — "
    "there the guaranteed Rayleigh monotonicity is pinned instead) in "
    "tests/test_pca_exact.py.",
    tags=("embeddings", "pca", "training", "deterministic"),
)
def q_pca_power_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    from flink_application_spark.operators.pca_exact import (
        pca_power_exact_trajectory,
    )

    emb = table(spark, sf_dir, "embeddings")
    return pca_power_exact_trajectory(emb, iters=8, dim=_DIM)
