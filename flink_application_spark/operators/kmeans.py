"""Float k-means ASSIGNMENT against given centroids, plus the
deterministic seeding helper — the pieces the seeded (untrained)
index queries use. Training is exact-integer Lloyd's
(`operators/kmeans_exact.py`).

Assignment is a scan-local fold against *broadcast literal*
centroids: per row, k squared-L2 distances computed as JVM-side
``zip_with``/``aggregate`` folds (no shuffle), argmin via
``array_min`` over ``(d2, cluster)`` structs — lexicographic min gives
the deterministic lowest-cluster tie-break. Cost per row is O(k·d);
the embeddings never move.

Determinism contract: seeds = embeddings of the k smallest ids (no
RNG); assignment math is sequential double folds so the DuckDB oracle
reproduces it bit-for-bit (same pattern as `similarity_queries._COS`).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, functions as F


def _d2_to_centroid(col: Column, centroid: list[float]) -> Column:
    """Squared L2 distance to a literal centroid as a sequential
    left-to-right double fold — the cross-engine-reproducible form."""
    from flink_application_spark.operators.pq import lit_double_array

    c = lit_double_array(centroid)
    return F.aggregate(
        F.zip_with(col, c, lambda x, y: (x.cast("double") - y) * (x.cast("double") - y)),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def assign_clusters(
    df: DataFrame,
    centroids: list[list[float]],
    col: str = "embedding",
    impl: str = "arrow",
) -> DataFrame:
    """Add ``cluster`` (argmin centroid index, ties → lowest index) and
    ``d2`` (squared L2 to it). Scan-local either way — no shuffle.

    ``impl="arrow"`` (default): Arrow-batched numpy with the IDENTICAL
    arithmetic as the fold form — per row, float64 accumulation in the
    same left-to-right coordinate order (`acc += (x_j − c_j)²` for
    j = 0..d−1), argmin taking the first minimum (lowest cluster on
    ties). Catalyst higher-order folds run interpreted (~1.6 s for
    2000×8×64 at sf0.1); the vectorized path is ~an order faster with
    bit-equal output (pinned in tests/test_kmeans.py), so oracle hashes
    are unchanged. ``impl="fold"`` keeps the pure-JVM expression form
    (zero Python — the right choice when Arrow transfer of the vector
    column dominates, e.g. very wide rows piped through many stages)."""
    if impl == "fold":
        cands = F.array(
            *[
                F.struct(
                    _d2_to_centroid(F.col(col), c).alias("d2"),
                    F.lit(i).alias("cluster"),
                )
                for i, c in enumerate(centroids)
            ]
        )
        best = F.array_min(cands)
        # NULL embedding → NULL cluster AND d2 (without the guard,
        # array_min over null-d2 structs picks cluster 0 with NULL d2 —
        # a misleading assignment, and a fold/arrow divergence)
        ok = F.col(col).isNotNull()
        return df.withColumn(
            "cluster", F.when(ok, best["cluster"])
        ).withColumn("d2", F.when(ok, best["d2"]))

    import numpy as np
    import pandas as pd
    from pyspark.sql.functions import pandas_udf

    cents = [np.asarray(c, dtype=np.float64) for c in centroids]
    k = len(cents)

    # no type hints: module-level `from __future__ import annotations`
    # stringifies them beyond pyspark's resolver (pandas imported
    # locally); hint-less pandas_udf defaults to SCALAR
    @pandas_udf(f"struct<cluster:int,d2:double>")  # noqa: F541
    def best(emb):
        mask = emb.notna()
        out_cl = np.full(len(emb), -1, dtype=np.int64)
        out_d2 = np.full(len(emb), np.nan, dtype=np.float64)
        if mask.any():
            x = np.array(emb[mask].tolist(), dtype=np.float64)
            n, d = x.shape
            d2 = np.empty((n, k), dtype=np.float64)
            for ci, c in enumerate(cents):
                acc = np.zeros(n, dtype=np.float64)
                for j in range(d):  # fold order: left-to-right adds
                    diff = x[:, j] - c[j]
                    acc += diff * diff
                d2[:, ci] = acc
            cl = np.argmin(d2, axis=1)  # first min ⇒ lowest cluster
            out_cl[mask.to_numpy()] = cl
            out_d2[mask.to_numpy()] = d2[np.arange(n), cl]
        return pd.DataFrame(
            {
                "cluster": pd.array(
                    [None if c < 0 else int(c) for c in out_cl], dtype="Int32"
                ),
                # NULL (not NaN) for null embeddings, like the fold form
                "d2": pd.array(
                    [None if c < 0 else v for c, v in zip(out_cl, out_d2)],
                    dtype="Float64",
                ),
            }
        )

    out = df.withColumn("_best", best(F.col(col)))
    return out.withColumn("cluster", F.col("_best.cluster")).withColumn(
        "d2", F.col("_best.d2")
    ).drop("_best")


def init_centroids(
    df: DataFrame, k: int, id_col: str, col: str = "embedding"
) -> list[list[float]]:
    """Deterministic seeding: the embeddings of the k smallest ids.
    (No k-means++ RNG — reproducibility across engines and reruns is
    worth more to a data pipeline than a marginally better seed; a
    caller who wants ++ seeding can pass its output as `centroids`.)"""
    rows = (
        df.filter(F.col(col).isNotNull())
        .orderBy(id_col)
        .limit(k)
        .select(col)
        .collect()
    )
    if len(rows) < k:
        raise ValueError(f"init_centroids: need {k} rows, found {len(rows)}")
    return [[float(x) for x in r[0]] for r in rows]

