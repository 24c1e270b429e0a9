"""k-means semantics pinned against driver-side numpy references
(same deterministic seeding, same argmin tie-break): the float
assignment pass, and the exact-integer Lloyd's trainer."""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F

from flink_application_spark.catalog import table
from flink_application_spark.operators.kmeans import (
    assign_clusters,
    init_centroids,
)

K = 8


@pytest.fixture(scope="module")
def emb(spark, sf_dir):
    df = table(spark, sf_dir, "embeddings")
    return df.filter(F.col("embedding").isNotNull()).cache()


@pytest.fixture(scope="module")
def xs(emb):
    rows = emb.select("vec_id", "embedding").orderBy("vec_id").collect()
    ids = np.array([r["vec_id"] for r in rows])
    x = np.array([[float(v) for v in r["embedding"]] for r in rows])
    return ids, x


def _np_assign(x: np.ndarray, cents: np.ndarray) -> np.ndarray:
    d2 = ((x[:, None, :] - cents[None, :, :]) ** 2).sum(axis=2)
    return d2.argmin(axis=1)  # argmin takes the first (lowest) index on ties


def _np_lloyd_ppm(x: np.ndarray, k: int, iters: int):
    """numpy replica of the exact trainer on ppm rows: integer sums,
    mean rounded half away from zero, empty cluster keeps its centroid."""
    cents = x[:k].copy()
    for _ in range(iters):
        a = _np_assign(x, cents)
        for c in range(k):
            m = a == c
            if m.any():
                s = x[m].sum(axis=0)
                cents[c] = np.sign(s) * np.floor(np.abs(s / m.sum()) + 0.5)
    return cents, _np_assign(x, cents)


def test_assign_matches_numpy(emb, xs):
    ids, x = xs
    cents = init_centroids(emb, K, "vec_id")
    got = {
        r["vec_id"]: r["cluster"]
        for r in assign_clusters(emb, cents).select("vec_id", "cluster").collect()
    }
    want = _np_assign(x, np.array(cents))
    assert got == {int(i): int(c) for i, c in zip(ids, want)}


def test_update_centroids_matches_numpy_means(emb, xs):
    """One exact round's centroids are the seed assignment's integer
    coordinate means, rounded half away from zero — equal to numpy's
    float means to within half a ppm step."""
    from flink_application_spark.operators.kmeans_exact import kmeans_fit_exact

    _, x = xs
    q = np.round(x * 1e6).astype(np.int64)
    cents, _ = kmeans_fit_exact(emb, K, iters=1)
    new = np.array(cents)
    a = _np_assign(q, q[:K])
    for c in range(K):
        m = a == c
        assert m.any()
        mean = q[m].sum(axis=0) / m.sum()
        assert np.array_equal(new[c], np.sign(mean) * np.floor(np.abs(mean) + 0.5))
        assert np.abs(new[c] - mean).max() <= 0.5


def test_fit_cost_non_increasing(emb, xs):
    """Each round's inertia matches the numpy replica exactly and never
    grows by more than the ppm rounding of the means can add: moving a
    cluster's centroid from its mean to the rounded mean costs at most
    n_c·d/4, so inertia_{t+1} <= inertia_t + N·d/4."""
    from flink_application_spark.operators.kmeans_exact import kmeans_fit_exact

    _, x = xs
    q = np.round(x * 1e6).astype(np.int64)
    _, prof = kmeans_fit_exact(emb, K, iters=4)
    costs = [r[1] for r in prof]
    want = []
    for t in range(4):
        cents, _ = _np_lloyd_ppm(q, K, t)
        want.append(int(((q[:, None, :] - cents[None]) ** 2).sum(axis=2).min(axis=1).sum()))
    assert costs == want
    slack = q.shape[0] * q.shape[1] // 4
    assert all(b <= a + slack for a, b in zip(costs, costs[1:])), costs


def test_fit_matches_numpy_lloyd(emb, xs):
    from flink_application_spark.operators.kmeans_exact import kmeans_fit_exact

    _, x = xs
    q = np.round(x * 1e6).astype(np.int64)  # exact int64 sums below
    cents, prof = kmeans_fit_exact(emb, K, iters=5)
    ref_cents, _ = _np_lloyd_ppm(q, K, 5)
    assert np.array_equal(np.array(cents), ref_cents)
    # round 1's inertia is the seeds' assignment cost; the last L1 mass
    # is the final centroids'
    seed_d2 = ((q[:, None, :] - q[None, :K, :]) ** 2).sum(axis=2).min(axis=1)
    assert [r[0] for r in prof] == [1, 2, 3, 4, 5]
    assert prof[0][1] == int(seed_d2.sum())
    assert prof[-1][2] == int(np.abs(ref_cents).sum())


def test_empty_cluster_keeps_zero_vector(spark):
    """Two far groups, k=3: all three seeds sit at the origin, so
    clusters 1 and 2 start empty (ties go to cluster 0). An empty
    cluster keeps its previous centroid — here the zero vector — while
    cluster 1 later takes the origin group."""
    from flink_application_spark.operators.kmeans_exact import kmeans_fit_exact

    rows = [(i, [0.0, 0.0]) for i in range(3)] + [(10 + i, [100.0, 100.0]) for i in range(3)]
    df = spark.createDataFrame(rows, "vec_id: long, embedding: array<float>")
    cents, _ = kmeans_fit_exact(df, 3, iters=3)
    assert cents == [[100_000_000, 100_000_000], [0, 0], [0, 0]]


def test_assign_arrow_bit_equals_fold(spark, sf_dir):
    """The Arrow assignment path must reproduce the JVM fold BIT-FOR-BIT
    (same left-to-right float64 accumulation, first-min argmin) — this
    equality is what lets the default impl change without touching any
    oracle."""
    from flink_application_spark.catalog import table
    from flink_application_spark.operators.kmeans import (
        assign_clusters,
        init_centroids,
    )

    emb = table(spark, sf_dir, "embeddings").filter(F.col("embedding").isNotNull())
    cents = init_centroids(emb, 8, "vec_id")
    fold = {
        r["vec_id"]: (r["cluster"], r["d2"])
        for r in assign_clusters(emb, cents, impl="fold")
        .select("vec_id", "cluster", "d2")
        .collect()
    }
    arrow = {
        r["vec_id"]: (r["cluster"], r["d2"])
        for r in assign_clusters(emb, cents, impl="arrow")
        .select("vec_id", "cluster", "d2")
        .collect()
    }
    assert fold == arrow


def test_assign_null_embedding_is_null_both_impls(spark):
    """NULL embedding → (NULL cluster, NULL d2) on BOTH impls — the fold
    form used to emit (cluster=0, d2=NULL), a misleading assignment and
    a fold/arrow divergence (round-3 self-review)."""
    from flink_application_spark.operators.kmeans import assign_clusters

    df = spark.createDataFrame(
        [(1, [1.0, 2.0]), (2, None)], "vec_id long, embedding array<double>"
    )
    cents = [[0.0, 0.0], [1.0, 2.0]]
    for impl in ("fold", "arrow"):
        rows = {
            r["vec_id"]: (r["cluster"], r["d2"])
            for r in assign_clusters(df, cents, impl=impl).collect()
        }
        assert rows[2] == (None, None), (impl, rows[2])
        assert rows[1] == (1, 0.0), (impl, rows[1])

