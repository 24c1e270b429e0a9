"""PCA: the float Gram sketch, the exact-integer top-2 components vs
numpy eigh, the exact projection vs a numpy reference, and the failure
modes the round-1 advice flagged (dim mismatch, null embeddings,
start vectors orthogonal to an eigenvector)."""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F
from pyspark.sql.types import (
    ArrayType,
    FloatType,
    LongType,
    StructField,
    StructType,
)

from flink_application_spark.catalog import table
from flink_application_spark.operators.kmeans_exact import quantize_ppm
from flink_application_spark.operators.pca import collect_gram, mean_vector
from flink_application_spark.operators.pca_exact import (
    TOP2_ITERS,
    int_moments,
    pca_top2_exact_projection,
    top2_components_exact,
)

_SCHEMA = StructType(
    [
        StructField("vec_id", LongType()),
        StructField("embedding", ArrayType(FloatType())),
    ]
)


def _df(spark, mat, with_null=False):
    rows = [(i, [float(v) for v in row]) for i, row in enumerate(mat)]
    if with_null:
        rows.append((len(rows), None))
    return spark.createDataFrame(rows, _SCHEMA)


def _rng_mat(n=200, d=8, seed=7):
    rng = np.random.default_rng(seed)
    # anisotropic: one dominant direction so the top component is unambiguous
    base = rng.normal(size=(n, d))
    base[:, 0] *= 5.0
    return np.float64(np.float32(base))  # round-trip float32 like the table


def test_gram_matches_numpy(spark):
    x = _rng_mat()
    g, n = collect_gram(_df(spark, x), dim=8)
    assert n == x.shape[0]
    np.testing.assert_allclose(g, x.T @ x, rtol=1e-10, atol=1e-8)


def _int_cov(spark, x):
    """Exact integer covariance n·G − s·sᵀ of the ppm-quantized rows."""
    n, sums, g = int_moments(quantize_ppm(_df(spark, x)), dim=x.shape[1])
    d = x.shape[1]
    return [[n * g[i][j] - sums[i] * sums[j] for j in range(d)] for i in range(d)]


def _eigh_top(x, i):
    _, vecs = np.linalg.eigh(np.cov(x, rowvar=False, bias=True))
    return vecs[:, -1 - i]


def _abs_cos(a, b) -> float:
    a = np.asarray(a, dtype=np.float64)
    b = np.asarray(b, dtype=np.float64)
    return abs(float(a @ b)) / (np.linalg.norm(a) * np.linalg.norm(b))


def test_top_component_matches_eigh(spark):
    x = _rng_mat()
    u, _ = top2_components_exact(_int_cov(spark, x), iters=30)
    assert _abs_cos(u, _eigh_top(x, 0)) >= 1 - 1e-9
    assert max(abs(c) for c in u) == 10**6  # max-|w| renormalized


def test_top_component_survives_ones_orthogonal_eigenvector():
    """An all-ones start is orthogonal to any eigenvector with zero
    sum — e.g. a pure difference direction — and exact arithmetic has
    no rounding noise to escape it. The ramp start must still find it."""
    d = 4
    ref = np.zeros(d)
    ref[0], ref[1] = 1 / np.sqrt(2), -1 / np.sqrt(2)  # sums to zero
    cov = (10**6 * (10.0 * np.outer(ref, ref) + np.eye(d))).round().astype(int)
    u, _ = top2_components_exact(cov.tolist(), iters=30)
    assert _abs_cos(u, ref) >= 1 - 1e-9


def test_gram_dim_mismatch_raises(spark):
    x = _rng_mat(d=8)
    with pytest.raises(Exception, match="embedding length"):
        collect_gram(_df(spark, x), dim=16)


def test_projection_null_consistency(spark):
    """Null embeddings are filtered once up front: output excludes them
    and the projections match the no-null run exactly."""
    x = _rng_mat(n=50)
    clean = pca_top2_exact_projection(_df(spark, x), dim=8)
    dirty = pca_top2_exact_projection(_df(spark, x, with_null=True), dim=8)
    a = {r["vec_id"]: (r["pc1"], r["pc2"]) for r in clean.collect()}
    b = {r["vec_id"]: (r["pc1"], r["pc2"]) for r in dirty.collect()}
    assert a == b and len(a) == 50


def test_projection_matches_numpy_reference(spark, sf_dir):
    """On the fixture the registered query computes the two principal
    components: its moments equal numpy's int64 ones exactly, the two
    TOP2_ITERS-round components match numpy eigh's top two
    (|cos| ≥ 1 − 1e-9, though the fixture's top eigenvalue ratio is
    only ≈ 1.07), and pc1/pc2 are the exact dot products of the ppm
    vector minus the rounded ppm mean with them, within 2e-4 of the
    float projection onto eigh's components."""
    from flink_application_spark.plans.registry import REGISTRY_GET

    emb = table(spark, sf_dir, "embeddings")
    rows = emb.filter(F.col("embedding").isNotNull()).orderBy("vec_id").collect()
    x = np.array([r["embedding"] for r in rows], dtype=np.float64)
    e = np.rint(x * 1e6).astype(np.int64)
    n, sums, g = int_moments(quantize_ppm(emb), dim=64)
    assert n == len(rows)
    assert sums == e.sum(axis=0).tolist()
    assert g == (e.T @ e).tolist()
    cov = [[n * g[i][j] - sums[i] * sums[j] for j in range(64)] for i in range(64)]
    comps = top2_components_exact(cov, iters=TOP2_ITERS)
    for k, comp in enumerate(comps):
        assert _abs_cos(comp, _eigh_top(x, k)) >= 1 - 1e-9, k
    mu = [
        (1 if v >= 0 else -1) * ((2 * abs(v) + n) // (2 * n)) for v in sums
    ]
    want = {
        r["vec_id"]: tuple(
            sum((int(a) - m) * c for a, m, c in zip(row, mu, comp)) for comp in comps
        )
        for r, row in zip(rows, e.tolist())
    }
    got = {
        r["vec_id"]: (r["pc1"], r["pc2"])
        for r in REGISTRY_GET("emb_pca_top2_projection").spark(spark, sf_dir).collect()
    }
    assert got == want
    centered = x - x.mean(axis=0)
    for k, comp in enumerate(comps):
        c = np.asarray(comp, dtype=np.float64)
        ref = _eigh_top(x, k)
        ref = ref if ref @ c > 0 else -ref
        scale = 1e6 * np.linalg.norm(c)
        for r, proj in zip(rows, centered @ ref):
            assert abs(got[r["vec_id"]][k] / scale - proj) <= 2e-4, (k, r["vec_id"])


def test_mean_vector(spark):
    x = _rng_mat(n=30)
    mu = mean_vector(_df(spark, x), dim=8)
    np.testing.assert_allclose(mu, x.mean(axis=0), rtol=1e-7, atol=1e-9)


def test_top_components_match_eigh(spark):
    x = _rng_mat()
    x[:, 1] *= 3.0  # second dominant direction so top-2 is unambiguous
    u, v = top2_components_exact(_int_cov(spark, x), iters=30)
    assert _abs_cos(u, _eigh_top(x, 0)) >= 1 - 1e-9
    assert _abs_cos(v, _eigh_top(x, 1)) >= 1 - 1e-9
    # the Gram–Schmidt step keeps component 2 orthogonal to component 1
    assert _abs_cos(u, v) < 1e-5


def test_topk_projection_matches_numpy(spark):
    x = _rng_mat(n=60)
    x[:, 1] *= 3.0
    comps = top2_components_exact(_int_cov(spark, x), iters=30)
    got = {
        r["vec_id"]: (r["pc1"], r["pc2"])
        for r in pca_top2_exact_projection(_df(spark, x), iters=30, dim=8).collect()
    }
    centered = x - x.mean(axis=0)
    for k, comp in enumerate(comps):
        c = np.asarray(comp, dtype=np.float64)
        # sign and scale of the float projection on the same direction
        want = centered @ (c / np.linalg.norm(c))
        scale = 1e6 * np.linalg.norm(c)
        for i in range(60):
            assert abs(got[i][k] / scale - want[i]) <= 1e-4, (k, i)
        assert _abs_cos(c, _eigh_top(x, k)) >= 1 - 1e-9


def test_gram_skips_null_embeddings(spark):
    """A corpus with NULL embedding rows must not crash (np.asarray
    over ragged None rows) or skew the Gram: NULLs are filtered before
    the Arrow stage, matching rotate_embeddings/pq_encode (round-4
    latent-hardening note)."""
    import numpy as np

    from flink_application_spark.operators.pca import collect_gram

    d = 4
    rows = [(0, [1.0, 0.0, 2.0, 0.0]), (1, None), (2, [0.0, 3.0, 0.0, 1.0]), (3, None)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    g, n = collect_gram(df, dim=d)
    x = np.array([rows[0][1], rows[2][1]])
    assert n == 2
    np.testing.assert_allclose(g, x.T @ x, atol=1e-12)
