"""Exact-integer power iteration (operators/pca_exact.py): converges
to the true top eigenvector, bit-deterministic under repartitioning,
and the integer Gram matches a numpy int64 reference exactly."""

from __future__ import annotations

import numpy as np
from pyspark.sql import functions as F

from flink_application_spark.catalog import table
from flink_application_spark.operators.kmeans_exact import quantize_ppm
from flink_application_spark.operators.pca_exact import (
    int_gram_long,
    pca_power_exact_trajectory,
)


def _emb(spark, sf_dir):
    return table(spark, sf_dir, "embeddings").filter(F.col("embedding").isNotNull())


def test_int_gram_matches_numpy_reference(spark, sf_dir):
    emb = _emb(spark, sf_dir)
    got = {
        (r["i"], r["j"]): int(r["g"])  # DECIMAL(38,0) cells
        for r in int_gram_long(quantize_ppm(emb), dim=64).collect()
    }
    rows = emb.select("embedding").collect()
    x = np.array(
        [np.rint(np.asarray(r[0], dtype=np.float64) * 1e6) for r in rows],
        dtype=np.int64,
    )
    want = x.T @ x
    assert len(got) == 64 * 64
    for (i, j), g in got.items():
        assert g == want[i, j], (i, j)


def test_converges_on_spiked_corpus(spark):
    """Power iteration's convergence rate is (λ2/λ1)^t — the driver
    embeddings are deliberately ISOTROPIC (measured top eigengap
    ≈ 1.07, the same honesty note the ANN twins carry), so the
    convergence contract is pinned where a spectrum exists: a planted
    spike x = z + 3·s·u must be recovered to |cos| ≥ 0.999 in 8
    rounds."""
    rng = np.random.default_rng(7)
    u = rng.normal(size=64)
    u /= np.linalg.norm(u)
    x = rng.normal(scale=0.1, size=(400, 64)) + np.outer(
        3 * rng.normal(size=400), u
    )
    df = spark.createDataFrame(
        [(i, [float(v) for v in row]) for i, row in enumerate(x)],
        "vec_id bigint, embedding array<double>",
    )
    traj = pca_power_exact_trajectory(df, iters=8, dim=64).collect()
    last = np.zeros(64)
    for r in traj:
        if r.iteration == 8:
            last[r.pos] = r.v
    gram = x.T @ x
    _, vecs = np.linalg.eigh(gram)
    top = vecs[:, -1]
    cos = abs(last @ top) / (np.linalg.norm(last) * np.linalg.norm(top))
    assert cos >= 0.999, cos


def test_rayleigh_quotient_non_decreasing_on_fixture(spark, sf_dir):
    """On the isotropic fixture the guaranteed power-iteration
    property is monotonicity: the Rayleigh quotient of successive
    iterates never decreases for a PSD Gram."""
    emb = _emb(spark, sf_dir)
    traj = pca_power_exact_trajectory(emb, iters=8, dim=64).collect()
    rows = emb.select("embedding").collect()
    x = np.array([r[0] for r in rows], dtype=np.float64)
    gram = x.T @ x
    rayleigh = []
    for t in range(1, 9):
        v = np.zeros(64)
        for r in traj:
            if r.iteration == t:
                v[r.pos] = r.v
        rayleigh.append((v @ gram @ v) / (v @ v))
    for a, b in zip(rayleigh, rayleigh[1:]):
        assert b >= a * (1 - 1e-9), rayleigh


def test_bit_determinism_under_repartitioning(spark, sf_dir):
    emb = _emb(spark, sf_dir)
    a = sorted(tuple(r) for r in pca_power_exact_trajectory(emb, iters=4).collect())
    b = sorted(
        tuple(r)
        for r in pca_power_exact_trajectory(emb.repartition(13), iters=4).collect()
    )
    assert a == b  # integer Gram + bigint matvec: order-free, EXACT


def test_gram_exact_across_chunk_boundaries(spark):
    """int_gram_long partials are ≤10k-row int64 chunks summed in
    DECIMAL(38,0): a 12,345-row corpus (spanning the chunk boundary)
    must still match numpy exactly."""
    rng = np.random.default_rng(3)
    x = rng.integers(-1_000_000, 1_000_001, size=(12_345, 8), dtype=np.int64)
    df = spark.createDataFrame(
        [(i, [int(v) for v in row]) for i, row in enumerate(x)],
        "vec_id bigint, e array<bigint>",
    )
    got = {(r["i"], r["j"]): int(r["g"]) for r in int_gram_long(df, dim=8).collect()}
    want = x.T @ x
    assert len(got) == 64
    for (i, j), g in got.items():
        assert g == int(want[i, j]), (i, j)


def test_empty_input_yields_empty_trajectory(spark):
    """ADVICE r07: an empty / all-NULL corpus must produce ZERO rows
    (the oracle's g CTE is empty), not iters·dim zero-vectors."""
    df = spark.createDataFrame(
        [(1, None)], "vec_id bigint, embedding array<double>"
    )
    assert pca_power_exact_trajectory(df, iters=3, dim=64).count() == 0


def test_renormalized_vectors_stay_in_ppm_range(spark, sf_dir):
    traj = pca_power_exact_trajectory(_emb(spark, sf_dir), iters=3).collect()
    assert all(abs(r.v) <= 1_000_000 for r in traj)
    # the max-|w| coordinate renormalizes to exactly ±1e6 each round
    for t in (1, 2, 3):
        assert max(abs(r.v) for r in traj if r.iteration == t) == 1_000_000
