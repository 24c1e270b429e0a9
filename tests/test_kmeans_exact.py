"""Exact-integer Lloyd's (operators/kmeans_exact.py): monotone
descent, bit-determinism under repartitioning, the empty-cluster
keep-seed rule, and quantization staying negligible vs the float
trainer."""

from __future__ import annotations

from pyspark.sql import functions as F

from flink_application_spark.catalog import table
from flink_application_spark.operators.kmeans_exact import (
    SCALE,
    kmeans_fit_exact_profile,
    quantize_ppm,
)


def _emb(spark, sf_dir):
    return table(spark, sf_dir, "embeddings")


def test_inertia_non_increasing(spark, sf_dir):
    prof = sorted(
        (r.iteration, r.inertia)
        for r in kmeans_fit_exact_profile(_emb(spark, sf_dir), k=8, iters=5).collect()
    )
    inertias = [i for _, i in prof]
    assert len(inertias) == 5
    # Lloyd's with exact arithmetic can never increase the objective:
    # assignment minimizes per point, the mean minimizes per cluster
    # (ppm re-quantization perturbs by < 1 ulp of the ppm grid — allow
    # equality, never growth beyond the quantization slack)
    slack = 64 * 2 * SCALE  # one ppm-rounding step per coordinate
    for a, b in zip(inertias, inertias[1:]):
        assert b <= a + slack, inertias


def test_bit_determinism_under_repartitioning(spark, sf_dir):
    emb = _emb(spark, sf_dir)
    a = sorted(tuple(r) for r in kmeans_fit_exact_profile(emb, k=8, iters=3).collect())
    b = sorted(
        tuple(r)
        for r in kmeans_fit_exact_profile(emb.repartition(13), k=8, iters=3).collect()
    )
    assert a == b  # integer reductions are order-free — EXACT equality


def test_empty_cluster_keeps_seed_centroid(spark):
    # 3 distinct points, k=4: one seed cluster can never win a point;
    # the run must still complete with a well-defined profile
    df = spark.createDataFrame(
        [(i, [float(i), float(i)]) for i in range(3)],
        "vec_id bigint, embedding array<double>",
    )
    prof = kmeans_fit_exact_profile(df, k=4, iters=2).collect()
    assert len(prof) == 2
    assert all(r.inertia >= 0 for r in prof)


def test_empty_input_yields_empty_profile(spark):
    """ADVICE r07: an all-NULL corpus gave cents=[] and crashed in
    _assign_expr (zero-length struct array) / int(None) — must return
    an empty profile instead."""
    df = spark.createDataFrame(
        [(1, None), (2, None)], "vec_id bigint, embedding array<double>"
    )
    assert kmeans_fit_exact_profile(df, k=4, iters=2).count() == 0


def test_quantization_matches_float_assignment_on_fixture(spark, sf_dir):
    """ppm quantization must not flip the SEED-round assignment vs the
    float path on real data (1e-6 relative perturbation vs O(1e-2)
    coordinate gaps)."""
    from flink_application_spark.operators.kmeans import (
        assign_clusters,
        init_centroids,
    )

    emb = _emb(spark, sf_dir).filter(F.col("embedding").isNotNull())
    cents = init_centroids(emb, 8, "vec_id")
    want = {r.vec_id: r.cluster for r in assign_clusters(emb, cents).collect()}
    from flink_application_spark.operators.kmeans_exact import _assign_expr

    q = quantize_ppm(emb)
    seed = [list(r["e"]) for r in q.orderBy("vec_id").limit(8).collect()]
    got = {
        r.vec_id: r["b"]["cluster"]
        for r in q.select("vec_id", F.expr(_assign_expr(seed)).alias("b")).collect()
    }
    assert got == want
