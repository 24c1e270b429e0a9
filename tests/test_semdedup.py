"""SemDeDup contracts (oracle parity is covered by test_oracle_parity)."""

from __future__ import annotations

from pyspark.sql import functions as F

from flink_application_spark.catalog import table
from flink_application_spark.operators.semdedup import semdedup_flags

_T = 0.3


def test_semdedup_verdict_contracts(spark, sf_dir):
    emb = table(spark, sf_dir, "embeddings")
    flags = semdedup_flags(emb, threshold=_T, k=8).cache()

    # every vector gets exactly one verdict
    n = emb.filter(F.col("embedding").isNotNull()).count()
    assert flags.count() == n

    # the lowest id in each cluster is always kept (monotone rule)
    lowest = flags.groupBy("cluster").agg(F.min("vec_id").alias("vec_id"))
    assert (
        flags.join(lowest, ["cluster", "vec_id"]).filter(~F.col("kept")).count() == 0
    )

    # dropped rows must cite >= 1 close smaller neighbor at >= threshold;
    # kept rows must cite none above it
    assert (
        flags.filter(~F.col("kept"))
        .filter(
            (F.col("n_close_smaller") < 1) | (F.col("max_sim_smaller") < _T)
        )
        .count()
        == 0
    )
    assert flags.filter(F.col("kept") & (F.col("n_close_smaller") != 0)).count() == 0

    # pruning actually fires on this corpus
    assert flags.filter(~F.col("kept")).count() > 0
    flags.unpersist()


def test_close_pairs_arrow_bit_equals_fold(spark, sf_dir):
    """The Arrow pair stage (numpy per-coordinate accumulation) must be
    BIT-equal to the zip_with/aggregate fold form it replaced — same
    left-to-right float64 op sequence, final HALF_UP round Spark-side.
    Compared as multisets of (id_b, cos)."""
    from flink_application_spark.functions.vectors import cosine
    from flink_application_spark.operators.kmeans import (
        assign_clusters,
        init_centroids,
    )
    from flink_application_spark.operators.semdedup import _close_pairs_arrow

    emb = table(spark, sf_dir, "embeddings")
    e = emb.filter(F.col("embedding").isNotNull())
    cents = init_centroids(e, 8, "vec_id")
    assigned = (
        assign_clusters(e, cents).select("vec_id", "embedding", "cluster").persist()
    )
    new = _close_pairs_arrow(assigned, _T)
    a = assigned.select(
        F.col("vec_id").alias("id_a"), F.col("embedding").alias("va"), "cluster"
    )
    b = assigned.select(
        F.col("vec_id").alias("id_b"), F.col("embedding").alias("vb"), "cluster"
    )
    fold = (
        a.join(b, "cluster")
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_b", F.round(cosine(F.col("va"), F.col("vb")), 6).alias("cos"))
        .filter(F.col("cos") >= _T)
    )
    assert new.count() == fold.count() > 0
    assert new.exceptAll(fold).count() == 0
    assert fold.exceptAll(new).count() == 0
    assigned.unpersist()


def test_close_pairs_arrow_multi_block_identical(spark, sf_dir, monkeypatch):
    """Round-11 ADVICE (medium): the pair stage accumulates in ROW
    BLOCKS to bound worker memory. Force a tiny block budget so every
    cluster splits into many blocks and pin that the survivors are
    identical to the single-block run — the per-coordinate add order
    is preserved within blocks, so not just the set but every cosine
    must match exactly."""
    from flink_application_spark.operators import semdedup as sd
    from flink_application_spark.operators.kmeans import (
        assign_clusters,
        init_centroids,
    )

    emb = table(spark, sf_dir, "embeddings")
    e = emb.filter(F.col("embedding").isNotNull())
    cents = init_centroids(e, 8, "vec_id")
    assigned = (
        assign_clusters(e, cents).select("vec_id", "embedding", "cluster").persist()
    )
    one_block = sorted(map(tuple, sd._close_pairs_arrow(assigned, _T).collect()))
    monkeypatch.setattr(sd, "_PAIR_BLOCK_ELEMS", 8)  # ≤ a few rows/block
    many_blocks = sorted(map(tuple, sd._close_pairs_arrow(assigned, _T).collect()))
    assert one_block == many_blocks and len(one_block) > 0
    assigned.unpersist()


def test_semdedup_threshold_monotone(spark, sf_dir):
    """Raising the threshold can only keep MORE vectors."""
    emb = table(spark, sf_dir, "embeddings")
    kept_loose = semdedup_flags(emb, threshold=0.25, k=8).filter("kept").count()
    kept_tight = semdedup_flags(emb, threshold=0.4, k=8).filter("kept").count()
    assert kept_tight >= kept_loose


def test_semdedup_split_caps_cluster_size(spark, sf_dir):
    """The skew guard: with max_cluster_size set, no final cluster
    exceeds the cap (recursive re-cluster over member-seeded
    sub-centroids), and the verdict contracts still hold on the
    split labels."""
    from flink_application_spark.operators.semdedup import (
        assign_with_split,
        semdedup_flags,
    )

    emb = table(spark, sf_dir, "embeddings")
    cap = 60
    assigned = assign_with_split(emb, k=8, max_cluster_size=cap)
    sizes = assigned.groupBy("cluster").count()
    assert sizes.filter(F.col("count") > cap).count() == 0
    # exhaustive: every vector assigned exactly once
    n = emb.filter(F.col("embedding").isNotNull()).count()
    assert assigned.count() == n
    assert assigned.select("vec_id").distinct().count() == n

    flags = semdedup_flags(emb, threshold=_T, k=8, max_cluster_size=cap).cache()
    assert flags.count() == n
    assert (
        flags.filter(~F.col("kept"))
        .filter((F.col("n_close_smaller") < 1) | (F.col("max_sim_smaller") < _T))
        .count()
        == 0
    )
    # lowest id per (split) cluster still always kept
    lowest = flags.groupBy("cluster").agg(F.min("vec_id").alias("vec_id"))
    assert flags.join(lowest, ["cluster", "vec_id"]).filter(~F.col("kept")).count() == 0
    flags.unpersist()
