"""Product-quantization contracts (oracle parity in test_oracle_parity)."""

from __future__ import annotations

from pyspark.sql import functions as F

from flink_application_spark.catalog import table
from flink_application_spark.operators.pq import pq_adc_topk, pq_encode, seed_codebooks

_DIM = 64


def test_pq_seed_vectors_reconstruct_exactly(spark, sf_dir):
    """The k seed vectors ARE codebook entries in every subspace, so
    their quantization error is exactly zero; everyone else's is > 0
    (distinct vectors) and recon error never goes negative."""
    emb = table(spark, sf_dir, "embeddings")
    books = seed_codebooks(emb, m=4, k=8, dim=_DIM)
    codes = pq_encode(emb, books, _DIM).cache()
    seed_ids = [
        r["vec_id"]
        for r in emb.filter(F.col("embedding").isNotNull())
        .orderBy("vec_id")
        .limit(8)
        .collect()
    ]
    zero = codes.filter(F.col("recon_d2") == 0.0)
    assert {r["vec_id"] for r in zero.collect()} >= set(seed_ids)
    assert codes.filter(F.col("recon_d2") < 0).count() == 0
    # code range
    for s in range(4):
        assert codes.filter(
            (F.col(f"code_{s}") < 0) | (F.col(f"code_{s}") >= 8)
        ).count() == 0
    codes.unpersist()


def test_pq_adc_beats_random_ranking(spark, sf_dir):
    """ADC with an 8-entry codebook is coarse, but its top-5 must still
    overlap the EXACT L2 top-5 far better than chance (sanity floor:
    >= 20% average overlap; chance is 5/499 ≈ 1%)."""
    emb = table(spark, sf_dir, "embeddings")
    books = seed_codebooks(emb, m=4, k=8, dim=_DIM)
    codes = pq_encode(emb, books, _DIM).drop("recon_d2")
    queries = emb.filter(F.col("vec_id") < 10)
    adc = pq_adc_topk(queries, codes, books, _DIM, k=5)

    from flink_application_spark.operators.kmeans import _d2_to_centroid  # noqa: F401
    from pyspark.sql import Window

    q = queries.select(F.col("vec_id").alias("query_id"), F.col("embedding").alias("qv"))
    c = emb.select("vec_id", "embedding")
    d2 = F.aggregate(
        F.zip_with(
            F.col("qv"), F.col("embedding"),
            lambda x, y: (x.cast("double") - y.cast("double"))
            * (x.cast("double") - y.cast("double")),
        ),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    w = Window.partitionBy("query_id").orderBy(F.col("d2").asc(), F.col("vec_id").asc())
    exact = (
        c.crossJoin(F.broadcast(q))
        .filter(F.col("vec_id") != F.col("query_id"))
        .select("query_id", "vec_id", d2.alias("d2"))
        .withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= 5)
    )
    hits = adc.join(exact.select("query_id", "vec_id"), ["query_id", "vec_id"]).count()
    assert hits >= 0.2 * 50, hits


def test_trained_codebooks_beat_seeded(spark):
    """Round-2 verdict item: seeded codebooks (first-K residuals) are a
    deterministic placeholder — per-subspace Lloyd's training must
    strictly cut total quantization error (guaranteed: it initializes
    FROM the seeds and Lloyd's monotonically reduces MSE) and must not
    lose recall vs the seeds at the bench scale (sf0.1, m=4, k=8).
    The training is the exact-integer Lloyd's loop; its ppm codewords
    scale back to floats for the float encoder."""
    from flink_application_spark.operators.kmeans_exact import (
        SCALE,
        lloyd_ppm,
        quantize_ppm,
    )

    sf = "/root/testdata/sf0.1"
    emb = table(spark, sf, "embeddings")
    seed = seed_codebooks(emb, m=4, k=8, dim=_DIM)
    trained = [
        [[c / SCALE for c in cv] for cv in book]
        for book in lloyd_ppm(quantize_ppm(emb), 8, 10, 4)[0]
    ]

    recon = {}
    for name, books in (("seed", seed), ("trained", trained)):
        codes = pq_encode(emb, books, _DIM)
        recon[name] = codes.agg(F.sum("recon_d2")).collect()[0][0]
    assert recon["trained"] < recon["seed"], recon

    from pyspark.sql import Window

    q = emb.filter(F.col("vec_id") < 20).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("qv")
    )
    c = emb.select("vec_id", "embedding")
    d2 = F.aggregate(
        F.zip_with(
            F.col("qv"), F.col("embedding"),
            lambda x, y: (x.cast("double") - y.cast("double"))
            * (x.cast("double") - y.cast("double")),
        ),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    w = Window.partitionBy("query_id").orderBy(F.col("d2").asc(), F.col("vec_id").asc())
    exact = (
        c.crossJoin(F.broadcast(q))
        .filter(F.col("vec_id") != F.col("query_id"))
        .select("query_id", "vec_id", d2.alias("d2"))
        .withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= 5)
        .select("query_id", "vec_id")
        .persist()
    )
    exact.count()
    recall = {}
    for name, books in (("seed", seed), ("trained", trained)):
        codes = pq_encode(emb, books, _DIM).drop("recon_d2")
        adc = pq_adc_topk(emb.filter(F.col("vec_id") < 20), codes, books, _DIM, k=5)
        recall[name] = adc.join(exact, ["query_id", "vec_id"]).count()
    exact.unpersist()
    assert recall["trained"] >= recall["seed"], recall


def test_pq_encode_arrow_bit_equals_fold(spark, sf_dir):
    """Arrow encode must be bit-identical to the literal-fold form
    (codes AND recon_d2) — the equality that keeps the oracle rows
    green across the default-impl switch."""
    emb = table(spark, sf_dir, "embeddings")
    books = seed_codebooks(emb, m=4, k=8, dim=_DIM)
    fold = {r["vec_id"]: tuple(r)[1:] for r in pq_encode(emb, books, _DIM, impl="fold").collect()}
    arrow = {r["vec_id"]: tuple(r)[1:] for r in pq_encode(emb, books, _DIM, impl="arrow").collect()}
    assert fold == arrow
