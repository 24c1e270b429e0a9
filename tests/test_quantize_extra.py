"""SQ8 / binary quantization contracts (oracle parity runs in
test_oracle_parity; these pin the quantization SEMANTICS)."""

from __future__ import annotations

from pyspark.sql import functions as F

from flink_application_spark.plans.registry import REGISTRY_GET


def test_sq8_codes_in_byte_range_and_extremes_hit_bounds(spark, sf_dir):
    codes = REGISTRY_GET("emb_sq8_codes").spark(spark, sf_dir)
    codes = codes.persist()
    assert codes.filter((F.col("code") < 0) | (F.col("code") > 255)).count() == 0
    # every dimension's min maps to code 0 and max to code 255
    per_pos = codes.groupBy("pos").agg(
        F.min("code").alias("lo"), F.max("code").alias("hi")
    )
    bad = per_pos.filter((F.col("lo") != 0) | (F.col("hi") != 255)).count()
    assert bad == 0
    codes.unpersist()


def test_sq8_recon_error_bounded_by_half_step(spark, sf_dir):
    """Dequantization error per coordinate is ≤ scale/2 by construction,
    so per-vector recon_d2 ≤ dim·(max_scale/2)² — a hard bound, not a
    statistical one."""
    from flink_application_spark.catalog import table

    emb = table(spark, sf_dir, "embeddings").filter(F.col("embedding").isNotNull())
    vals = emb.select(F.posexplode("embedding").alias("pos", "v")).select(
        "pos", F.col("v").cast("double").alias("val")
    )
    scales = (
        vals.groupBy("pos")
        .agg(((F.max("val") - F.min("val")) / 255).alias("scale"))
        .collect()
    )
    bound = sum((r["scale"] / 2) ** 2 for r in scales) * 1.0001  # fp slack
    worst = (
        REGISTRY_GET("emb_sq8_recon_error")
        .spark(spark, sf_dir)
        .agg(F.max("recon_d2"))
        .collect()[0][0]
    )
    assert worst <= bound, (worst, bound)


def test_binary_hamming_self_is_zero_and_beats_chance(spark, sf_dir):
    """A vector's Hamming distance to itself is 0 (packing is total and
    deterministic), and binary top-10 must overlap the exact cosine
    top-10 far better than chance (sign bits encode direction)."""
    from flink_application_spark.catalog import table
    from flink_application_spark.operators.similarity import brute_force_topk
    from flink_application_spark.plans.quantize_extra import _pack_half_col

    emb = table(spark, sf_dir, "embeddings").filter(F.col("embedding").isNotNull())
    packed = emb.select(
        "vec_id",
        _pack_half_col(F.col("embedding"), 0).alias("b_lo"),
        _pack_half_col(F.col("embedding"), 32).alias("b_hi"),
    )
    a = packed.select(
        F.col("vec_id").alias("id"), F.col("b_lo").alias("lo"), F.col("b_hi").alias("hi")
    )
    self_join = packed.join(a, packed.vec_id == a.id).select(
        (
            F.bit_count(F.col("b_lo").bitwiseXOR(F.col("lo")))
            + F.bit_count(F.col("b_hi").bitwiseXOR(F.col("hi")))
        ).alias("h")
    )
    assert self_join.filter(F.col("h") != 0).count() == 0

    binary = REGISTRY_GET("emb_binary_hamming_topk").spark(spark, sf_dir)
    exact = brute_force_topk(emb.filter(F.col("vec_id") < 5), emb, k=10).select(
        "query_id", "vec_id"
    )
    hits = binary.join(exact, ["query_id", "vec_id"]).count()
    n = emb.count()
    # chance overlap is 10/(n-1) per slot → ~50·10/n expected hits; the
    # sign-bit geometry must do far better
    assert hits >= 10, (hits, n)
