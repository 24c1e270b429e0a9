"""Leakage audit + cure: the per-doc split leaks near-dup pairs across
boundaries (the audit finds them); the component-keyed split is
structurally leakage-free."""

from __future__ import annotations

from pyspark.sql import functions as F

from flink_application_spark.catalog import table
from flink_application_spark.operators.minhash import verified_near_dup_pairs
from flink_application_spark.plans.dedup_queries import NEAR_DUP_THRESHOLD
from flink_application_spark.plans.registry import REGISTRY_GET


def test_audit_finds_planted_leakage(spark, sf_dir):
    audit = REGISTRY_GET("doc_split_leakage_audit").spark(spark, sf_dir)
    rows = audit.collect()
    assert rows, "testdata's planted near-dups should straddle splits"
    assert all(r.split_a != r.split_b for r in rows)


def test_component_split_has_zero_leakage(spark, sf_dir):
    docs = table(spark, sf_dir, "documents")
    splits = REGISTRY_GET("doc_split_by_component").spark(spark, sf_dir)
    pairs = verified_near_dup_pairs(docs, threshold=NEAR_DUP_THRESHOLD)
    crossing = (
        pairs.join(
            splits.select(F.col("doc_id").alias("id_a"), F.col("split").alias("sa")),
            "id_a",
        )
        .join(
            splits.select(F.col("doc_id").alias("id_b"), F.col("split").alias("sb")),
            "id_b",
        )
        .filter(F.col("sa") != F.col("sb"))
    )
    assert crossing.count() == 0
    # and it is still a ~80/10/10 split over all docs
    dist = {r.split: r.n for r in splits.groupBy("split").agg(F.count(F.lit(1)).alias("n")).collect()}
    total = sum(dist.values())
    assert total == docs.count()
    assert 0.6 < dist.get("train", 0) / total < 0.95
