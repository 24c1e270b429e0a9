"""Training-shard export: layout, order, determinism, epoch variance."""

from __future__ import annotations

import os

from pyspark.sql import functions as F

from flink_application_spark.catalog import table
from flink_application_spark.operators.export import (
    read_shard,
    with_epoch_shards,
    write_training_shards,
)


def test_shard_layout_and_counts(spark, sf_dir, tmp_path):
    docs = table(spark, sf_dir, "documents")
    path = os.path.join(tmp_path, "shards")
    n_shards = write_training_shards(docs, path, docs_per_shard=64)
    n_docs = docs.count()
    assert n_shards == (n_docs + 63) // 64
    dirs = {d for d in os.listdir(path) if d.startswith("shard=")}
    assert len(dirs) == n_shards
    back = spark.read.parquet(path)
    assert back.count() == n_docs
    # every full shard has exactly docs_per_shard rows
    sizes = {r["shard"]: r["n"] for r in back.groupBy("shard").agg(F.count("*").alias("n")).collect()}
    full = [s for s, n in sizes.items() if n == 64]
    assert len(full) >= n_shards - 1


def test_shard_read_is_in_sample_order(spark, sf_dir, tmp_path):
    docs = table(spark, sf_dir, "documents")
    path = os.path.join(tmp_path, "shards")
    write_training_shards(docs, path, docs_per_shard=64)
    got = [r["offset_in_shard"] for r in read_shard(spark, path, 0).collect()]
    assert got == sorted(got) and got[0] == 0


def test_same_epoch_deterministic_different_epoch_reshuffles(spark, sf_dir):
    docs = table(spark, sf_dir, "documents")
    a1 = {
        (r["doc_id"], r["shard"], r["offset_in_shard"])
        for r in with_epoch_shards(docs, "doc_id", 1, 64).collect()
    }
    a2 = {
        (r["doc_id"], r["shard"], r["offset_in_shard"])
        for r in with_epoch_shards(docs, "doc_id", 1, 64).collect()
    }
    b = {
        (r["doc_id"], r["shard"], r["offset_in_shard"])
        for r in with_epoch_shards(docs, "doc_id", 2, 64).collect()
    }
    assert a1 == a2
    assert a1 != b  # a new epoch is a genuinely different permutation
