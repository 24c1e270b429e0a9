"""End-to-end product story: raw documents → curation pipeline →
training-shard export → ordered reader. Every stage is individually
oracle/test-pinned; this pins their composition on disk."""

from __future__ import annotations

import os

from pyspark.sql import functions as F

from flink_application_spark.catalog import table
from flink_application_spark.operators.export import read_shard, write_training_shards
from flink_application_spark.plans.curation_queries import curate_corpus


def test_curate_then_export_shards(spark, sf_dir, tmp_path):
    docs = table(spark, sf_dir, "documents")
    curated, funnel = curate_corpus(docs)
    stats = funnel.collect()[0]
    path = os.path.join(tmp_path, "curated_shards")
    n_shards = write_training_shards(curated, path, docs_per_shard=16)

    back = spark.read.parquet(path)
    # exported corpus == curated corpus, nothing lost or duplicated
    assert back.count() == stats["n_canonical"]
    assert n_shards == (stats["n_canonical"] + 15) // 16
    assert back.agg(F.sum("n_kept")).collect()[0][0] == stats["total_tokens"]
    # reader returns sample order and real text
    rows = read_shard(spark, path, 0).collect()
    assert [r["offset_in_shard"] for r in rows] == list(range(len(rows)))
    assert all(r["scrubbed_text"] for r in rows)
