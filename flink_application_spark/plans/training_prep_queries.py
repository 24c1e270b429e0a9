"""Training-run preparation: deterministic epoch shuffle/sharding and
temperature-scaled corpus mixture — the last-mile operators between a
curated corpus and a training job.

Both are scan-local + tiny-aggregate shapes: the shuffle key is an md5
of (epoch, id) — reproducible on retry, re-shufflable per epoch by
changing the salt, no RNG state anywhere; the mixture plan reduces the
corpus to one row per language before any float math happens.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from flink_application_spark.catalog import table
from flink_application_spark.functions.text import tokens
from flink_application_spark.plans.registry import register


def _n_tokens() -> F.Column:
    # mirror the oracle exactly: non-empty whitespace tokens
    return F.size(F.filter(tokens(F.col("text")), lambda t: t != ""))

_EPOCH = 1
_DOCS_PER_SHARD = 64
_ALPHA = 0.3  # temperature exponent: 1 = proportional, 0 = uniform


@register(
    "doc_epoch_shuffle_shards",
    f"""
WITH keyed AS (
  SELECT doc_id, md5('epoch{_EPOCH}:' || CAST(doc_id AS VARCHAR)) AS k
  FROM documents
),
ranked AS (
  SELECT doc_id,
         CAST(row_number() OVER (ORDER BY k, doc_id) AS BIGINT) - 1 AS rn
  FROM keyed
)
SELECT doc_id,
       rn // {_DOCS_PER_SHARD} AS shard,
       rn % {_DOCS_PER_SHARD} AS offset_in_shard
FROM ranked
""",
    doc=f"Deterministic epoch shuffle + sharding: global order = md5 of "
    f"(epoch salt, doc_id) — a reproducible permutation that changes "
    f"completely per epoch, assigned to {_DOCS_PER_SHARD}-doc shards. "
    "Scan-local keys; the global rank is the only wide op (a sort that "
    "range-partitions at scale — exactly what a training-shard writer "
    "wants, since shard = contiguous rank range maps one shard to one "
    "output task).",
    tags=("documents", "training-prep", "sampling"),
)
def q_epoch_shuffle(spark: SparkSession, sf_dir: str) -> DataFrame:
    from flink_application_spark.operators.export import with_epoch_shards

    docs = table(spark, sf_dir, "documents")
    return with_epoch_shards(
        docs.select("doc_id"), "doc_id", _EPOCH, _DOCS_PER_SHARD
    ).select("doc_id", "shard", "offset_in_shard")


@register(
    "corpus_temperature_mixture",
    f"""
WITH per_lang AS (
  SELECT lang,
         CAST(sum(len(list_filter(regexp_split_to_array(lower(trim(text)), '\\s+'),
                                  w -> w <> ''))) AS BIGINT) AS tokens
  FROM documents GROUP BY lang
),
powed AS (
  SELECT lang, tokens, pow(CAST(tokens AS DOUBLE), {_ALPHA}) AS pw
  FROM per_lang
),
total AS (
  SELECT list_sum(list(pw ORDER BY lang)) AS z,
         list_sum(list(CAST(tokens AS DOUBLE) ORDER BY lang)) AS budget
  FROM powed
)
SELECT lang, tokens,
       round(pw / z, 6) AS weight,
       CAST(floor(pw / z * budget) AS BIGINT) AS target_tokens,
       round(least(pw / z * budget / tokens, 10.0), 6) AS sample_rate
FROM powed CROSS JOIN total
""",
    doc=f"Temperature-scaled corpus mixture (α = {_ALPHA}, the standard "
    "multilingual rebalance): per-language weights ∝ tokens^α, token "
    "targets against the existing total budget, per-language sampling "
    "rate (>1 ⇒ upsample, capped at 10×). The corpus reduces to one "
    "row per language BEFORE any float math; the normalizer folds a "
    "lang-ordered list so the float sum is deterministic on both "
    "engines.",
    tags=("documents", "training-prep", "mixture"),
)
def q_temperature_mixture(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = table(spark, sf_dir, "documents")
    per_lang = docs.groupBy("lang").agg(
        F.sum(_n_tokens()).cast("bigint").alias("tokens")
    )
    powed = per_lang.withColumn(
        "pw", F.pow(F.col("tokens").cast("double"), F.lit(_ALPHA))
    )
    ordered_sum = lambda c: F.aggregate(  # noqa: E731
        F.transform(
            F.array_sort(F.collect_list(F.struct(F.col("lang"), c.alias("v")))),
            lambda s: s["v"],
        ),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    total = powed.agg(
        ordered_sum(F.col("pw")).alias("z"),
        ordered_sum(F.col("tokens").cast("double")).alias("budget"),
    )
    out = powed.crossJoin(F.broadcast(total))
    share = F.col("pw") / F.col("z")
    return out.select(
        "lang",
        "tokens",
        F.round(share, 6).alias("weight"),
        F.floor(share * F.col("budget")).cast("bigint").alias("target_tokens"),
        F.round(
            F.least(share * F.col("budget") / F.col("tokens"), F.lit(10.0)), 6
        ).alias("sample_rate"),
    )


@register(
    "corpus_shard_manifest",
    f"""
WITH keyed AS (
  SELECT doc_id, md5('epoch{_EPOCH}:' || CAST(doc_id AS VARCHAR)) AS k
  FROM documents
),
ranked AS (
  SELECT doc_id,
         CAST(row_number() OVER (ORDER BY k, doc_id) AS BIGINT) - 1 AS rn
  FROM keyed
),
sharded AS (
  SELECT r.doc_id AS doc_id,
         r.rn // {_DOCS_PER_SHARD} AS shard,
         r.rn % {_DOCS_PER_SHARD} AS offset_in_shard,
         CAST(len(list_filter(regexp_split_to_array(lower(trim(d.text)), '\\s+'),
                              w -> w <> '')) AS BIGINT) AS n_tokens
  FROM ranked r JOIN documents d ON d.doc_id = r.doc_id
)
SELECT shard,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(n_tokens) AS BIGINT) AS n_tokens,
       md5(string_agg(CAST(doc_id AS VARCHAR), ',' ORDER BY offset_in_shard))
         AS content_checksum
FROM sharded GROUP BY shard
""",
    doc="Reproducible-dataloading manifest: per epoch shard, its doc "
    "count, token count, and an order-sensitive md5 checksum of the "
    "doc_id sequence — what a training job records so a rerun (or a "
    "different cluster) can PROVE it consumed byte-identical shards. "
    "Composes the deterministic md5 shuffle with one per-shard "
    "aggregate; the checksum folds ids in offset order via a sorted "
    "struct collect (engine-deterministic on both sides).",
    tags=("documents", "training-prep", "export"),
)
def q_shard_manifest(spark: SparkSession, sf_dir: str) -> DataFrame:
    from flink_application_spark.operators.export import with_epoch_shards

    docs = table(spark, sf_dir, "documents")
    sharded = with_epoch_shards(
        docs.select("doc_id"), "doc_id", _EPOCH, _DOCS_PER_SHARD
    ).join(docs.select("doc_id", _n_tokens().cast("bigint").alias("n_tokens")), "doc_id")
    ordered_ids = F.transform(
        F.array_sort(F.collect_list(F.struct("offset_in_shard", "doc_id"))),
        lambda s: s["doc_id"].cast("string"),
    )
    return sharded.groupBy("shard").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_tokens").cast("bigint").alias("n_tokens"),
        F.md5(F.array_join(ordered_ids, ",")).alias("content_checksum"),
    )
