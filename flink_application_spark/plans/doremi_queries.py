"""DoReMi-style domain reweighting — one exponentiated-gradient step
over source mixture weights, computed entirely as table operations.

DoReMi (Xie et al., arXiv:2305.10429) tunes pretraining mixture
weights by multiplicative updates: domains whose proxy loss exceeds
the reference get upweighted, w'_s ∝ w_s · exp(η · excess_s). The
update itself is trivially small (one row per domain); what belongs in
the ENGINE is producing the per-domain statistics from the full corpus
and applying the step deterministically — a full scan reduced to
#domains rows, then a handful of window aggregates. At 100 TB this is
one scan-local projection + one hash aggregate on `source`; everything
after operates on ~dozens of rows.

Proxy signal: per-source mean unique-token ratio (distinct tokens /
tokens per doc, pooled) — a cheap repetition-quality proxy standing in
for the proxy-model loss a real DoReMi run supplies. Reference weights
are token shares (the natural-sampling baseline DoReMi starts from).

Cross-engine determinism: the corpus-level totals come from
whole-frame WINDOW aggregates over the tiny per-source aggregate (no
1-row scalar-subquery append — the plan-quality gate sees no BNLJ);
the exp() input is rounded to 6 dp first, the raw updated weight is
integer-scaled with the shared HALF_UP floor(x+0.5), and the final
normalization is pure BIGINT ppm arithmetic (`div` / `//`), so float
summation order cannot flip a quota (same discipline as
doc_stratified_sample_neyman).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window, functions as F

from flink_application_spark.catalog import table
from flink_application_spark.plans.registry import register

_ETA = 8.0


@register(
    "corpus_doremi_reweight",
    f"""
WITH tok AS (
  SELECT source, regexp_split_to_array(lower(trim(text)), '\\s+') AS t
  FROM documents WHERE text IS NOT NULL
),
per_src AS (
  SELECT source,
         CAST(count(*) AS BIGINT) AS n_docs,
         CAST(sum(len(t)) AS BIGINT) AS tokens,
         CAST(sum(len(list_distinct(t))) AS BIGINT) AS uniq
  FROM tok GROUP BY source
),
tot AS (
  SELECT source, n_docs, tokens, uniq,
         CAST(sum(tokens) OVER () AS BIGINT) AS tok_total,
         CAST(sum(uniq) OVER () AS BIGINT) AS uniq_total
  FROM per_src
),
scored AS (
  SELECT source, n_docs, tokens,
         round(CAST(uniq AS DOUBLE) / tokens, 6) AS quality,
         round(round(CAST(uniq_total AS DOUBLE) / tok_total, 6)
               - round(CAST(uniq AS DOUBLE) / tokens, 6), 6) AS excess,
         CAST(tokens * 1000000 // tok_total AS BIGINT) AS w_ref_ppm
  FROM tot
),
raw AS (
  SELECT *, CAST(floor(w_ref_ppm * exp({_ETA!r} * excess) + 0.5) AS BIGINT)
           AS raw_w
  FROM scored
)
SELECT source, n_docs, tokens, quality, excess, w_ref_ppm,
       CAST(raw_w * 1000000 // (sum(raw_w) OVER ()) AS BIGINT) AS w_doremi_ppm
FROM raw
ORDER BY source
""",
    doc="DoReMi-style mixture reweighting: one exponentiated-gradient "
    f"step w' ∝ w_ref · exp(η·excess), η={_ETA}, over source token "
    "shares, with excess = corpus mean unique-token ratio minus the "
    "source's (repetitive sources read as higher-loss and gain "
    "weight). One scan + one hash agg on source; corpus totals via "
    "whole-frame windows over the tiny aggregate (no scalar-subquery "
    "append); final weights in exact BIGINT ppm.",
    tags=("corpus", "mixture", "documents"),
)
def q_doremi_reweight(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = table(spark, sf_dir, "documents")
    return doremi_reweight_frame(docs)


def doremi_reweight_frame(docs: DataFrame, eta: float = _ETA) -> DataFrame:
    """The parametrizable core (tests feed synthetic corpora): one
    exponentiated-gradient step over source token shares. Invariants
    pinned by tests/test_doremi.py: Σ w_doremi_ppm ∈ [1e6 − #sources,
    1e6] (floor loss only) and the update ratio w_doremi/w_ref is
    monotone in excess."""
    t = F.split(F.lower(F.trim(F.col("text"))), r"\s+")
    per_src = (
        docs.filter(F.col("text").isNotNull())
        .select(
            "source",
            F.size(t).alias("nt"),
            F.size(F.array_distinct(t)).alias("nu"),
        )
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("nt").alias("tokens"),
            F.sum("nu").alias("uniq"),
        )
    )
    w = Window.partitionBy()
    tot = per_src.select(
        "source",
        "n_docs",
        "tokens",
        "uniq",
        F.sum("tokens").over(w).alias("tok_total"),
        F.sum("uniq").over(w).alias("uniq_total"),
    )
    quality = F.round(F.col("uniq") / F.col("tokens"), 6)
    qbar = F.round(F.col("uniq_total") / F.col("tok_total"), 6)
    scored = tot.select(
        "source",
        "n_docs",
        "tokens",
        quality.alias("quality"),
        F.round(qbar - quality, 6).alias("excess"),
        F.expr("CAST(tokens * 1000000 DIV tok_total AS BIGINT)").alias("w_ref_ppm"),
    )
    raw = scored.withColumn(
        "raw_w",
        F.floor(F.col("w_ref_ppm") * F.exp(F.lit(eta) * F.col("excess")) + F.lit(0.5))
        .cast("bigint"),
    )
    return (
        raw.withColumn("raw_total", F.sum("raw_w").over(w))
        .select(
            "source",
            "n_docs",
            "tokens",
            "quality",
            "excess",
            "w_ref_ppm",
            F.expr("CAST(raw_w * 1000000 DIV raw_total AS BIGINT)").alias(
                "w_doremi_ppm"
            ),
        )
        .orderBy("source")
    )
