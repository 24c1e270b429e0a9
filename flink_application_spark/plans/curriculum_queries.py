"""Curriculum ordering — bucket documents by model-based difficulty
(bigram-LM mean NLL) so a training pipeline can schedule easy→hard
(curriculum learning) or hard-first (boosting-style reweighting).

Composes the oracle-pinned LM scorer (`plans/lm_queries.py`): the
difficulty signal is the corpus-trained bigram perplexity, bucketing
is ntile over (score, doc_id) — fully ordered, hence deterministic
across engines and partitionings. Since round 6 the bucketing runs as
the two-phase DISTRIBUTED ntile (`operators/ranks.global_ntile`:
range partition + broadcast base offsets + local window — bit-equal
to the single-task global window, which would otherwise funnel the
score table through one task at corpus scale). It still only ever
sorts the SCORE table (doc_id + 2 numbers), never documents.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from flink_application_spark.catalog import table
from flink_application_spark.plans.lm_queries import LM_SCORE_SQL, bigram_lm_scores
from flink_application_spark.plans.registry import register

_N_BUCKETS = 4


@register(
    "doc_curriculum_buckets",
    f"""
WITH lm AS ({LM_SCORE_SQL})
SELECT doc_id, mean_nll,
       ntile({_N_BUCKETS}) OVER (ORDER BY mean_nll, doc_id) AS difficulty
FROM lm
""",
    doc=f"Curriculum difficulty buckets: ntile({_N_BUCKETS}) over the "
    "bigram-LM mean NLL (corpus-trained perplexity — low = easy/"
    "repetitive, high = hard/outlier) with doc_id tie-break. The "
    "bucket table is what an easy→hard training scheduler joins "
    "against; sorting touches only (doc_id, score) rows.",
    tags=("documents", "curriculum", "lm"),
)
def q_curriculum_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    from flink_application_spark.operators.ranks import global_ntile

    docs = table(spark, sf_dir, "documents")
    scores = bigram_lm_scores(docs).select("doc_id", "mean_nll")
    # distributed ntile (two-phase rank + the standard SQL bucket
    # split) — the single-task global window doesn't survive a
    # corpus-sized ranking; bucket values are identical
    return global_ntile(
        scores,
        [F.col("mean_nll").asc(), F.col("doc_id").asc()],
        _N_BUCKETS,
        "difficulty",
    )
