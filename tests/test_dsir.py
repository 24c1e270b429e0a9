"""DSIR contracts (oracle parity covered by test_oracle_parity)."""

from __future__ import annotations

from pyspark.sql import functions as F

from flink_application_spark.catalog import table
from flink_application_spark.plans.dsir_queries import _TARGET, dsir_log_weights


def test_dsir_target_scores_higher_on_average(spark, sf_dir):
    """The estimator must assign the target slice a higher mean
    per-token log ratio than the rest of the pool — that is the whole
    point of the likelihood-ratio scorer (the target's own tokens are
    upweighted in p_target)."""
    docs = table(spark, sf_dir, "documents")
    w = dsir_log_weights(docs, F.col("source").isin(*_TARGET)).filter(
        F.col("n_tok") >= 1
    )
    means = (
        w.groupBy("is_target")
        .agg(F.avg(F.col("log_w") / F.col("n_tok")).alias("m"))
        .collect()
    )
    by_flag = {r["is_target"]: r["m"] for r in means}
    assert by_flag[True] > by_flag[False]


def test_dsir_every_doc_scored_once(spark, sf_dir):
    docs = table(spark, sf_dir, "documents")
    w = dsir_log_weights(docs, F.col("source").isin(*_TARGET)).cache()
    assert w.count() == docs.count()
    assert w.select("doc_id").distinct().count() == docs.count()
    # log_w is NULL exactly when the doc has no tokens
    assert w.filter((F.col("n_tok") >= 1) & F.col("log_w").isNull()).count() == 0
    assert w.filter((F.col("n_tok") == 0) & F.col("log_w").isNotNull()).count() == 0
    w.unpersist()
