"""Quality-classifier TRAINING queries over the `embeddings` table —
EXACT-INTEGER gradient descent (`operators/lr_exact.py`), the round-8
conversion of the last rows-only training-loop family.

A float softmax trainer could only be checked rows-only: distributed
float gradient partials have engine-dependent summation order, and
softmax's exp() differs across engines in the last ulp. The
determinism recipe (ppm quantization, exact integer folds, engine-side
round, unrolled MATERIALIZED-CTE replay — `operators/kmeans_exact.py`
/ `pca_exact.py` / `graph_exact.py`) makes the whole trio
oracle-EXACT: the registered model is a one-vs-all ridge classifier
(polynomial gradient — no transcendentals), trained by full-batch GD
whose ENTIRE trajectory, final-weight confusion structure, and
train/holdout gap are bit-replayed by DuckDB. Exact-integer GD is the
one batch training core.

Reference capability anchor: the reference app's enrichment chain
applies a config "model" per record (EnrichmentApp.java:235-269 lookup
maps); here the model is LEARNED from data — verifiably — then applied
with the same scan-local discipline.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from flink_application_spark.catalog import _keep_application, table
from flink_application_spark.operators.lr_exact import (
    lr_exact_oracle_sql,
    lr_exact_predictions,
    lr_fit_exact,
)
from flink_application_spark.plans.registry import register

_CLASSES = 10
_DIM = 64
_ITERS = 8

# md5-keyed 80/20 split (retry-safe, source-unbiased — doc_id parity
# slices are biased on this generator). Byte-for-byte the same hash
# text both engines: md5 of the decimal id string, first 8 hex chars,
# as an integer, mod 5.
_SPLIT_SPARK = (
    "IF(CAST(conv(substring(md5(CAST(vec_id AS STRING)), 1, 8), 16, 10)"
    " AS BIGINT) % 5 = 0, 'holdout', 'train')"
)
_SPLIT_DUCK = (
    "CASE WHEN CAST(('0x' || substr(md5(CAST(vec_id AS VARCHAR)), 1, 8))"
    " AS BIGINT) % 5 = 0 THEN 'holdout' ELSE 'train' END"
)


# The fit is a pure function of (table, subset): memoize per session so
# the three registered queries don't re-run the 8-round loop three
# times in one driver window (training cost is real; the cache is not —
# it holds 650 integers).
_FIT_CACHE: dict[tuple[str, str, str], tuple[list[list[int]], list]] = {}


def _fit_cached(
    spark: SparkSession, sf_dir: str, subset: str
) -> tuple[list[list[int]], list]:
    key = (spark.sparkContext.applicationId, sf_dir, subset)
    if key not in _FIT_CACHE:
        _keep_application(_FIT_CACHE, key[0])
        emb = table(spark, sf_dir, "embeddings")
        if subset == "train":
            emb = emb.filter(F.expr(_SPLIT_SPARK) == F.lit("train"))
        _FIT_CACHE[key] = lr_fit_exact(emb, k_classes=_CLASSES, iters=_ITERS)
    return _FIT_CACHE[key]


@register(
    "emb_lr_train_exact_profile",
    lr_exact_oracle_sql(k_classes=_CLASSES, iters=_ITERS, dim=_DIM, mode="profile"),
    doc=f"Exact-integer ridge-classifier training profile (C={_CLASSES},"
    f" d={_DIM}+bias, {_ITERS} full-batch GD rounds, zero init, no RNG):"
    " ppm features/weights, exact BIGINT logits and gradient cells"
    " (DECIMAL(38,0) accumulators for headroom), residual downscale and"
    " weight update as engine-side round() of identical IEEE double"
    " expressions. Per-round (loss_mu, correct, w_l1) — all exact"
    " integers — pin the whole trajectory in the value hash; the DuckDB"
    " oracle unrolls the rounds as MATERIALIZED CTE stages and replays"
    " it bit-for-bit. Loss strictly descends and accuracy rises off the"
    " zero-init baseline at every fixture scale (tests/test_lr_exact.py).",
    tags=("embeddings", "classifier", "training", "exact"),
)
def q_lr_train_exact_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    _, prof = _fit_cached(spark, sf_dir, "full")
    return spark.createDataFrame(
        prof, "iteration bigint, loss_mu bigint, correct bigint, w_l1 bigint"
    )


@register(
    "emb_lr_confusion",
    lr_exact_oracle_sql(k_classes=_CLASSES, iters=_ITERS, dim=_DIM, mode="confusion"),
    doc="Confusion matrix of the exact-integer trained classifier on its"
    " training set: final ppm weights from the replayable GD loop, then"
    " scan-local exact-integer argmax scoring (ties → class ascending;"
    " embeddings never shuffle) and one hash agg over (label, pred) —"
    f" at most C²={_CLASSES * _CLASSES} result rows at any corpus size."
    " The per-class error structure is what decides whether a quality"
    " filter is safe to apply corpus-wide. Oracle: the training unroll"
    " plus one scoring stage.",
    tags=("embeddings", "classifier", "training", "eval", "exact"),
)
def q_lr_confusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = table(spark, sf_dir, "embeddings")
    weights, _ = _fit_cached(spark, sf_dir, "full")
    return (
        lr_exact_predictions(emb, weights)
        .groupBy(F.col("label").cast("bigint").alias("label"),
                 F.col("pred").cast("bigint").alias("pred"))
        .agg(F.count(F.lit(1)).alias("n_rows"))
    )


@register(
    "emb_lr_holdout_eval",
    lr_exact_oracle_sql(
        k_classes=_CLASSES,
        iters=_ITERS,
        dim=_DIM,
        mode="holdout",
        split_sql=_SPLIT_DUCK,
    ),
    doc="Train/holdout accuracy of the exact-integer classifier under an"
    " md5-keyed 80/20 split: train on the 80% side, score BOTH sides"
    " with one scan-local integer-argmax pass, report (split, n,"
    " correct, accuracy). The train-vs-holdout gap is the overfitting"
    " check a pipeline runs before trusting a trained quality filter"
    " corpus-wide — on this fixture's near-random labels the gap IS the"
    " finding (train accuracy is memorization; holdout sits at chance)."
    " Fully oracle-replayed: split hash, training unroll, and scoring"
    " are byte-equivalent expressions in both engines.",
    tags=("embeddings", "classifier", "training", "eval", "exact"),
)
def q_lr_holdout_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = table(spark, sf_dir, "embeddings")
    weights, _ = _fit_cached(spark, sf_dir, "train")
    scored = lr_exact_predictions(emb, weights).withColumn(
        "split", F.expr(_SPLIT_SPARK)
    )
    return scored.groupBy("split").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.expr("IF(pred = label, 1, 0)")).cast("bigint").alias("correct"),
        F.round(F.avg((F.col("pred") == F.col("label")).cast("double")), 6).alias(
            "accuracy"
        ),
    )
