"""Linear quality-classifier inference over documents — the
fastText-style "model scoring at corpus scale" stage of a training-data
pipeline (score every document with a small linear model, keep the
high-scoring ones).

Spark-first shape: the model is a *broadcast literal* weight vector;
the features are the vocabulary-free hashing-trick embedding
(`plans/vectorize_queries.py`), so scoring is one scan-local
zip_with/aggregate fold per row — no Python, no shuffle, no model
server. At 100 TB this is exactly a full-scan map with zero exchanges;
Catalyst fuses feature hashing + dot + sigmoid into one stage.

Determinism: weights derive from md5 (exact 3-decimal rationals), the
dot is a sequential double fold, and the sigmoid input is identical on
both engines, so the DuckDB oracle reproduces the scores bit-for-bit
after rounding.
"""

from __future__ import annotations

import hashlib

from pyspark.sql import DataFrame, SparkSession, functions as F

from flink_application_spark.catalog import table
from flink_application_spark.functions.vectors import dot
from flink_application_spark.plans.registry import register
from flink_application_spark.plans.vectorize_queries import (
    _DIM,
    _oracle_sql as _embedding_oracle_sql,
    hashing_trick_features,
)

# a real deployment learns (w, b) offline; this stand-in model centers
# the decision at the corpus's raw-score median (≈ -1.11 on the
# synthetic documents) so keep/drop genuinely discriminates and the
# downstream curation funnel sees a ~half-sized survivor set
_BIAS = 1.11


def classifier_weights(dim: int = _DIM, salt: str = "quality-lr") -> list[float]:
    """Deterministic pseudo-random weights in [-2.000, 2.000]: exact
    3-decimal rationals from md5, reproducible in any engine (the same
    literals are inlined into the oracle SQL)."""
    return [
        (int(hashlib.md5(f"{salt}:{j}".encode()).hexdigest()[:8], 16) % 4001 - 2000)
        / 1000.0
        for j in range(dim)
    ]


def linear_score(embedding: F.Column, weights: list[float], bias: float) -> F.Column:
    """sigmoid(w·x + b) as a sequential JVM-side double fold against
    broadcast literals."""
    w = F.array(*[F.lit(x) for x in weights])
    # fold first (the shared sequential form), add bias after — the
    # exact summation order the oracle's list_sum(...) + bias uses
    z = dot(embedding, w) + F.lit(float(bias))
    return F.lit(1.0) / (F.lit(1.0) + F.exp(-z))


@register(
    "doc_quality_classifier_score",
    f"""
WITH emb AS ({_embedding_oracle_sql()}),
scored AS (
  SELECT doc_id,
         1.0 / (1.0 + exp(-(list_sum(list_transform(
             list_zip(embedding,
                      [{", ".join(repr(w) for w in classifier_weights())}]),
             p -> p[1] * p[2])) + {_BIAS!r}))) AS s
  FROM emb
)
SELECT doc_id, round(s, 6) AS score, s >= 0.5 AS keep
FROM scored
""",
    doc=f"Linear quality-classifier inference: sigmoid(w·x+b) over the "
    f"{_DIM}-dim hashing-trick features with a broadcast literal weight "
    "vector — one fused scan-local pass (hash + fold + sigmoid), zero "
    "shuffles, the Spark-native form of 'score every document with a "
    "small model'. Weights are exact md5-derived rationals so the "
    "oracle reproduces every score.",
    tags=("documents", "classifier", "quality"),
)
def q_quality_classifier(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = table(spark, sf_dir, "documents")
    feats = hashing_trick_features(docs)
    s = linear_score(F.col("embedding"), classifier_weights(), _BIAS)
    return feats.select(
        "doc_id",
        F.round(s, 6).alias("score"),
        (s >= 0.5).alias("keep"),
    )
