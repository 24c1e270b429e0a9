"""Deterministic Poisson-bootstrap confidence intervals.

"Source A's mean quality is 0.61 and source B's is 0.58" is not a
decision until the uncertainty is known — mixture planning, source
ranking and gate tuning all need error bars. The classical bootstrap
resamples n rows WITH replacement B times, which is a non-starter
distributed (global resampling = B full shuffles of the corpus). The
**Poisson bootstrap** (Hanley & MacGibbon 2006; the standard
large-scale variant) replaces it: in replica b, each row enters with
an independent Poisson(1) weight — no global coordination, ONE scan
produces all B replicas, and the per-replica totals are a plain
(source, b) partial aggregation whose shuffle carries |sources|·B
rows, not the corpus. That is the only bootstrap shape that survives
100 TB.

Determinism (the repo-wide rule — no RNG): row r's weight in replica
b is the inverse-CDF of Poisson(1) applied to the 52-bit integer
u = md5(doc_id ':' b)[:13 hex], compared against PRECOMPUTED integer
thresholds floor(cdf·2^52) — pure integer comparisons, bit-identical
in any engine (the md5-uniform trick cdr_generated_sample proved).
Weights are truncated at 4 (P(w≥5) ≈ 0.37%); the truncation is part
of the deterministic scheme's definition, applied identically on both
engines. Quality enters as integer ppm (the shared _QUALITY_SQL
formula), so every sum is exact integer arithmetic — no
float-summation-order hazard anywhere.

CI: per source, replica means are ranked (ties → replica id) and the
2.5%/97.5% order statistics picked with integer ceil ranks. B = 200.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window, functions as F

from flink_application_spark.catalog import table
from flink_application_spark.functions.text import quality_score
from flink_application_spark.plans.registry import register
from flink_application_spark.plans.text_queries import _QUALITY_SQL

_B = 200
# cumulative Poisson(1) CDF at k = 0..3, as floor(cdf * 2^52) integers
# (u < _T[k] ⇒ weight ≤ k); u >= _T[3] ⇒ weight 4 (truncation)
_T = (1656781714176974, 3313563428353948, 4141954285442435, 4418084571138597)

_ORACLE = f"""
WITH scored AS (
  SELECT doc_id, source,
         CAST(floor({_QUALITY_SQL} * 1000000 + 0.5) AS BIGINT) AS qppm
  FROM documents WHERE text IS NOT NULL
),
hashed AS (
  SELECT s.source, s.qppm, b.b,
         CAST(('0x' || substr(md5(CAST(s.doc_id AS VARCHAR) || ':'
               || CAST(b.b AS VARCHAR)), 1, 13)) AS UBIGINT) AS u
  FROM scored s
  CROSS JOIN (SELECT unnest(generate_series(0, {_B - 1})) AS b) b
),
weighted AS (
  SELECT source, qppm, b,
         CASE
           WHEN u < {_T[0]} THEN 0 WHEN u < {_T[1]} THEN 1
           WHEN u < {_T[2]} THEN 2 WHEN u < {_T[3]} THEN 3
           ELSE 4 END AS w
  FROM hashed
),
rep AS (
  SELECT source, b,
         CAST(sum(w * qppm) AS BIGINT) AS swq,
         CAST(sum(w) AS BIGINT) AS sw
  FROM weighted GROUP BY source, b
),
means AS (
  SELECT source, b, swq // sw AS mean_ppm
  FROM rep WHERE sw > 0
),
ranked AS (
  SELECT source, mean_ppm,
         row_number() OVER (PARTITION BY source ORDER BY mean_ppm, b) AS rk,
         count(*) OVER (PARTITION BY source) AS n
  FROM means
),
ci AS (
  SELECT source,
         max(CASE WHEN rk = (n * 25 + 999) // 1000 THEN mean_ppm END) AS ci_lo_ppm,
         max(CASE WHEN rk = (n * 975 + 999) // 1000 THEN mean_ppm END) AS ci_hi_ppm,
         CAST(max(n) AS BIGINT) AS n_replicas
  FROM ranked GROUP BY source
),
obs AS (
  SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
         CAST(sum(qppm) AS BIGINT) // count(*) AS mean_ppm
  FROM scored GROUP BY source
)
SELECT o.source, o.n_docs, o.mean_ppm, c.ci_lo_ppm, c.ci_hi_ppm, c.n_replicas
FROM obs o JOIN ci c ON c.source = o.source
"""


def scored_docs(docs: DataFrame) -> DataFrame:
    """(doc_id, source, qppm): integer-ppm quality per document — the
    shared input of the batch query and the streaming monitor."""
    return docs.filter(F.col("text").isNotNull()).select(
        "doc_id",
        "source",
        F.floor(quality_score(F.col("text")) * 1000000 + 0.5)
        .cast("bigint")
        .alias("qppm"),
    )


def bootstrap_partials(scored: DataFrame) -> DataFrame:
    """Per-(source, replica) ADDITIVE partials: swq = Σ w·qppm,
    sw = Σ w over the rows of `scored`, with the deterministic
    md5-derived truncated-Poisson(1) weights. Replica -1 carries the
    OBSERVED stats (w ≡ 1): swq = Σ qppm, sw = n_docs — so one
    partial frame holds everything the CI report needs.

    Additivity is the scale/streaming contract: partials from any
    row-disjoint split of the corpus SUM to the whole corpus's
    partials (exact integers — no float order anywhere), which makes
    the streaming monitor's store a plain additive sketch."""
    u = F.conv(
        F.substring(
            F.md5(
                F.concat(
                    F.col("doc_id").cast("string"),
                    F.lit(":"),
                    F.col("b").cast("string"),
                )
            ),
            1,
            13,
        ),
        16,
        10,
    ).cast("long")
    weighted = scored.select(
        "source",
        "qppm",
        F.explode(F.sequence(F.lit(-1), F.lit(_B - 1))).alias("b"),
        "doc_id",
    ).select(
        "source",
        "qppm",
        "b",
        F.when(F.col("b") == -1, 1)  # observed pseudo-replica
        .when(u < _T[0], 0)
        .when(u < _T[1], 1)
        .when(u < _T[2], 2)
        .when(u < _T[3], 3)
        .otherwise(4)
        .alias("w"),
    )
    return weighted.groupBy("source", "b").agg(
        F.sum(F.col("w") * F.col("qppm")).cast("bigint").alias("swq"),
        F.sum("w").cast("bigint").alias("sw"),
    )


def ci_report(partials: DataFrame) -> DataFrame:
    """Merged partials → the per-source CI report (same columns as
    the registered query): observed n_docs/mean from replica -1, CI
    bounds from the ranked replica means."""
    merged = partials.groupBy("source", "b").agg(
        F.sum("swq").alias("swq"), F.sum("sw").alias("sw")
    )
    means = merged.filter((F.col("b") >= 0) & (F.col("sw") > 0)).select(
        "source", "b", F.expr("swq div sw").alias("mean_ppm")
    )
    wrk = Window.partitionBy("source").orderBy("mean_ppm", "b")
    wn = Window.partitionBy("source")
    ranked = means.select(
        "source",
        "mean_ppm",
        F.row_number().over(wrk).alias("rk"),
        F.count(F.lit(1)).over(wn).alias("n"),
    )
    ci = ranked.groupBy("source").agg(
        F.max(
            F.when(
                F.col("rk") == F.expr("(n * 25 + 999) div 1000"), F.col("mean_ppm")
            )
        ).alias("ci_lo_ppm"),
        F.max(
            F.when(
                F.col("rk") == F.expr("(n * 975 + 999) div 1000"), F.col("mean_ppm")
            )
        ).alias("ci_hi_ppm"),
        F.max("n").cast("bigint").alias("n_replicas"),
    )
    obs = merged.filter(F.col("b") == -1).select(
        "source",
        F.col("sw").alias("n_docs"),
        F.expr("swq div sw").alias("mean_ppm"),
    )
    return obs.join(ci, "source").select(
        "source", "n_docs", "mean_ppm", "ci_lo_ppm", "ci_hi_ppm", "n_replicas"
    )


@register(
    "source_quality_bootstrap_ci",
    _ORACLE,
    doc=f"Per-source 95% bootstrap CI on mean quality (integer ppm): "
    f"{_B} deterministic Poisson(1) replicas from md5 inverse-CDF "
    "integer thresholds — ONE corpus scan fans out to all replicas "
    "(explode), the only shuffle carries |sources|×B partial sums, "
    "and every sum is exact integer arithmetic. The uncertainty layer "
    "under source_quality_wilson/corpus mixture planning: two sources "
    "whose CIs overlap are NOT distinguishable at this corpus size, "
    "whatever their point means say. Truncated-at-4 Poisson weights "
    "are part of the scheme's definition (P(w≥5) ≈ 0.37%), identical "
    "on both engines.",
    tags=("documents", "quality", "statistics", "bootstrap", "audit"),
)
def q_bootstrap_ci(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = table(spark, sf_dir, "documents")
    return ci_report(bootstrap_partials(scored_docs(docs)))
