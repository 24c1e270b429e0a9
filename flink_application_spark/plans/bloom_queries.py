"""Bloom-filter dedup audit — measures what a memory-bounded
approximate-membership dedup filter would do to the corpus, against
exact dedup as ground truth.

A 100 TB ingest cannot keep an exact seen-set of every document hash in
memory; the standard scale move is a fixed-size Bloom filter (Bloom,
CACM 1970) — m bits, k hash functions — which never misses a true
duplicate but drops a small rate of NEW documents as false positives.
Before trusting one in production you must MEASURE that false-positive
rate on your corpus at your (m, k): that measurement is this query,
the Bloom twin of `doc_lsh_recall_audit`'s recall/precision audit.

Semantics (sequential, first-writer-wins, doc_id order): document d is
*bloom-flagged* iff every one of its k bit positions was already set by
some document with a smaller doc_id. Because identical text yields
identical positions, every exact duplicate is flagged (no false
negatives — the Bloom guarantee); a flagged non-duplicate is a false
positive.

Spark-first shape: the sequential filter semantics are recovered
EXACTLY with set algebra — no per-row state, no driver loop:

    positions: k md5-derived bits per doc        (scan-local explode)
    first_setter(pos) = min(doc_id) over docs    (hash agg on pos)
    covered(d, pos)  iff first_setter(pos) < d   (equi-join on pos)
    bloom_dup(d)     iff ALL its positions covered (hash agg on doc)

Everything shuffles on `pos` (cardinality ≤ m = fixed) or `doc_id`;
per-position groups hold ~k·N/m doc ids, so the join is uniform and
bounded — no pairwise work anywhere. At 100 TB the same plan holds:
k rows per document, two hash aggregates, one equi-join.

m = 2^16, k = 4 are sized so the driver scales straddle the regime
change: at sf0.01 (500 docs) the filter is nearly empty (FPR ≈ 0);
at sf0.1 (5k docs) load k·n/m ≈ 0.3 gives a measurable handful of
false positives — the audit shows a NON-zero number exactly when the
filter starts to saturate, which is the fact it exists to surface.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window, functions as F

from flink_application_spark.catalog import table
from flink_application_spark.plans.registry import register

_M = 1 << 16
_K = 4


def bloom_fpr(n: int, m: int, k: int) -> float:
    """Expected false-positive probability of an (m, k) Bloom filter
    holding n distinct keys: (1 − e^{−kn/m})^k (Bloom 1970). The audit
    measures the realized rate; this is the curve you size against."""
    import math

    if n <= 0:
        return 0.0
    return (1.0 - math.exp(-k * n / m)) ** k


def size_bloom_for_fpr(
    n_docs: int, target_fpr: float, max_log2_m: int = 40
) -> tuple[int, int]:
    """Smallest power-of-two m (and its optimal k = round(ln2 · m/n))
    whose expected FPR at n_docs distinct keys meets target_fpr — the
    sizing every memory-bounded dedup must do BEFORE trusting a Bloom
    filter at corpus scale (the Bloom counterpart of
    minhash.size_lsh_for_recall). Validated against the audit's
    MEASURED false-positive rate in tests/test_bloom_dedup.py."""
    import math

    if not 0.0 < target_fpr < 1.0:
        raise ValueError(f"target_fpr must be in (0, 1): {target_fpr}")
    for log2_m in range(3, max_log2_m + 1):
        m = 1 << log2_m
        k = max(1, round(math.log(2.0) * m / max(n_docs, 1)))
        if bloom_fpr(n_docs, m, k) <= target_fpr:
            return m, k
    raise ValueError(
        f"no power-of-two m ≤ 2^{max_log2_m} meets fpr {target_fpr} at n={n_docs}"
    )


def bloom_positions(
    docs: DataFrame,
    m: int = _M,
    k: int = _K,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """(id_col, pos) — the k distinct md5-derived Bloom bit positions
    of each non-NULL-text document's canonical (lower+trim) form.
    Used by the batch audit below."""
    canon = F.lower(F.trim(F.col(text_col)))
    return (
        docs.filter(F.col(text_col).isNotNull())
        .select(
            id_col,
            F.explode(
                F.array(
                    *[
                        F.conv(
                            F.substring(
                                F.md5(F.concat(F.lit(f"bf{i}:"), canon)), 1, 12
                            ),
                            16,
                            10,
                        ).cast("bigint")
                        % m
                        for i in range(k)
                    ]
                )
            ).alias("pos"),
        )
        .distinct()
    )


def bloom_dedup_frame(docs: DataFrame, m: int = _M, k: int = _K) -> DataFrame:
    """Per-doc Bloom-vs-exact dedup verdicts (the parametrizable core,
    same pattern as `lsh_recall_audit_frame`): columns doc_id,
    bloom_dup, exact_dup, false_positive — all 0/1 BIGINT.

    exact_dup ⊆ bloom_dup by construction (identical canon ⇒ identical
    positions ⇒ all covered by the earlier copy); pinned in
    tests/test_bloom_dedup.py including on an adversarially tiny m."""
    base = docs.filter(F.col("text").isNotNull()).select(
        "doc_id", F.lower(F.trim(F.col("text"))).alias("canon")
    )
    pos = bloom_positions(docs, m=m, k=k)
    first_setter = pos.groupBy("pos").agg(F.min("doc_id").alias("first_id"))
    cover = (
        pos.join(first_setter, "pos")
        .groupBy("doc_id")
        .agg(
            F.min(
                F.when(F.col("first_id") < F.col("doc_id"), F.lit(1)).otherwise(
                    F.lit(0)
                )
            )
            .cast("bigint")
            .alias("bloom_dup")
        )
    )
    w = Window.partitionBy("canon")
    exact = base.select(
        "doc_id",
        F.when(F.min("doc_id").over(w) < F.col("doc_id"), F.lit(1))
        .otherwise(F.lit(0))
        .cast("bigint")
        .alias("exact_dup"),
    )
    return cover.join(exact, "doc_id").select(
        "doc_id",
        "bloom_dup",
        "exact_dup",
        F.when((F.col("bloom_dup") == 1) & (F.col("exact_dup") == 0), F.lit(1))
        .otherwise(F.lit(0))
        .cast("bigint")
        .alias("false_positive"),
    )


@register(
    "doc_bloom_dedup_audit",
    f"""
WITH base AS (
  SELECT doc_id, lower(trim(text)) AS canon
  FROM documents WHERE text IS NOT NULL
),
pos AS (
  SELECT DISTINCT doc_id,
         CAST(('0x' || substr(md5('bf' || CAST(i AS VARCHAR) || ':' || canon), 1, 12))
              AS BIGINT) % {_M} AS pos
  FROM base CROSS JOIN (VALUES (0), (1), (2), (3)) AS t(i)
),
first_setter AS (
  SELECT pos, min(doc_id) AS first_id FROM pos GROUP BY pos
),
cover AS (
  SELECT p.doc_id,
         CAST(min(CASE WHEN f.first_id < p.doc_id THEN 1 ELSE 0 END) AS BIGINT)
           AS bloom_dup
  FROM pos p JOIN first_setter f USING (pos)
  GROUP BY p.doc_id
),
exact AS (
  SELECT doc_id,
         CAST(CASE WHEN min(doc_id) OVER (PARTITION BY canon) < doc_id
              THEN 1 ELSE 0 END AS BIGINT) AS exact_dup
  FROM base
)
SELECT c.doc_id, c.bloom_dup, e.exact_dup,
       CAST(CASE WHEN c.bloom_dup = 1 AND e.exact_dup = 0 THEN 1 ELSE 0 END
            AS BIGINT) AS false_positive
FROM cover c JOIN exact e USING (doc_id)
""",
    doc=f"Bloom-filter dedup audit (m=2^16, k={_K}): per doc, would a "
    "fixed-size Bloom filter scanned in doc_id order flag it as seen "
    "(bloom_dup), is it an exact duplicate (exact_dup), and is the "
    "flag a false positive. Sequential filter semantics recovered "
    "with set algebra: k md5 bit positions per doc, min-doc_id first-"
    "setter per position, a doc is flagged iff ALL its positions have "
    "an earlier setter. exact ⊆ bloom always; FPR is the number the "
    "audit exists to measure before a memory-bounded dedup goes to "
    "production.",
    tags=("documents", "dedup", "bloom", "audit"),
)
def q_bloom_dedup_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = table(spark, sf_dir, "documents")
    return bloom_dedup_frame(docs)
