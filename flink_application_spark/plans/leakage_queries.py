"""Train/test leakage audit: near-duplicate pairs that CROSS split
boundaries — the contamination check every training-data pipeline must
run before shipping a split (a test document near-duplicating a train
document silently inflates eval scores).

Pure composition of two oracle-proven pieces: the deterministic
md5-bucket split assignment (`doc_split_train_val_test`) and the
MinHash-LSH verified near-dup pairs (`doc_near_dup_pairs_minhash_lsh`).
Registered late — outside the driver's first-50 sample window.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from flink_application_spark.catalog import table
from flink_application_spark.operators.minhash import verified_near_dup_pairs
from flink_application_spark.plans.dedup_queries import (
    JACCARD_SQL,
    NEAR_DUP_THRESHOLD,
    SHINGLES_CTE,
    _pairs_cte,
    _sigs_cte,
)
from flink_application_spark.plans.pipeline_queries import (
    _SPLIT_CASE_SQL,
    _md5_bucket,
    _md5_bucket_sql,
)
from flink_application_spark.plans.registry import register

_SPLIT_SQL = f"""
splits AS (
  SELECT doc_id, {_SPLIT_CASE_SQL.replace('bucket', _md5_bucket_sql('doc_id', 1, 8, 100))} AS split
  FROM documents
)
"""


def _split_col() -> F.Column:
    bucket = _md5_bucket(F.col("doc_id"), 1, 8, 100)
    return F.when(bucket < 80, "train").when(bucket < 90, "val").otherwise("test")


@register(
    "doc_split_leakage_audit",
    "WITH "
    + SHINGLES_CTE
    + ","
    + _sigs_cte()
    + ","
    + _pairs_cte()
    + ","
    + _SPLIT_SQL.strip().lstrip(",").strip()
    + f"""
SELECT v.id_a, v.id_b, v.jaccard,
       sa.split AS split_a, sb.split AS split_b
FROM (
  SELECT p.id_a, p.id_b, {JACCARD_SQL} AS jaccard
  FROM pairs p
  JOIN sh sa ON sa.doc_id = p.id_a
  JOIN sh sb ON sb.doc_id = p.id_b
) v
JOIN splits sa ON sa.doc_id = v.id_a
JOIN splits sb ON sb.doc_id = v.id_b
WHERE v.jaccard >= {NEAR_DUP_THRESHOLD}
  AND sa.split <> sb.split
""",
    doc=f"Split-leakage audit: verified near-dup pairs (Jaccard >= "
    f"{NEAR_DUP_THRESHOLD}) whose endpoints land in DIFFERENT "
    f"train/val/test splits under the deterministic md5 assignment — "
    f"each row is a contamination incident to fix (drop the eval-side "
    f"doc or re-split by dup GROUP instead of by doc: assigning the "
    f"whole connected component to one split is the standard cure, "
    f"and doc_dup_components provides the groups). Scale shape is the "
    f"LSH pipeline's (banded candidates, no O(n²)) plus two broadcast "
    f"joins against the 3-value split map.",
    tags=("pipeline", "dedup", "leakage", "documents"),
)
def q_split_leakage_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = table(spark, sf_dir, "documents")
    pairs = verified_near_dup_pairs(docs, threshold=NEAR_DUP_THRESHOLD)
    splits = docs.select("doc_id", _split_col().alias("split"))
    return (
        pairs.join(
            splits.select(
                F.col("doc_id").alias("id_a"), F.col("split").alias("split_a")
            ),
            "id_a",
        )
        .join(
            splits.select(
                F.col("doc_id").alias("id_b"), F.col("split").alias("split_b")
            ),
            "id_b",
        )
        .filter(F.col("split_a") != F.col("split_b"))
        .select("id_a", "id_b", "jaccard", "split_a", "split_b")
    )


_COMPONENTS_CTE = f"""
dup AS (
  SELECT p.id_a, p.id_b
  FROM pairs p
  JOIN sh sa ON sa.doc_id = p.id_a
  JOIN sh sb ON sb.doc_id = p.id_b
  WHERE {JACCARD_SQL} >= {NEAR_DUP_THRESHOLD}
),
edges AS (
  SELECT id_a AS a, id_b AS b FROM dup
  UNION ALL
  SELECT id_b AS a, id_a AS b FROM dup
),
reach(v, lbl) AS (
  SELECT doc_id, doc_id FROM documents
  UNION
  SELECT e.a, r.lbl FROM reach r JOIN edges e ON e.b = r.v
),
comp AS (
  SELECT v AS doc_id, min(lbl) AS component FROM reach GROUP BY v
)
"""


@register(
    "doc_split_by_component",
    "WITH RECURSIVE "
    + SHINGLES_CTE.lstrip().lstrip("WITH").lstrip()
    + ","
    + _sigs_cte()
    + ","
    + _pairs_cte()
    + ","
    + _COMPONENTS_CTE.strip().lstrip(",")
    + f"""
SELECT doc_id, component,
       {_SPLIT_CASE_SQL.replace('bucket', _md5_bucket_sql('component', 1, 8, 100))} AS split
FROM comp
""",
    doc="The leakage CURE: split assignment keyed on the duplicate "
    "COMPONENT id (min doc_id of the connected near-dup group) "
    "instead of the document id — every near-dup group lands whole in "
    "one split, so cross-split contamination is structurally zero "
    "(tests/test_leakage.py proves the audit comes back empty under "
    "this assignment). Same md5-bucket determinism as the per-doc "
    "split; the only extra cost over doc_dup_components is one "
    "scan-local bucket expression.",
    tags=("pipeline", "dedup", "leakage", "sampling", "documents"),
)
def q_split_by_component(spark: SparkSession, sf_dir: str) -> DataFrame:
    from flink_application_spark.operators.components import connected_components

    docs = table(spark, sf_dir, "documents")
    pairs = verified_near_dup_pairs(docs, threshold=NEAR_DUP_THRESHOLD)
    comp = connected_components(
        pairs, vertices=docs, src="id_a", dst="id_b", vertex_col="doc_id"
    ).select(F.col("v").alias("doc_id"), "component")
    bucket = _md5_bucket(F.col("component"), 1, 8, 100)
    split = (
        F.when(bucket < 80, "train").when(bucket < 90, "val").otherwise("test")
    )
    return comp.select("doc_id", "component", split.alias("split"))


@register(
    "doc_novelty_scores",
    "WITH "
    + SHINGLES_CTE
    + """,
occ AS (
  SELECT doc_id, unnest(shingles) AS s FROM sh
),
first AS (
  SELECT s, min(doc_id) AS first_doc FROM occ GROUP BY s
)
SELECT o.doc_id,
       count(*) AS n_shingles,
       CAST(sum(CASE WHEN f.first_doc = o.doc_id THEN 1 ELSE 0 END) AS BIGINT)
         AS n_novel,
       round(sum(CASE WHEN f.first_doc = o.doc_id THEN 1 ELSE 0 END) * 1.0
             / count(*), 6) + 0.0 AS novelty
FROM occ o JOIN first f ON o.s = f.s
GROUP BY o.doc_id
""",
    doc="Document novelty: the fraction of a doc's shingles whose "
    "global FIRST occurrence (min doc_id — arrival order in a "
    "curation pipeline) is this doc. Near-duplicates of earlier docs "
    "score ~0, fresh content ~1 — the redundancy signal corpus "
    "curation ranks by (keep-novel-first). Scale shape: one posting "
    "explode, a min-aggregate on the shingle key (shuffle keys are "
    "md5-size, linear in corpus tokens — the standard inverted-index "
    "cost), and a join back on the same key with map-side partials; "
    "no pairwise work at all, unlike the near-dup family.",
    tags=("pipeline", "dedup", "quality", "documents"),
)
def q_novelty_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    from flink_application_spark.operators.minhash import with_shingles

    docs = table(spark, sf_dir, "documents")
    occ = (
        with_shingles(docs)
        .select("doc_id", F.explode("shingles").alias("s"))
        .persist()
    )
    first = occ.groupBy("s").agg(F.min("doc_id").alias("first_doc"))
    novel = F.sum(
        F.when(F.col("first_doc") == F.col("doc_id"), 1).otherwise(0)
    )
    return (
        occ.join(first, "s")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_shingles"),
            novel.cast("bigint").alias("n_novel"),
            (F.round(novel / F.count(F.lit(1)), 6) + F.lit(0.0)).alias("novelty"),
        )
    )
