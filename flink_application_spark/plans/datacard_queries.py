"""Corpus data card — the per-(source, lang) summary table a dataset
release ships (datasheet/data-card practice): volume, token mass,
length profile, exact-dup rate, hygiene-gate pass rate. One scan plus
vocab-free aggregates; every signal reuses an oracle-pinned
expression from the text/gate/dedup families, so the whole card is
hash-checked.

At 100 TB this is the query a curation run ends with: group keys are
low-cardinality (sources × langs), all aggregates are map-side
combinable, and the dup-rate join touches only (fingerprint, count)
partials — never text bodies.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from flink_application_spark.catalog import table
from flink_application_spark.functions.text import fingerprint, tokens
from flink_application_spark.plans.gate_queries import quality_gate_audit
from flink_application_spark.plans.registry import register
from flink_application_spark.plans.text_queries import _TOKS, _in_list  # noqa: F401
from flink_application_spark.functions.text import EN_STOPWORDS  # noqa: F401

_FP = "md5(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g'))"


@register(
    "corpus_data_card",
    f"""
WITH gates AS (
  SELECT doc_id,
         n_chars BETWEEN 100 AND 500
         AND len(list_filter({_TOKS}, t -> t <> '')) >= 20
         AND round(len(list_filter({_TOKS}, t -> t IN ({_in_list(EN_STOPWORDS)}))) * 1.0
                   / greatest(len({_TOKS}), 1), 6) >= 0.02 AS passed
  FROM documents
),
fp AS (
  SELECT doc_id, {_FP} AS f,
         row_number() OVER (PARTITION BY {_FP} ORDER BY doc_id) AS rn
  FROM documents
)
SELECT d.source AS source, d.lang AS lang,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(len(list_filter(regexp_split_to_array(lower(trim(d.text)), '\\s+'),
                                t -> t <> ''))) AS BIGINT) AS n_tokens,
       CAST(min(d.n_chars) AS BIGINT) AS min_chars,
       CAST(max(d.n_chars) AS BIGINT) AS max_chars,
       CAST(sum(d.n_chars) AS BIGINT) AS sum_chars,
       CAST(sum(CASE WHEN fp.rn > 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_exact_dups,
       CAST(sum(CASE WHEN g.passed THEN 1 ELSE 0 END) AS BIGINT) AS n_gate_pass,
       CAST(sum(CASE WHEN g.passed THEN 1 ELSE 0 END) * 1000000 // count(*) AS BIGINT)
         AS gate_pass_ppm
FROM documents d
JOIN gates g ON g.doc_id = d.doc_id
JOIN fp ON fp.doc_id = d.doc_id
GROUP BY d.source, d.lang
""",
    doc="Corpus data card: per (source, lang) — volume, token mass, "
    "char-length profile, exact-duplicate count (non-canonical rows "
    "per content fingerprint), hygiene-gate pass rate (integer ppm). "
    "The release-datasheet rollup; low-cardinality keys, map-side "
    "combinable aggregates, no text in any shuffle.",
    tags=("documents", "audit", "datacard"),
)
def q_data_card(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    docs = table(spark, sf_dir, "documents")
    gates = quality_gate_audit(docs).select("doc_id", "passed")
    w = Window.partitionBy(fingerprint(F.col("text"))).orderBy("doc_id")
    fp = docs.select("doc_id", F.row_number().over(w).alias("rn"))
    joined = (
        docs.select(
            "doc_id",
            "source",
            "lang",
            "n_chars",
            F.size(F.filter(tokens(F.col("text")), lambda t: t != "")).alias("nt"),
        )
        .join(gates, "doc_id")
        .join(fp, "doc_id")
    )
    return (
        joined.groupBy("source", "lang")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("nt").alias("n_tokens"),
            F.min("n_chars").alias("min_chars"),
            F.max("n_chars").alias("max_chars"),
            F.sum("n_chars").alias("sum_chars"),
            F.sum(F.when(F.col("rn") > 1, 1).otherwise(0)).alias("n_exact_dups"),
            F.sum(F.when(F.col("passed"), 1).otherwise(0)).alias("n_gate_pass"),
        )
        .select(
            "*",
            F.expr("n_gate_pass * 1000000L div n_docs").alias("gate_pass_ppm"),
        )
    )
