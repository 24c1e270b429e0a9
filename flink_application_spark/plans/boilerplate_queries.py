"""Per-source boilerplate signatures — the crawl-intake diagnostic
that tells you WHICH template each feed keeps repeating: for every
source, the word-5-grams appearing in the most of its documents.
(The scrub stage removes global repeats; this query ATTRIBUTES them,
which is how an operator decides to fix the extractor for src7 rather
than scrub forever.)

Shape: scan-local n-gram explode → (source, gram) doc-frequency hash
agg → per-source top-3 window over the (small) aggregate. No text in
the shuffle beyond the grams themselves.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window, functions as F

from flink_application_spark.catalog import table
from flink_application_spark.functions.text import word_ngrams
from flink_application_spark.plans.registry import register

_N = 5
_TOP = 3


@register(
    "source_boilerplate_ngrams",
    f"""
WITH grams AS (
  SELECT DISTINCT source, doc_id, gram FROM (
    SELECT source, doc_id,
           unnest(CASE WHEN len(t) >= {_N}
             THEN list_transform(generate_series(1, len(t) - {_N - 1}),
                                 i -> array_to_string(t[i:i + {_N - 1}], ' '))
             ELSE [lower(trim(text))] END) AS gram
    FROM (
      SELECT source, doc_id, text,
             regexp_split_to_array(lower(trim(text)), '\\s+') AS t
      FROM documents WHERE text IS NOT NULL
    )
  )
),
df AS (
  SELECT source, gram, CAST(count(*) AS BIGINT) AS n_docs
  FROM grams GROUP BY source, gram
),
ranked AS (
  SELECT source, gram, n_docs,
         row_number() OVER (
           PARTITION BY source ORDER BY n_docs DESC, gram
         ) AS rank
  FROM df
)
SELECT source, gram, n_docs, rank FROM ranked
WHERE rank <= {_TOP} AND n_docs >= 2
""",
    doc=f"Boilerplate attribution: per source, the top-{_TOP} word-"
    f"{_N}-grams by within-source document frequency (≥ 2 docs) — "
    "which template each feed repeats. Scan-local gram explode, "
    "(source, gram) hash agg, per-source top-k window over the "
    "aggregate only.",
    tags=("documents", "audit", "sources"),
)
def q_source_boilerplate(spark: SparkSession, sf_dir: str) -> DataFrame:
    from flink_application_spark.catalog import fan_out

    docs = table(spark, sf_dir, "documents")
    # the 5-gram transform is an interpreted HOF over every token
    # position — spread the single-row-group scan first
    grams = (
        fan_out(docs.filter(F.col("text").isNotNull()))
        .select(
            "source",
            "doc_id",
            F.explode(word_ngrams(F.col("text"), _N)).alias("gram"),
        )
        .distinct()
    )
    df = grams.groupBy("source", "gram").agg(F.count(F.lit(1)).alias("n_docs"))
    w = Window.partitionBy("source").orderBy(
        F.col("n_docs").desc(), F.col("gram").asc()
    )
    return (
        df.withColumn("rank", F.row_number().over(w))
        .filter((F.col("rank") <= _TOP) & (F.col("n_docs") >= 2))
        .select("source", "gram", "n_docs", "rank")
    )
