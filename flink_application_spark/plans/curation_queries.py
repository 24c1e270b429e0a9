"""End-to-end batch corpus curation — the composed pipeline a
training-data run actually executes, as ONE oracle-checked query:

    classifier gate → repeated-n-gram scrub → exact dedup → stats

Every stage is an operator that already has its own oracle-checked
query (`doc_quality_classifier_score`, `doc_repeated_ngram_scrub`,
`doc_exact_dedup_groups`); this query pins their COMPOSITION — the
thing that actually ships — to a single funnel-stats row. The oracle
composes the same stages as CTEs reusing the very same SQL builders,
so a hash match proves the stage contracts survive chaining (column
renames, null handling, empty-text edge cases between stages).

Scale: the funnel inherits each stage's shape — zero-shuffle scoring,
posting-list scrub, one 8-byte-key dedup shuffle (xxhash of the
scrubbed text would be the 100 TB key; md5 here for engine parity),
and an integer-only final aggregate. Nothing new materializes; Spark
pipelines the stages into one DAG.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window, functions as F

from flink_application_spark.catalog import table
from flink_application_spark.plans.classifier_queries import (
    _BIAS,
    classifier_weights,
    linear_score,
)
from flink_application_spark.plans.registry import register
from flink_application_spark.plans.scrub_queries import _N, _T, repeated_ngram_scrub
from flink_application_spark.plans.vectorize_queries import (
    _oracle_sql as _embedding_oracle_sql,
    hashing_trick_features,
)


def curate_corpus(docs: DataFrame) -> tuple[DataFrame, DataFrame]:
    """Run the curation pipeline; returns (curated, funnel_stats).

    `curated` is the surviving corpus — (doc_id, scrubbed_text,
    n_kept) with one canonical row per distinct scrubbed text — the
    frame a training-shard export consumes (see
    `operators/export.write_training_shards` and
    `tests/test_curation_export.py` for the end-to-end composition).
    `funnel_stats` is the single audit row the oracle checks."""
    n_input = docs.select(F.count(F.lit(1)).cast("bigint").alias("n_input"))

    score = linear_score(F.col("embedding"), classifier_weights(), _BIAS)
    keep_ids = hashing_trick_features(docs).filter(score >= 0.5).select("doc_id")
    # persist the gate output: the scoring pipeline must run once, not
    # once per downstream branch
    gated = docs.join(keep_ids, "doc_id", "left_semi").persist()
    n_gated = gated.select(F.count(F.lit(1)).cast("bigint").alias("n_gated"))

    scrub = repeated_ngram_scrub(gated).persist()
    nonempty = scrub.filter(F.col("n_kept") > 0)
    n_nonempty = nonempty.select(
        F.count(F.lit(1)).cast("bigint").alias("n_nonempty")
    )

    canonical = (
        nonempty.withColumn("fp", F.md5("scrubbed_text"))
        .withColumn(
            "rn", F.row_number().over(Window.partitionBy("fp").orderBy("doc_id"))
        )
        .filter(F.col("rn") == 1)
        .select("doc_id", "scrubbed_text", "n_kept")
    )
    stats = canonical.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_canonical"),
        F.sum("n_kept").cast("bigint").alias("total_tokens"),
    )
    funnel = n_input.crossJoin(n_gated).crossJoin(n_nonempty).crossJoin(stats)
    return canonical, funnel


@register(
    "corpus_curation_funnel",
    f"""
WITH emb AS ({_embedding_oracle_sql()}),
gated AS (
  SELECT e.doc_id AS doc_id, d.text AS text
  FROM emb e JOIN documents d ON d.doc_id = e.doc_id
  WHERE 1.0 / (1.0 + exp(-(list_sum(list_transform(
          list_zip(e.embedding,
                   [{", ".join(repr(w) for w in classifier_weights())}]),
          p -> p[1] * p[2])) + {_BIAS!r}))) >= 0.5
),
toks AS (
  SELECT doc_id,
         list_filter(regexp_split_to_array(lower(trim(text)), '\\s+'),
                     w -> w <> '') AS toks
  FROM gated
),
tok_rows AS (
  SELECT doc_id, unnest(toks) AS tok,
         generate_subscripts(toks, 1) - 1 AS pos
  FROM toks
),
keyed AS (
  SELECT doc_id,
         unnest(generate_series(0, len(toks) - {_N})) AS start,
         toks
  FROM toks WHERE len(toks) >= {_N}
),
grams AS (
  SELECT doc_id, start,
         md5(array_to_string(toks[start + 1 : start + {_N}], ' ')) AS key
  FROM keyed
),
frequent AS (
  SELECT key FROM grams GROUP BY key HAVING count(DISTINCT doc_id) >= {_T}
),
covered AS (
  SELECT DISTINCT g.doc_id AS doc_id,
         unnest(generate_series(g.start, g.start + {_N - 1})) AS pos
  FROM grams g JOIN frequent f USING (key)
),
kept AS (
  SELECT t.doc_id AS doc_id, t.pos AS pos, t.tok AS tok
  FROM tok_rows t
  WHERE NOT EXISTS (SELECT 1 FROM covered c
                    WHERE c.doc_id = t.doc_id AND c.pos = t.pos)
),
scrubbed AS (
  SELECT t.doc_id AS doc_id,
         COALESCE(r.txt, '') AS scrubbed_text,
         COALESCE(r.n_kept, 0) AS n_kept
  FROM toks t
  LEFT JOIN (SELECT doc_id, string_agg(tok, ' ' ORDER BY pos) AS txt,
                    count(*) AS n_kept
             FROM kept GROUP BY doc_id) r ON r.doc_id = t.doc_id
),
nonempty AS (
  SELECT * FROM scrubbed WHERE n_kept > 0
),
canonical AS (
  SELECT doc_id, scrubbed_text, n_kept,
         row_number() OVER (PARTITION BY md5(scrubbed_text)
                            ORDER BY doc_id) AS rn
  FROM nonempty
)
SELECT CAST((SELECT count(*) FROM documents) AS BIGINT) AS n_input,
       CAST((SELECT count(*) FROM gated) AS BIGINT) AS n_gated,
       CAST((SELECT count(*) FROM nonempty) AS BIGINT) AS n_nonempty,
       CAST(count(*) AS BIGINT) AS n_canonical,
       CAST(sum(n_kept) AS BIGINT) AS total_tokens
FROM canonical WHERE rn = 1
""",
    doc="The composed batch curation funnel — classifier gate → "
    f"repeated-{_N}-gram scrub → empty-drop → exact dedup on scrubbed "
    "text (keep-lowest-doc_id) → one integer stats row. Pins the "
    "COMPOSITION of three independently-oracle-checked operators; the "
    "oracle chains the same stage SQL as CTEs.",
    tags=("documents", "pipeline", "curation"),
)
def q_curation_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = table(spark, sf_dir, "documents")
    return curate_corpus(docs)[1]
