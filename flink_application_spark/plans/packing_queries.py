"""Sequence-packing queries (operators/packing.py): the concat-then-
chunk layout plan LLM pretraining consumes, over the documents table.

Both queries are oracle-exact: the packing plan is pure integer
algebra (exclusive prefix sum + span arithmetic), so DuckDB replays it
bit-for-bit — including the two-phase distributed prefix sum, whose
output is partitioning-independent by construction (pinned in
tests/test_packing.py)."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from flink_application_spark.catalog import table
from flink_application_spark.functions.text import tokens
from flink_application_spark.operators.packing import packed_spans, packing_stats
from flink_application_spark.plans.registry import register

_SEQ_LEN = 2048

# shared whitespace token count (the training_prep_queries form):
# non-empty whitespace tokens of lowercased trimmed text
_N_TOKENS_SQL = (
    "CAST(len(list_filter(regexp_split_to_array(lower(trim(text)), '\\s+'),"
    " w -> w <> '')) AS BIGINT)"
)

_SPANS_SQL = f"""
WITH toks AS (
  SELECT doc_id, {_N_TOKENS_SQL} AS n_tokens FROM documents
),
offs AS (
  SELECT doc_id, n_tokens,
         CAST(COALESCE(sum(n_tokens) OVER (
           ORDER BY doc_id ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
         ), 0) AS BIGINT) AS off
  FROM toks WHERE n_tokens > 0
),
spans AS (
  SELECT doc_id, n_tokens, off,
         unnest(generate_series(off // {_SEQ_LEN},
                                (off + n_tokens - 1) // {_SEQ_LEN})) AS bin_id
  FROM offs
)
SELECT bin_id, doc_id,
       greatest(off, bin_id * {_SEQ_LEN}) - off AS doc_offset,
       greatest(off, bin_id * {_SEQ_LEN}) - bin_id * {_SEQ_LEN} AS bin_offset,
       least(off + n_tokens, (bin_id + 1) * {_SEQ_LEN})
         - greatest(off, bin_id * {_SEQ_LEN}) AS span_len
FROM spans
"""


def _doc_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = table(spark, sf_dir, "documents")
    return docs.select(
        "doc_id",
        F.size(F.filter(tokens(F.col("text")), lambda t: t != ""))
        .cast("bigint")
        .alias("n_tokens"),
    )


@register(
    "corpus_pack_spans",
    _SPANS_SQL,
    doc=f"Concat-then-chunk sequence packing plan (GPT lineage): the "
    f"documents stream, concatenated in doc_id order, cut into "
    f"{_SEQ_LEN}-token training sequences — one row per (doc × bin) "
    "span with offsets on both sides, the exact bookkeeping attention "
    "masking and boundary stats need. The prefix sum runs as a "
    "TWO-PHASE distributed scan (per-partition subtotals + broadcast "
    "base offsets — no global-order window task; output is "
    "partitioning-independent, so the oracle's single window replays "
    "it exactly). Scale: one narrow scan + one explode; driver traffic "
    "is one row per partition.",
    tags=("documents", "training-prep", "packing"),
)
def q_pack_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    return packed_spans(_doc_tokens(spark, sf_dir), _SEQ_LEN)


@register(
    "corpus_pack_stats",
    f"""
WITH spans AS ({_SPANS_SQL}),
per_doc AS (
  SELECT doc_id, count(*) AS n_spans, CAST(sum(span_len) AS BIGINT) AS n_tokens
  FROM spans GROUP BY doc_id
),
bins AS (
  SELECT max(bin_id) + 1 AS n_bins, CAST(sum(span_len) AS BIGINT) AS total_tokens
  FROM spans
),
docs_agg AS (
  SELECT CAST(count(*) AS BIGINT) AS n_docs,
         CAST(sum(CASE WHEN n_spans > 1 THEN 1 ELSE 0 END) AS BIGINT)
           AS docs_crossing
  FROM per_doc
)
SELECT n_bins, n_docs, total_tokens, docs_crossing,
       (total_tokens * 1000000) // (n_bins * {_SEQ_LEN}) AS fill_ppm,
       (docs_crossing * 1000000) // n_docs AS crossing_ppm
FROM bins CROSS JOIN docs_agg
""",
    doc="Packing report over the span plan: bin count, fill ratio "
    "(ppm — concat-then-chunk wastes only the final bin's slack) and "
    "the share of documents crossing a sequence boundary (what a "
    "boundary-respecting packer would trade padding to shrink). "
    "Integer-ppm arithmetic on both engines.",
    tags=("documents", "training-prep", "packing", "audit"),
)
def q_pack_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    return packing_stats(
        packed_spans(_doc_tokens(spark, sf_dir), _SEQ_LEN), _SEQ_LEN
    )
