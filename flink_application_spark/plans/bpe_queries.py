"""BPE tokenizer-training queries over the `documents` table.

All three fully oracle-checked. `vocab_bpe_pair_counts` (round 1's
pair statistics) replays directly; the multi-round learn loop
(`vocab_bpe_learned_merges`) and the segmented token counts
(`doc_bpe_token_counts`) looked iterative-only, but the merge count is
a FIXED constant, so round 8 unrolls the whole loop as MATERIALIZED
CTE stages (one pair-count → top-1 → string-surgery-rewrite triple per
round — `operators/bpe.bpe_oracle_sql`), the same recipe that
converted MMR and Lloyd's. The Spark side is unchanged; the pure-
Python reference in `tests/test_bpe.py` still pins both independently.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window, functions as F

from flink_application_spark.catalog import table
from flink_application_spark.operators.bpe import (
    bpe_learn,
    bpe_oracle_sql,
    pair_counts,
    word_symbol_counts,
)
from flink_application_spark.plans.registry import register

_TOPK = 30
_N_MERGES = 10


@register(
    "vocab_bpe_pair_counts",
    f"""
WITH words AS (
  SELECT w.word AS word, CAST(count(*) AS BIGINT) AS c
  FROM (
    SELECT unnest(list_filter(
      regexp_split_to_array(lower(trim(text)), '\\s+'), t -> t <> '')) AS word
    FROM documents
  ) w
  GROUP BY w.word
),
syms AS (
  SELECT word, c,
         list_append(string_split(word, ''), '</w>') AS s
  FROM words
),
pairs AS (
  SELECT s[i] AS lhs, s[i + 1] AS rhs, c
  FROM (SELECT c, s, unnest(generate_series(1, len(s) - 1)) AS i FROM syms
        WHERE len(s) >= 2)
),
totals AS (
  SELECT lhs, rhs, CAST(sum(c) AS BIGINT) AS n_pairs
  FROM pairs GROUP BY lhs, rhs
),
ranked AS (
  SELECT lhs, rhs, n_pairs,
         row_number() OVER (ORDER BY n_pairs DESC, lhs, rhs) AS rank
  FROM totals
)
SELECT lhs, rhs, n_pairs, rank FROM ranked WHERE rank <= {_TOPK}
""",
    doc=f"BPE merge round 1 statistics: corpus word frequencies (ONE "
    "corpus pass; every later round runs on the vocab-sized table), "
    "character symbols + '</w>' terminal, adjacent-pair totals "
    f"weighted by word count, top {_TOPK} by (count desc, pair asc). "
    "The scan-local pair construction (sequence+transform, no "
    "position self-join) is the shape every merge round reuses.",
    tags=("documents", "vocab", "bpe"),
)
def q_bpe_pair_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = table(spark, sf_dir, "documents")
    counts = pair_counts(word_symbol_counts(docs))
    top = counts.orderBy(
        F.col("n_pairs").desc(), F.col("lhs"), F.col("rhs")
    ).limit(_TOPK)
    w = Window.orderBy(F.col("n_pairs").desc(), F.col("lhs"), F.col("rhs"))
    return top.withColumn("rank", F.row_number().over(w)).select(
        "lhs", "rhs", "n_pairs", "rank"
    )


@register(
    "vocab_bpe_learned_merges",
    bpe_oracle_sql(_N_MERGES, mode="merges"),
    doc=f"Learned BPE merge table ({_N_MERGES} rounds): per round one "
    "vocab-sized pair aggregate, a deterministic driver-side top-1 "
    "(count desc, lexicographic tie-break — no RNG), and a scan-local "
    "left-to-right merge fold. Matches the classic Sennrich algorithm "
    "exactly (pinned against a pure-Python reference in tests/"
    "test_bpe.py). At 100 TB only round zero touches the corpus. "
    "Round 8: oracle-EXACT — the fixed merge count unrolls the learn "
    "loop as MATERIALIZED CTE stages, with wrapped-symbol string "
    "surgery replaying the greedy fold (operators/bpe.bpe_oracle_sql).",
    tags=("documents", "vocab", "bpe"),
)
def q_bpe_learned_merges(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = table(spark, sf_dir, "documents")
    rules = bpe_learn(docs, n_merges=_N_MERGES)
    return spark.createDataFrame(
        [
            (i, left, right, n)
            for i, (left, right, n) in enumerate(rules)
        ],
        "merge_idx int, lhs string, rhs string, n_pairs bigint",
    )


@register(
    "doc_bpe_token_counts",
    bpe_oracle_sql(_N_MERGES, mode="tokens"),
    doc="Tokenizer APPLICATION at corpus scale: segment the vocabulary "
    f"once under the {_N_MERGES} learned merges (scan-local folds over "
    "the vocab-sized table), then count each document's BPE tokens via "
    "an (exploded word → n_sym) dim join + per-doc sum — encoding a "
    "100 TB corpus never re-runs the merge loop per document, it joins "
    "a vocabulary table (the reference's enrichment shape with a "
    "learned dimension). Word-level counts pinned against the Python "
    "reference in tests/test_bpe.py.",
    tags=("documents", "vocab", "bpe"),
)
def q_bpe_token_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    from flink_application_spark.functions.text import tokens
    from flink_application_spark.operators.bpe import bpe_segment

    docs = table(spark, sf_dir, "documents")
    rules = bpe_learn(docs, n_merges=_N_MERGES)
    vocab = bpe_segment(word_symbol_counts(docs), rules).select("word", "n_sym")
    doc_words = docs.select(
        "doc_id",
        F.explode(F.filter(tokens(F.col("text")), lambda t: t != "")).alias("word"),
    )
    return (
        doc_words.join(vocab, "word")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_words"),
            F.sum("n_sym").alias("n_bpe_tokens"),
        )
    )
