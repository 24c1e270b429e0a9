"""Corpus-trained bigram language-model scoring — the CCNet-style
perplexity filter: train a smoothed bigram LM on the corpus itself,
score every document by mean negative log-likelihood, and gate on the
score (high NLL = gibberish/outlier text, low NLL = repetitive
boilerplate; both tails are curation signals).

Spark-first shape (count-based LM, no Python anywhere):

1. token/bigram counts = two hash aggregates keyed on (uniform) token
   hashes — the classic map-side-combinable shape;
2. conditional probability = one equi-join of bigram counts to
   predecessor counts (add-one smoothing over the observed vocab V);
3. per-document scoring joins each (prev, tok) position to its
   probability, then rebuilds a POSITION-ORDERED array per doc and
   folds it sequentially — deterministic summation order, which is
   what lets the DuckDB oracle reproduce the float sum bit-for-bit
   (same trick as the scrub rebuild: sort_array + aggregate).

At 100 TB: counts shuffle on token hashes (uniform, map-side combined,
output ≈ vocab-sized not corpus-sized); scoring shuffles positions on
(prev, tok) and doc_id — linear passes, no model broadcast needed
because the "model" IS a table (the LM join is itself a dim join, the
reference's enrichment shape with a learned dimension).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from flink_application_spark.catalog import table
from flink_application_spark.functions.text import tokens
from flink_application_spark.plans.registry import register


def _doc_bigrams(docs: DataFrame):
    """(toks frame, per-position bigram rows) — the scan-local bigram
    construction shared by training and scoring."""
    toks = docs.select(
        "doc_id",
        F.filter(tokens(F.col("text")), lambda x: x != "").alias("toks"),
    )
    bi_rows = toks.select(
        "doc_id",
        F.explode(
            F.transform(
                F.sequence(F.lit(1), F.size("toks") - 1),
                lambda p: F.struct(
                    p.alias("pos"),
                    F.element_at(F.col("toks"), p).alias("prev"),
                    F.element_at(F.col("toks"), p + 1).alias("tok"),
                ),
            )
        ).alias("b"),
    ).filter(F.size("toks") >= 2).select("doc_id", "b.pos", "b.prev", "b.tok")
    return toks, bi_rows


def lm_model(docs: DataFrame) -> DataFrame:
    """Train the add-one-smoothed bigram LM: (prev, tok, nll). The
    model IS a table — persist it and scoring anywhere (batch or a
    stream's foreachBatch) is a dim join, no broadcast of state."""
    toks, bi_rows = _doc_bigrams(docs)
    tok_rows = toks.select("doc_id", F.posexplode("toks").alias("pos", "tok"))
    uni = tok_rows.groupBy(F.col("tok").alias("prev")).agg(
        F.count(F.lit(1)).alias("c_prev")
    )
    bi = bi_rows.groupBy("prev", "tok").agg(F.count(F.lit(1)).alias("c_bi"))
    vocab = tok_rows.select(F.countDistinct("tok").alias("v"))
    return (
        bi.join(uni, "prev")
        .crossJoin(F.broadcast(vocab))
        .select(
            "prev",
            "tok",
            (
                -F.log(
                    (F.col("c_bi") + F.lit(1)).cast("double")
                    / (F.col("c_prev") + F.col("v")).cast("double")
                )
            ).alias("nll"),
        )
    )


def score_with_model(docs: DataFrame, probs: DataFrame) -> DataFrame:
    """Score docs against a TRAINED model table: bigrams unseen by the
    model are ignored (only scored mass counts — the same contract the
    self-trained form has on its own corpus, where every bigram is
    seen). Docs with zero scored bigrams drop out."""
    _, bi_rows = _doc_bigrams(docs)
    scored = bi_rows.join(probs, ["prev", "tok"])
    # position-ordered sequential fold → deterministic float sum
    per_doc = scored.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_scored"),
        F.aggregate(
            F.transform(
                F.array_sort(F.collect_list(F.struct("pos", "nll"))),
                lambda s: s["nll"],
            ),
            F.lit(0.0),
            lambda acc, x: acc + x,
        ).alias("sum_nll"),
    )
    return per_doc.select(
        "doc_id",
        F.col("n_scored").cast("bigint").alias("n_scored"),
        F.round(F.col("sum_nll") / F.col("n_scored"), 6).alias("mean_nll"),
    )


def bigram_lm_scores(docs: DataFrame) -> DataFrame:
    return score_with_model(docs, lm_model(docs))


LM_SCORE_SQL = """
WITH toks AS (
  SELECT doc_id,
         list_filter(regexp_split_to_array(lower(trim(text)), '\\s+'),
                     w -> w <> '') AS toks
  FROM documents
),
tok_rows AS (
  SELECT doc_id, unnest(toks) AS tok FROM toks
),
bi_rows AS (
  SELECT doc_id,
         unnest(generate_series(1, len(toks) - 1)) AS pos,
         toks
  FROM toks WHERE len(toks) >= 2
),
bi_keyed AS (
  SELECT doc_id, pos, toks[pos] AS prev, toks[pos + 1] AS tok FROM bi_rows
),
uni AS (
  SELECT tok AS prev, count(*) AS c_prev FROM tok_rows GROUP BY tok
),
bi AS (
  SELECT prev, tok, count(*) AS c_bi FROM bi_keyed GROUP BY prev, tok
),
vocab AS (
  SELECT count(DISTINCT tok) AS v FROM tok_rows
),
probs AS (
  SELECT b.prev AS prev, b.tok AS tok,
         -ln(CAST(b.c_bi + 1 AS DOUBLE) / CAST(u.c_prev + vocab.v AS DOUBLE)) AS nll
  FROM bi b JOIN uni u ON u.prev = b.prev CROSS JOIN vocab
),
scored AS (
  SELECT k.doc_id AS doc_id, k.pos AS pos, p.nll AS nll
  FROM bi_keyed k JOIN probs p ON p.prev = k.prev AND p.tok = k.tok
),
per_doc AS (
  SELECT doc_id,
         CAST(count(*) AS BIGINT) AS n_scored,
         list_sum(list(nll ORDER BY pos)) AS sum_nll
  FROM scored GROUP BY doc_id
)
SELECT doc_id, n_scored, round(sum_nll / n_scored, 6) AS mean_nll
FROM per_doc
"""


@register(
    "doc_bigram_lm_score",
    LM_SCORE_SQL,
    doc="Corpus-trained bigram LM quality score (the CCNet-style "
    "perplexity filter): add-one-smoothed P(tok|prev) from two hash "
    "aggregates + one join, per-document mean NLL folded over a "
    "position-ordered array so the float summation order is "
    "deterministic and oracle-reproducible. The LM is a table, not a "
    "broadcast model — scoring is a dim join at any corpus size.",
    tags=("documents", "quality", "lm"),
)
def q_bigram_lm_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = table(spark, sf_dir, "documents")
    return bigram_lm_scores(docs)
