"""Corpus statistics round-out: PMI collocations, top event-type
paths, and vocabulary Gini concentration — the remaining standard
corpus/sequence-health numbers a curation dashboard shows.

All three are one-or-two hash aggregates plus deterministic ordered
folds; nothing touches Python, nothing is quadratic.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window, functions as F

from flink_application_spark.catalog import table
from flink_application_spark.functions.text import tokens
from flink_application_spark.plans.registry import register

_TOPK = 20
_MIN_PAIR = 5


@register(
    "doc_bigram_pmi",
    f"""
WITH toks AS (
  SELECT doc_id,
         list_filter(regexp_split_to_array(lower(trim(text)), '\\s+'),
                     w -> w <> '') AS toks
  FROM documents
),
tok_rows AS (SELECT unnest(toks) AS tok FROM toks),
bi AS (
  SELECT toks[i] AS w1, toks[i + 1] AS w2
  FROM (SELECT toks, unnest(generate_series(1, len(toks) - 1)) AS i
        FROM toks WHERE len(toks) >= 2)
),
uni_c AS (SELECT tok, count(*) AS c FROM tok_rows GROUP BY tok),
bi_c AS (SELECT w1, w2, count(*) AS c FROM bi GROUP BY w1, w2),
tot AS (
  SELECT (SELECT count(*) FROM tok_rows) AS n_uni,
         (SELECT count(*) FROM bi) AS n_bi
)
SELECT w1, w2, n_pair, round(pmi, 6) AS pmi, rank FROM (
  SELECT b.w1 AS w1, b.w2 AS w2, CAST(b.c AS BIGINT) AS n_pair,
         ln((CAST(b.c AS DOUBLE) / t.n_bi)
            / ((CAST(u1.c AS DOUBLE) / t.n_uni)
               * (CAST(u2.c AS DOUBLE) / t.n_uni))) AS pmi,
         row_number() OVER (
           ORDER BY ln((CAST(b.c AS DOUBLE) / t.n_bi)
             / ((CAST(u1.c AS DOUBLE) / t.n_uni)
                * (CAST(u2.c AS DOUBLE) / t.n_uni))) DESC, b.w1, b.w2
         ) AS rank
  FROM bi_c b
  JOIN uni_c u1 ON u1.tok = b.w1
  JOIN uni_c u2 ON u2.tok = b.w2
  CROSS JOIN tot t
  WHERE b.c >= {_MIN_PAIR}
) WHERE rank <= {_TOPK}
""",
    doc=f"PMI collocations: top-{_TOPK} adjacent word pairs by pointwise "
    f"mutual information (min pair count {_MIN_PAIR} — PMI's rare-pair "
    "bias guard). Two token hash aggs + two dim joins; the classic "
    "phrase-mining signal complementing the count-based collocation "
    "query.",
    tags=("documents", "text", "nlp"),
)
def q_bigram_pmi(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = table(spark, sf_dir, "documents")
    toks = docs.select(
        F.filter(tokens(F.col("text")), lambda t: t != "").alias("toks")
    )
    tok_rows = toks.select(F.explode("toks").alias("tok"))
    bi = toks.filter(F.size("toks") >= 2).select(
        F.explode(
            F.transform(
                F.sequence(F.lit(1), F.size("toks") - 1),
                lambda i: F.struct(
                    F.element_at(F.col("toks"), i).alias("w1"),
                    F.element_at(F.col("toks"), i + 1).alias("w2"),
                ),
            )
        ).alias("p")
    ).select("p.w1", "p.w2")
    uni_c = tok_rows.groupBy("tok").agg(F.count(F.lit(1)).alias("c"))
    bi_c = bi.groupBy("w1", "w2").agg(F.count(F.lit(1)).alias("c"))
    tot = tok_rows.agg(F.count(F.lit(1)).alias("n_uni")).crossJoin(
        bi.agg(F.count(F.lit(1)).alias("n_bi"))
    )
    scored = (
        bi_c.filter(F.col("c") >= _MIN_PAIR)
        .join(uni_c.select(F.col("tok").alias("w1"), F.col("c").alias("c1")), "w1")
        .join(uni_c.select(F.col("tok").alias("w2"), F.col("c").alias("c2")), "w2")
        .crossJoin(F.broadcast(tot))
        .select(
            "w1",
            "w2",
            F.col("c").cast("bigint").alias("n_pair"),
            F.log(
                (F.col("c").cast("double") / F.col("n_bi"))
                / (
                    (F.col("c1").cast("double") / F.col("n_uni"))
                    * (F.col("c2").cast("double") / F.col("n_uni"))
                )
            ).alias("pmi_raw"),
        )
    )
    top = scored.orderBy(
        F.col("pmi_raw").desc(), F.col("w1"), F.col("w2")
    ).limit(_TOPK)
    w = Window.orderBy(F.col("pmi_raw").desc(), F.col("w1"), F.col("w2"))
    return top.withColumn("rank", F.row_number().over(w)).select(
        "w1", "w2", "n_pair", F.round("pmi_raw", 6).alias("pmi"), "rank"
    )


@register(
    "events_top_trigram_paths",
    f"""
WITH seqs AS (
  SELECT user_id, list(event_type ORDER BY ts, event_id) AS path
  FROM events GROUP BY user_id
),
tri AS (
  SELECT path[i] || '>' || path[i + 1] || '>' || path[i + 2] AS trigram
  FROM (SELECT path, unnest(generate_series(1, len(path) - 2)) AS i
        FROM seqs WHERE len(path) >= 3)
)
SELECT trigram, n, rank FROM (
  SELECT trigram, CAST(count(*) AS BIGINT) AS n,
         row_number() OVER (ORDER BY count(*) DESC, trigram) AS rank
  FROM tri GROUP BY trigram
) WHERE rank <= {_TOPK}
""",
    doc=f"Top-{_TOPK} user-journey trigrams: per-user event sequences "
    "(deterministic (ts, id) order) sliced into 3-step paths "
    "scan-local, one hash agg — the path-mining view the Markov "
    "transition matrix summarizes pairwise.",
    tags=("events", "sequence", "paths"),
)
def q_top_paths(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = table(spark, sf_dir, "events")
    seqs = ev.groupBy("user_id").agg(
        F.transform(
            F.array_sort(F.collect_list(F.struct("ts", "event_id", "event_type"))),
            lambda s: s["event_type"],
        ).alias("path")
    )
    tri = seqs.filter(F.size("path") >= 3).select(
        F.explode(
            F.transform(
                F.sequence(F.lit(1), F.size("path") - 2),
                lambda i: F.concat_ws(
                    ">",
                    F.element_at(F.col("path"), i),
                    F.element_at(F.col("path"), i + 1),
                    F.element_at(F.col("path"), i + 2),
                ),
            )
        ).alias("trigram")
    )
    counts = tri.groupBy("trigram").agg(F.count(F.lit(1)).alias("n"))
    top = counts.orderBy(F.col("n").desc(), F.col("trigram")).limit(_TOPK)
    w = Window.orderBy(F.col("n").desc(), F.col("trigram"))
    return top.withColumn("rank", F.row_number().over(w)).select(
        "trigram", "n", "rank"
    )


@register(
    "vocab_gini_concentration",
    """
WITH toks AS (
  SELECT unnest(list_filter(regexp_split_to_array(lower(trim(text)), '\\s+'),
                            w -> w <> '')) AS tok
  FROM documents
),
counts AS (SELECT tok, count(*) AS c FROM toks GROUP BY tok),
ranked AS (
  SELECT c, row_number() OVER (ORDER BY c, tok) AS i FROM counts
),
tot AS (SELECT count(*) AS v, CAST(sum(c) AS BIGINT) AS n FROM counts)
SELECT CAST(t.v AS BIGINT) AS vocab_size, t.n AS total_tokens,
       round(CAST(2 * sum(r.i * r.c) - (t.v + 1) * t.n AS DOUBLE)
             / (t.v * t.n), 6) AS gini
FROM ranked r CROSS JOIN tot t
GROUP BY t.v, t.n
""",
    doc="Vocabulary Gini concentration: inequality of the token "
    "frequency distribution via the exact rank formula "
    "G = (2·Σ i·c_i − (V+1)·N) / (V·N) over count-ascending ranks — "
    "0 = uniform vocabulary, →1 = a few tokens dominate (the "
    "boilerplate-corpus smell Zipf's slope shows differently). "
    "Integer arithmetic until the final division.",
    tags=("documents", "vocab", "stats"),
)
def q_vocab_gini(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = table(spark, sf_dir, "documents")
    counts = (
        docs.select(
            F.explode(F.filter(tokens(F.col("text")), lambda t: t != "")).alias(
                "tok"
            )
        )
        .groupBy("tok")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    from flink_application_spark.operators.ranks import global_row_number

    # Gini needs EVERY rank (Σ i·c_i) — two-phase distributed rank
    # instead of a single-task global window (vocab is ~1e8 terms at
    # 100 TB); i values are identical, so the oracle hash is unchanged
    ranked = global_row_number(
        counts, [F.col("c").asc(), F.col("tok").asc()], "i"
    )
    tot = counts.agg(
        F.count(F.lit(1)).alias("v"), F.sum("c").cast("bigint").alias("n")
    )
    return (
        ranked.crossJoin(F.broadcast(tot))
        .groupBy("v", "n")
        .agg(F.sum(F.col("i") * F.col("c")).alias("s"))
        .select(
            F.col("v").cast("bigint").alias("vocab_size"),
            F.col("n").alias("total_tokens"),
            F.round(
                (2 * F.col("s") - (F.col("v") + 1) * F.col("n")).cast("double")
                / (F.col("v") * F.col("n")),
                6,
            ).alias("gini"),
        )
    )


@register(
    "doc_signal_correlations",
    """
WITH sig AS (
  SELECT n_chars,
         CAST(len(toks) AS BIGINT) AS n_tok,
         CAST(len(list_distinct(toks)) AS DOUBLE) / len(toks) AS ttr,
         CAST(list_sum(list_transform(toks, t -> length(t))) AS DOUBLE)
           / len(toks) AS mean_tok_len
  FROM (
    SELECT n_chars,
           list_filter(regexp_split_to_array(lower(trim(text)), '\\s+'),
                       w -> w <> '') AS toks
    FROM documents
  )
  WHERE len(toks) >= 1
)
SELECT round(corr(n_chars, n_tok), 6) AS r_chars_tok,
       round(corr(n_chars, ttr), 6) AS r_chars_ttr,
       round(corr(n_chars, mean_tok_len), 6) AS r_chars_mtl,
       round(corr(n_tok, ttr), 6) AS r_tok_ttr,
       round(corr(n_tok, mean_tok_len), 6) AS r_tok_mtl,
       round(corr(ttr, mean_tok_len), 6) AS r_ttr_mtl,
       CAST(count(*) AS BIGINT) AS n_docs
FROM sig
""",
    doc="Quality-signal correlation panel: pairwise Pearson r across "
    "the cheap per-doc signals (chars, tokens, type-token ratio, mean "
    "token length). The redundancy check you run BEFORE putting "
    "signals in a quality classifier or stratifier — a |r| ≈ 1 pair "
    "is one feature, not two. One scan computes all signals, one "
    "partial-agg pass computes every corr (Spark's corr is a single "
    "combinable moment aggregate — no per-pair passes).",
    tags=("documents", "quality", "stats"),
)
def q_doc_signal_correlations(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = table(spark, sf_dir, "documents")
    sig = (
        docs.select(
            "n_chars",
            F.filter(tokens(F.col("text")), lambda t: t != "").alias("toks"),
        )
        .filter(F.size("toks") >= 1)
        .select(
            "n_chars",
            F.size("toks").cast("bigint").alias("n_tok"),
            (
                F.size(F.array_distinct("toks")).cast("double") / F.size("toks")
            ).alias("ttr"),
            (
                F.aggregate(
                    "toks", F.lit(0).cast("bigint"), lambda acc, t: acc + F.length(t)
                ).cast("double")
                / F.size("toks")
            ).alias("mean_tok_len"),
        )
    )
    return sig.agg(
        F.round(F.corr("n_chars", "n_tok"), 6).alias("r_chars_tok"),
        F.round(F.corr("n_chars", "ttr"), 6).alias("r_chars_ttr"),
        F.round(F.corr("n_chars", "mean_tok_len"), 6).alias("r_chars_mtl"),
        F.round(F.corr("n_tok", "ttr"), 6).alias("r_tok_ttr"),
        F.round(F.corr("n_tok", "mean_tok_len"), 6).alias("r_tok_mtl"),
        F.round(F.corr("ttr", "mean_tok_len"), 6).alias("r_ttr_mtl"),
        F.count(F.lit(1)).alias("n_docs"),
    )
