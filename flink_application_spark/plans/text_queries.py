"""Text-analysis queries over the `documents` table: token stats,
quality scoring, language ID, fingerprinting. All scan-local Catalyst
expressions."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from flink_application_spark.catalog import table
from flink_application_spark.functions.text import (
    EN_STOPWORDS,
    LANG_MARKERS,
    avg_token_len,
    distinct_token_count,
    fingerprint,
    lang_scores,
    punct_ratio,
    quality_score,
    stopword_ratio,
    token_count,
)
from flink_application_spark.plans.registry import register


_TOKS = "regexp_split_to_array(lower(trim(text)), '\\s+')"


def _in_list(words: list[str]) -> str:
    return ", ".join("'" + w + "'" for w in words)


# The quality composite shared by doc_quality_scores and the Wilson
# gate — ONE spelling, so the gate can never de-sync from the
# published scores.
_QUALITY_SQL = (
    "round(0.3 * least(length(text) * 1.0 / 500.0, 1.0)"
    f" + 0.4 * round(len(list_filter({_TOKS}, t -> t IN ({{stop}}))) * 1.0"
    " / greatest(len(" + _TOKS + "), 1), 6)"
    " + 0.3 * (1.0 - round(length(regexp_replace(text, '[^.!?,;:]', '', 'g'))"
    " * 1.0 / greatest(length(text), 1), 6)), 6)"
).format(stop=_in_list(EN_STOPWORDS))


@register(
    "doc_token_stats",
    f"""
SELECT doc_id,
       length(text) AS n_chars_actual,
       len({_TOKS}) AS n_tokens,
       len(list_distinct({_TOKS})) AS n_distinct_tokens,
       round(list_sum(list_transform({_TOKS}, t -> length(t))) * 1.0
             / len({_TOKS}), 4) AS avg_token_len,
       md5(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g')) AS fingerprint
FROM documents
""",
    doc="Token counting + document fingerprint (whitespace tokenizer; "
    "BPE-ish subword counting is doc_subword_count).",
    tags=("text", "documents"),
)
def q_token_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = table(spark, sf_dir, "documents")
    t = F.col("text")
    return docs.select(
        "doc_id",
        F.length(t).alias("n_chars_actual"),
        token_count(t).alias("n_tokens"),
        distinct_token_count(t).alias("n_distinct_tokens"),
        avg_token_len(t).alias("avg_token_len"),
        fingerprint(t).alias("fingerprint"),
    )


@register(
    "doc_subword_count",
    f"""
SELECT doc_id,
       len(regexp_extract_all(lower(text),
           '[a-z]+|[0-9]+|[^a-z0-9\\s]')) AS n_subword_ish,
       len(list_filter(regexp_extract_all(lower(text), '[a-z]+'),
           w -> length(w) > 4)) AS n_long_words
FROM documents
""",
    doc="BPE-ish token counting: regex pre-tokenizer (letter runs / "
    "digit runs / single symbols — the GPT-2 pre-tokenizer shape) "
    "without a learned merge table.",
    tags=("text", "documents"),
)
def q_subword_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = table(spark, sf_dir, "documents")
    low = F.lower(F.col("text"))
    subs = F.regexp_extract_all(low, F.lit(r"[a-z]+|[0-9]+|[^a-z0-9\s]"), 0)
    words = F.regexp_extract_all(low, F.lit(r"[a-z]+"), 0)
    return docs.select(
        "doc_id",
        F.size(subs).alias("n_subword_ish"),
        F.size(F.filter(words, lambda w: F.length(w) > 4)).alias("n_long_words"),
    )


@register(
    "doc_quality_scores",
    f"""
SELECT doc_id, lang,
       round(length(regexp_replace(text, '[^.!?,;:]', '', 'g')) * 1.0
             / greatest(length(text), 1), 6) AS punct_ratio,
       round(len(list_filter({_TOKS}, t -> t IN ({_in_list(EN_STOPWORDS)}))) * 1.0
             / greatest(len({_TOKS}), 1), 6) AS stopword_ratio,
       {_QUALITY_SQL} AS quality
FROM documents
""",
    doc="Quality scoring: length saturation + stopword ratio + "
    "punctuation density composite (Gopher/C4-style signals).",
    tags=("text", "quality"),
)
def q_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = table(spark, sf_dir, "documents")
    t = F.col("text")
    return docs.select(
        "doc_id",
        "lang",
        punct_ratio(t).alias("punct_ratio"),
        stopword_ratio(t).alias("stopword_ratio"),
        quality_score(t).alias("quality"),
    )


@register(
    "doc_quality_threshold_sweep",
    f"""
WITH scored AS (
  SELECT {_QUALITY_SQL} AS q, length(text) AS nc FROM documents
)
SELECT t10,
       CAST(sum(CASE WHEN q >= t10 / 10.0 THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
       CAST(sum(CASE WHEN q >= t10 / 10.0 THEN 1 ELSE 0 END) AS BIGINT)
         * 1000000 // CAST(count(*) AS BIGINT) AS kept_ppm,
       CAST(sum(CASE WHEN q >= t10 / 10.0 THEN nc ELSE 0 END) AS BIGINT)
         AS kept_chars
FROM scored, (SELECT unnest(generate_series(0, 9)) AS t10) thresholds
GROUP BY t10
""",
    doc="Curation yield curve: documents and characters surviving the "
    "quality gate at every threshold 0.0..0.9 — the number a pipeline "
    "reads BEFORE picking its gate (a threshold that throws away 80% "
    "of tokens is a budget decision, not a default). Shares "
    "_QUALITY_SQL with doc_quality_scores so the sweep can never "
    "de-sync from the published scores; one scan, the 10 thresholds "
    "ride a per-row explode (no join), integer ppm both engines.",
    tags=("text", "quality", "curation"),
)
def q_quality_threshold_sweep(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = table(spark, sf_dir, "documents")
    # exchange barrier: the quality HOF fold is referenced by three
    # aggregates downstream of the explode — behind the repartition it
    # is ONE evaluation per doc, not 3×10 (attributes cross exchanges,
    # expressions do not; same trick as minhash.with_shingles)
    scored = docs.select(
        quality_score(F.col("text")).alias("q"),
        F.length("text").alias("nc"),
    ).repartition(docs.sparkSession.sparkContext.defaultParallelism)
    sweep = scored.select(
        "q", "nc", F.explode(F.sequence(F.lit(0), F.lit(9))).alias("t10")
    )
    kept = "CASE WHEN q >= t10 / 10.0 THEN {v} ELSE 0 END"
    return sweep.groupBy("t10").agg(
        F.expr(f"CAST(sum({kept.format(v='1')}) AS BIGINT)").alias("n_kept"),
        F.expr(
            f"CAST(sum({kept.format(v='1')}) AS BIGINT) * 1000000L div count(*)"
        ).alias("kept_ppm"),
        F.expr(f"CAST(sum({kept.format(v='nc')}) AS BIGINT)").alias("kept_chars"),
    )


def _lang_id_oracle() -> str:
    score_cols = ",\n       ".join(
        f"len(list_filter({_TOKS}, t -> t IN ({_in_list(words)}))) AS score_{lang}"
        for lang, words in LANG_MARKERS.items()
    )
    langs = list(LANG_MARKERS)
    max_expr = "greatest(" + ", ".join(f"score_{la}" for la in langs) + ")"
    case = " ".join(
        f"WHEN score_{la} = {max_expr} THEN '{la}'" for la in sorted(langs)
    )
    return f"""
WITH scored AS (
  SELECT doc_id, lang AS lang_label,
       {score_cols}
  FROM documents
)
SELECT doc_id, lang_label, score_en, score_de, score_fr, score_es, score_zh,
       CASE {case} END AS lang_predicted
FROM scored
"""


@register(
    "doc_lang_id",
    _lang_id_oracle(),
    doc="Language ID heuristic: function-word marker hit counts per "
    "language, arg-max with alphabetical tie-break. (The synthetic "
    "corpus is English-ish word salad, so the value is the "
    "deterministic scoring pipeline, not label recovery.)",
    tags=("text", "langid"),
)
def q_lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = table(spark, sf_dir, "documents")
    scores = lang_scores(F.col("text"), LANG_MARKERS)
    out = docs.select(
        "doc_id",
        F.col("lang").alias("lang_label"),
        *[c.alias(f"score_{la}") for la, c in scores.items()],
    )
    max_score = F.greatest(*[F.col(f"score_{la}") for la in LANG_MARKERS])
    expr = None
    for la in sorted(LANG_MARKERS):
        cond = F.col(f"score_{la}") == max_score
        expr = F.when(cond, la) if expr is None else expr.when(cond, la)
    return out.withColumn("lang_predicted", expr)


@register(
    "doc_rolling_hash",
    """
SELECT doc_id,
       list_reduce(
         list_prepend(CAST(0 AS BIGINT),
                      list_transform(string_split(text, ''), c -> CAST(ascii(c) AS BIGINT))),
         (acc, c) -> (acc * 31 + c) % 1000000007
       ) AS rolling_hash,
       length(text) AS n_chars_actual
FROM documents
""",
    doc="Polynomial rolling-hash document fingerprint: "
    "h = fold(h*31 + byte mod 1e9+7) over the text — the "
    "Rabin-Karp-style content hash; one fold per row, scan-local, "
    "identical arithmetic on both engines (products stay < 2^63).",
    tags=("text", "fingerprint", "documents"),
)
def q_rolling_hash(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = table(spark, sf_dir, "documents")
    codes = F.transform(F.split(F.col("text"), ""), lambda c: F.ascii(c).cast("bigint"))
    h = F.aggregate(
        codes,
        F.lit(0).cast("bigint"),
        lambda acc, c: (acc * 31 + c) % 1000000007,
    )
    return docs.select(
        "doc_id",
        h.alias("rolling_hash"),
        F.length("text").alias("n_chars_actual"),
    )


@register(
    "doc_top_vocab",
    """
SELECT token, n_docs, n_occurrences FROM (
  SELECT token,
         count(DISTINCT doc_id) AS n_docs,
         count(*) AS n_occurrences,
         row_number() OVER (ORDER BY count(*) DESC, token ASC) AS rn
  FROM (
    SELECT doc_id, unnest(regexp_split_to_array(lower(trim(text)), '\\s+')) AS token
    FROM documents
  )
  WHERE token <> ''
  GROUP BY token
)
WHERE rn <= 50
""",
    doc="Vocabulary building: explode tokens, global term stats, top-50 "
    "by frequency — the corpus-statistics pass of a tokenizer-training "
    "pipeline. One explode + one shuffle on token.",
    tags=("text", "vocab", "documents"),
)
def q_top_vocab(spark: SparkSession, sf_dir: str) -> DataFrame:
    from flink_application_spark.functions.text import tokens
    from pyspark.sql import Window

    docs = table(spark, sf_dir, "documents")
    tok = docs.select(
        "doc_id", F.explode(tokens(F.col("text"))).alias("token")
    ).filter(F.col("token") != "")
    stats = tok.groupBy("token").agg(
        F.countDistinct("doc_id").alias("n_docs"),
        F.count(F.lit(1)).alias("n_occurrences"),
    )
    # TakeOrdered, not a global window: at 100 TB the vocab is ~1e8
    # terms and row_number() OVER (ORDER BY ...) sorts them in ONE
    # task; orderBy+limit is a distributed top-k (per-partition heaps,
    # driver merge of 50-row candidates). Same rows — the orderBy
    # carries the identical total order incl. tie-break.
    return (
        stats.orderBy(F.col("n_occurrences").desc(), F.col("token").asc())
        .limit(50)
        .select("token", "n_docs", "n_occurrences")
    )


@register(
    "doc_tfidf_topk",
    """
WITH tok AS (
  SELECT doc_id, unnest(regexp_split_to_array(lower(trim(text)), '\\s+')) AS token
  FROM documents
),
tf AS (
  SELECT doc_id, token, count(*) AS tf
  FROM tok WHERE token <> ''
  GROUP BY doc_id, token
),
df AS (
  SELECT token, count(*) AS df FROM tf GROUP BY token
),
n AS (SELECT count(*) AS n FROM documents)
SELECT doc_id, token, tf, df, score FROM (
  SELECT tf.doc_id AS doc_id, tf.token AS token, tf.tf AS tf, df.df AS df,
         tf.tf * (n.n * 1000000 // df.df) AS score,
         row_number() OVER (
           PARTITION BY tf.doc_id
           ORDER BY tf.tf * (n.n * 1000000 // df.df) DESC, tf.token ASC
         ) AS rn
  FROM tf JOIN df USING (token) CROSS JOIN n
)
WHERE rn <= 5
""",
    doc="TF-IDF top-5 terms per document with an integer IDF ratio "
    "(N*1e6 div df — log-free so both engines agree bit-exactly; same "
    "ranking monotonicity). Shape: scan-local explode → (doc,term) "
    "partial-agg shuffle → vocab-keyed df agg reusing tf's token "
    "partitioning → broadcast 1-row N → per-doc window rank. The df "
    "side joins on the same token key tf is already hashed by, so the "
    "join adds no extra exchange of the big side.",
    tags=("text", "tfidf", "documents"),
)
def q_tfidf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window
    from flink_application_spark.functions.text import tokens

    docs = table(spark, sf_dir, "documents")
    tok = docs.select(
        "doc_id", F.explode(tokens(F.col("text"))).alias("token")
    ).filter(F.col("token") != "")
    tf = tok.groupBy("doc_id", "token").agg(F.count(F.lit(1)).alias("tf"))
    df = tf.groupBy("token").agg(F.count(F.lit(1)).alias("df"))
    n = docs.agg(F.count(F.lit(1)).alias("n"))
    scored = (
        tf.join(df, "token")
        .join(F.broadcast(n))
        .withColumn("score", F.expr("tf * (n * 1000000 div df)"))
    )
    w = Window.partitionBy("doc_id").orderBy(
        F.col("score").desc(), F.col("token").asc()
    )
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 5)
        .select("doc_id", "token", "tf", "df", "score")
    )


@register(
    "doc_systematic_sample",
    """
SELECT doc_id, lang, source, n_chars
FROM documents
WHERE substr(md5(CAST(doc_id AS VARCHAR)), 1, 1) IN ('0', '1')
""",
    doc="Deterministic 2/16 systematic sample keyed on md5(doc_id) — "
    "the reproducible sampling a training pipeline needs (same subset "
    "on every run/engine, no RNG state; engine-native hash functions "
    "differ, md5 doesn't). Scan-local predicate, no shuffle; at 100 TB "
    "the sample rate tunes by hex-prefix width (1 digit = 1/16 steps, "
    "2 digits = 1/256).",
    tags=("text", "sampling", "documents"),
)
def q_systematic_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = table(spark, sf_dir, "documents")
    return docs.filter(
        F.substring(F.md5(F.col("doc_id").cast("string")), 1, 1).isin("0", "1")
    ).select("doc_id", "lang", "source", "n_chars")


@register(
    "doc_chunk_sliding_window",
    """
WITH toks AS (
  SELECT doc_id, regexp_split_to_array(lower(trim(text)), '\\s+') AS t
  FROM documents
),
chunks AS (
  SELECT doc_id, t,
         unnest(generate_series(0, CAST(ceil(len(t) / 25.0) AS INTEGER) - 1)) AS chunk_idx
  FROM toks
  WHERE len(t) > 0
)
SELECT doc_id,
       CAST(chunk_idx AS INTEGER) AS chunk_idx,
       CAST(chunk_idx * 25 AS INTEGER) AS chunk_start,
       CAST(least(50, len(t) - chunk_idx * 25) AS INTEGER) AS n_chunk_tokens,
       md5(array_to_string(t[chunk_idx * 25 + 1 : chunk_idx * 25 + least(50, len(t) - chunk_idx * 25)], ' ')) AS chunk_hash
FROM chunks
WHERE chunk_idx * 25 < len(t)
""",
    doc="Sliding-window chunking: 50-token windows at stride 25 (50% "
    "overlap), one row per chunk with its md5 — the tokenize-and-chunk "
    "pass of training-data prep. Scan-local explode (no shuffle); "
    "chunk text hashed rather than materialized so output width stays "
    "bounded — at 100 TB the chunk body is re-derivable from "
    "(doc_id, start, len) and never needs to be stored twice.",
    tags=("text", "chunking", "documents"),
)
def q_chunk_sliding(spark: SparkSession, sf_dir: str) -> DataFrame:
    from flink_application_spark.functions.text import tokens

    docs = table(spark, sf_dir, "documents")
    toks = tokens(F.col("text"))
    n = F.size("t")
    n_chunks = F.ceil(n / F.lit(25.0)).cast("int")
    base = docs.select("doc_id", toks.alias("t")).filter(F.size("t") > 0)
    chunked = base.select(
        "doc_id",
        "t",
        F.explode(F.sequence(F.lit(0), n_chunks - 1)).alias("chunk_idx"),
    ).filter(F.col("chunk_idx") * 25 < F.size("t"))
    start = F.col("chunk_idx") * 25
    clen = F.least(F.lit(50), F.size("t") - start)
    return chunked.select(
        "doc_id",
        F.col("chunk_idx").cast("int").alias("chunk_idx"),
        start.cast("int").alias("chunk_start"),
        clen.cast("int").alias("n_chunk_tokens"),
        F.md5(F.concat_ws(" ", F.slice(F.col("t"), start + 1, clen))).alias("chunk_hash"),
    )


@register(
    "doc_bigram_collocations",
    """
WITH toks AS (
  SELECT doc_id, regexp_split_to_array(lower(trim(text)), '\\s+') AS t
  FROM documents
),
bigrams AS (
  SELECT w1, w2, count(*) AS n_pair
  FROM (
    SELECT t[i] AS w1, t[i + 1] AS w2
    FROM toks, LATERAL unnest(generate_series(1, len(t) - 1)) AS u(i)
    WHERE len(t) >= 2
  )
  WHERE w1 <> '' AND w2 <> ''
  GROUP BY w1, w2
),
unigrams AS (
  SELECT w, count(*) AS n_uni
  FROM (
    SELECT unnest(regexp_split_to_array(lower(trim(text)), '\\s+')) AS w
    FROM documents
  )
  WHERE w <> ''
  GROUP BY w
)
SELECT w1, w2, n_pair,
       CAST(n_pair * 1000000 AS BIGINT) // (u1.n_uni * u2.n_uni) AS assoc_score
FROM bigrams b
JOIN unigrams u1 ON u1.w = b.w1
JOIN unigrams u2 ON u2.w = b.w2
WHERE n_pair >= 5
ORDER BY assoc_score DESC, w1, w2
LIMIT 50
""",
    doc="Bigram collocation mining: adjacent-pair counts vs unigram "
    "counts, integer association score n(w1,w2)*1e6 div (n(w1)*n(w2)) "
    "(PMI's monotone core without the log — cross-engine exact). "
    "Scan-local bigram explode, two token-keyed aggregates, unigram "
    "join reuses the token hash partitioning; top-50 with full "
    "tie-break.",
    tags=("text", "collocations", "documents"),
)
def q_bigram_collocations(spark: SparkSession, sf_dir: str) -> DataFrame:
    from flink_application_spark.functions.text import tokens

    docs = table(spark, sf_dir, "documents")
    t = tokens(F.col("text"))
    base = docs.select("doc_id", t.alias("t")).filter(F.size("t") >= 2)
    pairs = base.select(
        F.explode(
            F.zip_with(
                F.slice(F.col("t"), 1, F.size("t") - 1),
                F.slice(F.col("t"), 2, F.size("t") - 1),
                lambda a, b: F.struct(a.alias("w1"), b.alias("w2")),
            )
        ).alias("p")
    ).select("p.w1", "p.w2").filter((F.col("w1") != "") & (F.col("w2") != ""))
    bigrams = pairs.groupBy("w1", "w2").agg(F.count(F.lit(1)).alias("n_pair"))
    unigrams = (
        docs.select(F.explode(t).alias("w"))
        .filter(F.col("w") != "")
        .groupBy("w")
        .agg(F.count(F.lit(1)).alias("n_uni"))
    )
    u1 = unigrams.select(F.col("w").alias("_w1"), F.col("n_uni").alias("_n1"))
    u2 = unigrams.select(F.col("w").alias("_w2"), F.col("n_uni").alias("_n2"))
    return (
        bigrams.filter(F.col("n_pair") >= 5)
        .join(u1, F.col("w1") == F.col("_w1"))
        .join(u2, F.col("w2") == F.col("_w2"))
        .select(
            "w1",
            "w2",
            "n_pair",
            F.expr("CAST(n_pair * 1000000 AS BIGINT) div (_n1 * _n2)").alias("assoc_score"),
        )
        .orderBy(F.col("assoc_score").desc(), F.col("w1").asc(), F.col("w2").asc())
        .limit(50)
    )


@register(
    "doc_length_percentile_filter",
    """
WITH ranked AS (
  SELECT doc_id, lang,
         len(regexp_split_to_array(lower(trim(text)), '\\s+')) AS n_tok,
         row_number() OVER (PARTITION BY lang
                            ORDER BY len(regexp_split_to_array(lower(trim(text)), '\\s+')),
                                     doc_id) AS rn,
         count(*) OVER (PARTITION BY lang) AS n
  FROM documents
)
SELECT lang,
       max(n) AS n_total,
       count(*) FILTER (WHERE rn > floor(0.05 * n) AND rn <= ceil(0.95 * n))
         AS n_kept,
       min(n_tok) FILTER (WHERE rn > floor(0.05 * n) AND rn <= ceil(0.95 * n))
         AS min_tok_kept,
       max(n_tok) FILTER (WHERE rn > floor(0.05 * n) AND rn <= ceil(0.95 * n))
         AS max_tok_kept
FROM ranked
GROUP BY lang
""",
    doc="Length-based quality trim: per language, drop documents below "
    "the 5th / above the 95th token-count percentile — computed "
    "EXACTLY via rank arithmetic (rn > floor(0.05n), rn <= "
    "ceil(0.95n)) rather than an approximate quantile sketch, so the "
    "kept-set is integer-reproducible across engines. One shuffle on "
    "lang; the per-lang sort is the cost — at 100 TB swap in "
    "percentile_approx to pick thresholds and keep the filter "
    "scan-local (documented trade: approx thresholds, exact filter).",
    tags=("text", "quality", "documents"),
)
def q_length_percentile_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    from flink_application_spark.functions.text import token_count
    from pyspark.sql.window import Window

    docs = table(spark, sf_dir, "documents")
    base = docs.select(
        "doc_id", "lang", token_count(F.col("text")).cast("bigint").alias("n_tok")
    )
    w = Window.partitionBy("lang").orderBy("n_tok", "doc_id")
    wc = Window.partitionBy("lang")
    ranked = base.select(
        "lang",
        "n_tok",
        F.row_number().over(w).cast("bigint").alias("rn"),
        F.count(F.lit(1)).over(wc).alias("n"),
    )
    kept = (F.col("rn") > F.floor(0.05 * F.col("n"))) & (
        F.col("rn") <= F.ceil(0.95 * F.col("n"))
    )
    return ranked.groupBy("lang").agg(
        F.max("n").alias("n_total"),
        F.count(F.when(kept, 1)).alias("n_kept"),
        F.min(F.when(kept, F.col("n_tok"))).alias("min_tok_kept"),
        F.max(F.when(kept, F.col("n_tok"))).alias("max_tok_kept"),
    )


@register(
    "vocab_zipf_slope",
    """
WITH counts AS (
  SELECT w, count(*) AS n
  FROM (
    SELECT unnest(regexp_split_to_array(lower(trim(text)), '\\s+')) AS w
    FROM documents
  )
  WHERE w <> ''
  GROUP BY w
),
ranked AS (
  SELECT n, row_number() OVER (ORDER BY n DESC, w) AS rank
  FROM counts
)
SELECT round(regr_slope(ln(CAST(n AS DOUBLE)), ln(CAST(rank AS DOUBLE))), 4) + 0.0
         AS zipf_slope,
       round(regr_r2(ln(CAST(n AS DOUBLE)), ln(CAST(rank AS DOUBLE))), 4) + 0.0
         AS r2,
       count(*) AS n_types
FROM ranked
WHERE rank <= 500
""",
    doc="Zipf's-law fit over the vocabulary: OLS slope of log-frequency "
    "vs log-rank for the top-500 types (natural language ~ -1; "
    "synthetic/low-quality corpora drift off — a corpus-health "
    "metric). Token counting shuffles once on the token; the "
    "regression runs over 500 aggregated rows. The global "
    "row_number is windowed over the aggregated vocabulary, not the "
    "corpus.",
    tags=("text", "zipf", "documents"),
)
def q_vocab_zipf_slope(spark: SparkSession, sf_dir: str) -> DataFrame:
    from flink_application_spark.functions.text import tokens
    from pyspark.sql.window import Window

    docs = table(spark, sf_dir, "documents")
    counts = (
        docs.select(F.explode(tokens(F.col("text"))).alias("w"))
        .filter(F.col("w") != "")
        .groupBy("w")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    # top-500 FIRST via orderBy+limit (TakeOrderedAndProject — each
    # partition keeps its local top-500, driver merges), THEN the
    # global row_number windows over only 500 rows. A bare global
    # row_number would single-partition the whole vocabulary.
    top = counts.orderBy(F.desc("n"), F.asc("w")).limit(500)
    ranked = top.select(
        "n",
        F.row_number()
        .over(Window.partitionBy().orderBy(F.desc("n"), F.asc("w")))
        .cast("bigint")
        .alias("rank"),
    )
    ln_n = F.log(F.col("n").cast("double"))
    ln_r = F.log(F.col("rank").cast("double"))
    return ranked.agg(
        (F.round(F.regr_slope(ln_n, ln_r), 4) + F.lit(0.0)).alias("zipf_slope"),
        (F.round(F.regr_r2(ln_n, ln_r), 4) + F.lit(0.0)).alias("r2"),
        F.count(F.lit(1)).alias("n_types"),
    )


@register(
    "doc_decontaminate_vs_eval",
    """
WITH toks AS (
  SELECT doc_id, text, regexp_split_to_array(lower(trim(text)), '\\s+') AS t
  FROM documents
),
grams AS (
  SELECT doc_id, list_distinct(CASE WHEN len(t) >= 5
    THEN list_transform(generate_series(1, len(t) - 4),
         i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2] || ' ' || t[i+3] || ' ' || t[i+4])
    ELSE [lower(trim(text))] END) AS g
  FROM toks
),
eval_grams AS (
  SELECT DISTINCT unnest(g) AS gram FROM grams WHERE doc_id % 50 = 0
),
corpus AS (
  SELECT doc_id, unnest(g) AS gram FROM grams WHERE doc_id % 50 <> 0
)
SELECT c.doc_id,
       CAST(count(*) AS BIGINT) AS n_ngrams,
       CAST(sum(CASE WHEN e.gram IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_contaminated,
       CAST(max(CASE WHEN e.gram IS NOT NULL THEN 1 ELSE 0 END) AS INTEGER) AS is_contaminated
FROM corpus c LEFT JOIN eval_grams e ON c.gram = e.gram
GROUP BY c.doc_id
""",
    doc="Benchmark decontamination: flag training docs sharing any "
    "distinct word-5-gram with a held-out eval set (docs with "
    "doc_id%50=0 stand in for the benchmark). Per surviving doc: "
    "total 5-grams, contaminated 5-grams, and a 0/1 flag — the "
    "standard pre-training contamination sweep (cf. GPT-3/PaLM "
    "13-gram decontamination, shortened to 5-grams for the synthetic "
    "short docs). Scale shape: the eval n-gram set is tiny and "
    "BROADCAST, so the corpus side never shuffles — the sweep runs "
    "at scan speed over 100 TB; per-doc aggregation shuffles only "
    "(doc_id, hit) pairs.",
    tags=("text", "decontamination", "documents"),
)
def q_decontaminate_vs_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    from flink_application_spark.catalog import fan_out
    from flink_application_spark.functions.text import word_ngrams

    docs = table(spark, sf_dir, "documents")
    # the 5-gram HOF is the whole cost: spread the one-row-group scan,
    # and persist — BOTH the eval side and the corpus side read `grams`
    # (unpersisted, the interpreted transform ran twice)
    grams = fan_out(docs).select(
        "doc_id", F.array_distinct(word_ngrams(F.col("text"), 5)).alias("g")
    ).persist()
    eval_g = (
        grams.filter(F.col("doc_id") % 50 == 0)
        .select(F.explode("g").alias("gram"))
        .distinct()
        .withColumn("hit", F.lit(1))
    )
    corpus = grams.filter(F.col("doc_id") % 50 != 0).select(
        "doc_id", F.explode("g").alias("gram")
    )
    return (
        corpus.join(F.broadcast(eval_g), "gram", "left")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_ngrams"),
            F.sum(F.coalesce(F.col("hit"), F.lit(0))).cast("bigint").alias("n_contaminated"),
            F.max(F.coalesce(F.col("hit"), F.lit(0))).cast("int").alias("is_contaminated"),
        )
    )


@register(
    "doc_gopher_repetition",
    """
WITH toks AS (
  SELECT doc_id, regexp_split_to_array(lower(trim(text)), '\\s+') AS t
  FROM documents
),
unic AS (
  SELECT doc_id, w, count(*) AS c
  FROM (SELECT doc_id, unnest(t) AS w FROM toks)
  GROUP BY doc_id, w
),
uni AS (
  SELECT doc_id, CAST(sum(c) AS BIGINT) AS n_tok,
         CAST(count(*) AS BIGINT) AS n_distinct_tok,
         CAST(max(c) AS BIGINT) AS top_unigram_count
  FROM unic GROUP BY doc_id
),
big AS (
  SELECT doc_id, t[i] || ' ' || t[i+1] AS bg
  FROM toks, LATERAL unnest(generate_series(1, len(t) - 1)) AS u(i)
  WHERE len(t) >= 2
),
bigc AS (SELECT doc_id, bg, count(*) AS c FROM big GROUP BY doc_id, bg),
bigs AS (
  SELECT doc_id, CAST(sum(c) AS BIGINT) AS n_bigrams,
         CAST(count(*) AS BIGINT) AS n_distinct_bigrams,
         CAST(max(c) AS BIGINT) AS top_bigram_count
  FROM bigc GROUP BY doc_id
)
SELECT u.doc_id, n_tok, n_distinct_tok, top_unigram_count,
       COALESCE(n_bigrams, 0) AS n_bigrams,
       COALESCE(n_distinct_bigrams, 0) AS n_distinct_bigrams,
       COALESCE(top_bigram_count, 0) AS top_bigram_count,
       round((n_tok - n_distinct_tok) * 1.0 / n_tok, 6) AS dup_token_frac
FROM uni u LEFT JOIN bigs b USING (doc_id)
""",
    doc="Gopher-style repetition filters: per doc, unigram/bigram "
    "totals, distinct counts, and the count of the most-repeated "
    "unigram/bigram, plus the duplicate-token fraction — the "
    "repetition family of quality rules from the Gopher/MassiveText "
    "pipeline. Implementation is SCAN-LOCAL: tokens are array_sort-ed "
    "per row and the top count is a max-run-length fold (higher-order "
    "aggregate), so no token-level explode+shuffle ever happens — at "
    "100 TB this runs at parquet-scan speed with one output row per "
    "doc, vs a |tokens|-row shuffle for the naive groupBy "
    "formulation (the oracle's shape).",
    tags=("text", "quality", "gopher", "documents"),
)
def q_gopher_repetition(spark: SparkSession, sf_dir: str) -> DataFrame:
    from flink_application_spark.functions.text import tokens

    def max_run(arr: F.Column) -> F.Column:
        acc0 = F.struct(
            F.lit("").alias("prev"),
            F.lit(0).cast("bigint").alias("run"),
            F.lit(0).cast("bigint").alias("best"),
        )

        def step(acc: F.Column, t: F.Column) -> F.Column:
            newrun = F.when(t == acc["prev"], acc["run"] + 1).otherwise(
                F.lit(1).cast("bigint")
            )
            return F.struct(
                t.alias("prev"),
                newrun.alias("run"),
                F.greatest(acc["best"], newrun).alias("best"),
            )

        return F.aggregate(F.array_sort(arr), acc0, step, lambda a: a["best"])

    docs = table(spark, sf_dir, "documents")
    toks = tokens(F.col("text"))
    n = F.size(toks)
    empty = F.array().cast("array<string>")
    bi = F.when(
        n >= 2,
        F.zip_with(
            F.slice(toks, F.lit(1), n - 1),
            F.slice(toks, F.lit(2), n - 1),
            lambda a, b: F.concat(a, F.lit(" "), b),
        ),
    ).otherwise(empty)
    d = docs.select("doc_id", toks.alias("t"), bi.alias("bg"))
    n_tok = F.size("t").cast("bigint")
    n_distinct = F.size(F.array_distinct("t")).cast("bigint")
    return d.select(
        "doc_id",
        n_tok.alias("n_tok"),
        n_distinct.alias("n_distinct_tok"),
        max_run(F.col("t")).alias("top_unigram_count"),
        F.size("bg").cast("bigint").alias("n_bigrams"),
        F.size(F.array_distinct("bg")).cast("bigint").alias("n_distinct_bigrams"),
        F.coalesce(max_run(F.col("bg")), F.lit(0).cast("bigint")).alias(
            "top_bigram_count"
        ),
        F.round((n_tok - n_distinct).cast("double") / n_tok, 6).alias(
            "dup_token_frac"
        ),
    )

_BM25_TERMS = ["spark", "join", "window"]


@register(
    "doc_bm25_search",
    f"""
WITH tok AS (
  SELECT doc_id, unnest(regexp_split_to_array(lower(trim(text)), '\\s+')) AS token
  FROM documents
),
dl AS (
  SELECT doc_id, count(*) AS dl FROM tok WHERE token <> '' GROUP BY doc_id
),
stats AS (
  SELECT count(*) AS n, sum(dl) * 1.0 / count(*) AS avgdl FROM dl
),
tf AS (
  SELECT doc_id, token, count(*) AS tf
  FROM tok WHERE token IN ({", ".join("'" + t + "'" for t in _BM25_TERMS)})
  GROUP BY doc_id, token
),
dft AS (
  SELECT token, count(*) AS df FROM tf GROUP BY token
),
scored AS (
  SELECT tf.doc_id AS doc_id,
         count(*) AS n_terms_matched,
         round(sum( ((n - df + 0.5) / (df + 0.5))
                    * (tf * 2.2) / (tf + 0.3 + 0.9 * dl / avgdl) ), 4) AS bm25
  FROM tf JOIN dft USING (token) JOIN dl USING (doc_id) CROSS JOIN stats
  GROUP BY tf.doc_id
)
SELECT doc_id, n_terms_matched, bm25,
       row_number() OVER (ORDER BY bm25 DESC, doc_id) AS rank
FROM (SELECT * FROM scored ORDER BY bm25 DESC, doc_id LIMIT 20)
""",
    doc="BM25 top-20 ranking for a fixed 3-term query (k1=1.2, b=0.75; "
    "k1*(1-b)=0.3, k1*b=0.9 folded). The idf is the rational Robertson "
    "ratio WITHOUT the log — same ranking monotonicity, but every "
    "intermediate derives from exact integer counts so both engines "
    "compute bit-identical doubles (the repo-wide log-free discipline). "
    "Shape (optimization round 11 — guide §2.3/§2.4): every per-doc "
    "input (doc length, per-term tf) is SCAN-LOCAL — dl = "
    "size(filter(tokens)), tf_t = size(toks) − size(array_remove("
    "toks, t)) — so NO token-level explode/shuffle exists at all; the "
    "old form shuffled every (doc_id, token) pair into a corpus-wide "
    "aggregate just to derive these counts (~1M rows at sf0.1, the "
    "dominant cost). What remains is a 1-row stats aggregate, a "
    "|terms|-key df aggregate over matching docs only, and broadcast "
    "joins; every count is the same exact integer, so all derived "
    "doubles are bit-identical (verified 0-diff vs the old plan at "
    "sf0.1 and oracle-green at the gate SFs). stats is a broadcast "
    "1-row cross join; top-20 via TakeOrdered (no global sort).",
    tags=("text", "search", "documents"),
)
def q_bm25_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window
    from flink_application_spark.functions.text import tokens

    from flink_application_spark.catalog import fan_out

    docs = table(spark, sf_dir, "documents")
    toks = F.filter(
        tokens(F.col("text")), lambda t: (t != "") & t.isNotNull()
    )
    perdoc = (
        # the tokenize + per-term counts are interpreted HOF work over
        # every token; spread the single-row-group scan first (2× at
        # sf0.1; per-doc counts are scan-local so results are
        # partitioning-invariant, and the one float sum downstream is
        # per-doc over the explode's array order — unchanged)
        fan_out(docs.filter(F.col("doc_id").isNotNull()).select("doc_id", "text"))
        .select("doc_id", toks.alias("toks"))
        .select(
            "doc_id",
            F.size("toks").cast("bigint").alias("dl"),
            *[
                (F.size("toks") - F.size(F.array_remove("toks", t)))
                .cast("bigint")
                .alias(f"tf_{i}")
                for i, t in enumerate(_BM25_TERMS)
            ],
        )
        # docs with zero (non-empty) tokens never entered the old
        # (doc_id, token) aggregate — keep them out of n/avgdl
        .filter(F.col("dl") > 0)
    )
    dl = perdoc.select("doc_id", "dl")
    stats = dl.agg(
        F.count(F.lit(1)).alias("n"),
        (F.sum("dl") * 1.0 / F.count(F.lit(1))).alias("avgdl"),
    )
    tf = (
        perdoc.select(
            "doc_id",
            F.explode(
                F.array(
                    *[
                        F.struct(
                            F.lit(t).alias("token"),
                            F.col(f"tf_{i}").alias("tf"),
                        )
                        for i, t in enumerate(_BM25_TERMS)
                    ]
                )
            ).alias("s"),
        )
        .select("doc_id", "s.token", "s.tf")
        .filter(F.col("tf") > 0)
    )
    dft = tf.groupBy("token").agg(F.count(F.lit(1)).alias("df"))
    term = ((F.col("n") - F.col("df") + 0.5) / (F.col("df") + 0.5)) * (
        F.col("tf") * 2.2
    ) / (F.col("tf") + 0.3 + 0.9 * F.col("dl") / F.col("avgdl"))
    scored = (
        tf.join(dft, "token")
        .join(dl, "doc_id")
        .join(F.broadcast(stats))
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_terms_matched"),
            F.round(F.sum(term), 4).alias("bm25"),
        )
    )
    top = scored.orderBy(F.col("bm25").desc(), F.col("doc_id")).limit(20)
    w = Window.orderBy(F.col("bm25").desc(), F.col("doc_id"))
    return top.withColumn("rank", F.row_number().over(w))


@register(
    "doc_langid_confusion",
    "WITH langid AS ("
    + _lang_id_oracle()
    + """)
SELECT lang_label, lang_predicted,
       CAST(count(*) AS BIGINT) AS n_docs
FROM langid GROUP BY lang_label, lang_predicted
""",
    doc="Language-ID confusion matrix: the heuristic's predictions "
    "cross-tabulated against the corpus's lang labels — the eval a "
    "pipeline runs before trusting lang-gated routing at scale. One "
    "scan + one tiny (|langs|²-row) aggregate on top of the pinned "
    "doc_lang_id scoring. (On this English-ish word-salad corpus the "
    "matrix mostly shows the tie-break floor, which is exactly what "
    "an honest eval should reveal.)",
    tags=("text", "langid", "eval"),
)
def q_langid_confusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (
        q_lang_id(spark, sf_dir)
        .groupBy("lang_label", "lang_predicted")
        .agg(F.count(F.lit(1)).alias("n_docs"))
    )


# Wilson 95% lower bound written ONCE, in the exact operation order
# both engines must share: z² is spelled 1.96*1.96 (a literal 3.8416
# parses to a different last-ulp double than the product).
_WILSON_SQL = (
    "round(((p + (1.96*1.96)/(2*n)) - 1.96 * sqrt((p*(1.0-p) + "
    "(1.96*1.96)/(4*n))/n)) / (1.0 + (1.96*1.96)/n) + 0.0, 6)"
)


@register(
    "source_quality_wilson",
    f"""
WITH per AS (
  SELECT source,
         CAST(count(*) AS BIGINT) AS n_docs,
         CAST(sum(CASE WHEN {_QUALITY_SQL} >= 0.5 THEN 1 ELSE 0 END)
              AS BIGINT) AS n_good
  FROM documents GROUP BY source
),
rates AS (
  SELECT source, n_docs, n_good,
         n_good / n_docs AS p, n_docs * 1.0 AS n
  FROM per
),
scored AS (
  SELECT source, n_docs, n_good, round(p, 6) AS good_rate,
         {_WILSON_SQL} AS wilson_lb
  FROM rates
)
SELECT source, n_docs, n_good, good_rate, wilson_lb,
       row_number() OVER (ORDER BY wilson_lb DESC, source ASC) AS rank
FROM scored
""",
    doc="Per-source quality ranking by the Wilson 95% lower confidence "
    "bound on the quality-gate pass rate (gate = the doc_quality_scores "
    "composite >= 0.5). The Wilson bound is how a curation pipeline "
    "ranks sources honestly: a source with 3/3 good docs must NOT "
    "outrank one with 9500/10000 — the raw rate says it does, the "
    "lower bound says otherwise. One scan + one |sources|-row "
    "aggregate; the bound arithmetic is spelled in an identical "
    "operation order on both engines (z² as 1.96*1.96, never the "
    "literal) so the rounded doubles hash-match.",
    tags=("text", "quality", "eval"),
)
def q_source_quality_wilson(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = table(spark, sf_dir, "documents")
    good = F.when(quality_score(F.col("text")) >= 0.5, 1).otherwise(0)
    per = docs.groupBy("source").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs"),
        F.sum(good).cast("bigint").alias("n_good"),
    )
    p = F.col("n_good") / F.col("n_docs")
    n = F.col("n_docs").cast("double")
    zz = F.lit(1.96) * F.lit(1.96)
    wilson = (
        (p + zz / (2 * n))
        - F.lit(1.96) * F.sqrt((p * (F.lit(1.0) - p) + zz / (4 * n)) / n)
    ) / (F.lit(1.0) + zz / n)
    scored = per.select(
        "source",
        "n_docs",
        "n_good",
        F.round(p, 6).alias("good_rate"),
        F.round(wilson + F.lit(0.0), 6).alias("wilson_lb"),
    )
    from pyspark.sql import Window

    w = Window.orderBy(F.col("wilson_lb").desc(), F.col("source").asc())
    return scored.withColumn("rank", F.row_number().over(w))


@register(
    "corpus_token_budget_planner",
    f"""
WITH scored AS (
  SELECT source,
         len({_TOKS}) AS tok,
         CAST(floor({_QUALITY_SQL} * 1000000 + 0.5) AS BIGINT) AS qppm
  FROM documents
),
per_source AS (
  SELECT source,
         CAST(count(*) AS BIGINT) AS n_docs,
         CAST(sum(tok) AS BIGINT) AS src_tokens,
         CAST(sum(qppm) AS BIGINT) // CAST(count(*) AS BIGINT) AS avg_qppm
  FROM scored GROUP BY source
),
ranked AS (
  SELECT source, n_docs, src_tokens, avg_qppm,
         row_number() OVER (ORDER BY avg_qppm DESC, source) AS rank,
         CAST(sum(src_tokens) OVER () AS BIGINT) // 2 AS budget
  FROM per_source
),
alloc AS (
  SELECT source, rank, n_docs, avg_qppm, src_tokens, budget,
         coalesce(CAST(sum(src_tokens) OVER (
           ORDER BY rank ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
         ) AS BIGINT), 0) AS cum_before
  FROM ranked
)
SELECT source, rank, n_docs, avg_qppm, src_tokens,
       least(src_tokens, greatest(CAST(0 AS BIGINT), budget - cum_before))
         AS alloc_tokens
FROM alloc
""",
    doc="Greedy token-budget allocation across sources: rank sources by "
    "integer mean quality (ppm — float averages can flip ranks across "
    "engines by summation-order ulps, integers cannot), then fill a "
    "budget of half the corpus tokens best-source-first; the marginal "
    "source gets the remainder. The planning query behind 'train on "
    "the best N tokens' — mixture planning by quality rather than "
    "corpus share (corpus_temperature_mixture is the share-based "
    "planner). One scan + one small shuffle on source; the budget and "
    "running totals are window aggregates over the per-source frame "
    "(|sources| rows), so there is no scalar-subquery append at all.",
    tags=("corpus", "quality", "curation", "sampling"),
)
def q_token_budget_planner(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = table(spark, sf_dir, "documents")
    scored = docs.select(
        "source",
        token_count(F.col("text")).alias("tok"),
        # floor(x·1e6 + 0.5) = cross-engine HALF_UP to integer ppm
        F.floor(quality_score(F.col("text")) * 1000000 + 0.5)
        .cast("bigint")
        .alias("qppm"),
    )
    per_source = scored.groupBy("source").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs"),
        F.sum("tok").cast("bigint").alias("src_tokens"),
        F.expr("CAST(sum(qppm) AS BIGINT) div count(*)").alias("avg_qppm"),
    )
    from pyspark.sql import Window

    w_rank = Window.orderBy(F.col("avg_qppm").desc(), F.col("source").asc())
    w_all = Window.partitionBy()
    ranked = per_source.select(
        "source",
        "n_docs",
        "src_tokens",
        "avg_qppm",
        F.row_number().over(w_rank).alias("rank"),
        F.expr("CAST(sum(src_tokens) OVER () AS BIGINT) div 2").alias("budget"),
    )
    w_cum = (
        Window.orderBy("rank").rowsBetween(Window.unboundedPreceding, -1)
    )
    alloc = ranked.withColumn(
        "cum_before",
        F.coalesce(F.sum("src_tokens").over(w_cum).cast("bigint"), F.lit(0)),
    )
    return alloc.select(
        "source",
        "rank",
        "n_docs",
        "avg_qppm",
        "src_tokens",
        F.least(
            F.col("src_tokens"),
            F.greatest(F.lit(0).cast("bigint"), F.col("budget") - F.col("cum_before")),
        ).alias("alloc_tokens"),
    )
