"""DSIR — Data Selection with Importance Resampling (Xie et al. 2023,
arXiv:2302.03169): score every raw-pool document by the log-likelihood
ratio of a hashed-unigram bag model trained on a small TARGET corpus vs
one trained on the RAW pool, then keep the highest-ratio documents.
This is the standard recipe for steering a 100 TB crawl toward a
quality domain without training a neural classifier.

Spark-first shape (no Python anywhere, same altitude as the bigram LM):

1. token → md5 bucket in [0, B) — the hashing trick, vocabulary-free
   (no dictionary to build or broadcast at corpus scale); one codegen
   md5 per token.
2. two hash aggregates build the bucket histograms (target counts,
   raw counts) — map-side-combinable, output is B rows regardless of
   corpus size.
3. per-bucket log ratio ln((ct+1)/(Nt+B)) − ln((cr+1)/(Nr+B)) with
   add-one smoothing joins back to the (doc, pos, bucket) rows — a
   dim join against a ≤B-row table (broadcast at any scale).
4. per-document weight = POSITION-ORDERED sequential fold of the
   ratios (deterministic float summation — the lm_queries trick that
   lets DuckDB reproduce the sum bit-for-bit).

The target here is a source-domain slice of the same corpus (the
testdata has no separate curated corpus); the estimator is agnostic —
swap the predicate for a real target table and nothing changes.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from flink_application_spark.catalog import table
from flink_application_spark.functions.text import tokens
from flink_application_spark.plans.registry import register

_B = 256
_TARGET = ("src1", "src2", "src3")


def _bucket(col: F.Column) -> F.Column:
    return F.conv(F.substring(F.md5(col), 1, 8), 16, 10).cast("bigint") % F.lit(_B)


def dsir_log_weights(docs: DataFrame, target_pred: F.Column) -> DataFrame:
    """(doc_id, is_target, n_tok, log_w) — higher log_w means the doc
    looks more like the target distribution. Docs with no tokens (or
    NULL text) get NULL log_w and n_tok = 0."""
    toks = docs.select(
        "doc_id",
        target_pred.alias("is_target"),
        F.filter(tokens(F.col("text")), lambda t: t != "").alias("toks"),
    )
    pos_rows = toks.select(
        "doc_id", F.posexplode("toks").alias("pos", "tok")
    ).select("doc_id", "pos", _bucket(F.col("tok")).alias("bk"))

    tgt_rows = toks.filter(F.col("is_target")).select(
        F.explode("toks").alias("tok")
    ).select(_bucket(F.col("tok")).alias("bk"))
    raw_rows = toks.select(F.explode("toks").alias("tok")).select(
        _bucket(F.col("tok")).alias("bk")
    )
    ct = tgt_rows.groupBy("bk").agg(F.count(F.lit(1)).alias("ct"))
    cr = raw_rows.groupBy("bk").agg(F.count(F.lit(1)).alias("cr"))
    nt = tgt_rows.select(F.count(F.lit(1)).alias("nt"))
    nr = raw_rows.select(F.count(F.lit(1)).alias("nr"))

    # per-bucket log ratio table: <= B rows, broadcast to the scoring scan
    ratios = (
        cr.join(ct, "bk", "left")
        .crossJoin(F.broadcast(nt))
        .crossJoin(F.broadcast(nr))
        .select(
            "bk",
            (
                F.log(
                    (F.coalesce(F.col("ct"), F.lit(0)) + F.lit(1)).cast("double")
                    / (F.col("nt") + F.lit(_B)).cast("double")
                )
                - F.log(
                    (F.col("cr") + F.lit(1)).cast("double")
                    / (F.col("nr") + F.lit(_B)).cast("double")
                )
            ).alias("lr"),
        )
    )

    scored = pos_rows.join(F.broadcast(ratios), "bk")
    per_doc = scored.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_tok"),
        F.aggregate(
            F.transform(
                F.array_sort(F.collect_list(F.struct("pos", "lr"))),
                lambda s: s["lr"],
            ),
            F.lit(0.0),
            lambda acc, x: acc + x,
        ).alias("sum_lr"),
    )
    return (
        toks.select("doc_id", "is_target")
        .join(per_doc, "doc_id", "left")
        .select(
            "doc_id",
            "is_target",
            F.coalesce(F.col("n_tok"), F.lit(0).cast("bigint")).alias("n_tok"),
            (F.round(F.col("sum_lr"), 6) + F.lit(0.0)).alias("log_w"),
        )
    )


_TGT_SQL = "source IN ('" + "', '".join(_TARGET) + "')"
_BK_SQL = "CAST(('0x' || substr(md5({t}), 1, 8)) AS BIGINT) % " + str(_B)


@register(
    "doc_dsir_log_weights",
    f"""
WITH toks AS (
  SELECT doc_id, {_TGT_SQL} AS is_target,
         list_filter(regexp_split_to_array(lower(trim(text)), '\\s+'),
                     w -> w <> '') AS toks
  FROM documents
),
pos_rows AS (
  SELECT doc_id, unnest(generate_series(1, len(toks))) AS pos, toks
  FROM toks WHERE len(toks) >= 1
),
pos_keyed AS (
  SELECT doc_id, pos, {_BK_SQL.format(t='toks[pos]')} AS bk FROM pos_rows
),
tgt_rows AS (
  SELECT {_BK_SQL.format(t='t.tok')} AS bk
  FROM (SELECT unnest(toks) AS tok FROM toks WHERE is_target) t
),
raw_rows AS (
  SELECT {_BK_SQL.format(t='t.tok')} AS bk
  FROM (SELECT unnest(toks) AS tok FROM toks) t
),
ct AS (SELECT bk, count(*) AS ct FROM tgt_rows GROUP BY bk),
cr AS (SELECT bk, count(*) AS cr FROM raw_rows GROUP BY bk),
nt AS (SELECT count(*) AS nt FROM tgt_rows),
nr AS (SELECT count(*) AS nr FROM raw_rows),
ratios AS (
  SELECT cr.bk AS bk,
         ln(CAST(coalesce(ct.ct, 0) + 1 AS DOUBLE) / CAST(nt.nt + {_B} AS DOUBLE))
         - ln(CAST(cr.cr + 1 AS DOUBLE) / CAST(nr.nr + {_B} AS DOUBLE)) AS lr
  FROM cr LEFT JOIN ct ON ct.bk = cr.bk CROSS JOIN nt CROSS JOIN nr
),
per_doc AS (
  SELECT k.doc_id AS doc_id,
         CAST(count(*) AS BIGINT) AS n_tok,
         list_sum(list(r.lr ORDER BY k.pos)) AS sum_lr
  FROM pos_keyed k JOIN ratios r ON r.bk = k.bk
  GROUP BY k.doc_id
)
SELECT t.doc_id AS doc_id, t.is_target AS is_target,
       coalesce(p.n_tok, 0) AS n_tok,
       round(p.sum_lr, 6) + 0.0 AS log_w
FROM toks t LEFT JOIN per_doc p ON p.doc_id = t.doc_id
""",
    doc=f"DSIR importance weights (arXiv:2302.03169): hashed-unigram "
    f"({_B} md5 buckets, vocabulary-free) add-one-smoothed likelihood "
    f"ratio of a target-domain slice ({', '.join(_TARGET)}) vs the raw "
    "pool, folded per document in position order so the float sum is "
    "deterministic. Two B-row histograms + one broadcast dim join — "
    "the whole scorer is two hash aggs and a scan at any corpus size.",
    tags=("documents", "curation", "dsir"),
)
def q_dsir_log_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = table(spark, sf_dir, "documents")
    return dsir_log_weights(docs, F.col("source").isin(*_TARGET))


@register(
    "doc_dsir_selection",
    f"""
WITH toks AS (
  SELECT doc_id, {_TGT_SQL} AS is_target,
         list_filter(regexp_split_to_array(lower(trim(text)), '\\s+'),
                     w -> w <> '') AS toks
  FROM documents
),
pos_rows AS (
  SELECT doc_id, unnest(generate_series(1, len(toks))) AS pos, toks
  FROM toks WHERE len(toks) >= 1
),
pos_keyed AS (
  SELECT doc_id, pos, {_BK_SQL.format(t='toks[pos]')} AS bk FROM pos_rows
),
tgt_rows AS (
  SELECT {_BK_SQL.format(t='t.tok')} AS bk
  FROM (SELECT unnest(toks) AS tok FROM toks WHERE is_target) t
),
raw_rows AS (
  SELECT {_BK_SQL.format(t='t.tok')} AS bk
  FROM (SELECT unnest(toks) AS tok FROM toks) t
),
ct AS (SELECT bk, count(*) AS ct FROM tgt_rows GROUP BY bk),
cr AS (SELECT bk, count(*) AS cr FROM raw_rows GROUP BY bk),
nt AS (SELECT count(*) AS nt FROM tgt_rows),
nr AS (SELECT count(*) AS nr FROM raw_rows),
ratios AS (
  SELECT cr.bk AS bk,
         ln(CAST(coalesce(ct.ct, 0) + 1 AS DOUBLE) / CAST(nt.nt + {_B} AS DOUBLE))
         - ln(CAST(cr.cr + 1 AS DOUBLE) / CAST(nr.nr + {_B} AS DOUBLE)) AS lr
  FROM cr LEFT JOIN ct ON ct.bk = cr.bk CROSS JOIN nt CROSS JOIN nr
),
per_doc AS (
  SELECT k.doc_id AS doc_id,
         list_sum(list(r.lr ORDER BY k.pos)) AS sum_lr,
         CAST(count(*) AS BIGINT) AS n_tok
  FROM pos_keyed k JOIN ratios r ON r.bk = k.bk
  GROUP BY k.doc_id
),
ranked AS (
  SELECT doc_id,
         round((round(sum_lr, 6) + 0.0) / n_tok, 6) + 0.0 AS mean_lr,
         row_number() OVER (
           ORDER BY round((round(sum_lr, 6) + 0.0) / n_tok, 6) DESC, doc_id
         ) AS sel_rank
  FROM per_doc WHERE NOT doc_id IN (SELECT doc_id FROM toks WHERE is_target)
)
SELECT doc_id, mean_lr, sel_rank FROM ranked WHERE sel_rank <= 50
""",
    doc="DSIR selection step: rank NON-target pool docs by per-token "
    "mean log ratio (length-normalized so long docs don't dominate) "
    "and keep the top 50 — the resampling output a curation pipeline "
    "feeds to training. Deterministic doc_id tie-break; ranking is a "
    "TakeOrdered top-k, not a global sort.",
    tags=("documents", "curation", "dsir"),
)
def q_dsir_selection(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    docs = table(spark, sf_dir, "documents")
    w = dsir_log_weights(docs, F.col("source").isin(*_TARGET))
    pool = (
        w.filter(~F.col("is_target") & (F.col("n_tok") >= 1))
        .select(
            "doc_id",
            (F.round(F.col("log_w") / F.col("n_tok"), 6) + F.lit(0.0)).alias(
                "mean_lr"
            ),
        )
    )
    # TakeOrdered top-50 FIRST (distributed partial top-k, no global
    # sort); the rank window then runs over 50 rows only
    top = pool.orderBy(F.col("mean_lr").desc(), F.col("doc_id").asc()).limit(50)
    win = Window.orderBy(F.col("mean_lr").desc(), F.col("doc_id").asc())
    return top.withColumn("sel_rank", F.row_number().over(win)).select(
        "doc_id", "mean_lr", "sel_rank"
    )
