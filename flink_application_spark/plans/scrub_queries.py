"""Cross-document repeated n-gram scrubbing — the MassiveText /
RefinedWeb "remove boilerplate spans" curation stage: any 8-gram that
appears in ≥ T distinct documents is boilerplate (nav bars, license
headers, templated phrases), and every token covered by an occurrence
of a frequent 8-gram is deleted from every document, preserving the
order of what survives.

Spark-first shape (all posting-list machinery, no Python):

1. scan-local n-gram keying: per row, `transform(sequence(...))` over
   the token array emits (start, md5(8-gram)) pairs — one pass, fused;
2. frequency: groupBy(key) + countDistinct(doc) — THE shuffle, keyed
   on the n-gram hash (uniform by construction, no skew);
3. coverage: equi-join doc n-grams to frequent keys, explode each hit
   into its n covered positions, distinct;
4. reassembly: anti-join tokens against covered positions, then
   sort_array(collect_list(struct(pos, tok))) + concat_ws — exact
   order-preserving rebuild.

At 100 TB every stage is either scan-local or a hash-partitioned
equi-op on uniform keys; nothing is quadratic and nothing collects.
The DuckDB oracle rebuilds the identical pipeline with unnest /
generate_subscripts / string_agg(ORDER BY pos).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from flink_application_spark.catalog import table
from flink_application_spark.functions.text import tokens
from flink_application_spark.plans.registry import register

_N = 8  # n-gram width
_T = 3  # boilerplate threshold: frequent = seen in >= T distinct docs


def repeated_ngram_scrub(docs: DataFrame, n: int = _N, t: int = _T) -> DataFrame:
    # persist: `toks` feeds three branches (token rows, gram keying,
    # final length join); without the barrier each branch re-tokenizes
    # AND re-evaluates everything upstream of `docs` (when composed
    # under e.g. the classifier gate, that tripled a 6 s stage into
    # minutes — same CollapseProject re-evaluation pathology as
    # operators/minhash.with_shingles, see its docstring)
    toks = docs.select(
        "doc_id",
        F.filter(tokens(F.col("text")), lambda x: x != "").alias("toks"),
    ).persist()
    tok_rows = toks.select("doc_id", F.posexplode("toks").alias("pos", "tok"))
    # guard BEFORE building the sequence: sequence(0, negative) descends
    # and slice(_, 0, n) throws — short docs must contribute no grams
    grams = (
        toks.filter(F.size("toks") >= n)
        .select(
            "doc_id",
            F.explode(
                F.transform(
                    F.sequence(F.lit(0), F.size("toks") - n),
                    lambda p: F.struct(
                        p.alias("start"),
                        F.md5(F.concat_ws(" ", F.slice(F.col("toks"), p + 1, n))).alias("key"),
                    ),
                )
            ).alias("g"),
        )
        .select("doc_id", F.col("g.start").alias("start"), F.col("g.key").alias("key"))
    )

    frequent = (
        grams.groupBy("key")
        .agg(F.countDistinct("doc_id").alias("nd"))
        .filter(F.col("nd") >= t)
        .select("key")
    )
    covered = (
        grams.join(frequent, "key")
        .select(
            "doc_id",
            F.explode(F.sequence(F.col("start"), F.col("start") + (n - 1))).alias("pos"),
        )
        .distinct()
    )
    kept = tok_rows.join(covered, ["doc_id", "pos"], "left_anti")
    rebuilt = kept.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_kept"),
        F.concat_ws(
            " ",
            F.transform(
                F.array_sort(F.collect_list(F.struct("pos", "tok"))),
                lambda s: s["tok"],
            ),
        ).alias("scrubbed_text"),
    )
    return (
        toks.select("doc_id", F.size("toks").cast("bigint").alias("n_tokens"))
        .join(rebuilt, "doc_id", "left")
        .select(
            "doc_id",
            "n_tokens",
            F.coalesce(F.col("n_kept"), F.lit(0)).cast("bigint").alias("n_kept"),
            F.coalesce(F.col("scrubbed_text"), F.lit("")).alias("scrubbed_text"),
        )
    )


@register(
    "doc_repeated_ngram_scrub",
    f"""
WITH toks AS (
  SELECT doc_id,
         list_filter(regexp_split_to_array(lower(trim(text)), '\\s+'),
                     w -> w <> '') AS toks
  FROM documents
),
tok_rows AS (
  SELECT doc_id, unnest(toks) AS tok,
         generate_subscripts(toks, 1) - 1 AS pos
  FROM toks
),
grams AS (
  SELECT doc_id,
         unnest(generate_series(0, len(toks) - {_N})) AS start,
         toks
  FROM toks
  WHERE len(toks) >= {_N}
),
keyed AS (
  SELECT doc_id, start,
         md5(array_to_string(toks[start + 1 : start + {_N}], ' ')) AS key
  FROM grams
),
frequent AS (
  SELECT key FROM keyed GROUP BY key HAVING count(DISTINCT doc_id) >= {_T}
),
covered AS (
  SELECT DISTINCT k.doc_id AS doc_id,
         unnest(generate_series(k.start, k.start + {_N - 1})) AS pos
  FROM keyed k JOIN frequent f USING (key)
),
kept AS (
  SELECT t.doc_id AS doc_id, t.pos AS pos, t.tok AS tok
  FROM tok_rows t
  WHERE NOT EXISTS (SELECT 1 FROM covered c
                    WHERE c.doc_id = t.doc_id AND c.pos = t.pos)
),
rebuilt AS (
  SELECT doc_id,
         CAST(count(*) AS BIGINT) AS n_kept,
         string_agg(tok, ' ' ORDER BY pos) AS scrubbed_text
  FROM kept GROUP BY doc_id
)
SELECT t.doc_id AS doc_id,
       CAST(len(t.toks) AS BIGINT) AS n_tokens,
       COALESCE(r.n_kept, 0) AS n_kept,
       COALESCE(r.scrubbed_text, '') AS scrubbed_text
FROM toks t LEFT JOIN rebuilt r ON r.doc_id = t.doc_id
""",
    doc=f"Cross-document repeated {_N}-gram scrub: any {_N}-gram seen in "
    f"≥ {_T} distinct documents is boilerplate; every token covered by an "
    "occurrence is removed, survivors reassembled in order. Posting-list "
    "pipeline — scan-local keying, hash-agg frequency, equi-join coverage, "
    "anti-join + sorted-collect rebuild. Nothing quadratic, no Python.",
    tags=("documents", "cleaning", "dedup"),
)
def q_repeated_ngram_scrub(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = table(spark, sf_dir, "documents")
    return repeated_ngram_scrub(docs)
