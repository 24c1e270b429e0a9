"""Quality-gate audit — record-level provenance for the curation
funnel: every document gets a verdict PER GATE plus the first gate
that rejected it, so a pipeline operator can answer "why did doc X
disappear" and "which gate costs us the most data" without re-running
the filters. (The silent version of this — a chain of .filter() calls
— loses exactly that information; the audit is the same scan with the
predicates as columns instead of filters, zero extra passes.)

Gates reuse the corpus signals that are already oracle-pinned
elsewhere (char length, token count, stopword ratio — the C4/Gopher
style hygiene set). All scan-local; the attrition rollup is one
tiny hash aggregate.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from flink_application_spark.catalog import table
from flink_application_spark.functions.text import EN_STOPWORDS, stopword_ratio, tokens
from flink_application_spark.plans.registry import register
from flink_application_spark.plans.text_queries import _TOKS, _in_list

_MIN_CHARS, _MAX_CHARS = 100, 500
_MIN_TOKS = 20
_MIN_STOPWORD = 0.02

_GATES_SQL = f"""
audit AS (
  SELECT doc_id,
         n_chars BETWEEN {_MIN_CHARS} AND {_MAX_CHARS} AS g_chars,
         len(list_filter({_TOKS}, t -> t <> '')) >= {_MIN_TOKS} AS g_tokens,
         round(len(list_filter({_TOKS}, t -> t IN ({_in_list(EN_STOPWORDS)}))) * 1.0
               / greatest(len({_TOKS}), 1), 6) >= {_MIN_STOPWORD} AS g_stopwords
  FROM documents
),
verdicts AS (
  SELECT doc_id, g_chars, g_tokens, g_stopwords,
         g_chars AND g_tokens AND g_stopwords AS passed,
         CASE WHEN NOT g_chars THEN 'chars'
              WHEN NOT g_tokens THEN 'tokens'
              WHEN NOT g_stopwords THEN 'stopwords'
              ELSE 'pass' END AS first_fail
  FROM audit
)
"""


def quality_gate_audit(docs: DataFrame) -> DataFrame:
    """(doc_id, g_chars, g_tokens, g_stopwords, passed, first_fail)."""
    g_chars = F.col("n_chars").between(_MIN_CHARS, _MAX_CHARS)
    g_tokens = (
        F.size(F.filter(tokens(F.col("text")), lambda t: t != "")) >= _MIN_TOKS
    )
    g_stop = stopword_ratio(F.col("text")) >= _MIN_STOPWORD
    out = docs.select(
        "doc_id",
        g_chars.alias("g_chars"),
        g_tokens.alias("g_tokens"),
        g_stop.alias("g_stopwords"),
    )
    return out.select(
        "*",
        (F.col("g_chars") & F.col("g_tokens") & F.col("g_stopwords")).alias(
            "passed"
        ),
        F.when(~F.col("g_chars"), F.lit("chars"))
        .when(~F.col("g_tokens"), F.lit("tokens"))
        .when(~F.col("g_stopwords"), F.lit("stopwords"))
        .otherwise(F.lit("pass"))
        .alias("first_fail"),
    )


@register(
    "doc_quality_gate_audit",
    f"WITH {_GATES_SQL} SELECT * FROM verdicts",
    doc="Per-document gate provenance: each hygiene gate (char bounds, "
    "min tokens, min stopword ratio) as a COLUMN, the conjunction, and "
    "the first failing gate in pipeline order — the audit form of the "
    "curation funnel, one scan, no shuffle.",
    tags=("documents", "quality", "audit"),
)
def q_gate_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = table(spark, sf_dir, "documents")
    return quality_gate_audit(docs)


@register(
    "corpus_gate_attrition",
    f"""
WITH {_GATES_SQL}
SELECT first_fail, CAST(count(*) AS BIGINT) AS n_docs
FROM verdicts GROUP BY first_fail
""",
    doc="Gate attrition rollup: documents lost at each first-failing "
    "gate (plus survivors) — the one-line answer to 'which filter "
    "costs the most data'. Tiny hash aggregate over the audit scan.",
    tags=("documents", "quality", "audit"),
)
def q_gate_attrition(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = table(spark, sf_dir, "documents")
    return (
        quality_gate_audit(docs)
        .groupBy("first_fail")
        .agg(F.count(F.lit(1)).alias("n_docs"))
    )
