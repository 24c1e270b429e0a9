"""Document chunking — the context-window preparation step every
RAG / pretraining pipeline runs: split each document into overlapping
token windows with stable ids and dedup-ready fingerprints.

Scale shape: chunking is 100% scan-local (tokenize once, emit slices
via a sequence+transform explode — no shuffle, no Python); the output
carries (doc_id, chunk_idx) so downstream embedding / dedup stages
partition on doc_id without re-reading text. The overlap policy is the
standard sliding window with a trailing partial chunk, so every token
appears in ≥ 1 chunk and boundary context is preserved.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from flink_application_spark.catalog import table
from flink_application_spark.functions.text import tokens
from flink_application_spark.plans.registry import register

_WINDOW = 32
_STRIDE = 24


def chunk_windows(
    docs: DataFrame, window: int = _WINDOW, stride: int = _STRIDE
) -> DataFrame:
    """(doc_id, chunk_idx, start_tok, chunk_tok, chunk_text, chunk_md5):
    overlapping token windows of ``window`` tokens every ``stride``
    (trailing partial kept). Docs with no tokens emit nothing."""
    if not (0 < stride <= window):
        raise ValueError(f"need 0 < stride <= window, got {stride} > {window}")
    toks = docs.select(
        "doc_id",
        F.filter(tokens(F.col("text")), lambda t: t != "").alias("toks"),
    ).filter(F.size("toks") >= 1)
    chunks = toks.select(
        "doc_id",
        F.explode(
            F.transform(
                F.sequence(F.lit(0), F.size("toks") - 1, F.lit(stride)),
                lambda start: F.struct(
                    (start / F.lit(stride)).cast("int").alias("chunk_idx"),
                    start.cast("bigint").alias("start_tok"),
                    F.slice(F.col("toks"), start + 1, window).alias("ctoks"),
                ),
            )
        ).alias("ch"),
    )
    return chunks.select(
        "doc_id",
        "ch.chunk_idx",
        "ch.start_tok",
        F.size("ch.ctoks").cast("bigint").alias("chunk_tok"),
        F.concat_ws(" ", "ch.ctoks").alias("chunk_text"),
        F.md5(F.concat_ws(" ", "ch.ctoks")).alias("chunk_md5"),
    )


@register(
    "doc_chunk_windows",
    f"""
WITH toks AS (
  SELECT doc_id,
         list_filter(regexp_split_to_array(lower(trim(text)), '\\s+'),
                     w -> w <> '') AS toks
  FROM documents
),
starts AS (
  SELECT doc_id, toks,
         unnest(generate_series(0, len(toks) - 1, {_STRIDE})) AS start
  FROM toks WHERE len(toks) >= 1
),
chunks AS (
  SELECT doc_id,
         CAST(start // {_STRIDE} AS INTEGER) AS chunk_idx,
         CAST(start AS BIGINT) AS start_tok,
         list_slice(toks, start + 1, least(start + {_WINDOW}, len(toks))) AS ctoks
  FROM starts
)
SELECT doc_id, chunk_idx, start_tok,
       CAST(len(ctoks) AS BIGINT) AS chunk_tok,
       array_to_string(ctoks, ' ') AS chunk_text,
       md5(array_to_string(ctoks, ' ')) AS chunk_md5
FROM chunks
""",
    doc=f"Sliding-window chunking ({_WINDOW}-token windows every "
    f"{_STRIDE}, trailing partial kept): one scan-local tokenize + "
    "sequence/transform explode — zero shuffle, zero Python; emits "
    "stable (doc_id, chunk_idx) ids and an md5 fingerprint per chunk "
    "so chunk-level exact dedup is a groupBy away.",
    tags=("documents", "chunking", "rag"),
)
def q_chunk_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = table(spark, sf_dir, "documents")
    return chunk_windows(docs)


@register(
    "doc_chunk_exact_dedup_groups",
    f"""
WITH toks AS (
  SELECT doc_id,
         list_filter(regexp_split_to_array(lower(trim(text)), '\\s+'),
                     w -> w <> '') AS toks
  FROM documents
),
starts AS (
  SELECT doc_id, toks,
         unnest(generate_series(0, len(toks) - 1, {_STRIDE})) AS start
  FROM toks WHERE len(toks) >= 1
),
chunks AS (
  SELECT doc_id,
         md5(array_to_string(
           list_slice(toks, start + 1, least(start + {_WINDOW}, len(toks))),
           ' ')) AS chunk_md5
  FROM starts
)
SELECT chunk_md5,
       CAST(count(*) AS BIGINT) AS n_copies,
       CAST(count(DISTINCT doc_id) AS BIGINT) AS n_docs,
       CAST(min(doc_id) AS BIGINT) AS canonical_doc
FROM chunks
GROUP BY chunk_md5
HAVING count(*) > 1
""",
    doc="Chunk-level exact dedup: identical chunk fingerprints "
    "appearing more than once (within OR across documents) — the "
    "boilerplate-span detector at chunk granularity, one hash "
    "aggregate over the fingerprint column (16 bytes/chunk in the "
    "shuffle, never chunk text). Canonical = lowest doc_id.",
    tags=("documents", "chunking", "dedup"),
)
def q_chunk_exact_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = table(spark, sf_dir, "documents")
    return (
        chunk_windows(docs)
        .groupBy("chunk_md5")
        .agg(
            F.count(F.lit(1)).alias("n_copies"),
            F.countDistinct("doc_id").alias("n_docs"),
            F.min("doc_id").alias("canonical_doc"),
        )
        .filter(F.col("n_copies") > 1)
    )


_CDC_D = 8  # boundary divisor: E[chunk] = D tokens


@register(
    "doc_cdc_chunk_dedup_report",
    f"""
WITH toks AS (
  SELECT doc_id,
         list_filter(regexp_split_to_array(lower(trim(text)), '\\s+'),
                     w -> w <> '') AS toks
  FROM documents
),
tok_rows AS (
  SELECT doc_id, i AS pos, toks[i] AS tok
  FROM (SELECT doc_id, toks, unnest(generate_series(1, len(toks))) AS i
        FROM toks WHERE len(toks) >= 1)
),
flagged AS (
  SELECT doc_id, pos, tok,
         CASE WHEN CAST(('0x' || substr(md5(tok), 1, 8)) AS UBIGINT)
                   % {_CDC_D} = 0
              THEN 1 ELSE 0 END AS cut_after
  FROM tok_rows
),
chunked AS (
  SELECT doc_id, pos, tok,
         CAST(coalesce(sum(cut_after) OVER (
           PARTITION BY doc_id ORDER BY pos
           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
         ), 0) AS BIGINT) AS chunk_idx
  FROM flagged
),
chunks AS (
  SELECT doc_id, chunk_idx,
         md5(string_agg(tok, ' ' ORDER BY pos)) AS h
  FROM chunked GROUP BY doc_id, chunk_idx
),
freq AS (SELECT h, count(*) AS n_occ FROM chunks GROUP BY h)
SELECT doc_id,
       CAST(count(*) AS BIGINT) AS n_chunks,
       CAST(sum(CASE WHEN f.n_occ > 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_dup_chunks,
       CAST(sum(CASE WHEN f.n_occ > 1 THEN 1 ELSE 0 END) * 1000000
            // count(*) AS BIGINT) AS dup_ppm
FROM chunks JOIN freq f USING (h)
GROUP BY doc_id
""",
    doc=f"Content-defined chunking dedup report (the storage-dedup CDC "
    "idea at token granularity): a chunk boundary falls after any "
    f"token whose md5-derived 32-bit value ≡ 0 mod {_CDC_D}, so "
    "boundaries are functions of CONTENT, not position — insert one "
    "token into a copied document and the chunk stream re-synchronizes "
    "at the next boundary, where the fixed-width segment scrub "
    "(doc_segment_dedup_scrub) loses every downstream segment to the "
    "offset shift (pinned in tests/test_chunking.py). Shape: one "
    "doc_id-partitioned window prefix-sum (per-doc sort, doc-bounded), "
    "one (doc, chunk) agg, one fingerprint-keyed frequency join — "
    "hashes shuffle, chunk text stays doc-local.",
    tags=("documents", "dedup", "chunking", "cdc"),
)
def q_cdc_chunk_dedup_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = table(spark, sf_dir, "documents")
    return cdc_chunk_report_frame(docs)


def cdc_chunk_report_frame(docs: DataFrame, d: int = _CDC_D) -> DataFrame:
    """(doc_id, n_chunks, n_dup_chunks, dup_ppm) under content-defined
    boundaries — factored out so tests can feed synthetic corpora (the
    insertion-robustness pin lives in tests/test_chunking.py)."""
    from pyspark.sql import Window


    tok_rows = (
        docs.select(
            "doc_id",
            F.filter(tokens(F.col("text")), lambda t: t != "").alias("toks"),
        )
        .filter(F.size("toks") >= 1)
        .select("doc_id", F.posexplode("toks").alias("pos0", "tok"))
        .select("doc_id", (F.col("pos0") + 1).alias("pos"), "tok")
    )
    cut = (
        F.conv(F.substring(F.md5("tok"), 1, 8), 16, 10).cast("bigint") % d == 0
    ).cast("int")
    w = (
        Window.partitionBy("doc_id")
        .orderBy("pos")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    chunked = tok_rows.select(
        "doc_id",
        "pos",
        "tok",
        F.coalesce(F.sum(cut).over(w), F.lit(0)).cast("bigint").alias("chunk_idx"),
    )
    chunks = chunked.groupBy("doc_id", "chunk_idx").agg(
        F.md5(
            F.concat_ws(
                " ",
                F.transform(
                    F.sort_array(F.collect_list(F.struct("pos", "tok"))),
                    lambda x: x["tok"],
                ),
            )
        ).alias("h")
    )
    freq = chunks.groupBy("h").agg(F.count(F.lit(1)).alias("n_occ"))
    dup = F.sum(F.when(F.col("n_occ") > 1, 1).otherwise(0))
    return (
        chunks.join(freq, "h")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_chunks"),
            dup.cast("bigint").alias("n_dup_chunks"),
            F.expr(
                "CAST(sum(CASE WHEN n_occ > 1 THEN 1 ELSE 0 END) * 1000000 "
                "div count(*) AS BIGINT)"
            ).alias("dup_ppm"),
        )
    )
