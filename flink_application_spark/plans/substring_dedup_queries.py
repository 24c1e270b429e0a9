"""Exact substring deduplication (Lee et al. 2022, "Deduplicating
Training Data Makes Language Models Better", arXiv:2107.06499) — the
KEEP-FIRST form: any ≥L-token span appearing verbatim more than once
in the corpus keeps its FIRST occurrence (global (doc_id, pos) order)
and loses every other one. This differs from the df-threshold scrub
(`doc_repeated_ngram_scrub` drops frequent grams EVERYWHERE); the
paper's dedup preserves one copy of every span — the right semantics
when the span is legitimate content that merely got crawled twice.

Posting-list shape (the suffix-array result re-derived relationally):

1. scan-local L-gram keying → (hash, doc, start) postings;
2. per hash, the first occurrence = lexicographic min (doc, start) —
   one hash agg;
3. every NON-first occurrence marks its token span; a doc's removed
   token count = |union of marked spans| (distinct covered positions
   — explode of L per marked gram, bounded);
4. per-doc report: tokens, removed, kept.

The shuffle keys on md5(gram) (uniform); spans never exceed doc
length; no pairwise work anywhere.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from flink_application_spark.catalog import table
from flink_application_spark.functions.text import tokens
from flink_application_spark.plans.registry import register

_L = 10  # span length (tokens); the paper uses 50 on web-scale corpora


@register(
    "doc_substring_dedup_report",
    f"""
WITH toks AS (
  SELECT doc_id,
         list_filter(regexp_split_to_array(lower(trim(text)), '\\s+'),
                     w -> w <> '') AS toks
  FROM documents
),
grams AS (
  SELECT doc_id, i AS start,
         md5(array_to_string(toks[i:i + {_L - 1}], ' ')) AS h
  FROM (SELECT doc_id, toks, unnest(generate_series(1, len(toks) - {_L - 1})) AS i
        FROM toks WHERE len(toks) >= {_L})
),
firsts AS (
  SELECT h, min(struct_pack(d := doc_id, s := start)) AS fk,
         count(*) AS n_occ
  FROM grams GROUP BY h
),
losers AS (
  SELECT g.doc_id AS doc_id, g.start AS start
  FROM grams g JOIN firsts f ON f.h = g.h
  WHERE f.n_occ > 1 AND NOT (g.doc_id = f.fk.d AND g.start = f.fk.s)
),
covered AS (
  SELECT DISTINCT doc_id, pos FROM (
    SELECT doc_id, unnest(generate_series(start, start + {_L - 1})) AS pos
    FROM losers
  )
),
removed AS (
  SELECT doc_id, CAST(count(*) AS BIGINT) AS n_removed
  FROM covered GROUP BY doc_id
)
SELECT t.doc_id AS doc_id,
       CAST(len(t.toks) AS BIGINT) AS n_tok,
       coalesce(r.n_removed, 0) AS n_removed,
       CAST(len(t.toks) AS BIGINT) - coalesce(r.n_removed, 0) AS n_kept
FROM toks t LEFT JOIN removed r ON r.doc_id = t.doc_id
""",
    doc=f"Exact substring dedup (arXiv:2107.06499, keep-first): every "
    f"duplicated {_L}-token span keeps its global-first occurrence; "
    "later occurrences' token positions are removed (span-union per "
    "doc). Posting-list pipeline — md5-gram keying, one first-"
    "occurrence agg, bounded span explode; no pairwise work. The "
    "keep-one complement to the df-threshold boilerplate scrub.",
    tags=("documents", "dedup", "scrub"),
)
def q_substring_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = table(spark, sf_dir, "documents")
    toks = docs.select(
        "doc_id",
        F.filter(tokens(F.col("text")), lambda t: t != "").alias("toks"),
    )
    grams = toks.filter(F.size("toks") >= _L).select(
        "doc_id",
        F.explode(
            F.transform(
                F.sequence(F.lit(1), F.size("toks") - (_L - 1)),
                lambda i: F.struct(
                    i.alias("start"),
                    F.md5(
                        F.concat_ws(" ", F.slice(F.col("toks"), i, _L))
                    ).alias("h"),
                ),
            )
        ).alias("g"),
    ).select("doc_id", "g.start", "g.h")
    # first occurrence = lexicographic min (doc_id, start) STRUCT —
    # an arithmetic doc_id*C+start composite silently collides/reorders
    # once a document exceeds C tokens (round-2 advice), and the same
    # constant on the oracle side would hide it from parity tests
    key = F.struct(
        F.col("doc_id").alias("d"), F.col("start").alias("s")
    ).alias("k")
    firsts = grams.select("h", key).groupBy("h").agg(
        F.min("k").alias("fk"), F.count(F.lit(1)).alias("n_occ")
    )
    losers = (
        grams.join(firsts, "h")
        .filter(
            (F.col("n_occ") > 1)
            & ~(
                (F.col("doc_id") == F.col("fk.d"))
                & (F.col("start") == F.col("fk.s"))
            )
        )
        .select("doc_id", "start")
    )
    covered = losers.select(
        "doc_id",
        F.explode(
            F.sequence(F.col("start"), F.col("start") + (_L - 1))
        ).alias("pos"),
    ).distinct()
    removed = covered.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_removed")
    )
    return (
        toks.join(removed, "doc_id", "left")
        .select(
            "doc_id",
            F.size("toks").cast("bigint").alias("n_tok"),
            F.coalesce(F.col("n_removed"), F.lit(0).cast("bigint")).alias(
                "n_removed"
            ),
            (
                F.size("toks").cast("bigint")
                - F.coalesce(F.col("n_removed"), F.lit(0).cast("bigint"))
            ).alias("n_kept"),
        )
    )


_SEG = 16  # non-overlapping segment width (tokens)


@register(
    "doc_segment_dedup_scrub",
    f"""
WITH toks AS (
  SELECT doc_id,
         list_filter(regexp_split_to_array(lower(trim(text)), '\\s+'),
                     w -> w <> '') AS toks
  FROM documents
),
starts AS (
  SELECT doc_id, toks,
         unnest(generate_series(0, len(toks) - 1, {_SEG})) AS s
  FROM toks WHERE len(toks) >= 1
),
segs AS (
  SELECT doc_id,
         CAST(s // {_SEG} AS INTEGER) AS seg_idx,
         array_to_string(list_slice(toks, s + 1, least(s + {_SEG}, len(toks))), ' ') AS seg_text
  FROM starts
),
keyed AS (SELECT *, md5(seg_text) AS h FROM segs),
firsts AS (
  SELECT h, min(struct_pack(d := doc_id, s := seg_idx)) AS fk
  FROM keyed GROUP BY h
),
flagged AS (
  SELECT k.doc_id, k.seg_idx, k.seg_text,
         CASE WHEN k.doc_id = f.fk.d AND k.seg_idx = f.fk.s THEN 1 ELSE 0 END AS kept
  FROM keyed k JOIN firsts f USING (h)
)
SELECT doc_id,
       CAST(count(*) AS BIGINT) AS n_segs,
       CAST(sum(1 - kept) AS BIGINT) AS n_dropped,
       coalesce(string_agg(seg_text, ' ' ORDER BY seg_idx)
                  FILTER (WHERE kept = 1), '') AS scrubbed_text
FROM flagged
GROUP BY doc_id
""",
    doc=f"MATERIALIZING keep-first segment dedup (the arXiv:2107.06499 "
    "transform as an actual corpus rewrite, not just a report): split "
    f"each doc into non-overlapping {_SEG}-token segments, drop every "
    "segment whose md5 fingerprint was already seen at a smaller "
    "(doc_id, seg_idx), and reassemble the surviving text in order. "
    "Scale shape: scan-local segmentation, ONE shuffle keyed on the "
    "16-byte fingerprint (uniform by construction), struct-min first-"
    "occurrence (no arithmetic composite that could collide), then a "
    "doc_id-keyed reassembly agg; segments move as md5+text pairs and "
    "nothing is pairwise. This is the transform whose dry-run report "
    "is doc_substring_dedup_report.",
    tags=("documents", "dedup", "scrub", "materialize"),
)
def q_segment_dedup_scrub(spark: SparkSession, sf_dir: str) -> DataFrame:
    from flink_application_spark.operators.dedup import segment_dedup_scrub

    docs = table(spark, sf_dir, "documents")
    return segment_dedup_scrub(docs, seg=_SEG)


@register(
    "source_segment_dup_profile",
    f"""
WITH toks AS (
  SELECT doc_id, source,
         list_filter(regexp_split_to_array(lower(trim(text)), '\\s+'),
                     w -> w <> '') AS toks
  FROM documents
),
starts AS (
  SELECT doc_id, source, toks,
         unnest(generate_series(0, len(toks) - 1, {_SEG})) AS s
  FROM toks WHERE len(toks) >= 1
),
segs AS (
  SELECT doc_id, source,
         md5(array_to_string(list_slice(toks, s + 1, least(s + {_SEG}, len(toks))), ' ')) AS h
  FROM starts
),
freq AS (SELECT h, count(*) AS n_occ FROM segs GROUP BY h)
SELECT source,
       CAST(count(*) AS BIGINT) AS n_segs,
       CAST(sum(CASE WHEN f.n_occ > 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_dup_segs,
       CAST(sum(CASE WHEN f.n_occ > 1 THEN 1 ELSE 0 END) * 1000000
            // count(*) AS BIGINT) AS dup_ppm
FROM segs JOIN freq f USING (h)
GROUP BY source
""",
    doc="Per-source segment-duplication health: the share of each "
    "source's 16-token segments that occur more than once corpus-wide "
    "— the number that tells a curation run WHERE the scrub "
    "(doc_segment_dedup_scrub) will bite before running it, and the "
    "per-source readout for boilerplate-heavy feeds. Two fingerprint-"
    "keyed hash aggs + one equi-join on 16-byte keys; segment text "
    "never moves (only hashes shuffle). Integer-ppm keeps both "
    "engines bit-identical.",
    tags=("documents", "dedup", "sources", "profile"),
)
def q_source_segment_dup_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    from flink_application_spark.operators.dedup import segment_rows

    docs = table(spark, sf_dir, "documents")
    # source rides the segmentation scan (passthrough) — a doc_id-keyed
    # re-join here was this round's only SMJ in PLAN_AUDIT (exch 6→4)
    segs = segment_rows(docs, seg=_SEG, passthrough=("source",))
    freq = segs.groupBy("h").agg(F.count(F.lit(1)).alias("n_occ"))
    dup = F.sum(F.when(F.col("n_occ") > 1, 1).otherwise(0))
    return (
        segs.join(freq, "h")
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_segs"),
            dup.cast("bigint").alias("n_dup_segs"),
            F.expr(
                "CAST(sum(CASE WHEN n_occ > 1 THEN 1 ELSE 0 END) * 1000000 "
                "div count(*) AS BIGINT)"
            ).alias("dup_ppm"),
        )
    )
