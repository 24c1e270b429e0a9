"""Row-level dedup / arg-max reduction operators.

`argmax_dedup` is the batch form of the reference's keyed session-window
max-by aggregate (EnrichmentApp.java:142-156 + the MaxStartTimeAggregate
UDAF at :376-403): per key keep exactly the row with the greatest
ordering column. The streaming form lives in `streaming.dedup`.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window, functions as F


def argmax_dedup(
    df: DataFrame,
    key_cols: list[str],
    order_cols: list,
) -> DataFrame:
    """Keep one row per key: the max under `order_cols` (descending,
    first column is the primary criterion; pass extra columns as a
    deterministic tie-break — the reference UDAF keeps whichever row
    arrived last on ties, which is nondeterministic; we declare the
    tie-break instead, per SURVEY §5).

    Implemented as window row_number rather than
    `groupBy().agg(max_by(struct(*)))` — both are single-shuffle on the
    key; row_number preserves input column order/types exactly and AQE
    handles key skew. At 100 TB this is one hash exchange on key_cols;
    no driver-side work.
    """
    w = Window.partitionBy(*key_cols).orderBy(*[F.col(c).desc_nulls_last() for c in order_cols])
    return (
        df.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .drop("__rn")
    )


def segment_rows(
    docs: DataFrame, seg: int = 16, passthrough: tuple[str, ...] = ()
) -> DataFrame:
    """(doc_id, seg_idx, seg_text, h): non-overlapping `seg`-token
    segments of each doc with an md5 fingerprint — the unit of the
    keep-first segment dedup scrub (arXiv:2107.06499 operates on
    spans; fixed segments are the shuffle-friendly discretization:
    scan-local sequence+transform explode, zero Python, and only
    (16-byte hash + segment text) ever moves). ``passthrough`` names
    extra doc columns to carry through the explode — cheaper than a
    doc_id-keyed re-join downstream (the scan already has the row)."""
    from flink_application_spark.functions.text import tokens

    toks = docs.select(
        "doc_id",
        *passthrough,
        F.filter(tokens(F.col("text")), lambda t: t != "").alias("toks"),
    ).filter(F.size("toks") >= 1)
    return toks.select(
        "doc_id",
        *passthrough,
        F.explode(
            F.transform(
                F.sequence(F.lit(0), F.size("toks") - 1, F.lit(seg)),
                lambda s: F.struct(
                    (s / F.lit(seg)).cast("int").alias("seg_idx"),
                    F.concat_ws(" ", F.slice(F.col("toks"), s + 1, seg)).alias(
                        "seg_text"
                    ),
                ),
            )
        ).alias("g"),
    ).select(
        "doc_id",
        *passthrough,
        "g.seg_idx",
        "g.seg_text",
        F.md5("g.seg_text").alias("h"),
    )


def segment_scrub_assemble(flagged: DataFrame) -> DataFrame:
    """(doc_id, n_segs, n_dropped, scrubbed_text) from segment rows
    carrying a 0/1 `kept` column: order-preserving reassembly via
    sort_array(collect_list(struct)) — one doc_id-keyed agg."""
    return flagged.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_segs"),
        F.sum(F.lit(1) - F.col("kept")).cast("bigint").alias("n_dropped"),
        F.concat_ws(
            " ",
            F.transform(
                F.sort_array(
                    F.collect_list(
                        F.when(
                            F.col("kept") == 1,
                            F.struct("seg_idx", "seg_text"),
                        )
                    )
                ),
                lambda x: x["seg_text"],
            ),
        ).alias("scrubbed_text"),
    )


def segment_dedup_scrub(docs: DataFrame, seg: int = 16) -> DataFrame:
    """Materializing keep-first segment dedup: drop every segment whose
    fingerprint was already seen at a lexicographically smaller
    (doc_id, seg_idx); reassemble surviving text in order. ONE shuffle
    keyed on the fingerprint (uniform by construction), struct-min
    first-occurrence, then a doc_id-keyed reassembly agg."""
    segs = segment_rows(docs, seg)
    firsts = segs.groupBy("h").agg(
        F.min(
            F.struct(F.col("doc_id").alias("d"), F.col("seg_idx").alias("s"))
        ).alias("fk")
    )
    flagged = segs.join(firsts, "h").select(
        "doc_id",
        "seg_idx",
        "seg_text",
        (
            (F.col("doc_id") == F.col("fk.d")) & (F.col("seg_idx") == F.col("fk.s"))
        ).cast("int").alias("kept"),
    )
    return segment_scrub_assemble(flagged)
