"""Chunking contracts (oracle parity in test_oracle_parity)."""

from __future__ import annotations

from pyspark.sql import functions as F

from flink_application_spark.catalog import table
from flink_application_spark.functions.text import tokens
from flink_application_spark.plans.chunk_queries import _STRIDE, _WINDOW, chunk_windows


def test_chunk_coverage_and_bounds(spark, sf_dir):
    docs = table(spark, sf_dir, "documents")
    chunks = chunk_windows(docs).cache()

    # exact size law: chunk_tok == min(window, n_doc_tokens - start)
    ntok = docs.select(
        "doc_id",
        F.size(F.filter(tokens(F.col("text")), lambda t: t != "")).alias("n"),
    ).filter(F.col("n") >= 1)
    assert (
        chunks.join(ntok, "doc_id")
        .filter(
            F.col("chunk_tok")
            != F.least(F.lit(_WINDOW), F.col("n") - F.col("start_tok"))
        )
        .count()
        == 0
    )

    # coverage: per doc, max(start_tok + chunk_tok) == token count and
    # the last start is exactly (n_chunks - 1) * stride
    cover = chunks.groupBy("doc_id").agg(
        F.max(F.col("start_tok") + F.col("chunk_tok")).alias("covered"),
        F.count(F.lit(1)).alias("n_chunks"),
        F.max("start_tok").alias("max_start"),
    )
    joined = ntok.join(cover, "doc_id")
    assert joined.filter(F.col("covered") != F.col("n")).count() == 0
    assert joined.filter(
        F.col("max_start") != (F.col("n_chunks") - 1) * _STRIDE
    ).count() == 0

    # fingerprints: equal md5 <=> equal chunk_text
    dup = (
        chunks.groupBy("chunk_md5")
        .agg(F.countDistinct("chunk_text").alias("d"))
        .filter(F.col("d") > 1)
        .count()
    )
    assert dup == 0
    chunks.unpersist()


def test_cdc_chunking_survives_insertion_where_fixed_segments_dont(spark):
    """The CDC claim, measured: copy a 200-token doc and insert ONE
    token near the front. Content-defined boundaries re-synchronize at
    the next cut, so most of the copy's chunks still fingerprint-match
    the original; fixed-width segments all shift and almost nothing
    matches. This is WHY the report exists alongside the fixed-segment
    scrub."""
    import hashlib

    from pyspark.sql import functions as F

    from flink_application_spark.operators.dedup import segment_rows
    from flink_application_spark.plans.chunk_queries import cdc_chunk_report_frame

    base = [
        hashlib.md5(f"w{i}".encode()).hexdigest()[:6] for i in range(200)
    ]
    shifted = base[:3] + ["INSERTED"] + base[3:]
    docs = spark.createDataFrame(
        [(0, " ".join(base)), (1, " ".join(shifted))],
        "doc_id long, text string",
    )

    cdc = {
        r["doc_id"]: (r["n_dup_chunks"], r["n_chunks"])
        for r in cdc_chunk_report_frame(docs).collect()
    }
    cdc_dup_frac = cdc[1][0] / cdc[1][1]

    segs = segment_rows(docs, seg=16)
    freq = segs.groupBy("h").agg(F.count(F.lit(1)).alias("n_occ"))
    fixed = (
        segs.join(freq, "h")
        .filter(F.col("doc_id") == 1)
        .agg(
            F.sum(F.when(F.col("n_occ") > 1, 1).otherwise(0)).alias("dup"),
            F.count(F.lit(1)).alias("n"),
        )
        .collect()[0]
    )
    fixed_dup_frac = fixed["dup"] / fixed["n"]

    # fixed segments: only the segment BEFORE the insertion can match
    assert fixed_dup_frac <= 0.10, fixed_dup_frac
    # CDC: everything after the first post-insertion cut re-aligns
    assert cdc_dup_frac >= 0.60, cdc_dup_frac
