"""Compression-ratio quality signal — the cheap, language-agnostic
repetitiveness detector every large-corpus cleaning stack runs
(low zlib ratio ⇒ highly repetitive/templated text; very high ratio ⇒
random/binary junk). Gopher's repetition rules catch word-level
patterns; DEFLATE catches byte-level ones they miss.

Spark shape: one Arrow-batched pandas UDF over the text column
(zlib is C-speed; the UDF is vectorized per batch, not per-row
Python), emitting integer byte sizes so the ratio is exact rational
arithmetic — no float drift. No shuffle at all.

No DuckDB oracle: zlib is not available in SQL — the query is
rows-only at the driver gate and pinned value-for-value against
direct python zlib in tests/test_compress.py (same library, same
level, so equality is exact, not approximate).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F
from pyspark.sql.functions import pandas_udf

from flink_application_spark.catalog import table
from flink_application_spark.plans.registry import register

_LEVEL = 6  # zlib default — pinned so results are reproducible


def _compressed_len_udf():
    import pandas as pd
    import zlib

    @pandas_udf("bigint")
    def comp_len(texts):
        return pd.Series(
            [
                None
                if t is None
                else len(zlib.compress(t.encode("utf-8"), _LEVEL))
                for t in texts
            ],
            dtype="Int64",
        )

    return comp_len


def compression_signals(docs: DataFrame) -> DataFrame:
    """(doc_id, raw_bytes, zlib_bytes, ratio_ppm): ratio = compressed
    over raw in integer ppm (rational — hash-stable)."""
    comp_len = _compressed_len_udf()
    raw = F.octet_length(F.col("text"))
    return docs.select(
        "doc_id",
        raw.cast("bigint").alias("raw_bytes"),
        comp_len(F.col("text")).alias("zlib_bytes"),
    ).select(
        "doc_id",
        "raw_bytes",
        "zlib_bytes",
        F.expr(
            "CASE WHEN raw_bytes > 0 THEN zlib_bytes * 1000000L div raw_bytes END"
        ).alias("ratio_ppm"),
    )


@register(
    "doc_compression_ratio",
    None,  # zlib has no SQL equivalent — python-parity-pinned instead
    doc=f"zlib(level {_LEVEL}) compression ratio per document (integer "
    "ppm): the byte-level repetitiveness signal complementing the "
    "Gopher word-level rules — low ratio = templated/boilerplate, "
    "extreme high = junk. One Arrow-batched vectorized UDF, zero "
    "shuffle; exact-equality pinned against direct python zlib.",
    tags=("documents", "quality"),
)
def q_compression_ratio(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = table(spark, sf_dir, "documents")
    return compression_signals(docs)
