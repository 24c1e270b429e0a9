"""Media dedup queries: perceptual-hash signatures over binary columns
and banded hamming pair search — the multimodal leg of the dedup
family (registered late; the driver's first-50 sample window is owned
by the §2 core + the round-1/2 oracle set).

The blob payload is the document's UTF-8 text (pure ASCII in the
testdata), so the byte-bigram histogram the Spark side computes with
numpy over Arrow buffers has a closed-form DuckDB oracle in ascii()
arithmetic — the encode→Arrow→numpy loop is value-hash-checked.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from flink_application_spark.catalog import table
from flink_application_spark.operators.multimodal import (
    PHASH_BINS,
    image_phash,
    synth_media,
)
from flink_application_spark.plans.registry import register

_HAM_MAX = 3
_N_BANDS = 4  # pigeonhole: hamming <= 3 over 4 bands => >= 1 band equal
_BAND_WIDTH = PHASH_BINS // _N_BANDS  # 15 bits
_BAND_MASK = (1 << _BAND_WIDTH) - 1

# DuckDB: byte-bigram histogram bits via ascii() arithmetic.
_PHASH_CTE = f"""
bigrams AS (
  SELECT doc_id,
         list_transform(generate_series(1, octet_length(encode(text)) - 1),
                        i -> (ascii(substr(text, CAST(i AS INTEGER), 1)) * 31
                              + ascii(substr(text, CAST(i AS INTEGER) + 1, 1)))
                             % {PHASH_BINS}) AS bins,
         octet_length(encode(text)) - 1 AS n
  FROM documents
  WHERE octet_length(encode(text)) >= 2
),
ph AS (
  SELECT doc_id,
         CAST(list_sum(list_transform(generate_series(0, {PHASH_BINS - 1}),
           j -> CASE WHEN len(list_filter(bins, b -> b = j)) * {PHASH_BINS} > n
                THEN CAST(1 AS BIGINT) << CAST(j AS INTEGER) ELSE 0 END))
           AS BIGINT) AS phash
  FROM bigrams
)
"""


def _pca_top2_oracle() -> str:
    from flink_application_spark.operators.pca_exact import pca_top2_exact_oracle_sql

    return pca_top2_exact_oracle_sql()


@register(
    "emb_pca_top2_projection",
    _pca_top2_oracle(),
    doc="Two-component PCA projection (pc1, pc2) of the embedding "
    "table on the exact-integer recipe (operators/pca_exact.py): one "
    "Gram pass gives n, the coordinate sums s and the Gram G of the "
    "ppm vectors; the covariance n·G − s·sᵀ is exact; component 1 is "
    "TOP2_ITERS (500) max-|w| power rounds with truncating division, "
    "component 2 the same rounds plus an integer Gram–Schmidt step "
    "against component 1 (|cos| to numpy eigh's top two ≥ 1 − 1e-9 on "
    "the sf0.001 fixture, tests/test_pca.py); pc1/pc2 are exact BIGINT "
    "dot products of the mean-centered ppm vector with each component. "
    "DuckDB replays the moments as MATERIALIZED HUGEINT CTEs and the "
    "power rounds as recursive CTEs over HUGEINT lists.",
    tags=("embeddings", "pca", "training", "deterministic"),
)
def q_pca_top2(spark: SparkSession, sf_dir: str) -> DataFrame:
    from flink_application_spark.operators.pca_exact import pca_top2_exact_projection

    emb = table(spark, sf_dir, "embeddings")
    return pca_top2_exact_projection(emb).select(
        "vec_id", "label", "pc1", "pc2"
    )


@register(
    "mm_image_phash",
    "WITH " + _PHASH_CTE + "SELECT doc_id, phash FROM ph",
    doc=f"Perceptual-hash signature per media blob: {PHASH_BINS}-bin "
    "byte-bigram histogram, bit set iff the bin share beats uniform. "
    "8 bytes per blob regardless of blob size, one scan-local numpy "
    "pass (operators/multimodal.py:image_phash); the binary-column "
    "analogue of SimHash and the primitive under media dedup.",
    tags=("multimodal", "binary", "dedup"),
)
def q_mm_phash(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = table(spark, sf_dir, "documents")
    return image_phash(synth_media(docs))


@register(
    "mm_image_phash_near_dup_pairs",
    "WITH "
    + _PHASH_CTE
    + f"""
SELECT a.doc_id AS id_a, b.doc_id AS id_b,
       CAST(bit_count(xor(a.phash, b.phash)) AS BIGINT) AS hamming
FROM ph a JOIN ph b
  ON a.doc_id < b.doc_id
 AND bit_count(xor(a.phash, b.phash)) <= {_HAM_MAX}
""",
    doc=f"Media near-duplicate pairs at phash hamming <= {_HAM_MAX}: "
    f"signatures split into {_N_BANDS} {_BAND_WIDTH}-bit bands; by "
    f"pigeonhole any qualifying pair agrees on >= 1 band, so "
    f"candidates come from an equi-join on (band_idx, band_val) — no "
    f"O(n²) — then bit_count(xor) verifies exactly. Identical scale "
    f"shape to doc_simhash_near_dup_pairs, driven from the BINARY "
    f"column: dedup of images/audio without ever shuffling blobs. "
    f"Oracle is the brute-force quadratic self-join, integer-exact.",
    tags=("multimodal", "binary", "dedup", "simhash"),
)
def q_mm_phash_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = table(spark, sf_dir, "documents")
    sigs = image_phash(synth_media(docs)).persist()
    bands = sigs.select(
        "doc_id",
        "phash",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(i).alias("band_idx"),
                        F.expr(
                            f"shiftright(phash, {_BAND_WIDTH * i}) & {_BAND_MASK}"
                        ).alias("band_val"),
                    )
                    for i in range(_N_BANDS)
                ]
            )
        ).alias("band"),
    ).select("doc_id", "phash", "band.band_idx", "band.band_val")
    a = bands.select(
        F.col("doc_id").alias("id_a"), F.col("phash").alias("ph_a"),
        "band_idx", "band_val",
    )
    b = bands.select(
        F.col("doc_id").alias("id_b"), F.col("phash").alias("ph_b"),
        "band_idx", "band_val",
    )
    return (
        a.join(b, ["band_idx", "band_val"])
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b", "ph_a", "ph_b")
        .distinct()
        .select(
            "id_a",
            "id_b",
            F.bit_count(F.col("ph_a").bitwiseXOR(F.col("ph_b")))
            .cast("bigint")
            .alias("hamming"),
        )
        .filter(F.col("hamming") <= _HAM_MAX)
    )
