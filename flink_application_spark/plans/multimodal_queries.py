"""Multimodal-column queries, oracle-checked end-to-end.

Each query runs the REAL binary path — synthesize SGB1 blobs from
`documents` via mapInPandas, ship them through Arrow, decode them in a
second Python stage — while the DuckDB oracle computes the closed-form
expected output directly from the documents columns (header fields are
functions of doc_id; the payload is the UTF-8 text, which is pure
ASCII in the testdata, so byte arithmetic = ascii() arithmetic).
A value-hash match therefore proves the entire encode → Arrow →
Python → decode loop, not a mock of it.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from flink_application_spark.catalog import table
from flink_application_spark.operators.multimodal import (
    audio_window_features,
    decode_meta,
    extract_features,
    sample_frames,
    synth_audio,
    synth_media,
)
from flink_application_spark.plans.registry import register

# Closed-form header fields (synth_media's construction).
_META_ORACLE_COLS = """
  doc_id,
  'SGB1' AS format,
  CAST(64 + doc_id % 192 AS INTEGER) AS width,
  CAST(64 + (doc_id * 7) % 192 AS INTEGER) AS height,
  CAST(1 + doc_id % 3 AS INTEGER) AS channels,
  octet_length(encode(text)) AS payload_len
"""


@register(
    "mm_image_meta",
    f"SELECT {_META_ORACLE_COLS} FROM documents",
    doc="Binary metadata decode: blobs synthesized and parsed in two "
    "Arrow-batched mapInPandas stages; oracle checks header round-trip.",
    tags=("multimodal", "binary"),
)
def q_mm_meta(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = table(spark, sf_dir, "documents")
    return decode_meta(synth_media(docs))


@register(
    "mm_image_features",
    f"""
SELECT {_META_ORACLE_COLS},
  (list_sum(list_transform(string_split(text, ''), c -> ascii(c))) * 10000
   // octet_length(encode(text))) / 10000.0 AS mean_byte,
  CAST((64 + doc_id % 192) AS BIGINT) * (64 + (doc_id * 7) % 192) * (1 + doc_id % 3) AS n_pixels
FROM documents
""",
    doc="Feature extraction over binary payloads (mean byte value via "
    "numpy over Arrow buffers) — the vectorized-Python feature stage.",
    tags=("multimodal", "binary"),
)
def q_mm_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = table(spark, sf_dir, "documents")
    return extract_features(synth_media(docs))


@register(
    "mm_frame_sample",
    """
WITH meta AS (
  SELECT doc_id, text, octet_length(encode(text)) AS plen
  FROM documents
),
frames AS (
  SELECT doc_id, text,
         unnest(generate_series(0, CAST(plen / 256 AS INTEGER) - 1, 4)) AS frame_idx
  FROM meta
  WHERE plen >= 256
)
SELECT doc_id,
       CAST(frame_idx AS INTEGER) AS frame_idx,
       CAST(9 + frame_idx * 256 AS BIGINT) AS frame_offset,
       256 AS frame_len,
       CAST(list_sum(list_transform(string_split(substr(text, frame_idx * 256 + 1, 256), ''),
                                    c -> ascii(c))) AS BIGINT) AS frame_sum
FROM frames
""",
    doc="Frame sampling: payload as 256-byte frames, every 4th emitted "
    "with offset + byte-sum — the explode-shaped (1→N) mapInPandas.",
    tags=("multimodal", "binary", "video"),
)
def q_mm_frames(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = table(spark, sf_dir, "documents")
    return sample_frames(synth_media(docs), frame_len=256, stride=4)


@register(
    "mm_audio_window_features",
    """
WITH ticks AS (
  SELECT unnest(generate_series(0, 959)) AS t
),
samples AS (
  SELECT d.doc_id AS doc_id, ticks.t AS t,
         ((d.doc_id * 31 + ticks.t * 17) % 256) - 128 AS s
  FROM documents d
  CROSS JOIN ticks
  WHERE ticks.t < ((800 + d.doc_id % 320) // 160) * 160
)
SELECT doc_id,
       CAST(t // 160 AS INTEGER) AS window_idx,
       CAST(sum(s * s) * 10000 // 160 AS BIGINT) / 10000.0 AS mean_sq,
       CAST(max(abs(s)) AS INTEGER) AS peak,
       CAST(sum(CASE WHEN s >= 0 THEN 1 ELSE 0 END) AS INTEGER) AS n_nonneg
FROM samples
GROUP BY doc_id, window_idx
""",
    doc="Audio feature extraction: deterministic int8 PCM synthesized "
    "per document (sample formula closed-form in doc_id), shipped as a "
    "binary column through Arrow, windowed into 160-sample frames with "
    "mean-square energy / peak / sign-count per window in a numpy "
    "mapInPandas stage. The DuckDB oracle regenerates the identical "
    "signal via generate_series — a value-hash match proves the whole "
    "PCM encode → Arrow → numpy → feature loop.",
    tags=("multimodal", "binary", "audio"),
)
def q_mm_audio(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = table(spark, sf_dir, "documents")
    return audio_window_features(synth_audio(docs))


@register(
    "mm_frame_delta_scene_changes",
    """
WITH meta AS (
  SELECT doc_id, text, octet_length(encode(text)) AS plen
  FROM documents
),
frames AS (
  SELECT doc_id,
         CAST(unnest(generate_series(0, CAST(plen / 256 AS INTEGER) - 1, 4)) AS INTEGER) AS frame_idx,
         text
  FROM meta
  WHERE plen >= 256
),
sums AS (
  SELECT doc_id, frame_idx,
         CAST(list_sum(list_transform(string_split(substr(text, frame_idx * 256 + 1, 256), ''),
                                      c -> ascii(c))) AS BIGINT) AS frame_sum
  FROM frames
)
SELECT doc_id, frame_idx, frame_sum,
       CAST(frame_sum - lag(frame_sum) OVER (PARTITION BY doc_id ORDER BY frame_idx)
            AS BIGINT) AS delta
FROM sums
QUALIFY abs(delta) > 200 OR delta IS NULL
""",
    doc="Scene-change detection over the sampled video frames: per-doc "
    "lag() of frame byte-sums, keep jumps > 200 (plus the first frame). "
    "Exercises a window function OVER THE OUTPUT OF a Python "
    "mapInPandas stage — the partition key survives the opaque stage, "
    "so the window shuffle hashes on doc_id without rereading blobs.",
    tags=("multimodal", "video", "window"),
)
def q_mm_frame_delta(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    docs = table(spark, sf_dir, "documents")
    frames = sample_frames(synth_media(docs), frame_len=256, stride=4)
    w = Window.partitionBy("doc_id").orderBy("frame_idx")
    return (
        frames.withColumn("delta", F.col("frame_sum") - F.lag("frame_sum").over(w))
        .filter((F.abs(F.col("delta")) > 200) | F.col("delta").isNull())
        .select("doc_id", "frame_idx", "frame_sum", "delta")
    )
