"""Multimodal binary-column plumbing tests (schema, batch shape,
round-trips) — the parts the DuckDB oracle can't see."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from flink_application_spark.catalog import table
from flink_application_spark.operators.multimodal import (
    HEADER_LEN,
    decode_meta,
    extract_features,
    pack_header,
    sample_frames,
    synth_media,
    unpack_header,
)


@pytest.fixture(scope="module")
def media(spark, sf_dir):
    docs = table(spark, sf_dir, "documents")
    return synth_media(docs).cache()


def test_header_roundtrip():
    b = pack_header(640, 480, 3) + b"payload"
    assert unpack_header(b) == (640, 480, 3)
    with pytest.raises(ValueError):
        unpack_header(b"XXXX" + b"\x00" * 10)


def test_synth_media_schema_and_magic(spark, media):
    assert [f.simpleString() for f in media.schema] == [
        "doc_id:bigint",
        "media:binary",
    ]
    row = media.first()
    assert bytes(row.media)[:4] == b"SGB1"


def test_decode_meta_matches_construction(spark, media, sf_dir):
    docs = table(spark, sf_dir, "documents")
    meta = decode_meta(media)
    joined = meta.join(docs.select("doc_id", "n_chars"), "doc_id")
    bad = joined.filter(
        (F.col("width") != 64 + F.col("doc_id") % 192)
        | (F.col("height") != 64 + (F.col("doc_id") * 7) % 192)
        | (F.col("channels") != 1 + F.col("doc_id") % 3)
        | (F.col("payload_len") != F.col("n_chars"))  # ASCII text: bytes == chars
    )
    assert bad.count() == 0


def test_features_mean_byte_range(spark, media):
    feats = extract_features(media)
    # payload is lowercase ascii + space/digits → mean byte well inside [32, 122]
    mn, mx = feats.agg(F.min("mean_byte"), F.max("mean_byte")).first()
    assert 32.0 <= mn <= mx <= 122.0
    assert feats.filter(F.col("n_pixels") != F.col("width") * F.col("height") * F.col("channels")).count() == 0


def test_sample_frames_stride_and_sums(spark, media):
    frames = sample_frames(media, frame_len=100, stride=2).cache()
    assert frames.filter(F.col("frame_idx") % 2 != 0).count() == 0
    assert frames.filter(F.col("frame_offset") != HEADER_LEN + F.col("frame_idx") * 100).count() == 0
    # frame byte-sums of ascii text are bounded per 100-byte frame
    assert frames.filter((F.col("frame_sum") < 100 * 32) | (F.col("frame_sum") > 100 * 122)).count() == 0
    frames.unpersist()
