"""Compression-ratio signal: exact equality with direct python zlib
(same library, same level — not approximate)."""

from __future__ import annotations

import zlib

from flink_application_spark.catalog import table
from flink_application_spark.plans.compress_queries import _LEVEL, compression_signals


def test_compression_matches_python_zlib(spark, sf_dir):
    docs = table(spark, sf_dir, "documents")
    got = {
        r["doc_id"]: (r["raw_bytes"], r["zlib_bytes"], r["ratio_ppm"])
        for r in compression_signals(docs).collect()
    }
    rows = docs.select("doc_id", "text").collect()
    assert len(got) == len(rows)
    for r in rows:
        t = r["text"]
        if t is None:
            assert got[r["doc_id"]][1] is None
            continue
        raw = len(t.encode("utf-8"))
        comp = len(zlib.compress(t.encode("utf-8"), _LEVEL))
        want = (raw, comp, comp * 1_000_000 // raw if raw else None)
        assert got[r["doc_id"]] == want


def test_repetitive_text_compresses_harder(spark):
    df = spark.createDataFrame(
        [
            (1, "spam ham " * 200),
            (2, " ".join(f"w{i}x{i * 7 % 97}" for i in range(400))),
        ],
        "doc_id long, text string",
    )
    out = {r["doc_id"]: r["ratio_ppm"] for r in compression_signals(df).collect()}
    assert out[1] < out[2]  # boilerplate compresses far better than varied text
