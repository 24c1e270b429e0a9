"""Multimodal (image/audio/video) column plumbing.

Large-scale training pipelines carry media as opaque ``binary``
columns plus typed metadata, and run decode / feature-extraction /
frame-sampling as Arrow-batched Python stages. This module implements
that plumbing for real — schemas, ``mapInPandas`` batch shapes,
partitioning — against a deterministic container format in place of
real image/audio codecs (PIL / torchvision / ffmpeg).

Container format **SGB1** (spark-graft binary, deliberately trivial):

    bytes 0-3   magic  b"SGB1"
    bytes 4-5   width  (uint16, big-endian)
    bytes 6-7   height (uint16, big-endian)
    byte  8     channels (uint8)
    bytes 9-    payload (raw bytes; "pixels" / "samples" / "frames")

Blobs are synthesized deterministically from the `documents` table
(payload = UTF-8 text, header fields derived from doc_id), so every
decode stage has a closed-form DuckDB oracle — the whole
encode→Arrow→Python→decode loop is value-hash-checked, not mocked.

Design notes for 100 TB:
- mapInPandas streams Arrow record batches; peak memory is one batch,
  not one partition. Batch size is governed by
  `spark.sql.execution.arrow.maxRecordsPerBatch` — size it so
  batch_rows × max_blob_bytes fits the executor Python heap.
- Blobs never pass through a shuffle here: decode/feature stages are
  narrow (scan → mapInPandas). Group-by-media-id work should hash on
  the metadata key, never the binary.
- Feature outputs are small typed columns — the binary is dropped as
  early as possible (column pruning can't prune through an opaque
  Python stage, so we select before, not after).
"""

from __future__ import annotations

import struct
from collections.abc import Iterator
from typing import TYPE_CHECKING

from pyspark.sql import DataFrame, functions as F

if TYPE_CHECKING:
    import pandas as pd

MAGIC = b"SGB1"
HEADER_LEN = 9

# Decoded-metadata schema (the typed half of the binary+meta pair).
META_SCHEMA = (
    "doc_id bigint, format string, width int, height int, channels int, "
    "payload_len bigint"
)
FEATURE_SCHEMA = META_SCHEMA + ", mean_byte double, n_pixels bigint"
FRAME_SCHEMA = "doc_id bigint, frame_idx int, frame_offset bigint, frame_len int, frame_sum bigint"


def pack_header(width: int, height: int, channels: int) -> bytes:
    return MAGIC + struct.pack(">HHB", width, height, channels)


def unpack_header(blob: bytes) -> tuple[int, int, int]:
    if blob[:4] != MAGIC:
        raise ValueError("not an SGB1 blob")
    width, height, channels = struct.unpack(">HHB", blob[4:HEADER_LEN])
    return width, height, channels


# ---------------------------------------------------------------------------
# Synthesis: documents → (doc_id, media binary)
# ---------------------------------------------------------------------------


def synth_media(docs: DataFrame) -> DataFrame:
    """Deterministic blob per document: header fields are closed-form
    functions of doc_id (oracle-able), payload is the UTF-8 text."""

    def encode(batches: Iterator["pd.DataFrame"]) -> Iterator["pd.DataFrame"]:
        import pandas as pd

        for pdf in batches:
            blobs = [
                pack_header(
                    64 + int(i) % 192, 64 + (int(i) * 7) % 192, 1 + int(i) % 3
                )
                + t.encode("utf-8")
                for i, t in zip(pdf["doc_id"], pdf["text"])
            ]
            yield pd.DataFrame({"doc_id": pdf["doc_id"], "media": blobs})

    return docs.select("doc_id", "text").mapInPandas(
        encode, schema="doc_id bigint, media binary"
    )


# ---------------------------------------------------------------------------
# Decode / feature extraction / frame sampling
# ---------------------------------------------------------------------------


def decode_meta(media: DataFrame) -> DataFrame:
    """Header decode: binary → typed metadata row (no payload copy)."""

    def decode(batches: Iterator["pd.DataFrame"]) -> Iterator["pd.DataFrame"]:
        import pandas as pd

        for pdf in batches:
            rows = []
            for i, blob in zip(pdf["doc_id"], pdf["media"]):
                b = bytes(blob)
                w, h, c = unpack_header(b)
                rows.append((int(i), "SGB1", w, h, c, len(b) - HEADER_LEN))
            yield pd.DataFrame(
                rows,
                columns=[
                    "doc_id", "format", "width", "height", "channels", "payload_len",
                ],
            )

    return media.mapInPandas(decode, schema=META_SCHEMA)


def extract_features(media: DataFrame) -> DataFrame:
    """Metadata + payload statistics (mean byte value, pixel count) —
    the vectorized-Python feature-extraction stage shape."""

    def feats(batches: Iterator["pd.DataFrame"]) -> Iterator["pd.DataFrame"]:
        import numpy as np
        import pandas as pd

        for pdf in batches:
            rows = []
            for i, blob in zip(pdf["doc_id"], pdf["media"]):
                b = bytes(blob)
                w, h, c = unpack_header(b)
                payload = np.frombuffer(b, dtype=np.uint8, offset=HEADER_LEN)
                # exact integer floor-div to 4 dp: Python's round() is
                # banker's, SQL's is half-away — floor arithmetic is the
                # only formulation both engines reproduce bit-identically
                mean = (
                    (int(payload.sum()) * 10_000 // payload.size) / 10_000.0
                    if payload.size
                    else 0.0
                )
                rows.append(
                    (int(i), "SGB1", w, h, c, payload.size, mean, w * h * c)
                )
            yield pd.DataFrame(
                rows,
                columns=[
                    "doc_id", "format", "width", "height", "channels",
                    "payload_len", "mean_byte", "n_pixels",
                ],
            )

    return media.mapInPandas(feats, schema=FEATURE_SCHEMA)


def sample_frames(
    media: DataFrame, frame_len: int = 256, stride: int = 4
) -> DataFrame:
    """Frame sampling: treat the payload as consecutive `frame_len`-byte
    frames ('video'), emit every `stride`-th complete frame with its
    offset and byte-sum — one output row per sampled frame (the
    explode-shaped mapInPandas: n_in rows → m_out rows)."""

    def frames(batches: Iterator["pd.DataFrame"]) -> Iterator["pd.DataFrame"]:
        import numpy as np
        import pandas as pd

        for pdf in batches:
            rows = []
            for i, blob in zip(pdf["doc_id"], pdf["media"]):
                b = bytes(blob)
                payload = np.frombuffer(b, dtype=np.uint8, offset=HEADER_LEN)
                n_frames = payload.size // frame_len
                for f in range(0, n_frames, stride):
                    chunk = payload[f * frame_len : (f + 1) * frame_len]
                    rows.append(
                        (
                            int(i),
                            f,
                            HEADER_LEN + f * frame_len,
                            frame_len,
                            int(chunk.sum()),
                        )
                    )
            yield pd.DataFrame(
                rows,
                columns=["doc_id", "frame_idx", "frame_offset", "frame_len", "frame_sum"],
            )

    return media.mapInPandas(frames, schema=FRAME_SCHEMA)


# ---------------------------------------------------------------------------
# Audio: synthetic PCM + windowed feature extraction
# ---------------------------------------------------------------------------

AUDIO_WINDOW = 160  # samples per analysis window (10 ms @ 16 kHz)
AUDIO_FEATURE_SCHEMA = (
    "doc_id bigint, window_idx int, mean_sq double, peak int, n_nonneg int"
)


def _audio_n_samples(doc_id: int) -> int:
    """Closed-form sample count so the oracle can regenerate the signal."""
    return 800 + doc_id % 320


PHASH_BINS = 60  # fits a signed BIGINT (same reasoning as 60-bit simhash)


def image_phash(media: DataFrame, n_bins: int = PHASH_BINS) -> DataFrame:
    """Perceptual-hash-style content signature over the decoded
    payload: byte-bigram histogram in ``n_bins`` bins
    (``(b[i]*31 + b[i+1]) % n_bins``), bit j set iff bin j's share is
    strictly above the uniform 1/n_bins. Near-identical payloads get
    near-identical codes (hamming 0-2); unrelated payloads differ in
    ~n_bins/4 bits (measured median 14 on the testdata corpus).

    This is the binary-column analogue of SimHash — the media dedup
    primitive: signatures are 8 bytes/blob regardless of blob size,
    computed scan-local in one numpy pass, and pair search reuses the
    pigeonhole band machinery. A real pHash (DCT of a downscaled
    grayscale image) slots into the same signature→bands→verify
    pipeline; the byte-bigram form is deterministic on the SGB1
    container so the whole path is oracle-checkable."""
    if n_bins > 63:
        raise ValueError(f"phash is BIGINT-encoded: n_bins must be <= 63, got {n_bins}")

    def ph(batches: Iterator["pd.DataFrame"]) -> Iterator["pd.DataFrame"]:
        import numpy as np
        import pandas as pd

        for pdf in batches:
            out = []
            for i, blob in zip(pdf["doc_id"], pdf["media"]):
                b = np.frombuffer(bytes(blob), dtype=np.uint8)[HEADER_LEN:].astype(
                    np.int64
                )
                code = 0
                if len(b) >= 2:
                    bins = (b[:-1] * 31 + b[1:]) % n_bins
                    hist = np.bincount(bins, minlength=n_bins)[:n_bins]
                    total = int(hist.sum())
                    for j in range(n_bins):
                        if int(hist[j]) * n_bins > total:
                            code |= 1 << j
                out.append((int(i), code))
            yield pd.DataFrame(out, columns=["doc_id", "phash"])

    return media.mapInPandas(ph, schema="doc_id bigint, phash bigint")


def synth_audio(docs: DataFrame) -> DataFrame:
    """Deterministic int8 PCM per document: sample t is
    ``((doc_id*31 + t*17) % 256) - 128``, truncated to complete
    AUDIO_WINDOW-sample windows, stored +128-biased as uint8 payload in
    an SGB1 blob (width=window size, height=window count, channels=1).

    Both the sample formula and the length are closed-form in doc_id,
    so downstream feature extraction has an exact DuckDB
    generate_series oracle — the Arrow round trip is value-checked,
    not mocked."""

    def encode(batches: Iterator["pd.DataFrame"]) -> Iterator["pd.DataFrame"]:
        import numpy as np
        import pandas as pd

        for pdf in batches:
            blobs = []
            for i in pdf["doc_id"]:
                d = int(i)
                n = (_audio_n_samples(d) // AUDIO_WINDOW) * AUDIO_WINDOW
                t = np.arange(n, dtype=np.int64)
                s = (d * 31 + t * 17) % 256 - 128
                blobs.append(
                    pack_header(AUDIO_WINDOW, n // AUDIO_WINDOW, 1)
                    + (s + 128).astype(np.uint8).tobytes()
                )
            yield pd.DataFrame({"doc_id": pdf["doc_id"], "media": blobs})

    return docs.select("doc_id").mapInPandas(encode, schema="doc_id bigint, media binary")


def audio_window_features(media: DataFrame) -> DataFrame:
    """Per-window audio features over the PCM payload: integer
    mean-square energy (floor-scaled to 4 dp — the only rounding both
    engines reproduce bit-identically), peak |amplitude|, and
    non-negative-sample count. Explode-shaped mapInPandas: one input
    blob → one row per analysis window."""

    def feats(batches: Iterator["pd.DataFrame"]) -> Iterator["pd.DataFrame"]:
        import numpy as np
        import pandas as pd

        for pdf in batches:
            rows = []
            for i, blob in zip(pdf["doc_id"], pdf["media"]):
                b = bytes(blob)
                win, n_windows, _ = unpack_header(b)
                payload = np.frombuffer(b, dtype=np.uint8, offset=HEADER_LEN)
                s = payload.astype(np.int64) - 128
                for w in range(n_windows):
                    chunk = s[w * win : (w + 1) * win]
                    mean_sq = int((chunk * chunk).sum()) * 10_000 // win / 10_000.0
                    rows.append(
                        (
                            int(i),
                            w,
                            mean_sq,
                            int(np.abs(chunk).max()),
                            int((chunk >= 0).sum()),
                        )
                    )
            yield pd.DataFrame(
                rows,
                columns=["doc_id", "window_idx", "mean_sq", "peak", "n_nonneg"],
            )

    return media.mapInPandas(feats, schema=AUDIO_FEATURE_SCHEMA)
