"""Multimodal column plumbing: image/audio/video as opaque ``binary``
columns with typed metadata, processed by Arrow-batched Pandas UDFs
over ``mapInPandas`` (SURVEY §2.10 X6/X7 — the reference's
YOLO/OCR-shaped stages).

The actual media codecs are NOT in this container, so the decode step
is a clearly-marked deterministic fake (`_fake_decode`) derived from
the md5 of the bytes: the Spark-side plumbing — binary schema, Arrow
batch transfer, UDF signatures, partition-wise iteration, output
schema — is real and tested; swapping `_fake_decode` for PIL/ffmpeg
is a one-function change. `decode_media(..., strict=True)` raises
``NotImplementedError`` instead, marking exactly where the real codec
belongs.

Scale design: ``mapInPandas`` streams Arrow batches per partition, so
peak memory is one batch of media bytes per core; feature vectors are
fixed-size float arrays that downstream similarity operators
(`queries.similarity`) consume without reshuffling the raw bytes.
"""

from __future__ import annotations

import hashlib
from collections.abc import Iterator

import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

MEDIA_SCHEMA = "doc_id long, media binary, media_type string"

DECODED_SCHEMA = (
    "doc_id long, media_type string, n_bytes long, content_md5 string, "
    "width int, height int"
)

FEATURE_DIM = 8
FEATURE_SCHEMA = f"doc_id long, feature array<double>"

FRAMES_SCHEMA = "doc_id long, frame_idx int, frame_md5 string"


def _fake_decode(raw: bytes) -> tuple[int, int]:
    """DETERMINISTIC FAKE decode (no media libs in this container):
    pretend width/height from the content hash. Replace with
    PIL.Image.open/ffprobe in production."""
    h = hashlib.md5(raw).digest()
    return 64 + h[0] % 192, 64 + h[1] % 192


def attach_binary(df: DataFrame) -> DataFrame:
    """Fixture adapter: treat the ``text`` column's UTF-8 bytes as the
    opaque media payload (the test tables carry no real media)."""
    return df.select(
        "doc_id",
        F.encode(F.col("text"), "UTF-8").alias("media"),
        F.lit("image/fake").alias("media_type"),
    )


def decode_media(df: DataFrame, strict: bool = False) -> DataFrame:
    """binary media rows -> typed metadata rows via mapInPandas."""

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            if strict:
                raise NotImplementedError(
                    "real media decode requires PIL/ffmpeg (absent in this env)"
                )
            out = pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"],
                    "media_type": pdf["media_type"],
                    "n_bytes": pdf["media"].map(len).astype("int64"),
                    "content_md5": pdf["media"].map(
                        lambda b: hashlib.md5(bytes(b)).hexdigest()
                    ),
                }
            )
            wh = pdf["media"].map(lambda b: _fake_decode(bytes(b)))
            out["width"] = wh.map(lambda t: t[0]).astype("int32")
            out["height"] = wh.map(lambda t: t[1]).astype("int32")
            yield out

    return df.mapInPandas(batches, schema=DECODED_SCHEMA)


def extract_features(df: DataFrame) -> DataFrame:
    """binary media rows -> fixed-dim feature vectors (deterministic
    md5-seeded fake embedding; the Arrow plumbing is the product)."""

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            feats = []
            for b in pdf["media"]:
                h = hashlib.md5(bytes(b)).digest()
                feats.append([round(x / 255.0, 6) for x in h[:FEATURE_DIM]])
            yield pd.DataFrame({"doc_id": pdf["doc_id"], "feature": feats})

    return df.mapInPandas(batches, schema=FEATURE_SCHEMA)


def sample_frames(df: DataFrame, n_frames: int = 3) -> DataFrame:
    """'Video' frame sampling: one input row -> n frame rows (the
    UDTF-shaped 1->N expansion of SURVEY §2.10 X6)."""

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            rows = []
            for doc_id, b in zip(pdf["doc_id"], pdf["media"]):
                raw = bytes(b)
                base = hashlib.md5(raw)  # one payload hash, cloned per frame
                for i in range(n_frames):
                    hh = base.copy()
                    hh.update(str(i).encode())
                    rows.append((doc_id, i, hh.hexdigest()))
            yield pd.DataFrame(rows, columns=["doc_id", "frame_idx", "frame_md5"])

    return df.mapInPandas(batches, schema=FRAMES_SCHEMA)


AUDIO_WINDOW_MS = 400
AUDIO_HOP_MS = 200

AUDIO_SCHEMA = (
    "doc_id long, window_idx long, start_ms long, end_ms long, "
    "window_md5 string, energy_scaled long"
)


def sample_audio_windows(df: DataFrame) -> DataFrame:
    """'Audio' sliding windows: one media row -> overlapping
    ``AUDIO_WINDOW_MS`` windows every ``AUDIO_HOP_MS`` (the STFT/VAD
    framing every speech pipeline starts with).
    Duration is faked at 1 byte = 1 ms (a real decoder divides by
    sample_rate * bytes_per_sample); the per-window hash and the
    md5-derived fake energy stand in for the frame content, keeping
    the whole expansion oracle-reproducible. Same Arrow shape as
    sample_frames: 1->N inside the Pandas UDF, peak memory one batch
    of raw bytes per core, windows carry hashes not bytes."""

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            rows = []
            for doc_id, b in zip(pdf["doc_id"], pdf["media"]):
                raw = bytes(b)
                duration_ms = len(raw)
                if duration_ms < AUDIO_WINDOW_MS:
                    continue
                n = (duration_ms - AUDIO_WINDOW_MS) // AUDIO_HOP_MS + 1
                # hash the payload ONCE and clone the digest state per
                # window (r13 kernel payload-skew audit: md5(raw+i)
                # recomputed per window is O(windows x bytes) — a
                # 10-hour row re-hashes its full payload ~180k times
                # inside one task; the clone is O(bytes + windows)
                # with bit-identical digests, md5(raw || str(i)))
                base = hashlib.md5(raw)
                for i in range(n):
                    hh = base.copy()
                    hh.update(str(i).encode())
                    h = hh.hexdigest()
                    energy = int(h[:2], 16)
                    start = i * AUDIO_HOP_MS
                    rows.append((doc_id, i, start, start + AUDIO_WINDOW_MS, h, energy))
            yield pd.DataFrame(
                rows,
                columns=[
                    "doc_id",
                    "window_idx",
                    "start_ms",
                    "end_ms",
                    "window_md5",
                    "energy_scaled",
                ],
            )

    return df.mapInPandas(batches, schema=AUDIO_SCHEMA)
