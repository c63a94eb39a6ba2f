"""S12 image sink tests: the PNG encoder must emit standards-compliant
bytes (signature, chunk framing, CRCs, IHDR fields, DEFLATE IDAT) and
round-trip pixels exactly. The decoder below is written fresh from the
PNG spec for filter-type-0 images and verifies every chunk CRC, so a
torn or miscomputed blob fails loudly rather than "decoding anyway"."""

from __future__ import annotations

import hashlib
import os
import struct
import zlib
from collections.abc import Iterator

import pandas as pd
import pytest
from pyspark.sql import DataFrame

from acuvate_spark.operators.image_sink import (
    PNG_SIGNATURE,
    encode_png,
    png_encode,
    write_png_files,
)

_CHANNELS_BY_COLOR_TYPE = {0: 1, 2: 3, 6: 4}

RASTER_SCHEMA = "doc_id long, width int, height int, channels int, pixels binary"


def attach_raster(
    df: DataFrame,
    text_col: str = "text",
    width: int = 16,
    height: int = 12,
    channels: int = 3,
) -> DataFrame:
    """Fixture adapter for the S12 image sink: a deterministic 8-bit
    raster per row, the md5 keystream of the text tiled to
    ``width*height*channels`` bytes (the test tables carry no real
    overlays). The PIXELS are fake; the PNG encode downstream
    (:mod:`acuvate_spark.operators.image_sink`) is real."""

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        need = width * height * channels
        for pdf in it:
            rasters = []
            for text in pdf[text_col]:
                seed = (text or "").encode()
                buf = bytearray()
                counter = 0
                while len(buf) < need:
                    buf += hashlib.md5(seed + str(counter).encode()).digest()
                    counter += 1
                rasters.append(bytes(buf[:need]))
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"],
                    "width": width,
                    "height": height,
                    "channels": channels,
                    "pixels": rasters,
                }
            )

    return df.select("doc_id", text_col).mapInPandas(batches, schema=RASTER_SCHEMA)


def png_decode(blob: bytes) -> tuple[int, int, int, bytes]:
    """Strict reference decoder (filter type 0 only): returns
    (width, height, channels, row-major pixels)."""
    assert blob[:8] == PNG_SIGNATURE, "bad signature"
    pos, chunks = 8, []
    while pos < len(blob):
        (length,) = struct.unpack(">I", blob[pos : pos + 4])
        tag = blob[pos + 4 : pos + 8]
        payload = blob[pos + 8 : pos + 8 + length]
        (crc,) = struct.unpack(">I", blob[pos + 8 + length : pos + 12 + length])
        assert crc == zlib.crc32(tag + payload) & 0xFFFFFFFF, f"bad CRC on {tag!r}"
        chunks.append((tag, payload))
        pos += 12 + length
    assert [t for t, _ in chunks] == [b"IHDR", b"IDAT", b"IEND"]
    width, height, depth, color_type, comp, filt, interlace = struct.unpack(
        ">IIBBBBB", chunks[0][1]
    )
    assert (depth, comp, filt, interlace) == (8, 0, 0, 0)
    channels = _CHANNELS_BY_COLOR_TYPE[color_type]
    raw = zlib.decompress(chunks[1][1])
    stride = width * channels
    assert len(raw) == height * (1 + stride)
    pixels = bytearray()
    for y in range(height):
        row = raw[y * (1 + stride) : (y + 1) * (1 + stride)]
        assert row[0] == 0, "non-zero filter type"
        pixels += row[1:]
    return width, height, channels, bytes(pixels)


@pytest.mark.parametrize("channels", [1, 3, 4])
def test_png_encode_roundtrip(channels):
    w, h = 5, 3
    pixels = bytes(range(w * h * channels))
    blob = png_encode(w, h, channels, pixels)
    assert png_decode(blob) == (w, h, channels, pixels)


def test_png_encode_bgr_swaps_first_and_third_channel():
    pixels = bytes([10, 20, 30, 40, 50, 60])  # two BGR pixels
    _, _, _, rgb = png_decode(png_encode(2, 1, 3, pixels, bgr=True))
    assert rgb == bytes([30, 20, 10, 60, 50, 40])


def test_png_encode_rejects_bad_input():
    with pytest.raises(ValueError, match="pixel buffer"):
        png_encode(2, 2, 3, b"\x00" * 5)
    with pytest.raises(ValueError, match="channel count"):
        png_encode(1, 1, 2, b"\x00\x00")
    with pytest.raises(ValueError, match="invalid raster dims"):
        png_encode(0, 1, 1, b"")
    with pytest.raises(ValueError, match="bgr"):
        png_encode(1, 1, 1, b"\x00", bgr=True)


def test_encode_png_dataframe_matches_local_codec(spark, sf_dir):
    docs = spark.read.parquet(os.path.join(sf_dir, "documents.parquet")).limit(20)
    rasters = attach_raster(docs, width=8, height=6, channels=3)
    local = {r["doc_id"]: bytes(r["pixels"]) for r in rasters.collect()}
    encoded = {r["id"]: (bytes(r["png"]), r["png_len"]) for r in encode_png(rasters).collect()}
    assert encoded.keys() == local.keys() and len(encoded) == 20
    for doc_id, (blob, blob_len) in encoded.items():
        assert blob_len == len(blob)
        assert png_decode(blob) == (8, 6, 3, local[doc_id])


def test_write_png_files_one_file_per_row(spark, sf_dir, tmp_path):
    out = str(tmp_path / "pngs")
    docs = spark.read.parquet(os.path.join(sf_dir, "documents.parquet")).limit(7)
    rasters = attach_raster(docs, width=4, height=4, channels=1)
    write_png_files(encode_png(rasters), out)
    names = sorted(os.listdir(out))
    assert len(names) == 7 and all(n.endswith(".png") for n in names)
    for name in names:
        w, h, c, _ = png_decode(open(os.path.join(out, name), "rb").read())
        assert (w, h, c) == (4, 4, 1)


def test_parquet_blob_sink_roundtrip(spark, sf_dir, tmp_path):
    from acuvate_spark.operators.sinks import append_parquet

    path = str(tmp_path / "png_blobs")
    docs = spark.read.parquet(os.path.join(sf_dir, "documents.parquet")).limit(5)
    encoded = encode_png(attach_raster(docs))
    append_parquet(encoded, path)
    back = spark.read.parquet(path).collect()
    assert len(back) == 5
    for row in back:
        w, h, c, _ = png_decode(bytes(row["png"]))
        assert (w, h, c) == (16, 12, 3)
