"""S12 — image sink: distributed PNG encode of overlay-image rows.

Reference semantics: ``send_image_array``
(eni_uat_backend_code/app_original_V2.py:3734-3739) turns ONE NumPy
overlay array into PNG bytes with ``cv2.imencode(".png", ...)`` and
streams it as a single Flask response. The Spark-first re-expression
encodes a whole DataFrame of raster rows per Arrow batch inside
``mapInPandas`` — and, unlike the rest of the multimodal family, the
codec here needs NO external library: PNG with filter-type-0
scanlines is pure stdlib (``zlib`` for DEFLATE + CRC32, ``struct``
for chunk framing), so the encode step is REAL, not a stubbed fake.
Supported rasters: 8-bit greyscale (channels=1), RGB (3), RGBA (4),
row-major bytes. ``bgr=True`` swaps channels 0/2 first — cv2 arrays
are BGR, PNG is RGB, and ``cv2.imencode`` performs the same swap
internally, so parity with the reference's bytes-on-the-wire channel
order is preserved.

Two sink shapes:

- :func:`encode_png` — rows ``(doc_id, width, height, channels, pixels)``
  -> ``(id, png binary, png_len)``; compose with ``append_parquet``
  for the warehouse form (PNG blobs as an opaque binary column).
- :func:`write_png_files` — executor-side ``foreachPartition`` write
  of one ``<id>.png`` per row into a directory: the batch analog of
  the reference's one-image-per-HTTP-response serving. No driver
  collect; each worker writes only its partition's rows.

Scale design: the kernel is CPU-bound zlib per row with one Arrow
batch of rasters resident per core — the same peak-memory envelope as
``decode_media``. Output blobs are written where they are produced
(parquet task files / per-partition PNG files), so no shuffle is
introduced: encoding 100 TB of overlays is embarrassingly parallel
and bounded by executor CPU, not the driver.
"""

from __future__ import annotations

import os
import struct
import zlib
from collections.abc import Iterator

import pandas as pd

from pyspark.sql import DataFrame

PNG_SIGNATURE = b"\x89PNG\r\n\x1a\n"

# PNG color types for 8-bit depth, by channel count.
_COLOR_TYPE = {1: 0, 3: 2, 4: 6}  # greyscale, truecolor, truecolor+alpha

ENCODED_SCHEMA = "id long, png binary, png_len long"


def _chunk(tag: bytes, payload: bytes) -> bytes:
    """One PNG chunk: length, tag, payload, CRC32 over tag+payload."""
    return (
        struct.pack(">I", len(payload))
        + tag
        + payload
        + struct.pack(">I", zlib.crc32(tag + payload) & 0xFFFFFFFF)
    )


def png_encode(
    width: int,
    height: int,
    channels: int,
    pixels: bytes,
    *,
    bgr: bool = False,
) -> bytes:
    """Encode one row-major 8-bit raster as a standards-compliant PNG.

    Pure function (stdlib only) so the Spark kernel, the CLI, and the
    tests share one codec. Raises ``ValueError`` on a size mismatch
    instead of silently emitting a torn image — at scale a single bad
    row must fail loudly, not poison an export directory.
    """
    if channels not in _COLOR_TYPE:
        raise ValueError(f"unsupported channel count {channels} (want 1, 3, or 4)")
    if width <= 0 or height <= 0:
        raise ValueError(f"invalid raster dims {width}x{height}")
    expected = width * height * channels
    if len(pixels) != expected:
        raise ValueError(
            f"pixel buffer is {len(pixels)} bytes, expected "
            f"{expected} for {width}x{height}x{channels}"
        )
    if bgr:
        if channels < 3:
            raise ValueError("bgr=True requires 3 or 4 channels")
        swapped = bytearray(pixels)
        swapped[0::channels] = pixels[2::channels]
        swapped[2::channels] = pixels[0::channels]
        pixels = bytes(swapped)

    stride = width * channels
    raw = bytearray()
    for y in range(height):
        raw.append(0)  # filter type 0 (None) per scanline
        raw += pixels[y * stride : (y + 1) * stride]

    ihdr = struct.pack(">IIBBBBB", width, height, 8, _COLOR_TYPE[channels], 0, 0, 0)
    return (
        PNG_SIGNATURE
        + _chunk(b"IHDR", ihdr)
        + _chunk(b"IDAT", zlib.compress(bytes(raw)))
        + _chunk(b"IEND", b"")
    )


def encode_png(df: DataFrame) -> DataFrame:
    """Raster rows -> PNG blob rows via an Arrow-batched kernel.

    Input columns: ``doc_id`` (long), ``width`` (int), ``height``
    (int), ``channels`` (int), ``pixels`` (binary, row-major 8-bit).
    Output: ``(id, png binary, png_len long)`` — ``png_len`` rides
    along so downstream size audits never re-read the blobs.
    """
    cols = df.select(df["doc_id"].alias("id"), "width", "height", "channels", "pixels")

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            blobs = [
                png_encode(int(w), int(h), int(c), bytes(p))
                for w, h, c, p in zip(
                    pdf["width"], pdf["height"], pdf["channels"], pdf["pixels"]
                )
            ]
            yield pd.DataFrame(
                {
                    "id": pdf["id"],
                    "png": blobs,
                    "png_len": pd.Series([len(b) for b in blobs], dtype="int64"),
                }
            )

    return cols.mapInPandas(batches, schema=ENCODED_SCHEMA)


def write_png_files(encoded: DataFrame, out_dir: str) -> None:
    """Write one ``<id>.png`` per row of an :func:`encode_png` result.

    Executor-side ``foreachPartition`` — each worker writes only its
    own rows, so the export parallelizes with the partition count and
    the driver never materializes a blob. ``out_dir`` must be a path
    every executor can reach (shared filesystem / fuse mount), the
    standard contract for per-file media exports.
    """
    os.makedirs(out_dir, exist_ok=True)

    def write_partition(rows) -> None:
        for row in rows:
            tmp = os.path.join(out_dir, f".{row['id']}.png.tmp.{os.getpid()}")
            with open(tmp, "wb") as fh:
                fh.write(bytes(row["png"]))
            os.replace(tmp, os.path.join(out_dir, f"{row['id']}.png"))

    encoded.select("id", "png").foreachPartition(write_partition)
