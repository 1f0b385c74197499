"""Real PNG decode — stdlib-only, no image codec needed.

The multimodal family gates JPEG/video decoding behind
``NotImplementedError`` because those genuinely need a codec library
this environment does not ship. PNG does NOT: the container is length-
prefixed chunks with CRC-32, the compression is DEFLATE (stdlib
``zlib``), and the only image-specific logic is the five scanline
filters (None/Sub/Up/Average/Paeth). This module implements the codec
pair for 8-bit truecolor (color type 2) and exercises it end-to-end:

- :func:`encode_png` writes the filter type as ``row % 5``, so every
  encoded image with >=5 rows contains ALL five filters;
- :func:`decode_png` walks the chunk stream (verifying each CRC),
  inflates the IDAT stream, and inverts the per-row filter — a wrong
  Paeth predictor or a missed left/up dependency corrupts every pixel
  stat downstream, which the DuckDB oracle (recomputing the stats
  from the raw payload bytes) would flag as a hash mismatch. The
  round trip is therefore a real conformance test of the inverse
  filters, not a stub.

Query shape mirrors ``multimodal_bmp_decode``
(`functions/multimodal.py`): payloads derive deterministically from
``documents.text`` bytes (image-modality docs, ``doc_id % 3 = 0``),
dimensions from the byte stream (width from length, height from the
LAST byte — decorrelated from the BMP query's first-byte height), and
the emitted columns are integer pixel stats the oracle replays with
the shared byte-recovery CTE.

Scale: same story as the other multimodal kernels — ``mapInPandas``
is a narrow transformation, Arrow batches bound memory, the final
sort is on the driver-checked result only.
"""

from __future__ import annotations

import struct
import zlib
from collections.abc import Iterator
from typing import Callable

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..sources.testdata import load_table
from .multimodal import _bytes_cte, with_binary_payload

SparkQuery = Callable[[SparkSession, str], DataFrame]

_SIG = b"\x89PNG\r\n\x1a\n"
_BPP = 3  # bytes per pixel, 8-bit truecolor


def _paeth(a: int, b: int, c: int) -> int:
    """PNG Paeth predictor (left, up, upper-left)."""
    p = a + b - c
    pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
    if pa <= pb and pa <= pc:
        return a
    if pb <= pc:
        return b
    return c


def _chunk(tag: bytes, data: bytes) -> bytes:
    return (
        struct.pack(">I", len(data))
        + tag
        + data
        + struct.pack(">I", zlib.crc32(tag + data) & 0xFFFFFFFF)
    )


def encode_png(pixels: np.ndarray) -> bytes:
    """Serialize an ``(h, w, 3)`` uint8 RGB array as an 8-bit
    truecolor PNG. Scanline filter type is ``row % 5`` — deliberately
    cycling None/Sub/Up/Average/Paeth so a decode round trip runs
    every inverse-filter path."""
    if pixels.ndim != 3 or pixels.shape[2] != 3 or pixels.dtype != np.uint8:
        raise ValueError("encode_png needs an (h, w, 3) uint8 array")
    h, w, _ = pixels.shape
    raw = pixels.astype(np.int64)
    lines = bytearray()
    prior = np.zeros(w * _BPP, dtype=np.int64)
    for r in range(h):
        cur = raw[r].reshape(-1)
        left = np.concatenate([np.zeros(_BPP, dtype=np.int64), cur[:-_BPP]])
        up_left = np.concatenate(
            [np.zeros(_BPP, dtype=np.int64), prior[:-_BPP]]
        )
        ftype = r % 5
        if ftype == 0:
            filt = cur
        elif ftype == 1:
            filt = cur - left
        elif ftype == 2:
            filt = cur - prior
        elif ftype == 3:
            filt = cur - (left + prior) // 2
        else:
            pred = np.array(
                [
                    _paeth(int(a), int(b), int(c))
                    for a, b, c in zip(left, prior, up_left)
                ],
                dtype=np.int64,
            )
            filt = cur - pred
        lines.append(ftype)
        lines.extend((filt % 256).astype(np.uint8).tobytes())
        prior = cur
    ihdr = struct.pack(">IIBBBBB", w, h, 8, 2, 0, 0, 0)
    return (
        _SIG
        + _chunk(b"IHDR", ihdr)
        + _chunk(b"IDAT", zlib.compress(bytes(lines)))
        + _chunk(b"IEND", b"")
    )


def decode_png(payload: bytes) -> tuple[int, int, np.ndarray]:
    """Parse an 8-bit truecolor PNG into ``(width, height, pixels)``:
    chunk walk with CRC verification, zlib inflate, and the inverse of
    all five scanline filters. Raises ``ValueError`` on a corrupt
    stream and ``NotImplementedError`` on PNG features that genuinely
    need more codec surface (palette, interlace, bit depths != 8)."""
    if payload[: len(_SIG)] != _SIG:
        raise ValueError("not a PNG payload")
    pos = len(_SIG)
    ihdr = None
    idat = bytearray()
    saw_iend = False
    while pos + 8 <= len(payload):
        (length,) = struct.unpack(">I", payload[pos : pos + 4])
        tag = payload[pos + 4 : pos + 8]
        if pos + 12 + length > len(payload):
            raise ValueError(f"truncated {tag!r} chunk")
        data = payload[pos + 8 : pos + 8 + length]
        (crc,) = struct.unpack(
            ">I", payload[pos + 8 + length : pos + 12 + length]
        )
        if zlib.crc32(tag + data) & 0xFFFFFFFF != crc:
            raise ValueError(f"CRC mismatch in {tag!r} chunk")
        if tag == b"IHDR":
            ihdr = struct.unpack(">IIBBBBB", data)
        elif tag == b"IDAT":
            idat.extend(data)
        elif tag == b"IEND":
            saw_iend = True
            break
        pos += 12 + length
    if ihdr is None:
        raise ValueError("missing IHDR")
    if not saw_iend:
        raise ValueError("truncated stream: missing IEND")
    w, h, depth, ctype, comp, filt_method, interlace = ihdr
    if (depth, ctype) != (8, 2):
        raise NotImplementedError(
            f"only 8-bit truecolor is implemented (depth={depth}, "
            f"colortype={ctype})"
        )
    if interlace != 0:
        raise NotImplementedError("Adam7 interlacing not implemented")
    if comp != 0 or filt_method != 0:
        raise ValueError("invalid compression/filter method")
    stream = zlib.decompress(bytes(idat))
    stride = w * _BPP
    if len(stream) != h * (stride + 1):
        raise ValueError("IDAT length does not match dimensions")
    out = np.zeros((h, stride), dtype=np.int64)
    prior = np.zeros(stride, dtype=np.int64)
    for r in range(h):
        row = stream[r * (stride + 1) : (r + 1) * (stride + 1)]
        ftype, filt = row[0], np.frombuffer(
            row[1:], dtype=np.uint8
        ).astype(np.int64)
        cur = np.zeros(stride, dtype=np.int64)
        if ftype == 0:
            cur[:] = filt
        elif ftype == 2:
            cur[:] = (filt + prior) % 256
        elif ftype in (1, 3, 4):
            # left-dependent filters are inherently sequential per row
            for i in range(stride):
                left = cur[i - _BPP] if i >= _BPP else 0
                if ftype == 1:
                    cur[i] = (filt[i] + left) % 256
                elif ftype == 3:
                    cur[i] = (filt[i] + (left + prior[i]) // 2) % 256
                else:
                    ul = prior[i - _BPP] if i >= _BPP else 0
                    cur[i] = (
                        filt[i] + _paeth(int(left), int(prior[i]), int(ul))
                    ) % 256
        else:
            raise ValueError(f"unknown filter type {ftype}")
        out[r] = cur
        prior = cur
    return w, h, out.reshape(h, w, _BPP).astype(np.uint8)


# ---------------------------------------------------------------------------
# The registered round-trip query (mirrors multimodal_bmp_decode).
# ---------------------------------------------------------------------------

_PNG_W_MOD = 29
_PNG_H_MOD = 17

_PNG_DECODE_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("width", T.LongType()),
        T.StructField("height", T.LongType()),
        T.StructField("pixel_sum", T.LongType()),
        T.StructField("last_px", T.LongType()),
        T.StructField("first_red", T.LongType()),
    ]
)


def _png_roundtrip_kernel(
    batches: Iterator[pd.DataFrame],
) -> Iterator[pd.DataFrame]:
    """encode_png -> decode_png round trip per doc. The pixel sheet is
    the text bytes cycled into (h, w, 3); any inverse-filter bug
    corrupts pixel_sum/last_px against the byte-side oracle."""
    for pdf in batches:
        if len(pdf) == 0:
            continue
        out: dict[str, list[int]] = {
            k: []
            for k in (
                "doc_id",
                "width",
                "height",
                "pixel_sum",
                "last_px",
                "first_red",
            )
        }
        for did, payload in zip(pdf["doc_id"], pdf["payload"]):
            arr = np.frombuffer(payload, dtype=np.uint8)
            if arr.size == 0:
                continue
            w = int(arr.size % _PNG_W_MOD) + 1
            h = int(arr[-1] % _PNG_H_MOD) + 1
            rgb = np.resize(arr, (h, w, 3))  # cycles the text bytes
            dec_w, dec_h, pixels = decode_png(encode_png(rgb))
            out["doc_id"].append(int(did))
            out["width"].append(dec_w)
            out["height"].append(dec_h)
            out["pixel_sum"].append(int(pixels.sum(dtype=np.int64)))
            out["last_px"].append(int(pixels[-1, -1, -1]))
            out["first_red"].append(int(pixels[0, 0, 0]))
        if out["doc_id"]:
            yield pd.DataFrame(
                {k: np.asarray(v, dtype=np.int64) for k, v in out.items()}
            )


PNG_DECODE_SQL = f"""
  -- nb > 0 mirrors the kernel's empty-payload skip; stats are over
  -- payload BYTES via the shared byte-recovery CTE. h comes from the
  -- LAST byte (bs[nb]) -- decorrelated from the BMP query's first-byte
  -- height so the two decoders are checked on different sheets.
  WITH {_bytes_cte("WHERE CAST(doc_id % 3 AS INTEGER) = 0 AND length(text) > 0")},
  p AS (
    SELECT doc_id, bs, nb,
           (nb % {_PNG_W_MOD}) + 1 AS w,
           (bs[nb] % {_PNG_H_MOD}) + 1 AS h,
           ((nb % {_PNG_W_MOD}) + 1) * ((bs[nb] % {_PNG_H_MOD}) + 1) * 3
             AS npix,
           list_sum(bs) AS tsum
    FROM b
  )
  SELECT doc_id,
         CAST(w AS BIGINT) AS width,
         CAST(h AS BIGINT) AS height,
         CAST((npix // nb) * tsum
              + coalesce(list_sum(bs[1 : npix % nb]), 0) AS BIGINT)
           AS pixel_sum,
         CAST(bs[((npix - 1) % nb) + 1] AS BIGINT) AS last_px,
         CAST(bs[1] AS BIGINT) AS first_red
  FROM p
  ORDER BY doc_id
"""


def q_png_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    images = with_binary_payload(
        docs.select("doc_id", "source", "text")
    ).filter(F.col("modality") == "image")
    return (
        images.select("doc_id", "payload")
        .mapInPandas(_png_roundtrip_kernel, schema=_PNG_DECODE_SCHEMA)
    )


QUERIES_EXPORT: dict[str, tuple[SparkQuery, "str | None"]] = {
    "multimodal_png_decode": (q_png_decode, PNG_DECODE_SQL),
}
