"""Media feature extraction over a binary payload column.

A media table is `(media_id bigint, kind string, payload binary, meta
struct)`; `decode_media` turns it into a narrow features table in one
mapInPandas pass.  The codec is PNG only (8-bit grayscale / RGB / RGBA,
non-interlaced), decoded with numpy and the standard library alone: chunk
walk, stdlib-zlib IDAT inflate, and all five scanline filters
(None/Sub/Up/Average/Paeth) reconstructed per the spec; the encoder emits
filter-0 RGB.  Every other payload, and the 16-bit, palette and interlaced
PNG profiles, raise NotImplementedError.

At 100 TB the pattern matters more than the codec: binary columns are
excluded from every scan that does not need them (column pruning), batches
are kept small via spark.sql.execution.arrow.maxRecordsPerBatch, and feature
extraction is one mapInPandas pass writing a narrow features table.
"""

from __future__ import annotations

import struct
import zlib
from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame

FEATURES_SCHEMA = "media_id bigint, kind string, dim int, features array<float>"

_PNG_SIG = b"\x89PNG\r\n\x1a\n"
# channels per PNG color type (palette / 16-bit / interlace unsupported)
_PNG_CHANNELS = {0: 1, 2: 3, 6: 4}


def _png_chunk(tag: bytes, body: bytes) -> bytes:
    return (
        struct.pack(">I", len(body))
        + tag
        + body
        + struct.pack(">I", zlib.crc32(tag + body) & 0xFFFFFFFF)
    )


def encode_png(img: np.ndarray) -> bytes:
    """(H, W, 3) uint8 RGB -> PNG bytes (8-bit truecolor, filter 0 per
    scanline, one zlib-compressed IDAT).  Stdlib-only."""
    h, w, _ = img.shape
    raw = b"".join(b"\x00" + img[y].tobytes() for y in range(h))
    ihdr = struct.pack(">IIBBBBB", w, h, 8, 2, 0, 0, 0)
    return (
        _PNG_SIG
        + _png_chunk(b"IHDR", ihdr)
        + _png_chunk(b"IDAT", zlib.compress(raw, 9))
        + _png_chunk(b"IEND", b"")
    )


def _png_unfilter(raw: bytes, h: int, w: int, ch: int) -> np.ndarray:
    """Reconstruct scanlines per the PNG filter spec (None/Sub/Up/Average/
    Paeth).  Up is vectorized; the x-sequential filters (Sub/Average/Paeth)
    loop over row bytes — bounded by w*ch per scanline."""
    stride = w * ch
    out = np.zeros((h, stride), dtype=np.uint8)
    pos = 0
    for y in range(h):
        ftype = raw[pos]
        line = np.frombuffer(raw, dtype=np.uint8, count=stride, offset=pos + 1)
        pos += 1 + stride
        prev = out[y - 1] if y > 0 else np.zeros(stride, dtype=np.uint8)
        if ftype == 0:
            out[y] = line
        elif ftype == 2:  # Up
            out[y] = line + prev
        elif ftype in (1, 3, 4):  # Sub / Average / Paeth: sequential in x
            cur = out[y]
            li = line.astype(np.int32)
            pv = prev.astype(np.int32)
            for x in range(stride):
                a = int(cur[x - ch]) if x >= ch else 0
                if ftype == 1:
                    cur[x] = (li[x] + a) & 0xFF
                elif ftype == 3:
                    cur[x] = (li[x] + ((a + pv[x]) >> 1)) & 0xFF
                else:
                    b = int(pv[x])
                    c = int(pv[x - ch]) if x >= ch else 0
                    p = a + b - c
                    pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
                    pred = a if (pa <= pb and pa <= pc) else (b if pb <= pc else c)
                    cur[x] = (li[x] + pred) & 0xFF
        else:
            raise NotImplementedError(f"PNG filter type {ftype} is not in the spec")
    return out.reshape(h, w, ch)


def decode_png(payload: bytes) -> np.ndarray:
    """PNG bytes -> (H, W, 3) uint8 RGB.  Real compressed decode via stdlib
    zlib: supports 8-bit grayscale (type 0, broadcast to RGB), truecolor
    (type 2) and RGBA (type 6, alpha dropped), non-interlaced.  Palette,
    16-bit, and Adam7-interlaced profiles raise NotImplementedError."""
    if payload[:8] != _PNG_SIG:
        raise ValueError("not a PNG payload")
    pos = 8
    idat = bytearray()
    w = h = None
    color_type = bit_depth = interlace = None
    while pos + 8 <= len(payload):
        (length,) = struct.unpack_from(">I", payload, pos)
        tag = payload[pos + 4 : pos + 8]
        body = payload[pos + 8 : pos + 8 + length]
        pos += 12 + length  # length + tag + body + crc
        if tag == b"IHDR":
            w, h, bit_depth, color_type, _comp, _filt, interlace = struct.unpack(
                ">IIBBBBB", body
            )
        elif tag == b"IDAT":
            idat += body
        elif tag == b"IEND":
            break
    if w is None:
        raise ValueError("PNG missing IHDR")
    if bit_depth != 8 or color_type not in _PNG_CHANNELS or interlace != 0:
        raise NotImplementedError(
            f"PNG profile not supported without codec libraries: bit_depth="
            f"{bit_depth}, color_type={color_type}, interlace={interlace} "
            "(8-bit gray/RGB/RGBA non-interlaced are decodable)"
        )
    ch = _PNG_CHANNELS[color_type]
    img = _png_unfilter(zlib.decompress(bytes(idat)), h, w, ch)
    if ch == 1:
        return np.repeat(img, 3, axis=2)
    return img[:, :, :3]


def _image_features(img: np.ndarray, dim: int) -> np.ndarray:
    """4x4 grid of per-channel means (48 values), padded/truncated to dim —
    a deterministic, library-free stand-in for an embedding model."""
    h, w, _ = img.shape
    ys = np.linspace(0, h, 5, dtype=int)
    xs = np.linspace(0, w, 5, dtype=int)
    vals = [
        img[ys[i] : max(ys[i + 1], ys[i] + 1), xs[j] : max(xs[j + 1], xs[j] + 1), c].mean() / 255.0
        for i in range(4)
        for j in range(4)
        for c in range(3)
    ]
    out = np.zeros(dim, dtype=np.float32)
    out[: min(dim, len(vals))] = np.asarray(vals[:dim], dtype=np.float32)
    return out


def _real_features(payload: bytes, dim: int) -> np.ndarray:
    """PNG payload -> grid-mean features.  Any other payload raises
    NotImplementedError: PNG is the one supported format."""
    if payload[:8] != _PNG_SIG:
        raise NotImplementedError(
            "PNG is the one supported media format; this payload is not PNG"
        )
    return _image_features(decode_png(payload), dim)


def decode_media(media: DataFrame, dim: int = 16) -> DataFrame:
    """media table -> (media_id, kind, dim, features array<float>).

    Each PNG payload is decoded (stdlib-zlib inflate + full filter
    reconstruction) to 4x4 grid-mean features; any other payload raises
    NotImplementedError."""

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            feats = [_real_features(bytes(p), dim).tolist() for p in pdf["payload"]]
            yield pd.DataFrame(
                {
                    "media_id": pdf["media_id"],
                    "kind": pdf["kind"],
                    "dim": dim,
                    "features": feats,
                }
            )

    return media.select("media_id", "kind", "payload").mapInPandas(
        gen, schema=FEATURES_SCHEMA
    )
