"""Multimodal column plumbing (training-data pipeline ops).

Images / audio / video are opaque `binary` columns with typed metadata
structs.  The Spark-side plumbing — schema, Arrow batch shape, partition
sizing — is real and tested.  The codec slot is REAL for PNG, baseline and
progressive JPEG, GIF, BMP and WAV, each decoded with numpy and the
standard library alone:

  * BMP  (uncompressed 24-bit BI_RGB) — hand-parsed header + numpy pixel
    grid; decode, feature-extract (4x4x3 grid means) and nearest-neighbor
    resize all work on actual bytes.
  * WAV  (PCM, any stdlib-`wave`-supported width) — decode + per-window RMS
    energy features.
  * PNG  (8-bit grayscale / RGB / RGBA, non-interlaced) — REAL compressed
    decode: chunk walk, stdlib-zlib IDAT inflate, and all five scanline
    filters (None/Sub/Up/Average/Paeth) reconstructed per the spec; the
    encoder emits filter-0 RGB.  This is a full compressed-image codec with
    zero third-party dependencies.
  * JPEG (baseline and extended sequential, and progressive with spectral
    selection and successive approximation; 4:4:4 / 4:2:2 / 4:2:0,
    grayscale, restart markers) — full spec implementation in
    `operators/jpeg.py`: Huffman entropy decode from the file's own DHT
    tables, dequant, IDCT, chroma upsample; plus an encoder with the
    Annex-K tables.
  * GIF  (87a/89a first frame) — full LZW decompression (variable code
    width, Clear/End, 4096-entry dictionary, the KwKwK case), global and
    local color tables, interlace; encoder emits a spec-valid
    root-code-literal LZW stream.

Formats still out of scope (MP3/MP4 audio-video entropy coders,
arithmetic-coded/lossless/hierarchical/12-bit JPEG, interlaced/16-bit PNG)
raise NotImplementedError; the magic-byte dispatch and the error message
say so explicitly.  `fake=True` remains as the deterministic stand-in for
exercising the distributed path with arbitrary payload bytes.

At 100 TB the pattern matters more than the codec: binary columns are
excluded from every scan that does not need them (column pruning), batches
are kept small via spark.sql.execution.arrow.maxRecordsPerBatch, and feature
extraction is one mapInPandas pass writing a narrow features table.
"""

from __future__ import annotations

import hashlib
import io
import struct
import wave
import zlib
from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

FEATURES_SCHEMA = "media_id bigint, kind string, dim int, features array<float>"


def make_media_table(spark, documents: DataFrame) -> DataFrame:
    """Wrap a text table into a synthetic media table (payload = utf-8 bytes)
    so the binary plumbing can be tested without real media."""
    return documents.select(
        F.col("doc_id").alias("media_id"),
        F.lit("image").alias("kind"),
        F.encode("text", "utf-8").alias("payload"),
        F.struct(
            F.lit(64).alias("width"),
            F.lit(64).alias("height"),
            F.lit(16000).alias("sample_rate"),
            (F.length("text") * 10).cast("int").alias("duration_ms"),
        ).alias("meta"),
    )


# ------------------------------------------------------------- real codecs


def encode_bmp(img: np.ndarray) -> bytes:
    """(H, W, 3) uint8 RGB -> uncompressed 24-bit BI_RGB BMP bytes (rows
    bottom-up, 4-byte padded, BGR on disk — the format spec)."""
    h, w, _ = img.shape
    row = w * 3
    pad = (4 - row % 4) % 4
    body = bytearray()
    for y in range(h - 1, -1, -1):
        body += img[y, :, ::-1].tobytes() + b"\x00" * pad
    off = 14 + 40
    return (
        struct.pack("<2sIHHI", b"BM", off + len(body), 0, 0, off)
        + struct.pack("<IiiHHIIiiII", 40, w, h, 1, 24, 0, len(body), 2835, 2835, 0, 0)
        + bytes(body)
    )


def decode_bmp(payload: bytes) -> np.ndarray:
    """BMP bytes -> (H, W, 3) uint8 RGB.  Supports the uncompressed 24-bit
    BI_RGB profile (the only one writable without codec libraries);
    anything else raises NotImplementedError with the reason."""
    if payload[:2] != b"BM":
        raise ValueError("not a BMP payload")
    off = struct.unpack_from("<I", payload, 10)[0]
    hdr_size, w, h = struct.unpack_from("<Iii", payload, 14)
    planes, bpp = struct.unpack_from("<HH", payload, 26)
    compression = struct.unpack_from("<I", payload, 30)[0]
    if bpp != 24 or compression != 0:
        raise NotImplementedError(
            f"only uncompressed 24-bit BI_RGB BMP is decodable without codec "
            f"libraries (got bpp={bpp}, compression={compression})"
        )
    flip = h > 0
    h = abs(h)
    row = w * 3
    stride = row + (4 - row % 4) % 4
    img = np.empty((h, w, 3), dtype=np.uint8)
    for y in range(h):
        line = np.frombuffer(payload, dtype=np.uint8, count=row, offset=off + y * stride)
        img[h - 1 - y if flip else y] = line.reshape(w, 3)[:, ::-1]
    return img


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


def encode_gif(img: np.ndarray) -> bytes:
    """(H, W, 3) uint8 RGB with <=256 distinct colors -> GIF89a bytes.
    Palette built from the image; LZW stream written as literal root codes
    with periodic Clear codes (spec-valid, modestly compressed)."""
    h, w, _ = img.shape
    flat = img.reshape(-1, 3)
    colors, inverse = np.unique(flat, axis=0, return_inverse=True)
    if len(colors) > 256:
        raise ValueError("encode_gif supports <=256 distinct colors")
    # palette size must be a power of two, >= 2
    bits = max(2, int(len(colors) - 1).bit_length())
    pal = np.zeros((1 << bits, 3), dtype=np.uint8)
    pal[: len(colors)] = colors
    out = bytearray(b"GIF89a")
    out += struct.pack("<HHBBB", w, h, 0x80 | ((bits - 1) << 4) | (bits - 1), 0, 0)
    out += pal.tobytes()
    out += b"\x2c" + struct.pack("<HHHHB", 0, 0, w, h, 0)  # image descriptor
    min_code = max(2, bits)
    clear, end = 1 << min_code, (1 << min_code) + 1
    out.append(min_code)
    acc = n = 0
    data = bytearray()

    def put(code: int, width: int) -> None:
        nonlocal acc, n
        acc |= code << n  # GIF packs LSB-first
        n += width
        while n >= 8:
            data.append(acc & 0xFF)
            acc >>= 8
            n -= 8

    width = min_code + 1
    put(clear, width)
    # Literal (root-code-only) emission: the decoder still adds one
    # dictionary entry per code after the first, so the code width must be
    # widened in lockstep with the decoder's table size; at 4096 both sides
    # freeze (no clear needed — literals always stay below the table size).
    next_code = end + 1
    first = True
    for idx in inverse:
        put(int(idx), width)
        if first:
            first = False
        elif next_code < 4096:
            next_code += 1
            if next_code == (1 << width) and width < 12:
                width += 1
    put(end, width)
    if n:
        data.append(acc & 0xFF)
    for i in range(0, len(data), 255):
        chunk = data[i : i + 255]
        out.append(len(chunk))
        out += chunk
    out += b"\x00\x3b"  # block terminator + trailer
    return bytes(out)


def decode_gif(payload: bytes) -> np.ndarray:
    """GIF87a/89a bytes -> (H, W, 3) uint8 RGB of the FIRST frame: full
    LZW decompression (variable code width, Clear/End codes, 4096-entry
    dictionary), global/local color tables, Adam-style interlace.
    Stdlib-only, from the spec."""
    if payload[:6] not in (b"GIF87a", b"GIF89a"):
        raise ValueError("not a GIF payload")
    sw, sh, flags, _bg, _ar = struct.unpack_from("<HHBBB", payload, 6)
    pos = 13
    gct = None
    if flags & 0x80:
        ncol = 2 << (flags & 7)
        gct = np.frombuffer(payload, np.uint8, ncol * 3, pos).reshape(-1, 3)
        pos += ncol * 3
    while pos < len(payload):
        b = payload[pos]
        if b == 0x21:  # extension: skip sub-blocks
            pos += 2
            while payload[pos]:
                pos += 1 + payload[pos]
            pos += 1
        elif b == 0x2C:  # image descriptor
            x0, y0, w, h, iflags = struct.unpack_from("<HHHHB", payload, pos + 1)
            pos += 10
            pal = gct
            if iflags & 0x80:
                ncol = 2 << (iflags & 7)
                pal = np.frombuffer(payload, np.uint8, ncol * 3, pos).reshape(-1, 3)
                pos += ncol * 3
            if pal is None:
                raise ValueError("GIF image without a color table")
            min_code = payload[pos]
            pos += 1
            data = bytearray()
            while payload[pos]:
                ln = payload[pos]
                data += payload[pos + 1 : pos + 1 + ln]
                pos += 1 + ln
            pos += 1
            indices = _gif_lzw_decode(bytes(data), min_code, w * h)
            grid = np.zeros(w * h, dtype=np.int64)
            grid[: len(indices)] = indices[: w * h]
            grid = grid.reshape(h, w)
            if iflags & 0x40:  # interlaced: rows arrive in 4 passes
                order = (
                    list(range(0, h, 8))
                    + list(range(4, h, 8))
                    + list(range(2, h, 4))
                    + list(range(1, h, 2))
                )
                de = np.zeros_like(grid)
                de[order] = grid[: len(order)]
                grid = de
            return pal[np.clip(grid, 0, len(pal) - 1)]
        elif b == 0x3B:  # trailer
            break
        else:
            raise ValueError(f"unknown GIF block 0x{b:02X}")
    raise ValueError("GIF contains no image data")


def _gif_lzw_decode(data: bytes, min_code: int, max_px: int) -> list[int]:
    clear, end = 1 << min_code, (1 << min_code) + 1
    acc = n = pos = 0
    width = min_code + 1

    def get() -> int:
        nonlocal acc, n, pos
        while n < width:
            if pos >= len(data):
                return end
            acc |= data[pos] << n
            pos += 1
            n += 8
        v = acc & ((1 << width) - 1)
        acc >>= width
        n -= width
        return v

    table: list[list[int]] = [[i] for i in range(1 << min_code)] + [[], []]
    out: list[int] = []
    prev: list[int] | None = None
    while len(out) < max_px:
        code = get()
        if code == clear:
            table = table[: (1 << min_code) + 2]
            width = min_code + 1
            prev = None
            continue
        if code == end:
            break
        if code < len(table):
            entry = table[code]
        elif code == len(table) and prev is not None:
            entry = prev + [prev[0]]
        else:
            raise ValueError("corrupt GIF LZW stream")
        out.extend(entry)
        if prev is not None and len(table) < 4096:
            table.append(prev + [entry[0]])
            if len(table) == (1 << width) and width < 12:
                width += 1
        prev = entry
    return out


def encode_wav(samples: np.ndarray, sample_rate: int = 16000) -> bytes:
    """float array in [-1, 1] -> 16-bit PCM mono WAV bytes (stdlib wave)."""
    pcm = np.clip(np.asarray(samples, dtype=np.float64), -1.0, 1.0)
    pcm16 = (pcm * 32767.0).astype("<i2")
    buf = io.BytesIO()
    with wave.open(buf, "wb") as f:
        f.setnchannels(1)
        f.setsampwidth(2)
        f.setframerate(sample_rate)
        f.writeframes(pcm16.tobytes())
    return buf.getvalue()


def decode_wav(payload: bytes) -> tuple[np.ndarray, int]:
    """WAV bytes -> (float64 mono samples in [-1, 1], sample_rate).
    Multi-channel input is mean-downmixed."""
    with wave.open(io.BytesIO(payload), "rb") as f:
        nch, width, rate, n = f.getnchannels(), f.getsampwidth(), f.getframerate(), f.getnframes()
        raw = f.readframes(n)
    if width == 2:
        x = np.frombuffer(raw, dtype="<i2").astype(np.float64) / 32768.0
    elif width == 1:
        x = (np.frombuffer(raw, dtype=np.uint8).astype(np.float64) - 128.0) / 128.0
    else:
        raise NotImplementedError(f"PCM width {width * 8}-bit not supported")
    if nch > 1:
        x = x.reshape(-1, nch).mean(axis=1)
    return x, rate


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


def _audio_features(x: np.ndarray, dim: int) -> np.ndarray:
    """Per-window RMS energy over `dim` equal windows."""
    if len(x) == 0:
        return np.zeros(dim, dtype=np.float32)
    edges = np.linspace(0, len(x), dim + 1, dtype=int)
    return np.asarray(
        [
            np.sqrt(np.mean(np.square(x[edges[i] : max(edges[i + 1], edges[i] + 1)])))
            for i in range(dim)
        ],
        dtype=np.float32,
    )


def _real_features(payload: bytes, dim: int) -> np.ndarray:
    """Magic-byte dispatch to a real decoder (PNG, baseline and progressive
    JPEG, GIF, BMP, WAV).  Any other format raises NotImplementedError (no
    codec libraries in this environment)."""
    if payload[:2] == b"BM":
        return _image_features(decode_bmp(payload), dim)
    if payload[:8] == _PNG_SIG:
        return _image_features(decode_png(payload), dim)
    if payload[:2] == b"\xff\xd8":
        from berkeley_entity_spark.operators.jpeg import decode_jpeg

        return _image_features(decode_jpeg(payload), dim)
    if payload[:6] in (b"GIF87a", b"GIF89a"):
        return _image_features(decode_gif(payload), dim)
    if payload[:4] == b"RIFF" and payload[8:12] == b"WAVE":
        x, _ = decode_wav(payload)
        return _audio_features(x, dim)
    raise NotImplementedError(
        "real decoding is implemented for PNG, baseline and progressive "
        "JPEG, GIF, BMP and WAV (spec implementations, no codec "
        "libraries); MP3/MP4/... would "
        "require codec libraries not present in this environment"
    )


def _fake_features(payload: bytes, dim: int) -> np.ndarray:
    """Deterministic stand-in for a real encoder: blake2b-seeded values."""
    out = np.empty(dim, dtype=np.float32)
    for i in range(0, dim, 8):
        h = hashlib.blake2b(payload + i.to_bytes(4, "big"), digest_size=32).digest()
        chunk = np.frombuffer(h, dtype=np.uint32).astype(np.float32) / 2**32
        out[i : i + 8] = chunk[: min(8, dim - i)]
    return out


def decode_media(
    media: DataFrame, dim: int = 16, fake: bool = True
) -> DataFrame:
    """media table -> (media_id, kind, dim, features array<float>).

    fake=False runs the REAL codecs: PNG (stdlib-zlib inflate + full
    filter reconstruction), baseline and progressive JPEG, GIF (LZW) and
    BMP (hand-parsed 24-bit BI_RGB) -> 4x4 grid-mean features, and WAV
    (stdlib PCM decode -> per-window RMS features); any other payload
    (MP3/MP4/...) raises NotImplementedError (no codec libraries in this
    container).  fake=True is the deterministic stand-in for arbitrary
    payload bytes."""

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        fn = _fake_features if fake else _real_features
        for pdf in batches:
            feats = [fn(bytes(p), dim).tolist() for p in pdf["payload"]]
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


def resize_media(
    media: DataFrame, width: int = 32, height: int = 32, fake: bool = True
) -> DataFrame:
    """Resize plumbing: same schema out as in, meta updated to the target
    dims.  fake=True passes payload bytes through (deterministic stand-in);
    fake=False REALLY resizes BMP and PNG payloads (nearest-neighbor via
    numpy index grids, re-encoded in the source format); other payloads
    raise NotImplementedError (no codec libraries in this container).  The Spark shape is what matters
    at scale: one mapInPandas pass, binary in / binary out, metadata
    maintained columnar-side."""

    def nn_resize(payload: bytes) -> bytes:
        p = bytes(payload)
        if p[:2] == b"BM":
            img, enc = decode_bmp(p), encode_bmp
        elif p[:8] == _PNG_SIG:
            img, enc = decode_png(p), encode_png
        elif p[:2] == b"\xff\xd8":
            from berkeley_entity_spark.operators.jpeg import (
                decode_jpeg,
                encode_jpeg,
            )

            img, enc = decode_jpeg(p), encode_jpeg
        else:
            raise NotImplementedError(
                "real resizing is implemented for BMP, PNG and JPEG "
                "payloads; other formats require codec libraries not "
                "present here"
            )
        h, w, _ = img.shape
        yi = (np.arange(height) * h // height).clip(0, h - 1)
        xi = (np.arange(width) * w // width).clip(0, w - 1)
        return enc(img[yi][:, xi])

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if not fake:
                pdf = pdf.assign(payload=pdf["payload"].map(nn_resize))
            yield pdf

    resized = media.select("media_id", "kind", "payload").mapInPandas(
        gen, schema="media_id bigint, kind string, payload binary"
    )
    return resized.join(media.select("media_id", "meta"), "media_id").select(
        "media_id",
        "kind",
        "payload",
        F.struct(
            F.lit(width).alias("width"),
            F.lit(height).alias("height"),
            F.col("meta.sample_rate").alias("sample_rate"),
            F.col("meta.duration_ms").alias("duration_ms"),
        ).alias("meta"),
    )


def frame_sample_plan(media: DataFrame) -> DataFrame:
    """Pure-SQL frame sampling plan for video rows: explode the 500 ms
    timestamp grid from meta.duration_ms — the decode of each frame would be another
    mapInPandas over (media_id, frame_ts)."""
    return media.select(
        "media_id",
        F.explode(
            F.sequence(
                F.lit(0), F.greatest(F.col("meta.duration_ms") - 1, F.lit(0)), F.lit(500)
            )
        ).alias("frame_ts"),
    )
