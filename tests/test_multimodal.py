"""Multimodal plumbing tests: schema, determinism, stub gating."""

import pytest
from pyspark.sql import functions as F

from berkeley_entity_spark.operators.multimodal import (
    decode_media,
    frame_sample_plan,
    make_media_table,
)

SF = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def media(spark):
    docs = spark.read.parquet(f"{SF}/documents.parquet").limit(50)
    return make_media_table(spark, docs).cache()


def test_media_schema(media):
    assert dict(media.dtypes)["payload"] == "binary"
    assert media.schema["meta"].dataType.fieldNames() == [
        "width", "height", "sample_rate", "duration_ms",
    ]


def test_decode_fake_deterministic(media):
    a = {r["media_id"]: r["features"] for r in decode_media(media, dim=16).collect()}
    b = {r["media_id"]: r["features"] for r in decode_media(media, dim=16).collect()}
    assert a == b
    assert all(len(v) == 16 for v in a.values())


def test_decode_real_compressed_formats_still_stubbed(media):
    """Non-BMP/WAV payloads (here: utf-8 text) must still raise the
    disclosed NotImplementedError — no codec libraries in this container."""
    with pytest.raises(Exception, match="NotImplemented|codec"):
        decode_media(media, fake=False).collect()


def _gradient_img():
    import numpy as np

    y, x = np.mgrid[0:16, 0:12]
    return np.stack(
        [(x * 255 // 11), (y * 255 // 15), ((x + y) * 255 // 26)], axis=-1
    ).astype(np.uint8)


def test_bmp_roundtrip():
    import numpy as np

    from berkeley_entity_spark.operators.multimodal import decode_bmp, encode_bmp

    img = _gradient_img()
    assert np.array_equal(decode_bmp(encode_bmp(img)), img)


def test_png_roundtrip():
    import numpy as np

    from berkeley_entity_spark.operators.multimodal import decode_png, encode_png

    img = _gradient_img()
    assert np.array_equal(decode_png(encode_png(img)), img)


def _build_png(img, color_type, filters):
    """Hand-build a PNG whose scanlines cycle through the given filter
    types — exercises the decoder's filter reconstruction independently of
    our own encoder (which always emits filter 0)."""
    import struct
    import zlib

    import numpy as np

    from berkeley_entity_spark.operators.multimodal import _PNG_SIG, _png_chunk

    h, w = img.shape[:2]
    ch = img.shape[2] if img.ndim == 3 else 1
    flat = img.reshape(h, w * ch).astype(np.int32)
    raw = bytearray()
    prev = np.zeros(w * ch, np.int32)
    for y in range(h):
        f = filters[y % len(filters)]
        cur = flat[y]
        line = np.empty(w * ch, np.int32)
        for x in range(w * ch):
            a = cur[x - ch] if x >= ch else 0
            b = prev[x]
            c = prev[x - ch] if x >= ch else 0
            if f == 0:
                pred = 0
            elif f == 1:
                pred = a
            elif f == 2:
                pred = b
            elif f == 3:
                pred = (a + b) >> 1
            else:
                p = a + b - c
                pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
                pred = a if (pa <= pb and pa <= pc) else (b if pb <= pc else c)
            line[x] = (cur[x] - pred) & 0xFF
        raw += bytes([f]) + line.astype(np.uint8).tobytes()
        prev = cur
    ihdr = struct.pack(">IIBBBBB", w, h, 8, color_type, 0, 0, 0)
    return (
        _PNG_SIG
        + _png_chunk(b"IHDR", ihdr)
        + _png_chunk(b"IDAT", zlib.compress(bytes(raw)))
        + _png_chunk(b"IEND", b"")
    )


def test_png_all_filter_types():
    import numpy as np

    from berkeley_entity_spark.operators.multimodal import decode_png

    rng = np.random.default_rng(7)
    img = rng.integers(0, 256, (10, 9, 3), dtype=np.uint8)
    for filts in ([0], [1], [2], [3], [4], [0, 1, 2, 3, 4]):
        assert np.array_equal(decode_png(_build_png(img, 2, filts)), img), filts


def test_png_gray_and_rgba():
    import numpy as np

    from berkeley_entity_spark.operators.multimodal import decode_png

    rng = np.random.default_rng(11)
    g = rng.integers(0, 256, (6, 5), dtype=np.uint8)
    out = decode_png(_build_png(g.reshape(6, 5, 1), 0, [4, 2]))
    assert np.array_equal(out, np.repeat(g[:, :, None], 3, axis=2))
    rgba = rng.integers(0, 256, (7, 4, 4), dtype=np.uint8)
    assert np.array_equal(decode_png(_build_png(rgba, 6, [1, 3, 4])), rgba[:, :, :3])


def test_png_unsupported_profiles_raise():
    import struct

    import pytest as _pytest

    from berkeley_entity_spark.operators.multimodal import (
        _PNG_SIG,
        _png_chunk,
        decode_png,
    )

    for bd, ct, il in ((16, 2, 0), (8, 3, 0), (8, 2, 1)):
        hdr = _png_chunk(b"IHDR", struct.pack(">IIBBBBB", 4, 4, bd, ct, 0, 0, il))
        with _pytest.raises(NotImplementedError):
            decode_png(_PNG_SIG + hdr)


def test_png_decode_and_resize_distributed(spark):
    """Real PNG path end-to-end through mapInPandas: compressed payloads
    decode to the same grid-mean features as local numpy, and resize
    re-encodes valid PNG."""
    import numpy as np

    from berkeley_entity_spark.operators.multimodal import (
        _image_features,
        decode_png,
        encode_png,
        resize_media,
    )

    img = _gradient_img()
    media = spark.createDataFrame(
        [(1, "image", bytearray(encode_png(img)), (16, 12, 0, 0))],
        "media_id long, kind string, payload binary, "
        "meta struct<width:int, height:int, sample_rate:int, duration_ms:int>",
    )
    got = decode_media(media, dim=16, fake=False).first()
    assert np.allclose(np.array(got["features"]), _image_features(img, 16))
    row = resize_media(media, width=8, height=8, fake=False).first()
    out = decode_png(bytes(row["payload"]))
    yi = (np.arange(8) * 16 // 8).clip(0, 15)
    xi = (np.arange(8) * 12 // 8).clip(0, 11)
    assert np.array_equal(out, img[yi][:, xi])


def _lzw_encode_true(indices, min_code):
    """Canonical greedy-longest-match GIF LZW (test-side reference
    encoder): exercises multi-pixel dictionary entries, the KwKwK case,
    width growth at assigned-value==2^width, and the 4096 dictionary cap
    — everything the repo's root-code-literal encoder deliberately
    avoids."""
    table = {(i,): i for i in range(1 << min_code)}
    clear, end = 1 << min_code, (1 << min_code) + 1
    next_code = end + 1
    width = min_code + 1
    acc = n = 0
    data = bytearray()

    def emit(code):
        nonlocal acc, n
        acc |= code << n
        n += width
        while n >= 8:
            data.append(acc & 0xFF)
            acc >>= 8
            n -= 8

    emit(clear)
    w = (indices[0],)
    for k in indices[1:]:
        wk = w + (k,)
        if wk in table:
            w = wk
            continue
        emit(table[w])
        if next_code <= 4095:
            table[wk] = next_code
            v = next_code
            next_code += 1
            if v == (1 << width) and width < 12:
                width += 1
        w = (k,)
    emit(table[w])
    emit(end)
    if n:
        data.append(acc & 0xFF)
    return bytes(data)


def test_gif_roundtrip():
    import numpy as np

    from berkeley_entity_spark.operators.multimodal import decode_gif, encode_gif

    rng = np.random.default_rng(1)
    pal = rng.integers(0, 256, (5, 3), dtype=np.uint8)
    img = pal[rng.integers(0, 5, (23, 31))]
    assert np.array_equal(decode_gif(encode_gif(img)), img)
    # 256 colors, enough pixels to push codes to 12 bits
    pal2 = np.array([[i, 255 - i, (i * 7) % 256] for i in range(256)], dtype=np.uint8)
    img2 = pal2[rng.integers(0, 256, (80, 80))]
    assert np.array_equal(decode_gif(encode_gif(img2)), img2)


def test_gif_true_lzw_and_kwkwk():
    from berkeley_entity_spark.operators.multimodal import _gif_lzw_decode

    import numpy as np

    rng = np.random.default_rng(2)
    seq = list(range(4)) * 50 + [0, 0, 0, 0, 0, 1, 1, 1, 1] * 30 + list(
        rng.integers(0, 4, 200)
    )
    assert _gif_lzw_decode(_lzw_encode_true(seq, 2), 2, len(seq)) == list(seq)
    seq2 = [0, 1] * 100  # forces the code==len(table) (KwKwK) path
    assert _gif_lzw_decode(_lzw_encode_true(seq2, 2), 2, 200) == seq2
    seq3 = list(rng.integers(0, 256, 9000))  # 12-bit width + dict cap
    assert _gif_lzw_decode(_lzw_encode_true(seq3, 8), 8, 9000) == seq3


def test_gif_interlaced_decode():
    import struct

    import numpy as np

    from berkeley_entity_spark.operators.multimodal import decode_gif

    rng = np.random.default_rng(4)
    pal = np.array(
        [[0, 0, 0], [255, 0, 0], [0, 255, 0], [0, 0, 255]], dtype=np.uint8
    )
    idx = rng.integers(0, 4, (13, 6))
    h, w = idx.shape
    order = (
        list(range(0, h, 8))
        + list(range(4, h, 8))
        + list(range(2, h, 4))
        + list(range(1, h, 2))
    )
    data = _lzw_encode_true(list(idx[order].reshape(-1)), 2)
    gif = bytearray(b"GIF89a") + struct.pack(
        "<HHBBB", w, h, 0x80 | (1 << 4) | 1, 0, 0
    )
    gif += pal.tobytes()
    gif += b"\x2c" + struct.pack("<HHHHB", 0, 0, w, h, 0x40)
    gif.append(2)
    for i in range(0, len(data), 255):
        ch = data[i : i + 255]
        gif.append(len(ch))
        gif += ch
    gif += b"\x00\x3b"
    assert np.array_equal(decode_gif(bytes(gif)), pal[idx])


def test_wav_roundtrip():
    import numpy as np

    from berkeley_entity_spark.operators.multimodal import decode_wav, encode_wav

    t = np.arange(1600) / 16000.0
    sig = 0.5 * np.sin(2 * np.pi * 440 * t)
    out, rate = decode_wav(encode_wav(sig, 16000))
    assert rate == 16000 and len(out) == 1600
    assert np.abs(out - sig).max() < 1e-3  # 16-bit quantization only


def test_decode_real_bmp_wav_distributed(spark):
    """The real codec path end-to-end through mapInPandas: BMP and WAV rows
    decode to the same features the local numpy computation gives."""
    import numpy as np

    from berkeley_entity_spark.operators.multimodal import (
        _audio_features,
        _image_features,
        decode_wav,
        encode_bmp,
        encode_wav,
    )

    img = _gradient_img()
    t = np.arange(800) / 8000.0
    sig = 0.25 * np.sin(2 * np.pi * 220 * t)
    rows = [
        (1, "image", bytearray(encode_bmp(img)), (16, 12, 0, 0)),
        (2, "audio", bytearray(encode_wav(sig, 8000)), (0, 0, 8000, 100)),
    ]
    media = spark.createDataFrame(
        rows,
        "media_id long, kind string, payload binary, "
        "meta struct<width:int, height:int, sample_rate:int, duration_ms:int>",
    )
    got = {r["media_id"]: np.array(r["features"]) for r in decode_media(media, dim=16, fake=False).collect()}
    assert np.allclose(got[1], _image_features(img, 16))
    dec, _ = decode_wav(encode_wav(sig, 8000))
    assert np.allclose(got[2], _audio_features(dec, 16))


def test_resize_real_bmp_distributed(spark):
    import numpy as np

    from berkeley_entity_spark.operators.multimodal import (
        decode_bmp,
        encode_bmp,
        resize_media,
    )

    img = _gradient_img()
    media = spark.createDataFrame(
        [(1, "image", bytearray(encode_bmp(img)), (16, 12, 0, 0))],
        "media_id long, kind string, payload binary, "
        "meta struct<width:int, height:int, sample_rate:int, duration_ms:int>",
    )
    row = resize_media(media, width=8, height=8, fake=False).first()
    out = decode_bmp(bytes(row["payload"]))
    assert out.shape == (8, 8, 3)
    # nearest-neighbor: every output pixel must exist at its source index
    yi = (np.arange(8) * 16 // 8).clip(0, 15)
    xi = (np.arange(8) * 12 // 8).clip(0, 11)
    assert np.array_equal(out, img[yi][:, xi])
    assert row["meta"]["width"] == 8 and row["meta"]["height"] == 8


def test_frame_sample_plan(media):
    plan = frame_sample_plan(media)
    counts = (
        plan.groupBy("media_id").count()
        .join(media.select("media_id", F.col("meta.duration_ms").alias("d")), "media_id")
    )
    bad = counts.where(
        F.col("count") != (F.floor((F.col("d") - 1) / 500) + 1)
    ).count()
    assert bad == 0


def test_resize_media_plumbing(spark, media):
    from berkeley_entity_spark.operators.multimodal import resize_media

    out = resize_media(media, width=32, height=32)
    assert out.schema.simpleString() == media.schema.simpleString()
    row = out.orderBy("media_id").first()
    assert row["meta"]["width"] == 32 and row["meta"]["height"] == 32
    # payload passthrough in the fake path; count preserved
    assert out.count() == media.count()


def test_resize_media_real_codec_is_stubbed(spark, media):
    import pytest as _pytest

    from berkeley_entity_spark.operators.multimodal import resize_media

    with _pytest.raises(Exception) as ei:
        resize_media(media, fake=False).count()
    assert "NotImplementedError" in str(ei.value) or isinstance(
        ei.value, NotImplementedError
    )
