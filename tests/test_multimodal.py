"""Media decode tests: the PNG codec, its distributed path, and the
NotImplementedError every other payload raises."""

import pytest

from berkeley_entity_spark.operators.multimodal import decode_media

MEDIA_SCHEMA = (
    "media_id long, kind string, payload binary, "
    "meta struct<width:int, height:int, sample_rate:int, duration_ms:int>"
)


def test_decode_real_compressed_formats_still_stubbed(spark):
    """PNG is the one supported format: BMP, GIF and JPEG payloads (by their
    magic bytes) and plain text all raise NotImplementedError."""
    for payload in (b"BM" + bytes(60), b"GIF89a" + bytes(20),
                    b"\xff\xd8\xff\xe0" + bytes(20), b"plain utf-8 text"):
        media = spark.createDataFrame(
            [(1, "image", bytearray(payload), (16, 12, 0, 0))], MEDIA_SCHEMA
        )
        with pytest.raises(Exception, match="NotImplementedError.*PNG"):
            decode_media(media).collect()


def _gradient_img():
    import numpy as np

    y, x = np.mgrid[0:16, 0:12]
    return np.stack(
        [(x * 255 // 11), (y * 255 // 15), ((x + y) * 255 // 26)], axis=-1
    ).astype(np.uint8)


def test_media_schema(spark):
    """The media-table contract of decode_media: it reads media_id, kind and
    a binary payload (meta is optional, as q_media_features passes none)
    and emits the narrow FEATURES_SCHEMA table."""
    from berkeley_entity_spark.operators.multimodal import encode_png

    media = spark.createDataFrame(
        [(1, "image", bytearray(encode_png(_gradient_img())), (16, 12, 0, 0))],
        MEDIA_SCHEMA,
    )
    assert dict(media.dtypes)["payload"] == "binary"
    assert media.schema["meta"].dataType.fieldNames() == [
        "width", "height", "sample_rate", "duration_ms",
    ]
    out = decode_media(media, dim=16)
    assert out.dtypes == [
        ("media_id", "bigint"), ("kind", "string"), ("dim", "int"),
        ("features", "array<float>"),
    ]
    assert decode_media(media.drop("meta"), dim=16).collect() == out.collect()


def test_decode_fake_deterministic(spark):
    """decode_media is deterministic: the same PNG payloads decode to
    identical features of length dim on a re-run and under another
    partitioning.  The name is kept from the removed fake= mode, whose
    determinism contract the PNG path keeps."""
    import numpy as np

    from berkeley_entity_spark.operators.multimodal import encode_png

    img = _gradient_img()
    media = spark.createDataFrame(
        [
            (i, "image", bytearray(encode_png(np.roll(img, i, axis=1))), None)
            for i in range(6)
        ],
        MEDIA_SCHEMA,
    )

    def feats(df):
        return {r["media_id"]: r["features"] for r in decode_media(df, dim=16).collect()}

    a = feats(media)
    assert a == feats(media)
    assert a == feats(media.repartition(3))
    assert len(a) == 6 and all(len(v) == 16 for v in a.values())


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


def test_png_decode_distributed(spark):
    """Real PNG path end-to-end through mapInPandas: compressed payloads
    decode to the same grid-mean features as local numpy."""
    import numpy as np

    from berkeley_entity_spark.operators.multimodal import (
        _image_features,
        encode_png,
    )

    img = _gradient_img()
    media = spark.createDataFrame(
        [(1, "image", bytearray(encode_png(img)), (16, 12, 0, 0))], MEDIA_SCHEMA
    )
    got = decode_media(media, dim=16).first()
    assert np.allclose(np.array(got["features"]), _image_features(img, 16))
