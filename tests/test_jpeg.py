"""Baseline JPEG codec tests (operators/jpeg.py).

JPEG is lossy, so the contract is: exactness of the orthogonal transform
pair, validity of the canonical Huffman tables, near-losslessness at
quality 100, PSNR floors on smooth content at common qualities, chroma-
subsampling error bounded by the analytically-ideal 4:2:0 floor, restart-
marker streams, grayscale scans, and the unsupported-profile errors."""

import numpy as np
import pytest

from berkeley_entity_spark.operators.jpeg import (
    HUFF_AC_CHROMA,
    HUFF_AC_LUMA,
    HUFF_DC_CHROMA,
    HUFF_DC_LUMA,
    _canonical_codes,
    _rgb_to_ycbcr,
    _ycbcr_to_rgb,
    decode_jpeg,
    encode_jpeg,
    fdct8,
    idct8,
)


def _psnr(a, b):
    mse = np.mean((a.astype(float) - b.astype(float)) ** 2)
    return 10 * np.log10(255**2 / mse) if mse > 0 else 99.0


def _gradient(h=48, w=40):
    y, x = np.mgrid[0:h, 0:w]
    return np.stack(
        [x * 255 // (w - 1), y * 255 // (h - 1), (x + y) * 255 // (w + h - 2)],
        axis=-1,
    ).astype(np.uint8)


def test_dct_pair_exact():
    b = np.random.default_rng(0).normal(0, 50, (8, 8))
    assert np.allclose(idct8(fdct8(b)), b, atol=1e-10)


def test_huffman_tables_valid_prefix_codes():
    for spec in (HUFF_DC_LUMA, HUFF_DC_CHROMA, HUFF_AC_LUMA, HUFF_AC_CHROMA):
        codes = _canonical_codes(*spec)
        # prefix property: no code is a prefix of another
        as_bits = {format(c, f"0{ln}b") for c, ln in codes.values()}
        assert len(as_bits) == len(codes)
        for a in as_bits:
            for b in as_bits:
                if a is not b and len(a) < len(b):
                    assert not b.startswith(a)
    # AC tables must cover every (run, size) the encoder can emit
    ac = _canonical_codes(*HUFF_AC_LUMA)
    for run in range(16):
        for size in range(1, 11):
            assert ((run << 4) | size) in ac
    assert 0x00 in ac and 0xF0 in ac


def test_quality_100_near_lossless():
    rng = np.random.default_rng(3)
    img = np.kron(
        rng.integers(0, 256, (4, 4, 3)).astype(float), np.ones((7, 9, 1))
    )[:24, :32].astype(np.uint8)
    out = decode_jpeg(encode_jpeg(img, quality=100, subsample=False))
    assert np.abs(out.astype(int) - img.astype(int)).max() <= 3


@pytest.mark.parametrize("subsample,quality,floor", [
    (False, 95, 45), (False, 85, 40), (False, 60, 35),
    (True, 95, 38), (True, 85, 36), (True, 60, 33),
])
def test_roundtrip_psnr_floor_gradient(subsample, quality, floor):
    img = _gradient()
    out = decode_jpeg(encode_jpeg(img, quality=quality, subsample=subsample))
    assert out.shape == img.shape
    assert _psnr(img, out) >= floor


def test_odd_dimensions():
    img = _gradient(19, 29)
    out = decode_jpeg(encode_jpeg(img, quality=90, subsample=True))
    assert out.shape == (19, 29, 3)
    assert _psnr(img, out) >= 30


def test_chroma_hostile_image_within_subsampling_floor():
    """On saturated random color tiles, 4:2:0 loss is dominated by the
    subsampling itself; the codec must land within 2 dB of the
    analytically-ideal subsample->upsample floor."""
    rng = np.random.default_rng(3)
    img = np.kron(
        rng.integers(0, 256, (4, 4, 3)).astype(float), np.ones((7, 9, 1))
    )[:24, :32].astype(np.uint8)
    ycc = _rgb_to_ycbcr(img)
    cb = ycc[..., 1].reshape(12, 2, 16, 2).mean(axis=(1, 3))
    cr = ycc[..., 2].reshape(12, 2, 16, 2).mean(axis=(1, 3))
    ideal = _ycbcr_to_rgb(
        ycc[..., 0],
        np.repeat(np.repeat(cb, 2, 0), 2, 1),
        np.repeat(np.repeat(cr, 2, 0), 2, 1),
    )
    floor = _psnr(img, ideal)
    got = _psnr(img, decode_jpeg(encode_jpeg(img, quality=90, subsample=True)))
    assert got >= floor - 2.0


def test_restart_markers_roundtrip():
    img = _gradient(32, 48)
    plain = decode_jpeg(encode_jpeg(img, quality=90, subsample=True))
    for interval in (1, 2, 5):
        b = encode_jpeg(img, quality=90, subsample=True, restart_interval=interval)
        assert any(
            b[i] == 0xFF and 0xD0 <= b[i + 1] <= 0xD7 for i in range(len(b) - 1)
        )
        assert np.array_equal(decode_jpeg(b), plain)


def test_grayscale_scan():
    """Hand-build a 1-component scan by re-tagging an encode of a gray
    image; simpler: strip chroma by encoding gray content and checking the
    decode broadcasts — the single-component path is exercised through a
    synthetic SOF/SOS built from the encoder's luma stream."""
    import struct

    from berkeley_entity_spark.operators import jpeg as J

    rng = np.random.default_rng(5)
    g = np.repeat(np.repeat(rng.integers(0, 256, (3, 4)), 8, 0), 8, 1).astype(
        np.uint8
    )
    # luma-only stream: reuse the encoder internals
    qy = J._quality_scale(J.QUANT_LUMA, 95)
    plane = g.astype(np.float64) - 128.0
    blocks = J._plane_blocks(plane, qy)
    dc_y = J._canonical_codes(*J.HUFF_DC_LUMA)
    ac_y = J._canonical_codes(*J.HUFF_AC_LUMA)
    bw = J._BitWriter()
    prev = 0
    for i in range(blocks.shape[0]):
        prev = J._encode_block(bw, blocks[i], prev, dc_y, ac_y)
    scan = bw.flush()

    def seg(marker, body):
        return struct.pack(">HH", marker, len(body) + 2) + body

    buf = bytearray(b"\xff\xd8")
    buf += seg(0xFFDB, bytes([0]) + bytes(qy[J.ZIGZAG].tolist()))
    buf += seg(0xFFC0, struct.pack(">BHHB", 8, 24, 32, 1) + bytes([1, 0x11, 0]))
    buf += seg(0xFFC4, bytes([0x00] + J.HUFF_DC_LUMA[0] + J.HUFF_DC_LUMA[1]))
    buf += seg(0xFFC4, bytes([0x10] + J.HUFF_AC_LUMA[0] + J.HUFF_AC_LUMA[1]))
    buf += seg(0xFFDA, bytes([1, 1, 0x00, 0, 63, 0]))
    buf += scan + b"\xff\xd9"
    out = decode_jpeg(bytes(buf))
    assert out.shape == (24, 32, 3)
    assert np.abs(out[:, :, 0].astype(int) - g.astype(int)).max() <= 6
    assert np.array_equal(out[:, :, 0], out[:, :, 1])
    assert np.array_equal(out[:, :, 0], out[:, :, 2])


def test_unsupported_profiles_and_bad_payloads_raise():
    import struct

    img = _gradient(16, 16)
    b = bytearray(encode_jpeg(img, quality=80))
    # flip SOF0 (0xFFC0) to SOF3 (0xFFC3): lossless must raise
    i = bytes(b).find(b"\xff\xc0")
    b[i + 1] = 0xC3
    with pytest.raises(NotImplementedError, match="SOF"):
        decode_jpeg(bytes(b))
    with pytest.raises(ValueError):
        decode_jpeg(b"\x00\x01notajpeg")
    # 16-bit quant table must raise
    hdr = b"\xff\xd8" + struct.pack(">HH", 0xFFDB, 2 + 129) + bytes([0x10] + [0] * 128)
    with pytest.raises(NotImplementedError, match="quant"):
        decode_jpeg(hdr + b"\xff\xd9")
    # SOS naming an undefined Huffman slot (DC+AC, then AC alone): a clear
    # decode error at SOS, not an AttributeError deep in the bit reader
    good = encode_jpeg(img, quality=80)
    sel = good.find(b"\xff\xda") + 6  # first component's Td/Ta byte
    for tt in (0x33, 0x03):
        bad = bytearray(good)
        bad[sel] = tt
        with pytest.raises(ValueError, match="missing DHT table"):
            decode_jpeg(bytes(bad))


@pytest.mark.parametrize("n_fill", [1, 2])
def test_fill_bytes_before_marker_are_padding(n_fill):
    """T.81 B.1.1.2: any marker may be preceded by 0xFF fill bytes."""
    b = encode_jpeg(_gradient(16, 24), quality=85, subsample=True)
    i = b.find(b"\xff\xda")
    padded = b[:i] + b"\xff" * n_fill + b[i:]
    assert np.array_equal(decode_jpeg(padded), decode_jpeg(b))


# ------------------------------------------------ progressive test encoder


def _encode_progressive(img, quality=90, subsample=False, sa=False):
    """Test-side SOF2 progressive encoder: DC-first scan (interleaved),
    per-component AC spectral-selection scans, and — with sa=True —
    successive approximation (Al=1 first passes + Ah=1 refinement passes
    per T.81 G.1.2.3, correction bits buffered behind the next emitted
    symbol).  Coefficients are byte-identical to what encode_jpeg would
    code, so the decode must match the baseline decode exactly."""
    import struct

    from berkeley_entity_spark.operators import jpeg as J

    h, w, _ = img.shape
    ycc = J._rgb_to_ycbcr(img)
    qy = J._quality_scale(J.QUANT_LUMA, quality)
    qc = J._quality_scale(J.QUANT_CHROMA, quality)
    sf = 2 if subsample else 1
    y = J._pad_to(ycc[..., 0], 8 * sf, 8 * sf) - 128.0
    cbf = J._pad_to(ycc[..., 1], 8 * sf, 8 * sf)
    crf = J._pad_to(ycc[..., 2], 8 * sf, 8 * sf)
    if subsample:
        cb = cbf.reshape(-1, 2, cbf.shape[1] // 2, 2).mean(axis=(1, 3)) - 128.0
        cr = crf.reshape(-1, 2, crf.shape[1] // 2, 2).mean(axis=(1, 3)) - 128.0
    else:
        cb, cr = cbf - 128.0, crf - 128.0
    planes = [y, cb, cr]
    qts = [qy, qc, qc]
    zz = [J._plane_blocks(planes[i], qts[i])[:, J.ZIGZAG] for i in range(3)]
    grids = [
        (planes[i].shape[0] // 8, planes[i].shape[1] // 8) for i in range(3)
    ]
    dc_tabs = [J._canonical_codes(*J.HUFF_DC_LUMA)] + [
        J._canonical_codes(*J.HUFF_DC_CHROMA)
    ] * 2
    ac_tabs = [J._canonical_codes(*J.HUFF_AC_LUMA)] + [
        J._canonical_codes(*J.HUFF_AC_CHROMA)
    ] * 2

    def seg(marker, bodyb):
        return struct.pack(">HH", marker, len(bodyb) + 2) + bodyb

    out = bytearray(b"\xff\xd8")
    out += seg(0xFFDB, bytes([0]) + bytes(qy[J.ZIGZAG].tolist()))
    out += seg(0xFFDB, bytes([1]) + bytes(qc[J.ZIGZAG].tolist()))
    sof = struct.pack(">BHHB", 8, h, w, 3)
    sof += bytes([1, (sf << 4) | sf, 0, 2, 0x11, 1, 3, 0x11, 1])
    out += seg(0xFFC2, sof)  # SOF2: progressive
    out += seg(0xFFC4, bytes([0x00] + J.HUFF_DC_LUMA[0] + J.HUFF_DC_LUMA[1]))
    out += seg(0xFFC4, bytes([0x10] + J.HUFF_AC_LUMA[0] + J.HUFF_AC_LUMA[1]))
    out += seg(0xFFC4, bytes([0x01] + J.HUFF_DC_CHROMA[0] + J.HUFF_DC_CHROMA[1]))
    out += seg(0xFFC4, bytes([0x11] + J.HUFF_AC_CHROMA[0] + J.HUFF_AC_CHROMA[1]))

    def sos_header(comp_ids, ss, se, ah, al):
        b = bytes([len(comp_ids)])
        for cid in comp_ids:
            td = 0 if cid == 1 else 1
            b += bytes([cid, (td << 4) | td])
        return seg(0xFFDA, b + bytes([ss, se, (ah << 4) | al]))

    al1 = 1 if sa else 0

    # --- DC first scan (interleaved, Al=al1) ---
    bw = J._BitWriter()
    pred = [0, 0, 0]
    my_n, mx_n = grids[0][0] // sf, grids[0][1] // sf
    for my in range(my_n):
        for mx in range(mx_n):
            for ci in range(3):
                gh, gw = grids[ci]
                v = sf if ci == 0 else 1
                for vy in range(v):
                    for vx in range(v):
                        by, bx = my * v + vy, mx * v + vx
                        dc = int(zz[ci][by * gw + bx, 0]) >> al1
                        s, bitsv = J._magnitude(dc - pred[ci])
                        code, ln = dc_tabs[ci][s]
                        bw.write(code, ln)
                        if s:
                            bw.write(bitsv, s)
                        pred[ci] = dc
    out += sos_header([1, 2, 3], 0, 0, 0, al1) + bw.flush()

    if sa:  # --- DC refinement (one bit per block, interleaved) ---
        bw = J._BitWriter()
        for my in range(my_n):
            for mx in range(mx_n):
                for ci in range(3):
                    gh, gw = grids[ci]
                    v = sf if ci == 0 else 1
                    for vy in range(v):
                        for vx in range(v):
                            by, bx = my * v + vy, mx * v + vx
                            bw.write(int(zz[ci][by * gw + bx, 0]) & 1, 1)
        out += sos_header([1, 2, 3], 0, 0, 1, 0) + bw.flush()

    # non-interleaved scans cover only the component's TRUE block grid
    # (ceil(comp_dim/8)), not the MCU-padded grid the planes carry
    def true_blocks(ci):
        hi = sf if ci == 0 else 1
        cw, ch = -(-w * hi // (sf * 8)), -(-h * hi // (sf * 8))
        gw = grids[ci][1]
        return [by * gw + bx for by in range(ch) for bx in range(cw)]

    # --- AC scans: per component, non-interleaved ---
    for ci, cid in enumerate([1, 2, 3]):
        tab = ac_tabs[ci]
        bw = J._BitWriter()
        for bi in true_blocks(ci):
            blk = zz[ci][bi]
            k, run = 1, 0
            emitted_any = False
            for k in range(1, 64):
                t = int(blk[k])
                v = (1 if t > 0 else -1) * (abs(t) >> al1) if t else 0
                if v == 0:
                    run += 1
                    continue
                while run >= 16:
                    code, ln = tab[0xF0]
                    bw.write(code, ln)
                    run -= 16
                s, bitsv = J._magnitude(v)
                code, ln = tab[(run << 4) | s]
                bw.write(code, ln)
                bw.write(bitsv, s)
                run = 0
                emitted_any = True
            if run > 0 or not emitted_any:
                code, ln = tab[0x00]  # EOB (run of exactly 1)
                bw.write(code, ln)
        out += sos_header([cid], 1, 63, 0, al1) + bw.flush()

    if sa:  # --- AC refinement scans (Ah=1, Al=0) ---
        for ci, cid in enumerate([1, 2, 3]):
            tab = ac_tabs[ci]
            bw = J._BitWriter()
            for bi in true_blocks(ci):
                blk = zz[ci][bi]
                # correction bits are tagged with the number of zeros seen
                # before them since the last emitted symbol: a ZRL's walk
                # consumes only the bits whose tag is <= 15 (positions the
                # decoder passes before breaking at the 16th zero)
                run, corr = 0, []  # corr: (zeros_before, bit)
                for k in range(1, 64):
                    t = int(blk[k])
                    hist = (abs(t) >> 1) != 0
                    if hist:
                        corr.append((run, abs(t) & 1))
                        continue
                    if t == 0:
                        run += 1
                        continue
                    # newly nonzero: |t| == 1 by construction
                    while run >= 16:
                        code, ln = tab[0xF0]
                        bw.write(code, ln)
                        for zb, b in [c for c in corr if c[0] <= 15]:
                            bw.write(b, 1)
                        corr = [(zb - 16, b) for zb, b in corr if zb > 15]
                        run -= 16
                    code, ln = tab[(run << 4) | 1]
                    bw.write(code, ln)
                    bw.write(1 if t > 0 else 0, 1)
                    for _, b in corr:
                        bw.write(b, 1)
                    corr = []
                    run = 0
                if run > 0 or corr:
                    code, ln = tab[0x00]  # EOB0
                    bw.write(code, ln)
                    for _, b in corr:
                        bw.write(b, 1)
            out += sos_header([cid], 1, 63, 1, 0) + bw.flush()

    out += b"\xff\xd9"
    return bytes(out)


def test_progressive_multiblock_eob_runs():
    """EOBn (r>0) runs spanning several blocks, first-pass and refinement:
    hand-coded scans over 5 known blocks, decoded block-by-block."""
    import numpy as np

    from berkeley_entity_spark.operators import jpeg as J

    # EOBn symbols (0x20 etc.) are not in the Annex-K baseline tables —
    # progressive streams ship custom DHTs; build one for the test
    spec = ([0, 0, 6] + [0] * 13, [0x00, 0x01, 0x20, 0x61, 0x11, 0x21])
    ac_tab = J._canonical_codes(*spec)
    dec_ac = J._build_decode_table(*spec)
    comp = {"ac": dec_ac, "dc": None}
    # 5 blocks: block 0 has AC values; blocks 1-4 all-zero in first pass
    true = np.zeros((5, 64), np.int64)
    true[0, 1], true[0, 4] = 3, -2
    # blocks 1 and 3 gain a +-1 in refinement; history coef at block 0
    refined = true.copy()
    refined[0, 1] = 3  # history (|3|>>1 != 0 relative to al=1 first pass)
    refined[1, 7] = 1
    refined[3, 2] = -1

    # first pass al=1: block 0: (0,s) for 3>>1=1 at k=1, -2>>1=-1 at k=4 ->
    # (run 2); then EOB4 for the remaining 4 blocks: eobrun=4 = 1<<2 -> r=2
    bw = J._BitWriter()
    for k, v in ((1, 1), (4, -1)):
        pass
    s, b = J._magnitude(1)
    c, ln = ac_tab[(0 << 4) | s]
    bw.write(c, ln)
    bw.write(b, s)
    s, b = J._magnitude(-1)
    c, ln = ac_tab[(2 << 4) | s]
    bw.write(c, ln)
    bw.write(b, s)
    c, ln = ac_tab[0x00]  # EOB for rest of block 0
    bw.write(c, ln)
    c, ln = ac_tab[(2 << 4) | 0]  # EOBn: eobrun = 1<<2 + extra(0b00) = 4
    bw.write(c, ln)
    bw.write(0, 2)
    first = bw.flush()

    zz = np.zeros((5, 64), np.int64)
    st = J._ScanState(1)
    br = J._BitReader(first + b"\xff\xd9", 0)
    for bi in range(5):
        J._decode_band_first(br, zz[bi], 0, comp, st, 1, 63, 1)
    assert zz[0, 1] == 2 and zz[0, 4] == -2  # (1<<1, -1<<1)
    assert not zz[1:].any()

    # refinement al=0: block 0: correction bits for k=1 (bit 1 -> 3) and
    # k=4 (bit 0 -> stays -2), EOB0 carries them; block 1: newly nonzero at
    # k=7; block 2: EOB2 run covering blocks 2 (no history) ... block 3 has
    # a new coefficient so the run is blocks 2 only -> EOB1; block 3: new
    # coef at k=2; block 4: EOB1.
    bw = J._BitWriter()
    c, ln = ac_tab[0x00]
    bw.write(c, ln)  # block 0: EOB0 then correction bits for k=1, k=4
    bw.write(1, 1)
    bw.write(0, 1)
    c, ln = ac_tab[(6 << 4) | 1]  # block 1: run 6 zeros then new +1 at k=7
    bw.write(c, ln)
    bw.write(1, 1)  # sign +
    c, ln = ac_tab[0x00]
    bw.write(c, ln)  # rest of block 1
    c, ln = ac_tab[0x00]
    bw.write(c, ln)  # block 2: EOB1 (all zero, no history)
    c, ln = ac_tab[(1 << 4) | 1]  # block 3: run 1 zero then new -1 at k=2
    bw.write(c, ln)
    bw.write(0, 1)  # sign -
    c, ln = ac_tab[0x00]
    bw.write(c, ln)  # rest of block 3
    c, ln = ac_tab[0x00]
    bw.write(c, ln)  # block 4: EOB1
    ref = bw.flush()

    st = J._ScanState(1)
    br = J._BitReader(ref + b"\xff\xd9", 0)
    for bi in range(5):
        J._decode_band_refine(br, zz[bi], comp, st, 1, 63, 0)
    want = np.zeros((5, 64), np.int64)
    want[0, 1], want[0, 4] = 3, -2
    want[1, 7], want[3, 2] = 1, -1
    assert np.array_equal(zz, want)


@pytest.mark.parametrize("subsample", [False, True])
def test_progressive_spectral_selection_matches_baseline(subsample):
    """SOF2 spectral-selection-only stream codes the SAME quantized
    coefficients as the baseline encoder -> pixel-identical decode."""
    img = _gradient(29, 37)
    base = decode_jpeg(encode_jpeg(img, quality=85, subsample=subsample))
    prog = decode_jpeg(
        _encode_progressive(img, quality=85, subsample=subsample, sa=False)
    )
    assert np.array_equal(base, prog)


@pytest.mark.parametrize("subsample", [False, True])
def test_progressive_successive_approximation_matches_baseline(subsample):
    """Full progressive: Al=1 first passes + Ah=1 refinement passes must
    reconstruct the exact coefficients -> pixel-identical to baseline."""
    rng = np.random.default_rng(9)
    img = np.kron(
        rng.integers(0, 256, (4, 5, 3)).astype(float), np.ones((6, 7, 1))
    )[:23, :33].astype(np.uint8)
    base = decode_jpeg(encode_jpeg(img, quality=80, subsample=subsample))
    prog = decode_jpeg(
        _encode_progressive(img, quality=80, subsample=subsample, sa=True)
    )
    assert np.array_equal(base, prog)


def test_jpeg_distributed_decode_and_resize(spark):
    """JPEG payloads through the real mapInPandas codec path: features
    match the local computation; resize re-encodes decodable JPEG."""
    from berkeley_entity_spark.operators.jpeg import decode_jpeg as dj
    from berkeley_entity_spark.operators.multimodal import (
        _image_features,
        decode_media,
        resize_media,
    )

    img = _gradient(16, 12)
    payload = encode_jpeg(img, quality=92, subsample=False)
    media = spark.createDataFrame(
        [(1, "image", bytearray(payload), (16, 12, 0, 0))],
        "media_id long, kind string, payload binary, "
        "meta struct<width:int, height:int, sample_rate:int, duration_ms:int>",
    )
    got = decode_media(media, dim=16, fake=False).first()
    assert np.allclose(
        np.array(got["features"]), _image_features(dj(payload), 16)
    )
    row = resize_media(media, width=8, height=8, fake=False).first()
    out = dj(bytes(row["payload"]))
    assert out.shape == (8, 8, 3)
