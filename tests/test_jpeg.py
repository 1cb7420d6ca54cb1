"""Baseline JPEG codec (functions/jpeg) — pure stdlib+NumPy, no PIL.

The encoder exists to make the decoder testable without external
libraries: round trips bound the quantization error, the q=100
constant-gray-block case is bit-exact (the property the oracle-gated
image_near_dups_jpeg query builds on), and the perceptual-hash pipeline
is stable across a JPEG round trip."""

from __future__ import annotations

import numpy as np
import pytest

from tweets_elastic_spark.functions.jpeg import (
    decode_jpeg,
    encode_jpeg,
    jpeg_dimensions,
)


def _test_image(h=37, w=53, seed=0):
    rng = np.random.RandomState(seed)
    base = np.zeros((h, w, 3))
    base[:, :, 0] = np.linspace(0, 255, w)[None, :]
    base[:, :, 1] = np.linspace(255, 0, h)[:, None]
    base[:, :, 2] = 128
    return np.clip(base + rng.randn(h, w, 3) * 4, 0, 255).astype(np.uint8)


@pytest.mark.parametrize("subsample", [False, True])
@pytest.mark.parametrize("quality", [70, 90, 100])
def test_round_trip_error_bounded(subsample, quality):
    """Decode(encode(img)) stays within quantization error; error shrinks
    as quality rises; dimensions (non-multiples of 8/16) survive."""
    img = _test_image()
    enc = encode_jpeg(img, quality=quality, subsample=subsample)
    assert enc[:2] == b"\xFF\xD8" and enc[-2:] == b"\xFF\xD9"
    assert jpeg_dimensions(enc) == (53, 37)
    dec = decode_jpeg(enc)
    assert dec.shape == img.shape and dec.dtype == np.uint8
    mae = np.abs(dec.astype(float) - img.astype(float)).mean()
    assert mae < (6.0 if quality < 100 else 3.5)


def test_quality_monotone_and_smaller():
    img = _test_image()
    e50 = encode_jpeg(img, quality=50)
    e95 = encode_jpeg(img, quality=95)
    assert len(e50) < len(e95)
    mae = lambda e: np.abs(
        decode_jpeg(e).astype(float) - img.astype(float)).mean()
    assert mae(e95) < mae(e50)


@pytest.mark.parametrize("subsample", [False, True])
def test_gray_constant_blocks_exact_at_q100(subsample):
    """Constant 8×8 gray blocks at quality=100 round-trip BIT-EXACTLY:
    gray → YCbCr is exact (weights sum to 1, Cb=Cr=128), a constant block
    is DC-only, and q=100 scales every quant entry to 1. This is the
    invariant the arithmetic oracle of image_near_dups_jpeg relies on."""
    rng = np.random.RandomState(3)
    blocks = (rng.randint(0, 32, (8, 9)) * 7 + 16).astype(np.uint8)
    px = np.repeat(np.repeat(blocks, 8, 0), 8, 1)
    img = np.stack([px, px, px], axis=2)
    dec = decode_jpeg(encode_jpeg(img, quality=100, subsample=subsample))
    assert np.array_equal(dec, img)


def test_dhash_stable_across_jpeg_round_trip():
    from tweets_elastic_spark.functions.multimodal import dhash64

    img = _test_image(h=40, w=72, seed=5)
    h0 = dhash64(img)
    h1 = dhash64(decode_jpeg(encode_jpeg(img, quality=90)))
    assert bin((h0 ^ h1) & ((1 << 64) - 1)).count("1") <= 6


def test_malformed_and_unsupported_raise():
    with pytest.raises(ValueError, match="missing SOI"):
        decode_jpeg(b"not a jpeg at all")
    img = _test_image(16, 16)
    enc = bytearray(encode_jpeg(img))
    # flip SOF0 (FFC0) into SOF2 (FFC2): r11 decodes REAL progressive
    # streams, so a baseline scan header under a forged SOF2 is the
    # inconsistency that must stay loud
    i = enc.find(b"\xFF\xC0")
    enc[i + 1] = 0xC2
    with pytest.raises(ValueError, match="forged SOF2"):
        decode_jpeg(bytes(enc))
    assert jpeg_dimensions(bytes(enc)) == (16, 16)  # SOF2 headers parse
    with pytest.raises(ValueError):
        encode_jpeg(np.zeros((4, 4), dtype=np.uint8))  # not (H, W, 3)
    with pytest.raises(ValueError, match="quality"):
        encode_jpeg(img, quality=0)


def test_byte_stuffing_survives():
    """An image whose entropy stream contains 0xFF bytes must unstuff
    cleanly — exercised by encoding many distinct random images and
    requiring every decode to succeed with bounded error."""
    rng = np.random.RandomState(11)
    for seed in range(4):
        img = rng.randint(0, 256, (24, 24, 3)).astype(np.uint8)
        dec = decode_jpeg(encode_jpeg(img, quality=95))
        assert dec.shape == img.shape


@pytest.mark.parametrize("subsample", [False, True])
def test_progressive_decodes_identical_to_baseline(subsample):
    """r11: encode_jpeg_progressive ships the SAME quantized coefficients
    as encode_jpeg through the cjpeg-shaped scan script (DC Al=1 + DC
    refine, AC band splits at Al=2/1 + two refinement passes) — so the
    progressive decode must be BIT-IDENTICAL to the baseline decode.
    This pins every progressive path: spectral selection, successive
    approximation, EOB runs, buffered correction bits."""
    from tweets_elastic_spark.functions.jpeg import encode_jpeg_progressive

    rng = np.random.RandomState(11)
    img = rng.randint(0, 256, (21, 18, 3), dtype=np.uint8)
    base = decode_jpeg(encode_jpeg(img, quality=75, subsample=subsample))
    prog = decode_jpeg(
        encode_jpeg_progressive(img, quality=75, subsample=subsample))
    assert np.array_equal(base, prog)
    assert jpeg_dimensions(
        encode_jpeg_progressive(img, subsample=subsample)) == (18, 21)


def test_progressive_eob_runs_and_flat_regions():
    """Long EOB runs (mostly-flat image → all-zero AC bands across many
    consecutive blocks) and heavy quantization (quality=5 → sparse
    coefficients, deep ZRL/EOBn interplay) both decode identically."""
    from tweets_elastic_spark.functions.jpeg import encode_jpeg_progressive

    flat = np.full((48, 40, 3), 130, dtype=np.uint8)
    flat[20:24, 16:20] = 250  # one feature in a sea of identical blocks
    for q in (5, 75, 100):
        base = decode_jpeg(encode_jpeg(flat, quality=q))
        prog = decode_jpeg(encode_jpeg_progressive(flat, quality=q))
        assert np.array_equal(base, prog), q
    rng = np.random.RandomState(12)
    noisy = rng.randint(0, 256, (24, 24, 3), dtype=np.uint8)
    assert np.array_equal(
        decode_jpeg(encode_jpeg(noisy, quality=5)),
        decode_jpeg(encode_jpeg_progressive(noisy, quality=5)),
    )


def test_progressive_quality100_constant_blocks_exact():
    """The oracle-row fixture contract holds for progressive too:
    constant 8x8 gray blocks at quality=100 are DC-only with unit quant,
    so decode(encode_progressive(img)) == img bit-exactly."""
    from tweets_elastic_spark.functions.jpeg import encode_jpeg_progressive

    rng = np.random.RandomState(13)
    grays = rng.randint(0, 256, (3, 4), dtype=np.uint8)
    img = np.repeat(np.repeat(grays, 8, axis=0), 8, axis=1)
    img = np.stack([img, img, img], axis=2)
    assert np.array_equal(
        decode_jpeg(encode_jpeg_progressive(img, quality=100)), img)


# ---------------------------------------------------------------------------
# Lossless process (SOF3, r12)
# ---------------------------------------------------------------------------

@pytest.mark.parametrize("predictor", range(1, 8))
def test_lossless_round_trip_exact_all_predictors(predictor):
    """Annex H predictive coding is lossless by construction: decode ==
    encoder input BIT-EXACTLY for every spec predictor, gray and RGB."""
    from tweets_elastic_spark.functions.jpeg import encode_jpeg_lossless

    rng = np.random.RandomState(40 + predictor)
    gray = rng.randint(0, 256, (13, 17), dtype=np.uint8)
    got = decode_jpeg(encode_jpeg_lossless(gray, predictor=predictor))
    assert np.array_equal(got, np.stack([gray] * 3, axis=2))
    rgb = rng.randint(0, 256, (9, 11, 3), dtype=np.uint8)
    assert np.array_equal(
        decode_jpeg(encode_jpeg_lossless(rgb, predictor=predictor)), rgb)


def test_lossless_high_precision_point_transform_restarts():
    """12/16-bit samples (uint16 out), point transform (decode returns
    the shifted-back samples), restart markers resetting prediction."""
    from tweets_elastic_spark.functions.jpeg import encode_jpeg_lossless

    rng = np.random.RandomState(51)
    img16 = rng.randint(0, 65536, (8, 8)).astype(np.uint16)
    got = decode_jpeg(encode_jpeg_lossless(img16))
    assert got.dtype == np.uint16 and np.array_equal(got, img16)
    img12 = rng.randint(0, 4096, (10, 6)).astype(np.uint16)
    assert np.array_equal(
        decode_jpeg(encode_jpeg_lossless(img12, precision=12)), img12)
    rgb = rng.randint(0, 256, (7, 5, 3), dtype=np.uint8)
    assert np.array_equal(
        decode_jpeg(encode_jpeg_lossless(rgb, restart_interval=6)), rgb)
    gray = rng.randint(0, 256, (6, 6), dtype=np.uint8)
    dec = decode_jpeg(encode_jpeg_lossless(gray, predictor=7,
                                           point_transform=2))
    want = (gray >> 2) << 2
    assert np.array_equal(dec, np.stack([want] * 3, axis=2))
    assert jpeg_dimensions(encode_jpeg_lossless(gray)) == (6, 6)


def test_lossless_guards():
    from tweets_elastic_spark.functions.jpeg import encode_jpeg_lossless

    img = np.zeros((4, 4), dtype=np.uint8)
    with pytest.raises(ValueError, match="predictor"):
        encode_jpeg_lossless(img, predictor=0)
    with pytest.raises(ValueError, match="precision"):
        encode_jpeg_lossless(img, precision=17)
    with pytest.raises(ValueError, match="point transform"):
        encode_jpeg_lossless(img, point_transform=8)
    with pytest.raises(ValueError, match="exceeds declared"):
        encode_jpeg_lossless(
            np.full((2, 2), 300, dtype=np.uint16), precision=8)
    # subsampled lossless components stay a loud refusal
    enc = bytearray(encode_jpeg_lossless(np.zeros((2, 2), np.uint8)))
    i = enc.find(b"\xFF\xC3")
    # SOF3 payload: len(2) prec(1) h(2) w(2) n(1) cid(1) hv(1) — flip hv
    enc[i + 2 + 2 + 5 + 1 + 1] = 0x22
    with pytest.raises(NotImplementedError, match="subsampled"):
        decode_jpeg(bytes(enc))


# ---------------------------------------------------------------------------
# 12-bit extended sequential process (SOF1)
# ---------------------------------------------------------------------------
# The package decodes 12-bit streams but writes none, so the tests build
# their input here: the 8-bit block pipeline with a 2048 level shift and
# FLAT canonical Huffman tables whose magnitude categories reach 15 (DC) /
# 14 (AC) — valid per T.81 C.2 with the all-ones code unused, simple over
# optimal. Gray or RGB, 4:4:4 only.

_DC12 = ([0, 0, 0, 0, 16] + [0] * 11, list(range(16)))
_AC12_VALS = [0x00, 0xF0] + [
    (run << 4) | size for run in range(16) for size in range(1, 15)
]
_AC12 = ([0] * 8 + [len(_AC12_VALS)] + [0] * 7, _AC12_VALS)  # all length 9


def _encode_jpeg_12bit(pixels: np.ndarray, quality: int = 90) -> bytes:
    """(H, W) or (H, W, 3) uint16 samples in 0..4095 → 12-bit extended
    sequential (SOF1) JFIF bytes with embedded tables. At quality=100 the
    quant table is all-ones, so constant 8x8 blocks round-trip exactly."""
    import struct

    from tweets_elastic_spark.functions.jpeg import (
        STD_LUMA_QT, ZIGZAG, _BitWriter, _encode_blocks, _huff_encode_table,
        _pad_to, _scaled_qt,
    )

    h, w = pixels.shape[:2]
    px = pixels.astype(np.float64)
    if pixels.ndim == 2:
        planes = [px]
    else:
        r, g, b = px[:, :, 0], px[:, :, 1], px[:, :, 2]
        planes = [
            np.round(0.299 * r + 0.587 * g + 0.114 * b),
            np.round(2048.0 - 0.168736 * r - 0.331264 * g + 0.5 * b),
            np.round(2048.0 + 0.5 * r - 0.418688 * g - 0.081312 * b),
        ]
    lq = _scaled_qt(STD_LUMA_QT, quality)
    padded = [_pad_to(p, 8, 8) for p in planes]
    n = len(planes)
    out = bytearray(b"\xFF\xD8")
    out += b"\xFF\xDB" + struct.pack(">HB", 67, 0) \
        + bytes(int(x) for x in lq.reshape(-1)[ZIGZAG])
    out += b"\xFF\xC1" + struct.pack(">HBHHB", 8 + 3 * n, 12, h, w, n)
    for cid in range(n):
        out += struct.pack(">BBB", cid + 1, 0x11, 0)
    for tc, (bits, vals) in ((0, _DC12), (1, _AC12)):
        out += b"\xFF\xC4" + struct.pack(">HB", 19 + len(vals), tc << 4) \
            + bytes(bits) + bytes(vals)
    out += b"\xFF\xDA" + struct.pack(">HB", 6 + 2 * n, n)
    for cid in range(n):
        out += struct.pack(">BB", cid + 1, 0x00)
    out += b"\x00\x3F\x00"
    dc_enc, ac_enc = _huff_encode_table(*_DC12), _huff_encode_table(*_AC12)
    wtr = _BitWriter()
    preds = [0] * n
    for y0 in range(0, padded[0].shape[0], 8):
        for x0 in range(0, padded[0].shape[1], 8):
            for ci, plane in enumerate(padded):
                # the 12-bit level shift is 2048: 1920 here, the encoder's
                # 128 after (exact, the samples are integers)
                preds[ci] = _encode_blocks(
                    wtr, plane[y0:y0 + 8, x0:x0 + 8] - 1920.0, lq, dc_enc,
                    ac_enc, preds[ci],
                )
    wtr.flush()
    return bytes(out + wtr.out + b"\xFF\xD9")


def test_12bit_constant_blocks_exact_and_bounded_error():
    """12-bit DCT: constant 8x8 gray blocks at
    quality=100 round-trip BIT-EXACTLY (DC-only, unit quant, 2048 level
    shift); smooth/noisy data stays within conforming-decoder rounding
    of the 0..4095 range; output dtype is uint16."""
    rng = np.random.RandomState(61)
    grays = rng.randint(0, 4096, (3, 4)).astype(np.uint16)
    img = np.repeat(np.repeat(grays, 8, 0), 8, 1)
    dec = decode_jpeg(_encode_jpeg_12bit(img, quality=100))
    assert dec.dtype == np.uint16
    assert np.array_equal(dec, np.stack([img] * 3, axis=2))
    noisy = rng.randint(0, 4096, (16, 16, 3)).astype(np.uint16)
    dec2 = decode_jpeg(_encode_jpeg_12bit(noisy, quality=100))
    assert np.abs(dec2.astype(int) - noisy.astype(int)).max() <= 3
    x = np.linspace(0, 2047, 32)
    smooth = (x[None, :] + x[:, None]).astype(np.uint16)
    dec3 = decode_jpeg(_encode_jpeg_12bit(smooth, quality=90))
    assert np.abs(dec3[:, :, 0].astype(int) - smooth.astype(int)).max() <= 8
    assert jpeg_dimensions(_encode_jpeg_12bit(smooth)) == (32, 32)


def test_12bit_sixteen_bit_quant_tables_parse():
    """DQT pq=1 (16-bit entries): rewrite the embedded 8-bit table to
    its 16-bit encoding — decode must be IDENTICAL (same values, wider
    storage)."""
    import struct as _s

    rng = np.random.RandomState(62)
    img = np.repeat(np.repeat(
        rng.randint(0, 4096, (2, 2)), 8, 0), 8, 1).astype(np.uint16)
    enc = _encode_jpeg_12bit(img, quality=100)
    i = enc.find(b"\xFF\xDB")
    body = enc[i + 4:i + 4 + 65]          # pq/tq byte + 64 entries
    tq = body[0] & 0x0F
    wide = bytes([(1 << 4) | tq]) + b"".join(
        _s.pack(">H", v) for v in body[1:])
    enc2 = enc[:i] + b"\xFF\xDB" + _s.pack(">H", 2 + len(wide)) + wide \
        + enc[i + 4 + 65:]
    assert np.array_equal(decode_jpeg(bytes(enc2)), decode_jpeg(enc))


def test_12bit_guards():
    # SOF0 stays 8-bit by spec: flip the 12-bit stream's SOF1 to SOF0
    enc = bytearray(_encode_jpeg_12bit(np.zeros((8, 8), dtype=np.uint16)))
    i = enc.find(b"\xFF\xC1")
    enc[i + 1] = 0xC0
    with pytest.raises(NotImplementedError, match="8-bit by spec"):
        decode_jpeg(bytes(enc))
