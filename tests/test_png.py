"""PNG codec (functions/png) — pure stdlib zlib + NumPy, no PIL.

PNG is lossless, so every round trip must be bit-exact — across all five
scanline filters, every supported color type, sub-byte depths and Adam7
interlace. Error paths (bad signature, chunk CRC, 16-bit, unknown
filter) must be loud. The Spark-side tests drive the codec through the
same mapInPandas seams the PPM/JPEG paths use."""

from __future__ import annotations

import struct
import zlib

import numpy as np
import pytest

from tweets_elastic_spark.functions.png import (
    PNG_SIGNATURE,
    _chunk,
    decode_png,
    encode_png,
    png_dimensions,
)


def _rand_img(h=23, w=17, seed=7):
    return np.random.RandomState(seed).randint(0, 256, (h, w, 3), dtype=np.uint8)


def _raw_png(w, h, depth, ctype, raw_rows, palette=None, interlace=0):
    """Hand-assemble a PNG from already-filtered scanline bytes."""
    ihdr = struct.pack(">IIBBBBB", w, h, depth, ctype, 0, 0, interlace)
    out = PNG_SIGNATURE + _chunk(b"IHDR", ihdr)
    if palette is not None:
        out += _chunk(b"PLTE", palette.tobytes())
    return out + _chunk(b"IDAT", zlib.compress(raw_rows)) + _chunk(b"IEND", b"")


@pytest.mark.parametrize("filter_type", [0, 1, 2, 3, 4])
def test_roundtrip_every_filter(filter_type):
    img = _rand_img()
    payload = encode_png(img, filter_type=filter_type)
    assert np.array_equal(decode_png(payload), img)
    assert png_dimensions(payload) == (17, 23)


def test_gray8_and_alpha_variants():
    rng = np.random.RandomState(1)
    g = rng.randint(0, 256, (5, 7), dtype=np.uint8)
    raw = b"".join(b"\x00" + g[y].tobytes() for y in range(5))
    assert np.array_equal(
        decode_png(_raw_png(7, 5, 8, 0, raw)), np.stack([g, g, g], axis=2)
    )
    rgba = rng.randint(0, 256, (4, 6, 4), dtype=np.uint8)
    raw = b"".join(b"\x00" + rgba[y].tobytes() for y in range(4))
    assert np.array_equal(decode_png(_raw_png(6, 4, 8, 6, raw)), rgba[:, :, :3])
    ga = rng.randint(0, 256, (3, 5, 2), dtype=np.uint8)
    raw = b"".join(b"\x00" + ga[y].tobytes() for y in range(3))
    out = decode_png(_raw_png(5, 3, 8, 4, raw))
    assert np.array_equal(out[:, :, 0], ga[:, :, 0])
    assert np.array_equal(out[:, :, 0], out[:, :, 2])


def test_subbyte_gray_scaling():
    # depth 1: 0/1 -> 0/255; depth 2: x*85; depth 4: x*17
    bits = np.array([1, 0, 1, 1, 0, 1, 0, 0, 1, 1], dtype=np.uint8)
    payload = _raw_png(10, 1, 1, 0, b"\x00" + np.packbits(bits).tobytes())
    assert np.array_equal(decode_png(payload)[0, :, 0], bits * 255)
    vals2 = [3, 0, 2, 1, 3]  # width 5, depth 2 -> 2 bytes packed
    packed = bytes([0b11_00_10_01, 0b11_00_00_00])
    payload = _raw_png(5, 1, 2, 0, b"\x00" + packed)
    assert decode_png(payload)[0, :, 0].tolist() == [v * 85 for v in vals2]


def test_palette_4bit_lookup():
    pal = np.arange(48, dtype=np.uint8).reshape(16, 3)
    packed = bytes([3 << 4 | 15, 7 << 4])  # indices 3, 15, 7 at width 3
    out = decode_png(_raw_png(3, 1, 4, 3, b"\x00" + packed, palette=pal))
    assert np.array_equal(out[0], pal[[3, 15, 7]])
    with pytest.raises(ValueError, match="palette index out of range"):
        small = np.arange(9, dtype=np.uint8).reshape(3, 3)
        decode_png(_raw_png(3, 1, 4, 3, b"\x00" + packed, palette=small))
    with pytest.raises(ValueError, match="PLTE"):
        decode_png(_raw_png(3, 1, 4, 3, b"\x00" + packed))


def test_adam7_interlace_roundtrip():
    img = _rand_img(h=9, w=11, seed=3)
    passes = ((0, 0, 8, 8), (4, 0, 8, 8), (0, 4, 4, 8), (2, 0, 4, 4),
              (0, 2, 2, 4), (1, 0, 2, 2), (0, 1, 1, 2))
    raw = bytearray()
    for x0, y0, dx, dy in passes:
        sub = img[y0::dy, x0::dx]
        if sub.size == 0:
            continue
        for row in sub:
            raw += b"\x00" + row.tobytes()
    out = decode_png(_raw_png(11, 9, 8, 2, bytes(raw), interlace=1))
    assert np.array_equal(out, img)


def test_decode_png_auto_falls_back_without_pil():
    """The production seam: without Pillow, decode_png_auto must route to
    the pure decoder (bit-exact), and decode_png_native must refuse
    loudly. With Pillow present, the equality test below pins the two
    decoders pixel-equal instead."""
    from tweets_elastic_spark.functions import png as png_mod

    img = _rand_img()
    payload = encode_png(img, filter_type=2)
    assert np.array_equal(png_mod.decode_png_auto(payload), img)
    if png_mod._PIL_Image is None:
        with pytest.raises(NotImplementedError, match="Pillow"):
            png_mod.decode_png_native(payload)


def test_decode_png_native_pixel_equal():
    """Wherever Pillow exists, the libpng path must be pixel-equal to the
    pure decoder across every filter, palette, gray and Adam7 — PNG is
    lossless, so any divergence is a bug in one of them."""
    PIL = pytest.importorskip("PIL.Image")
    del PIL
    from tweets_elastic_spark.functions.png import (
        decode_png_native,
    )

    for ft in range(5):
        img = _rand_img(seed=ft)
        payload = encode_png(img, filter_type=ft)
        assert np.array_equal(decode_png_native(payload), decode_png(payload))
    # palette: 16-color 4-bit lookup via the hand assembler
    pal = np.arange(48, dtype=np.uint8).reshape(16, 3) * 5
    rows = b"".join(b"\x00" + bytes([i * 16 + (15 - i)]) for i in range(8))
    payload = _raw_png(2, 8, 4, 3, rows, palette=pal)
    assert np.array_equal(decode_png_native(payload), decode_png(payload))


def test_error_paths_are_loud():
    img = _rand_img(h=4, w=4)
    good = encode_png(img)
    with pytest.raises(ValueError, match="bad signature"):
        decode_png(b"JFIF" + good[4:])
    corrupt = bytearray(good)
    corrupt[20] ^= 1
    with pytest.raises(ValueError, match="CRC mismatch"):
        decode_png(bytes(corrupt))
    with pytest.raises(ValueError, match="palette"):
        decode_png(_raw_png(1, 1, 16, 3, b"\x00\x00\x00",
                            palette=np.zeros((2, 3), dtype=np.uint8)))
    with pytest.raises(ValueError, match="unknown PNG filter type"):
        decode_png(_raw_png(2, 1, 8, 0, b"\x07\x01\x02"))
    with pytest.raises(ValueError, match="truncated"):
        decode_png(_raw_png(4, 4, 8, 2, b"\x00" + b"\x01" * 5))
    with pytest.raises(ValueError, match="expects"):
        encode_png(np.zeros((4, 4), dtype=np.uint8))
    with pytest.raises(ValueError, match="invalid PNG filter"):
        encode_png(img, filter_type=9)


def test_spark_decode_dhash(spark):
    """PNG through two mapInPandas seams: metadata decode and the dHash
    near-dup sketch (magic-dispatched next to PPM/JPEG)."""
    from tweets_elastic_spark.functions.multimodal import (
        decode_assets, image_dhash,
    )

    imgs = [_rand_img(h=16, w=12, seed=s) for s in range(3)]
    rows = [
        (i, "image", bytearray(encode_png(img, filter_type=i % 5)), "image/png")
        for i, img in enumerate(imgs)
    ]
    df = spark.createDataFrame(
        rows, "asset_id long, modality string, payload binary, mime_type string"
    )
    meta = {r["asset_id"]: r for r in decode_assets(df).collect()}
    assert meta[0]["width"] == 12 and meta[0]["height"] == 16

    from tweets_elastic_spark.functions.multimodal import dhash64

    sigs = {r["_id"]: r["_sig"] for r in image_dhash(df).collect()}
    assert sigs == {i: dhash64(img) for i, img in enumerate(imgs)}


@pytest.mark.parametrize("filter_type", [0, 1, 2, 3, 4])
def test_16bit_roundtrip_every_filter(filter_type):
    """r11: 16-bit truecolor — the encoder replicates samples to v*257
    (high byte == low byte == v), so the decoder's high-byte strip
    round-trips bit-exactly through every scanline filter (bpp=6)."""
    img = _rand_img(h=9, w=6, seed=40 + filter_type)
    payload = encode_png(img, filter_type=filter_type, depth=16)
    assert payload[24] == 16  # IHDR bit depth
    assert np.array_equal(decode_png(payload), img)


def test_16bit_gray_and_alpha_high_byte_strip():
    """Hand-built 16-bit grey / RGBA payloads: arbitrary (not replicated)
    u16 samples must reduce to their HIGH byte — libpng's strip-16."""
    g16 = np.array([[0x1234, 0xFF01], [0x00FF, 0xABCD]], dtype=">u2")
    raw = b"".join(b"\x00" + g16[y].tobytes() for y in range(2))
    out = decode_png(_raw_png(2, 2, 16, 0, raw))
    want = np.array([[0x12, 0xFF], [0x00, 0xAB]], dtype=np.uint8)
    assert np.array_equal(out[:, :, 0], want)
    assert np.array_equal(out[:, :, 0], out[:, :, 2])  # grey fan-out
    rgba16 = (np.arange(2 * 3 * 4).reshape(2, 3, 4) * 993).astype(">u2")
    raw = b"".join(b"\x00" + rgba16[y].tobytes() for y in range(2))
    out = decode_png(_raw_png(3, 2, 16, 6, raw))
    want = (rgba16[:, :, :3].astype(np.uint32) >> 8).astype(np.uint8)
    assert np.array_equal(out, want)  # alpha dropped, high bytes kept


def test_16bit_adam7_interlace():
    img = _rand_img(h=9, w=11, seed=5)
    wide = (img.astype(">u2") * 257)
    passes = ((0, 0, 8, 8), (4, 0, 8, 8), (0, 4, 4, 8), (2, 0, 4, 4),
              (0, 2, 2, 4), (1, 0, 2, 2), (0, 1, 1, 2))
    raw = bytearray()
    for x0, y0, dx, dy in passes:
        sub = wide[y0::dy, x0::dx]
        if sub.size == 0:
            continue
        for row in sub:
            raw += b"\x00" + row.tobytes()
    out = decode_png(_raw_png(11, 9, 16, 2, bytes(raw), interlace=1))
    assert np.array_equal(out, img)


def _pack_row(vals, depth):
    """Pack a row of sub-byte samples MSB-first (PNG packing)."""
    bits = np.unpackbits(
        np.asarray(vals, np.uint8)[:, None], axis=1
    )[:, 8 - depth:]
    flat = bits.flatten()
    pad = (-len(flat)) % 8
    if pad:
        flat = np.concatenate([flat, np.zeros(pad, np.uint8)])
    return np.packbits(flat).tobytes()


@pytest.mark.parametrize("depth,ctype", [(1, 0), (2, 0), (4, 0), (4, 3)])
def test_subbyte_adam7_equals_noninterlaced(depth, ctype):
    """Sub-byte Adam7 (r12 — formerly a loud refusal): per-pass packed
    scanlines unfilter on bytes and unpack per pass width, then scatter.
    Truth = the long-tested NON-interlaced decode of the same samples."""
    rng = np.random.RandomState(depth * 10 + ctype)
    h, w = 9, 11
    samples = rng.randint(0, 1 << depth, (h, w), dtype=np.uint8)
    pal = (np.arange(3 * (1 << depth), dtype=np.uint8)
           .reshape(-1, 3) * 7 % 256).astype(np.uint8) if ctype == 3 else None
    flat_raw = b"".join(
        b"\x00" + _pack_row(samples[y], depth) for y in range(h)
    )
    want = decode_png(_raw_png(w, h, depth, ctype, flat_raw, palette=pal))
    passes = ((0, 0, 8, 8), (4, 0, 8, 8), (0, 4, 4, 8), (2, 0, 4, 4),
              (0, 2, 2, 4), (1, 0, 2, 2), (0, 1, 1, 2))
    raw = bytearray()
    for x0, y0, dx, dy in passes:
        sub = samples[y0::dy, x0::dx]
        if sub.size == 0:
            continue
        for row in sub:
            raw += b"\x00" + _pack_row(row, depth)
    got = decode_png(_raw_png(w, h, depth, ctype, bytes(raw),
                              palette=pal, interlace=1))
    assert np.array_equal(got, want)


def test_subbyte_adam7_with_filters():
    """Sub-byte pass scanlines may carry any filter; Sub/Up operate on
    PACKED bytes with bpp=1. Filter pass rows with Up (2) against the
    packed previous row and assert the decode still matches."""
    rng = np.random.RandomState(42)
    h, w, depth = 8, 8, 4
    samples = rng.randint(0, 16, (h, w), dtype=np.uint8)
    flat_raw = b"".join(
        b"\x00" + _pack_row(samples[y], depth) for y in range(h)
    )
    want = decode_png(_raw_png(w, h, depth, 0, flat_raw))
    passes = ((0, 0, 8, 8), (4, 0, 8, 8), (0, 4, 4, 8), (2, 0, 4, 4),
              (0, 2, 2, 4), (1, 0, 2, 2), (0, 1, 1, 2))
    raw = bytearray()
    for x0, y0, dx, dy in passes:
        sub = samples[y0::dy, x0::dx]
        if sub.size == 0:
            continue
        prev = None
        for row in sub:
            packed = np.frombuffer(_pack_row(row, depth), np.uint8)
            if prev is None:
                raw += b"\x00" + packed.tobytes()
            else:
                raw += b"\x02" + ((packed - prev) & 0xFF).astype(
                    np.uint8).tobytes()
            prev = packed
    got = decode_png(_raw_png(w, h, depth, 0, bytes(raw), interlace=1))
    assert np.array_equal(got, want)
