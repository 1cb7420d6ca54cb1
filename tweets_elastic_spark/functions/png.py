"""PNG codec (ISO/IEC 15948 / RFC 2083) — pure stdlib zlib + NumPy.

Closes the last image-codec stub (functions/multimodal.py routed
``image/png`` to NotImplementedError): PNG is the second-most-common
image format in scraped multimodal corpora after JPEG, and — being
lossless — it round-trips EXACTLY, so the oracle-gated dedup query can
recompute decoded pixels arithmetically with no quantization caveats.

Scope:

* **Decode**: 8-bit samples in every color type (greyscale 0, truecolor
  2, palette 3, grey+alpha 4, RGBA 6), 16-bit samples in the
  non-palette color types — reduced to their HIGH byte, libpng's
  classic strip-16 — sub-byte depths 1/2/4 for greyscale and palette,
  all five scanline filters (None/Sub/Up/Average/Paeth), Adam7
  interlace at EVERY depth (sub-byte 1/2/4, 8- and 16-bit), chunk CRC
  verification. Output is always
  (H, W, 3) uint8 RGB — alpha channels are dropped (straight, not
  composited; documented divergence from viewers that blend against a
  background).
* **Encode**: truecolor (color type 2) at depth 8 or 16 (16 replicates
  samples to v·257, so decode round-trips bit-exactly), non-interlaced,
  one selectable filter applied to every scanline (``filter_type``
  0..4) — the knob exists so round-trip tests exercise every decoder
  unfilter path, not for compression ratio.

Everything here is per-payload CPU work invoked from Arrow-batched
``mapInPandas`` (functions/multimodal.py) — scan-local, never shuffled.
Throughput is correctness-grade (Sub is vectorized per byte-lane;
Average/Paeth keep the spec's sequential byte recurrence); production
swaps in libpng/PIL behind the same mapInPandas seam — that swap is
``decode_png_native`` / ``decode_png_auto`` below: the native path is
import-gated on Pillow (absent in this sandbox, so the auto selector
falls back to the pure decoder here) and pinned pixel-equal to
``decode_png`` by a skip-gated pytest wherever Pillow exists.
"""

from __future__ import annotations

import io
import struct
import zlib

import numpy as np

PNG_SIGNATURE = b"\x89PNG\r\n\x1a\n"

# Adam7 pass grid: (x_start, y_start, x_step, y_step) per pass.
_ADAM7 = (
    (0, 0, 8, 8),
    (4, 0, 8, 8),
    (0, 4, 4, 8),
    (2, 0, 4, 4),
    (0, 2, 2, 4),
    (1, 0, 2, 2),
    (0, 1, 1, 2),
)

# color type -> samples per pixel (before palette expansion)
_SAMPLES = {0: 1, 2: 3, 3: 1, 4: 2, 6: 4}


def _iter_chunks(payload: bytes):
    """Yield (type, data) for every chunk, verifying length and CRC."""
    if payload[:8] != PNG_SIGNATURE:
        raise ValueError("not a PNG: bad signature")
    pos = 8
    n = len(payload)
    while pos < n:
        if pos + 8 > n:
            raise ValueError("truncated PNG chunk header")
        (length,) = struct.unpack(">I", payload[pos : pos + 4])
        ctype = payload[pos + 4 : pos + 8]
        data_end = pos + 8 + length
        if data_end + 4 > n:
            raise ValueError(f"truncated PNG chunk {ctype!r}")
        data = payload[pos + 8 : data_end]
        (crc,) = struct.unpack(">I", payload[data_end : data_end + 4])
        if zlib.crc32(ctype + data) & 0xFFFFFFFF != crc:
            raise ValueError(f"CRC mismatch in PNG chunk {ctype!r}")
        yield ctype, data
        if ctype == b"IEND":
            return
        pos = data_end + 4
    raise ValueError("PNG stream ended without IEND")


def png_dimensions(payload: bytes) -> tuple[int, int]:
    """(width, height) from IHDR — header-only, no inflate."""
    for ctype, data in _iter_chunks(payload):
        if ctype != b"IHDR":
            raise ValueError("first PNG chunk is not IHDR")
        w, h = struct.unpack(">II", data[:8])
        return w, h
    raise ValueError("empty PNG")


def _paeth_row(line: np.ndarray, prev: np.ndarray, bpp: int) -> np.ndarray:
    """Sequential Paeth unfilter for one scanline (spec recurrence)."""
    rec = line.copy()
    stride = rec.shape[0]
    for x in range(stride):
        a = int(rec[x - bpp]) if x >= bpp else 0
        b = int(prev[x])
        c = int(prev[x - bpp]) if x >= bpp else 0
        p = a + b - c
        pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
        if pa <= pb and pa <= pc:
            pred = a
        elif pb <= pc:
            pred = b
        else:
            pred = c
        rec[x] = (int(line[x]) + pred) & 0xFF
    return rec


def _unfilter(raw: bytes, height: int, stride: int, bpp: int) -> np.ndarray:
    """(height, stride) uint8 of reconstructed scanline bytes.

    ``raw`` is (filter_byte + stride bytes) × height. Sub is vectorized
    as a per-byte-lane cumulative sum (the recurrence Recon(x) =
    Filt(x) + Recon(x−bpp) telescopes within each lane); Up is one
    vector add against the previous reconstructed row; Average/Paeth
    follow the spec's sequential byte recurrence.
    """
    expect = height * (1 + stride)
    if len(raw) < expect:
        raise ValueError(
            f"PNG pixel data truncated: {len(raw)} < {expect} bytes"
        )
    rows = np.frombuffer(raw, dtype=np.uint8, count=expect).reshape(
        height, 1 + stride
    )
    out = np.zeros((height, stride), dtype=np.uint8)
    prev = np.zeros(stride, dtype=np.uint8)
    for y in range(height):
        ftype = int(rows[y, 0])
        line = rows[y, 1:]
        if ftype == 0:  # None
            rec = line.copy()
        elif ftype == 1:  # Sub: per-lane prefix sum mod 256
            rec = line.copy()
            for lane in range(bpp):
                seg = rec[lane::bpp].astype(np.int64)
                rec[lane::bpp] = (np.cumsum(seg) & 0xFF).astype(np.uint8)
        elif ftype == 2:  # Up
            rec = line + prev  # uint8 wraps == mod 256
        elif ftype == 3:  # Average
            rec = line.copy()
            for x in range(stride):
                left = int(rec[x - bpp]) if x >= bpp else 0
                rec[x] = (int(line[x]) + ((left + int(prev[x])) >> 1)) & 0xFF
        elif ftype == 4:  # Paeth
            rec = _paeth_row(line, prev, bpp)
        else:
            raise ValueError(f"unknown PNG filter type {ftype}")
        out[y] = rec
        prev = out[y]
    return out


def _unpack_subbyte(row_bytes: np.ndarray, depth: int, width: int) -> np.ndarray:
    """One scanline of packed 1/2/4-bit samples → (width,) uint8 values."""
    bits = np.unpackbits(row_bytes)
    per = 8 // depth
    # group consecutive `depth` bits, most significant first
    vals = bits[: (len(bits) // depth) * depth].reshape(-1, depth)
    weights = 1 << np.arange(depth - 1, -1, -1)
    samples = (vals * weights).sum(axis=1).astype(np.uint8)
    del per
    return samples[:width]


def _samples_to_rgb(
    samples: np.ndarray,
    color_type: int,
    depth: int,
    palette: np.ndarray | None,
) -> np.ndarray:
    """(H, W, samples) sample values → (H, W, 3) uint8 RGB."""
    if color_type == 2:
        return samples.astype(np.uint8)
    if color_type == 6:
        return samples[:, :, :3].astype(np.uint8)
    if color_type == 4:
        g = samples[:, :, 0].astype(np.uint8)
        return np.stack([g, g, g], axis=2)
    if color_type == 0:
        g = samples[:, :, 0].astype(np.int64)
        if depth < 8:  # scale to full range: 1→×255, 2→×85, 4→×17
            g = g * (255 // ((1 << depth) - 1))
        return np.stack([g, g, g], axis=2).astype(np.uint8)
    if color_type == 3:
        if palette is None:
            raise ValueError("palette PNG without PLTE chunk")
        idx = samples[:, :, 0].astype(np.int64)
        if idx.max(initial=0) >= palette.shape[0]:
            raise ValueError("PNG palette index out of range")
        return palette[idx]
    raise ValueError(f"unsupported PNG color type {color_type}")


def decode_png(payload: bytes) -> np.ndarray:
    """PNG bytes → (H, W, 3) uint8 RGB (alpha dropped, see module doc)."""
    ihdr = None
    palette: np.ndarray | None = None
    idat = bytearray()
    for ctype, data in _iter_chunks(payload):
        if ihdr is None:
            if ctype != b"IHDR":
                raise ValueError("first PNG chunk is not IHDR")
            ihdr = struct.unpack(">IIBBBBB", data[:13])
        elif ctype == b"PLTE":
            if len(data) % 3:
                raise ValueError("PLTE length not a multiple of 3")
            palette = np.frombuffer(data, dtype=np.uint8).reshape(-1, 3)
        elif ctype == b"IDAT":
            idat += data
    if ihdr is None:
        raise ValueError("PNG has no IHDR")
    width, height, depth, color_type, comp, filt, interlace = ihdr
    if comp != 0 or filt != 0:
        raise ValueError("unknown PNG compression/filter method")
    if color_type not in _SAMPLES:
        raise ValueError(f"unsupported PNG color type {color_type}")
    if depth not in (1, 2, 4, 8, 16):
        raise ValueError(f"invalid PNG bit depth {depth}")
    if depth < 8 and color_type not in (0, 3):
        raise ValueError(f"bit depth {depth} invalid for color type {color_type}")
    if depth == 16 and color_type == 3:
        raise ValueError("bit depth 16 invalid for palette PNG")
    if width == 0 or height == 0:
        raise ValueError("zero-dimension PNG")
    raw = zlib.decompress(bytes(idat))
    spp = _SAMPLES[color_type]

    if interlace == 0:
        samples = _decode_subimage(raw, width, height, depth, spp)
        return _samples_to_rgb(samples, color_type, depth, palette)
    if interlace != 1:
        raise ValueError(f"unknown PNG interlace method {interlace}")
    # Adam7: seven independently-filtered sub-images, scattered back.
    # Sub-byte passes (depths 1/2/4, spp==1 by spec: gray or
    # palette) pack each pass scanline to ceil(pw·depth/8) bytes and
    # filter on bytes with bpp=1, exactly like the non-interlaced
    # sub-byte path; 16-bit passes reduce like _decode_subimage
    # (unfilter on spp·2-byte pixels, keep high bytes).
    bps = depth // 8  # bytes per sample (0 marks the sub-byte branch)
    full = np.zeros((height, width, spp), dtype=np.uint8)
    pos = 0
    for x0, y0, dx, dy in _ADAM7:
        pw = (width - x0 + dx - 1) // dx
        ph = (height - y0 + dy - 1) // dy
        if pw <= 0 or ph <= 0:
            continue
        if depth < 8:
            stride = (pw * depth + 7) // 8
            need = ph * (1 + stride)
            sub = _unfilter(raw[pos : pos + need], ph, stride, 1)
            pos += need
            for yy in range(ph):
                full[y0 + yy * dy, x0::dx, 0] = _unpack_subbyte(
                    sub[yy], depth, pw
                )
            continue
        stride = pw * spp * bps
        need = ph * (1 + stride)
        sub = _unfilter(raw[pos : pos + need], ph, stride, spp * bps)
        pos += need
        if bps == 2:
            full[y0::dy, x0::dx] = sub.reshape(ph, pw, spp, 2)[..., 0]
        else:
            full[y0::dy, x0::dx] = sub.reshape(ph, pw, spp)
    return _samples_to_rgb(full, color_type, depth, palette)


def _decode_subimage(
    raw: bytes, width: int, height: int, depth: int, spp: int
) -> np.ndarray:
    """Non-interlaced pixel data → (H, W, spp) uint8 sample values.

    Depth 16: filtering operates on bytes with bpp = spp·2 per the
    spec; the reconstructed big-endian u16 samples reduce to their HIGH
    byte — libpng's classic strip-16, and bit-exact for values of the
    form v·257 (the 8→16 replication the encoder emits), so round trips
    are exact."""
    if depth == 16:
        stride = width * spp * 2
        rec = _unfilter(raw, height, stride, spp * 2)
        return rec.reshape(height, width, spp, 2)[..., 0]
    if depth == 8:
        stride = width * spp
        rec = _unfilter(raw, height, stride, spp)
        return rec.reshape(height, width, spp)
    # sub-byte: filtering operates on packed bytes with bpp=1
    stride = (width * depth + 7) // 8
    rec = _unfilter(raw, height, stride, 1)
    out = np.zeros((height, width, 1), dtype=np.uint8)
    for y in range(height):
        out[y, :, 0] = _unpack_subbyte(rec[y], depth, width)
    return out


try:  # native path: libpng via Pillow — optional, absent in the sandbox
    from PIL import Image as _PIL_Image
except ImportError:  # pragma: no cover - exercised wherever PIL exists
    _PIL_Image = None


def decode_png_native(payload: bytes) -> np.ndarray:
    """PNG bytes → (H, W, 3) uint8 RGB through libpng (Pillow) — the
    production decode path behind the same mapInPandas seam as
    ``decode_png``. Alpha is DROPPED (``convert('RGB')`` on an un-
    premultiplied image discards the channel), matching the pure
    decoder's documented straight-drop divergence. Raises loudly when
    Pillow is not installed."""
    if _PIL_Image is None:
        raise NotImplementedError(
            "decode_png_native needs Pillow (libpng); install it or use "
            "decode_png / decode_png_auto"
        )

    img = _PIL_Image.open(io.BytesIO(payload))
    # drop alpha without compositing: slice RGBA/LA before convert so
    # Pillow can't blend against a background
    if img.mode in ("RGBA", "LA", "PA"):
        arr = np.asarray(img.convert("RGBA"), dtype=np.uint8)[:, :, :3]
        return np.ascontiguousarray(arr)
    return np.asarray(img.convert("RGB"), dtype=np.uint8)


def decode_png_auto(payload: bytes) -> np.ndarray:
    """The production seam: libpng/Pillow when available, the pure
    decoder otherwise. Sub-byte depths (1/2/4) AND 16-bit always take
    the pure decoder — Pillow's sub-byte grey expansion is not
    guaranteed to match the spec's ``×255/×85/×17`` scaling this module
    pins, and its 16-bit reduction differs from the high-byte strip the
    oracle rows replicate."""
    # payload[24] is the IHDR bit depth (sig 8 + len 4 + type 4 + W 4 + H 4)
    if _PIL_Image is not None and len(payload) > 24 and payload[24] == 8:
        return decode_png_native(payload)
    return decode_png(payload)


def _chunk(ctype: bytes, data: bytes) -> bytes:
    crc = zlib.crc32(ctype + data) & 0xFFFFFFFF
    return struct.pack(">I", len(data)) + ctype + data + struct.pack(">I", crc)


def encode_png(
    pixels: np.ndarray, filter_type: int = 0, depth: int = 8
) -> bytes:
    """(H, W, 3) uint8 → PNG bytes (truecolor, non-interlaced).

    ``filter_type`` 0..4 applies that scanline filter to EVERY row —
    compression-irrelevant here; it exists so tests drive each decoder
    unfilter path through real encoded streams. ``depth=16``
    replicates each 8-bit sample to v·257 (the spec's 8→16 scaling, high
    byte == low byte == v) and filters the big-endian byte stream with
    bpp=6 — so decode's high-byte strip round-trips bit-exactly.
    """
    px = np.ascontiguousarray(pixels, dtype=np.uint8)
    if px.ndim != 3 or px.shape[2] != 3:
        raise ValueError(f"encode_png expects (H, W, 3), got {px.shape}")
    if filter_type not in (0, 1, 2, 3, 4):
        raise ValueError(f"invalid PNG filter type {filter_type}")
    if depth not in (8, 16):
        raise ValueError(f"encode_png supports depth 8 or 16, got {depth}")
    h, w, _ = px.shape
    bpp = 3 * (depth // 8)
    if depth == 16:
        wide = (px.astype(np.uint16) * 257).reshape(h, w * 3)
        flat = (
            wide.view(np.uint8).reshape(h, w * 3, 2)[:, :, ::-1]
            if np.little_endian
            else wide.view(np.uint8).reshape(h, w * 3, 2)
        ).reshape(h, w * 6).astype(np.int64)
    else:
        flat = px.reshape(h, w * bpp).astype(np.int64)
    zero = np.zeros(w * bpp, dtype=np.int64)
    lines = bytearray()
    for y in range(h):
        cur = flat[y]
        prev = flat[y - 1] if y > 0 else zero
        left = np.concatenate([np.zeros(bpp, dtype=np.int64), cur[:-bpp]])
        upleft = np.concatenate([np.zeros(bpp, dtype=np.int64), prev[:-bpp]])
        if filter_type == 0:
            filt = cur
        elif filter_type == 1:
            filt = cur - left
        elif filter_type == 2:
            filt = cur - prev
        elif filter_type == 3:
            filt = cur - ((left + prev) >> 1)
        else:  # Paeth predictor, vectorized (encode side has no recurrence)
            p = left + prev - upleft
            pa = np.abs(p - left)
            pb = np.abs(p - prev)
            pc = np.abs(p - upleft)
            pred = np.where(
                (pa <= pb) & (pa <= pc), left, np.where(pb <= pc, prev, upleft)
            )
            filt = cur - pred
        lines.append(filter_type)
        lines += (filt & 0xFF).astype(np.uint8).tobytes()
    ihdr = struct.pack(">IIBBBBB", w, h, depth, 2, 0, 0, 0)
    return (
        PNG_SIGNATURE
        + _chunk(b"IHDR", ihdr)
        + _chunk(b"IDAT", zlib.compress(bytes(lines), 6))
        + _chunk(b"IEND", b"")
    )
