"""JFIF (ITU T.81) codec — pure stdlib + NumPy, no PIL/libjpeg.

Real multimodal corpora are JPEG, so ``image/jpeg`` payloads decode
here for the dHash/banding dedup machinery downstream. Scope is the
baseline sequential process — SOF0, 8-bit samples, Huffman entropy coding,
1 or 3 components, any sampling factors (4:4:4 / 4:2:2 / 4:2:0), restart
intervals — plus the PROGRESSIVE process (SOF2): multi-scan
spectral selection and successive approximation per T.81 G.2 (DC
first/refinement, AC band scans with EOB runs, AC refinement with
correction bits), decoded through the same coefficient store the
baseline path fills in one scan — the LOSSLESS process
(SOF3, Annex H): predictive coding with the seven spec predictors,
2..16-bit precision, point transform, restart markers, decode ==
encoder input bit-exactly — and, decode only, the 12-BIT extended
sequential process (SOF1): 2048 level shift, 0..4095 clamp, 16-bit quant
tables (DQT pq=1), extended magnitude categories, uint16 output.
Arithmetic coding and hierarchical mode raise ``NotImplementedError``
loudly.

The encoders exist so the decoder is testable without external
libraries: round-trip tests (encode → decode ≈ original within
quantization error) and the oracle-gated dedup query (constant 8×8 gray
blocks at quality=100 round-trip EXACTLY — DC-only blocks, unit quant
step — so DuckDB can recompute the decoded pixels arithmetically).
``encode_jpeg_progressive`` emits the SAME coefficients as
``encode_jpeg`` through a cjpeg-shaped scan script, so the progressive
decode must land bit-identical to the baseline decode — the equality
the round-trip tests pin. Both encoders embed their quant + Huffman
tables in the stream, so any standard decoder reads their output.

Everything here is per-payload CPU work invoked from Arrow-batched
``mapInPandas`` (functions/multimodal.py) — scan-local, never shuffled.
"""

from __future__ import annotations

import struct

import numpy as np

# ---------------------------------------------------------------------------
# Constants: zigzag order, Annex-K quantization + Huffman tables (public)
# ---------------------------------------------------------------------------

ZIGZAG = np.array([
    0, 1, 8, 16, 9, 2, 3, 10, 17, 24, 32, 25, 18, 11, 4, 5,
    12, 19, 26, 33, 40, 48, 41, 34, 27, 20, 13, 6, 7, 14, 21, 28,
    35, 42, 49, 56, 57, 50, 43, 36, 29, 22, 15, 23, 30, 37, 44, 51,
    58, 59, 52, 45, 38, 31, 39, 46, 53, 60, 61, 54, 47, 55, 62, 63,
], dtype=np.int32)

STD_LUMA_QT = np.array([
    16, 11, 10, 16, 24, 40, 51, 61,
    12, 12, 14, 19, 26, 58, 60, 55,
    14, 13, 16, 24, 40, 57, 69, 56,
    14, 17, 22, 29, 51, 87, 80, 62,
    18, 22, 37, 56, 68, 109, 103, 77,
    24, 35, 55, 64, 81, 104, 113, 92,
    49, 64, 78, 87, 103, 121, 120, 101,
    72, 92, 95, 98, 112, 100, 103, 99,
], dtype=np.int64).reshape(8, 8)

STD_CHROMA_QT = np.array([
    17, 18, 24, 47, 99, 99, 99, 99,
    18, 21, 26, 66, 99, 99, 99, 99,
    24, 26, 56, 99, 99, 99, 99, 99,
    47, 66, 99, 99, 99, 99, 99, 99,
    99, 99, 99, 99, 99, 99, 99, 99,
    99, 99, 99, 99, 99, 99, 99, 99,
    99, 99, 99, 99, 99, 99, 99, 99,
    99, 99, 99, 99, 99, 99, 99, 99,
], dtype=np.int64).reshape(8, 8)

# (bits[1..16], symbol values) — Annex K "typical" Huffman tables
_DC_LUMA = ([0, 1, 5, 1, 1, 1, 1, 1, 1, 0, 0, 0, 0, 0, 0, 0],
            list(range(12)))
_DC_CHROMA = ([0, 3, 1, 1, 1, 1, 1, 1, 1, 1, 1, 0, 0, 0, 0, 0],
              list(range(12)))
_AC_LUMA = ([0, 2, 1, 3, 3, 2, 4, 3, 5, 5, 4, 4, 0, 0, 1, 0x7D], [
    0x01, 0x02, 0x03, 0x00, 0x04, 0x11, 0x05, 0x12, 0x21, 0x31, 0x41,
    0x06, 0x13, 0x51, 0x61, 0x07, 0x22, 0x71, 0x14, 0x32, 0x81, 0x91,
    0xA1, 0x08, 0x23, 0x42, 0xB1, 0xC1, 0x15, 0x52, 0xD1, 0xF0, 0x24,
    0x33, 0x62, 0x72, 0x82, 0x09, 0x0A, 0x16, 0x17, 0x18, 0x19, 0x1A,
    0x25, 0x26, 0x27, 0x28, 0x29, 0x2A, 0x34, 0x35, 0x36, 0x37, 0x38,
    0x39, 0x3A, 0x43, 0x44, 0x45, 0x46, 0x47, 0x48, 0x49, 0x4A, 0x53,
    0x54, 0x55, 0x56, 0x57, 0x58, 0x59, 0x5A, 0x63, 0x64, 0x65, 0x66,
    0x67, 0x68, 0x69, 0x6A, 0x73, 0x74, 0x75, 0x76, 0x77, 0x78, 0x79,
    0x7A, 0x83, 0x84, 0x85, 0x86, 0x87, 0x88, 0x89, 0x8A, 0x92, 0x93,
    0x94, 0x95, 0x96, 0x97, 0x98, 0x99, 0x9A, 0xA2, 0xA3, 0xA4, 0xA5,
    0xA6, 0xA7, 0xA8, 0xA9, 0xAA, 0xB2, 0xB3, 0xB4, 0xB5, 0xB6, 0xB7,
    0xB8, 0xB9, 0xBA, 0xC2, 0xC3, 0xC4, 0xC5, 0xC6, 0xC7, 0xC8, 0xC9,
    0xCA, 0xD2, 0xD3, 0xD4, 0xD5, 0xD6, 0xD7, 0xD8, 0xD9, 0xDA, 0xE1,
    0xE2, 0xE3, 0xE4, 0xE5, 0xE6, 0xE7, 0xE8, 0xE9, 0xEA, 0xF1, 0xF2,
    0xF3, 0xF4, 0xF5, 0xF6, 0xF7, 0xF8, 0xF9, 0xFA,
])
_AC_CHROMA = ([0, 2, 1, 2, 4, 4, 3, 4, 7, 5, 4, 4, 0, 1, 2, 0x77], [
    0x00, 0x01, 0x02, 0x03, 0x11, 0x04, 0x05, 0x21, 0x31, 0x06, 0x12,
    0x41, 0x51, 0x07, 0x61, 0x71, 0x13, 0x22, 0x32, 0x81, 0x08, 0x14,
    0x42, 0x91, 0xA1, 0xB1, 0xC1, 0x09, 0x23, 0x33, 0x52, 0xF0, 0x15,
    0x62, 0x72, 0xD1, 0x0A, 0x16, 0x24, 0x34, 0xE1, 0x25, 0xF1, 0x17,
    0x18, 0x19, 0x1A, 0x26, 0x27, 0x28, 0x29, 0x2A, 0x35, 0x36, 0x37,
    0x38, 0x39, 0x3A, 0x43, 0x44, 0x45, 0x46, 0x47, 0x48, 0x49, 0x4A,
    0x53, 0x54, 0x55, 0x56, 0x57, 0x58, 0x59, 0x5A, 0x63, 0x64, 0x65,
    0x66, 0x67, 0x68, 0x69, 0x6A, 0x73, 0x74, 0x75, 0x76, 0x77, 0x78,
    0x79, 0x7A, 0x82, 0x83, 0x84, 0x85, 0x86, 0x87, 0x88, 0x89, 0x8A,
    0x92, 0x93, 0x94, 0x95, 0x96, 0x97, 0x98, 0x99, 0x9A, 0xA2, 0xA3,
    0xA4, 0xA5, 0xA6, 0xA7, 0xA8, 0xA9, 0xAA, 0xB2, 0xB3, 0xB4, 0xB5,
    0xB6, 0xB7, 0xB8, 0xB9, 0xBA, 0xC2, 0xC3, 0xC4, 0xC5, 0xC6, 0xC7,
    0xC8, 0xC9, 0xCA, 0xD2, 0xD3, 0xD4, 0xD5, 0xD6, 0xD7, 0xD8, 0xD9,
    0xDA, 0xE2, 0xE3, 0xE4, 0xE5, 0xE6, 0xE7, 0xE8, 0xE9, 0xEA, 0xF2,
    0xF3, 0xF4, 0xF5, 0xF6, 0xF7, 0xF8, 0xF9, 0xFA,
])

# orthonormal DCT-II basis: spatial = C.T @ coef @ C, coef = C @ spatial @ C.T
_C = np.zeros((8, 8))
for _k in range(8):
    for _n in range(8):
        _C[_k, _n] = np.cos(np.pi * (2 * _n + 1) * _k / 16.0) * (
            np.sqrt(0.125) if _k == 0 else 0.5
        )


def _scaled_qt(base: np.ndarray, quality: int) -> np.ndarray:
    """IJG quality scaling: 1..100 → per-entry scale, clamped to [1, 255].
    quality=100 yields all-ones tables (lossless for DC-only blocks)."""
    if not 1 <= quality <= 100:
        raise ValueError(f"quality must be 1..100, got {quality}")
    s = 5000 // quality if quality < 50 else 200 - 2 * quality
    return np.clip((base * s + 50) // 100, 1, 255).astype(np.int64)


# ---------------------------------------------------------------------------
# Bit I/O over the entropy-coded segment (0xFF byte stuffing)
# ---------------------------------------------------------------------------

class _BitWriter:
    def __init__(self):
        self.out = bytearray()
        self.acc = 0
        self.nbits = 0

    def write(self, value: int, length: int) -> None:
        self.acc = (self.acc << length) | (value & ((1 << length) - 1))
        self.nbits += length
        while self.nbits >= 8:
            b = (self.acc >> (self.nbits - 8)) & 0xFF
            self.out.append(b)
            if b == 0xFF:
                self.out.append(0x00)  # byte stuffing
            self.nbits -= 8
        self.acc &= (1 << self.nbits) - 1

    def flush(self) -> None:
        if self.nbits:
            pad = 8 - self.nbits
            self.write((1 << pad) - 1, pad)  # 1-padding per T.81


class _BitReader:
    """Reads the entropy-coded segment: unstuffs 0xFF00, stops AT any
    other marker (the caller handles RST/EOI)."""

    def __init__(self, data: bytes, pos: int):
        self.data = data
        self.pos = pos
        self.acc = 0
        self.nbits = 0

    def _fill(self) -> None:
        b = self.data[self.pos]
        if b == 0xFF:
            nxt = self.data[self.pos + 1]
            if nxt == 0x00:
                self.pos += 2
            else:
                raise _MarkerReached(0xFF00 | nxt)
        else:
            self.pos += 1
        self.acc = (self.acc << 8) | b
        self.nbits += 8

    def read_bit(self) -> int:
        if self.nbits == 0:
            self._fill()
        self.nbits -= 1
        return (self.acc >> self.nbits) & 1

    def read_bits(self, n: int) -> int:
        v = 0
        for _ in range(n):
            v = (v << 1) | self.read_bit()
        return v

    def align_to_marker(self) -> int:
        """Discard bits to the byte boundary and consume one marker."""
        self.nbits = 0
        while self.data[self.pos] != 0xFF:
            self.pos += 1
        while self.data[self.pos] == 0xFF:
            self.pos += 1
        marker = 0xFF00 | self.data[self.pos]
        self.pos += 1
        return marker


class _MarkerReached(Exception):
    def __init__(self, marker: int):
        self.marker = marker


def _huff_decode_table(bits: list[int], vals: list[int]) -> dict:
    """(length, code) → symbol, canonical code assignment."""
    table = {}
    code = 0
    k = 0
    for length in range(1, 17):
        for _ in range(bits[length - 1]):
            table[(length, code)] = vals[k]
            code += 1
            k += 1
        code <<= 1
    return table


def _huff_encode_table(bits: list[int], vals: list[int]) -> dict:
    """symbol → (code, length)."""
    enc = {}
    code = 0
    k = 0
    for length in range(1, 17):
        for _ in range(bits[length - 1]):
            enc[vals[k]] = (code, length)
            code += 1
            k += 1
        code <<= 1
    return enc


def _read_huff_symbol(reader: _BitReader, table: dict) -> int:
    code = 0
    for length in range(1, 17):
        code = (code << 1) | reader.read_bit()
        sym = table.get((length, code))
        if sym is not None:
            return sym
    raise ValueError("invalid Huffman code in entropy segment")


def _extend(v: int, size: int) -> int:
    """T.81 EXTEND: a `size`-bit magnitude to its signed value."""
    if size == 0:
        return 0
    return v if v >= (1 << (size - 1)) else v - (1 << size) + 1


def _magnitude(v: int) -> tuple[int, int]:
    """Signed value → (size, size-bit code) for DC/AC encoding."""
    if v == 0:
        return 0, 0
    size = int(abs(v)).bit_length()
    return size, v if v >= 0 else v + (1 << size) - 1


# ---------------------------------------------------------------------------
# Decoder
# ---------------------------------------------------------------------------

def jpeg_dimensions(payload: bytes) -> tuple[int, int]:
    """(width, height) from the SOF header — no entropy decode."""
    for marker, seg, _ in _segments(payload):
        if marker in (0xFFC0, 0xFFC1, 0xFFC2, 0xFFC3):  # SOF0-SOF3
            _, h, w = struct.unpack(">BHH", seg[:5])
            return w, h
        if marker == 0xFFC3 or 0xFFC5 <= marker <= 0xFFCF and \
                marker not in (0xFFC8, 0xFFCC):
            raise NotImplementedError(
                f"only baseline/progressive/lossless JPEG (SOF0/1/2/3) "
                f"is supported, got SOF marker {marker:#x}"
            )
    raise ValueError("no SOF marker found — not a JPEG?")


def _segments(payload: bytes):
    """Yield (marker, segment bytes, scan_start) for headers up to SOS."""
    if payload[:2] != b"\xFF\xD8":
        raise ValueError("missing SOI — not a JPEG")
    i = 2
    while i < len(payload):
        if payload[i] != 0xFF:
            raise ValueError(f"expected marker at byte {i}")
        marker = 0xFF00 | payload[i + 1]
        i += 2
        if marker == 0xFFD9:  # EOI
            return
        if 0xFFD0 <= marker <= 0xFFD7:  # RSTn — bare
            continue
        ln = struct.unpack(">H", payload[i:i + 2])[0]
        seg = payload[i + 2:i + ln]
        yield marker, seg, i + ln
        if marker == 0xFFDA:  # SOS: entropy data follows
            return
        i += ln


class _ScanCtx:
    """Mutable per-scan entropy state (DC predictors + the progressive
    EOB run), reset at restart markers."""

    def __init__(self, comp_ids):
        self.preds = {cid: 0 for cid in comp_ids}
        self.eobrun = 0


def _decode_dc_unit(reader, ctx, coef, cid, dct, ah, al):
    """One block's DC portion: first scan (Ah=0) decodes a diff in the
    point-transformed domain (coef = running-sum << Al); refinement
    scans (Ah>0) read one bit that sets bit Al."""
    if ah == 0:
        s = _read_huff_symbol(reader, dct)
        ctx.preds[cid] += _extend(reader.read_bits(s), s)
        coef[0] = ctx.preds[cid] << al
    elif reader.read_bit():
        # two's-complement bit-set reconstructs negatives exactly: the
        # first scan's arithmetic >> Al dropped non-negative low bits
        coef[0] |= 1 << al


def _decode_ac_first(reader, ctx, coef, act, ss, se, al):
    """AC first scan (Ah=0) over band [ss, se]: T.81 G.2 — runs, ZRL and
    EOBn symbols (an EOB run skips whole blocks)."""
    if ctx.eobrun > 0:
        ctx.eobrun -= 1
        return
    k = ss
    while k <= se:
        rs = _read_huff_symbol(reader, act)
        r, s = rs >> 4, rs & 0x0F
        if s == 0:
            if r == 15:  # ZRL
                k += 16
                continue
            ctx.eobrun = (1 << r) - 1 + (reader.read_bits(r) if r else 0)
            return
        k += r
        if k > se:
            raise ValueError("AC run past band end")
        coef[k] = _extend(reader.read_bits(s), s) << al
        k += 1


def _decode_ac_refine(reader, ctx, coef, act, ss, se, al):
    """AC refinement scan (Ah = Al+1) over band [ss, se] — T.81 G.1.2.3:
    newly-nonzero coefficients arrive as ±1<<Al after a run over
    ZERO-HISTORY positions; every nonzero-history position traversed
    (including inside EOB runs) reads one correction bit."""
    p1, m1 = 1 << al, -1 << al

    def correct(k):
        # every value reachable at this scan is a multiple of 2^Al, so
        # the two's-complement bit test equals the magnitude-bit test
        if reader.read_bit() and not coef[k] & p1:
            coef[k] += p1 if coef[k] >= 0 else m1

    k = ss
    if ctx.eobrun == 0:
        while k <= se:
            rs = _read_huff_symbol(reader, act)
            r, s = rs >> 4, rs & 0x0F
            newval = 0
            if s == 0:
                if r < 15:
                    ctx.eobrun = (1 << r) + \
                        (reader.read_bits(r) if r else 0)
                    break
                # r == 15: a run of 16 zero-history positions
            else:
                if s != 1:
                    raise ValueError(
                        "AC refinement symbol with size != 1"
                    )
                newval = p1 if reader.read_bit() else m1
            # advance past r zero-history positions, correcting every
            # nonzero-history one on the way
            while k <= se:
                if coef[k] != 0:
                    correct(k)
                else:
                    if r == 0:
                        break
                    r -= 1
                k += 1
            if newval and k <= se:
                coef[k] = newval
            k += 1
    if ctx.eobrun > 0:
        while k <= se:  # EOB-covered remainder still corrects history
            if coef[k] != 0:
                correct(k)
            k += 1
        ctx.eobrun -= 1


def decode_jpeg(payload: bytes) -> np.ndarray:
    """Baseline (SOF0/1) or PROGRESSIVE (SOF2) JFIF → (H, W, 3)
    uint8 RGB (grayscale replicates). All scans accumulate into one
    coefficient store (zigzag order, per component block grid); the
    dequantize + IDCT + upsample + color-convert tail runs once at EOI —
    which is also exactly how a progressive file is meant to be
    finalized, and makes baseline a one-scan special case."""
    qts: dict[int, np.ndarray] = {}
    dc_tabs: dict[int, dict] = {}
    ac_tabs: dict[int, dict] = {}
    comps: list[dict] = []
    w = h = 0
    prec = 8
    restart_interval = 0
    any_scan = False
    progressive = False

    if payload[:2] != b"\xFF\xD8":
        raise ValueError("missing SOI — not a JPEG")
    i = 2
    while i < len(payload):
        if payload[i] != 0xFF:
            raise ValueError(f"expected marker at byte {i}")
        marker = 0xFF00 | payload[i + 1]
        i += 2
        if marker == 0xFFD9:  # EOI
            break
        if marker == 0xFF01 or 0xFFD0 <= marker <= 0xFFD7:
            continue  # bare markers
        ln = struct.unpack(">H", payload[i:i + 2])[0]
        seg = payload[i + 2:i + ln]
        after = i + ln
        i = after
        if marker == 0xFFDB:  # DQT (pq=1 = 16-bit entries)
            j = 0
            while j < len(seg):
                pq, tq = seg[j] >> 4, seg[j] & 0x0F
                tbl = np.zeros(64, dtype=np.int64)
                if pq == 0:
                    tbl[ZIGZAG] = np.frombuffer(
                        seg[j + 1:j + 65], dtype=np.uint8
                    ).astype(np.int64)
                    j += 65
                else:
                    tbl[ZIGZAG] = np.frombuffer(
                        seg[j + 1:j + 129], dtype=">u2"
                    ).astype(np.int64)
                    j += 129
                qts[tq] = tbl.reshape(8, 8)
        elif marker in (0xFFC0, 0xFFC1, 0xFFC2):  # SOF0/1/2
            prec, h, w = struct.unpack(">BHH", seg[:5])
            if marker == 0xFFC0 and prec != 8:
                raise NotImplementedError(
                    f"baseline (SOF0) is 8-bit by spec, got {prec}"
                )
            if prec not in (8, 12):
                raise NotImplementedError(f"{prec}-bit samples")
            progressive = marker == 0xFFC2
            n = seg[5]
            for c in range(n):
                cid, hv, tq = seg[6 + c * 3:9 + c * 3]
                comps.append({"id": cid, "h": hv >> 4, "v": hv & 0x0F,
                              "tq": tq})
        elif marker == 0xFFC3:  # lossless: own predictive path
            return _decode_lossless(payload)
        elif marker in (0xFFC5, 0xFFC6, 0xFFC7, 0xFFC9, 0xFFCA,
                        0xFFCB, 0xFFCD, 0xFFCE, 0xFFCF):
            raise NotImplementedError(
                f"non-baseline JPEG process (SOF marker {marker:#x})"
            )
        elif marker == 0xFFC4:  # DHT
            j = 0
            while j < len(seg):
                tc, th = seg[j] >> 4, seg[j] & 0x0F
                bits = list(seg[j + 1:j + 17])
                nv = sum(bits)
                vals = list(seg[j + 17:j + 17 + nv])
                (dc_tabs if tc == 0 else ac_tabs)[th] = \
                    _huff_decode_table(bits, vals)
                j += 17 + nv
        elif marker == 0xFFDD:  # DRI
            restart_interval = struct.unpack(">H", seg[:2])[0]
        elif marker == 0xFFDA:  # SOS
            if not comps:
                raise ValueError("SOS before SOF")
            if not any_scan:
                # allocate the coefficient store on the interleaved
                # (MCU-padded) grid once the geometry is known
                hmax = max(c["h"] for c in comps)
                vmax = max(c["v"] for c in comps)
                mcux = -(-w // (8 * hmax))
                mcuy = -(-h // (8 * vmax))
                store = {
                    c["id"]: np.zeros(
                        (mcuy * c["v"], mcux * c["h"], 64), dtype=np.int64
                    )
                    for c in comps
                }
                any_scan = True
            ns = seg[0]
            scan_comps = []
            for c in range(ns):
                cid, tabs = seg[1 + c * 2], seg[2 + c * 2]
                comp = next(x for x in comps if x["id"] == cid)
                scan_comps.append(
                    {**comp, "dc": tabs >> 4, "ac": tabs & 0x0F})
            ss, se, ahal = seg[1 + ns * 2:4 + ns * 2]
            ah, al = ahal >> 4, ahal & 0x0F
            if not progressive and (ss, se, ah, al) != (0, 63, 0, 0):
                raise ValueError("baseline scan with progressive header")
            if progressive and ss == 0 and se != 0:
                raise ValueError(
                    "progressive DC scan must have Se=0 (T.81 B.2.3) — "
                    "is this a baseline stream with a forged SOF2?"
                )
            if progressive and ss > 0 and ah not in (0, al + 1):
                raise ValueError("progressive AC scan needs Ah=0 or Al+1")
            if ss > 0 and ns != 1:
                raise ValueError("progressive AC scan must be "
                                 "single-component (T.81 B.2.3)")
            reader = _BitReader(payload, after)
            ctx = _ScanCtx([c["id"] for c in scan_comps])
            unit = 0

            def restart_check(unit):
                if restart_interval and unit and \
                        unit % restart_interval == 0:
                    m = reader.align_to_marker()
                    if not 0xFFD0 <= m <= 0xFFD7:
                        raise ValueError(f"expected RST marker, got {m:#x}")
                    ctx.preds = {k: 0 for k in ctx.preds}
                    ctx.eobrun = 0

            if ns == 1 and (ss > 0 or progressive):
                # non-interleaved: the component's own (unpadded) grid
                c = scan_comps[0]
                cw = -(-w * c["h"] // hmax)
                chh = -(-h * c["v"] // vmax)
                bw, bh = -(-cw // 8), -(-chh // 8)
                blocks = store[c["id"]]
                for byy in range(bh):
                    for bxx in range(bw):
                        restart_check(unit)
                        coef = blocks[byy, bxx]
                        if ss == 0:
                            _decode_dc_unit(reader, ctx, coef, c["id"],
                                            dc_tabs[c["dc"]], ah, al)
                        elif ah == 0:
                            _decode_ac_first(reader, ctx, coef,
                                             ac_tabs[c["ac"]], ss, se, al)
                        else:
                            _decode_ac_refine(reader, ctx, coef,
                                              ac_tabs[c["ac"]], ss, se, al)
                        unit += 1
            else:
                # interleaved MCU order (baseline full scans and
                # progressive multi-component DC scans)
                for my in range(mcuy):
                    for mx in range(mcux):
                        restart_check(unit)
                        for c in scan_comps:
                            for by in range(c["v"]):
                                for bx in range(c["h"]):
                                    coef = store[c["id"]][
                                        my * c["v"] + by, mx * c["h"] + bx]
                                    if progressive:
                                        _decode_dc_unit(
                                            reader, ctx, coef, c["id"],
                                            dc_tabs[c["dc"]], ah, al)
                                        continue
                                    _decode_dc_unit(
                                        reader, ctx, coef, c["id"],
                                        dc_tabs[c["dc"]], 0, 0)
                                    _decode_ac_first(
                                        reader, ctx, coef,
                                        ac_tabs[c["ac"]], 1, 63, 0)
                        unit += 1
            # resync: skip pad bits / fill bytes to the next marker
            i = reader.pos
            while i < len(payload) and payload[i] != 0xFF:
                i += 1
            while i + 1 < len(payload) and payload[i + 1] == 0xFF:
                i += 1
        # APPn / COM / others: skipped

    if not comps or not any_scan:
        raise ValueError("truncated JPEG: missing SOF or SOS")

    mid = float(1 << (prec - 1))   # level shift: 128 (8-bit) / 2048 (12)
    maxv = (1 << prec) - 1
    planes = {}
    for c in comps:
        blocks = store[c["id"]]
        qt = qts[c["tq"]]
        bh_, bw_ = blocks.shape[:2]
        plane = np.zeros((bh_ * 8, bw_ * 8))
        for byy in range(bh_):
            for bxx in range(bw_):
                nat = np.zeros(64)
                nat[ZIGZAG] = blocks[byy, bxx]
                nat = nat.reshape(8, 8) * qt
                plane[byy * 8:byy * 8 + 8, bxx * 8:bxx * 8 + 8] = \
                    _C.T @ nat @ _C + mid
        planes[c["id"]] = plane

    # upsample each component to full resolution and crop
    full = []
    for c in comps:
        p = planes[c["id"]]
        p = np.repeat(np.repeat(p, vmax // c["v"], axis=0),
                      hmax // c["h"], axis=1)
        full.append(p[:h, :w])
    dtype = np.uint8 if prec == 8 else np.uint16
    if len(full) == 1:
        g = np.clip(np.round(full[0]), 0, maxv).astype(dtype)
        return np.stack([g, g, g], axis=2)
    y, cb, cr = full[0], full[1] - mid, full[2] - mid
    r = y + 1.402 * cr
    g = y - 0.344136 * cb - 0.714136 * cr
    b = y + 1.772 * cb
    return np.clip(
        np.round(np.stack([r, g, b], axis=2)), 0, maxv
    ).astype(dtype)


# ---------------------------------------------------------------------------
# Encoder
# ---------------------------------------------------------------------------

def _encode_blocks(writer, plane, qt, dc_enc, ac_enc, pred):
    """FDCT + quantize + Huffman-encode every 8×8 block of a padded 8-bit
    plane row-major, level-shifted by 128; returns the updated DC
    predictor."""
    hh, ww = plane.shape
    for y0 in range(0, hh, 8):
        for x0 in range(0, ww, 8):
            blk = plane[y0:y0 + 8, x0:x0 + 8] - 128.0
            coef = _C @ blk @ _C.T
            q = np.round(coef / qt).astype(np.int64)
            zz = q.reshape(-1)[ZIGZAG]
            diff = int(zz[0]) - pred
            pred = int(zz[0])
            size, mag = _magnitude(diff)
            code, ln = dc_enc[size]
            writer.write(code, ln)
            if size:
                writer.write(mag, size)
            last = 63
            while last > 0 and zz[last] == 0:
                last -= 1
            k = 1
            while k <= last:
                run = 0
                while zz[k] == 0:
                    run += 1
                    k += 1
                while run > 15:
                    code, ln = ac_enc[0xF0]  # ZRL
                    writer.write(code, ln)
                    run -= 16
                size, mag = _magnitude(int(zz[k]))
                code, ln = ac_enc[(run << 4) | size]
                writer.write(code, ln)
                writer.write(mag, size)
                k += 1
            if last < 63:
                code, ln = ac_enc[0x00]  # EOB
                writer.write(code, ln)
    return pred


def _pad_to(plane: np.ndarray, mult_y: int, mult_x: int) -> np.ndarray:
    h, w = plane.shape
    ph = (-h) % mult_y
    pw = (-w) % mult_x
    return np.pad(plane, ((0, ph), (0, pw)), mode="edge")


def encode_jpeg(
    pixels: np.ndarray, quality: int = 90, subsample: bool = False
) -> bytes:
    """(H, W, 3) uint8 RGB → baseline JFIF bytes.

    ``subsample=True`` encodes chroma at 4:2:0 (2×2 box mean), exercising
    the decoder's upsampling path; False keeps 4:4:4. Tables (scaled
    Annex-K quant, standard Huffman) are embedded in the stream."""
    if pixels.ndim != 3 or pixels.shape[2] != 3:
        raise ValueError("encode_jpeg expects (H, W, 3) uint8")
    h, w = pixels.shape[:2]
    px = pixels.astype(np.float64)
    r, g, b = px[:, :, 0], px[:, :, 1], px[:, :, 2]
    yy = np.round(0.299 * r + 0.587 * g + 0.114 * b)
    cb = np.round(128.0 - 0.168736 * r - 0.331264 * g + 0.5 * b)
    cr = np.round(128.0 + 0.5 * r - 0.418688 * g - 0.081312 * b)
    lq = _scaled_qt(STD_LUMA_QT, quality)
    cq = _scaled_qt(STD_CHROMA_QT, quality)

    if subsample:
        yp = _pad_to(yy, 16, 16)
        cbp = _pad_to(np.round(_box2(_pad_to(cb, 2, 2))), 8, 8)
        crp = _pad_to(np.round(_box2(_pad_to(cr, 2, 2))), 8, 8)
        hv = [(2, 2), (1, 1), (1, 1)]
    else:
        yp = _pad_to(yy, 8, 8)
        cbp = _pad_to(cb, 8, 8)
        crp = _pad_to(cr, 8, 8)
        hv = [(1, 1), (1, 1), (1, 1)]

    out = bytearray(b"\xFF\xD8")  # SOI
    # APP0 JFIF
    out += b"\xFF\xE0" + struct.pack(">H", 16) + b"JFIF\x00\x01\x01\x00" \
        + struct.pack(">HHBB", 1, 1, 0, 0)
    for tq, tbl in ((0, lq), (1, cq)):
        out += b"\xFF\xDB" + struct.pack(">HB", 67, tq) \
            + bytes(int(x) for x in tbl.reshape(-1)[ZIGZAG])
    out += b"\xFF\xC0" + struct.pack(">HBHHB", 17, 8, h, w, 3)
    for cid, (hs, vs), tq in ((1, hv[0], 0), (2, hv[1], 1), (3, hv[2], 1)):
        out += struct.pack(">BBB", cid, (hs << 4) | vs, tq)
    for tc, th, (bits, vals) in (
        (0, 0, _DC_LUMA), (1, 0, _AC_LUMA),
        (0, 1, _DC_CHROMA), (1, 1, _AC_CHROMA),
    ):
        out += b"\xFF\xC4" + struct.pack(
            ">HB", 19 + len(vals), (tc << 4) | th
        ) + bytes(bits) + bytes(vals)
    out += b"\xFF\xDA" + struct.pack(">HB", 12, 3)
    for cid, tabs in ((1, 0x00), (2, 0x11), (3, 0x11)):
        out += struct.pack(">BB", cid, tabs)
    out += b"\x00\x3F\x00"  # Ss=0 Se=63 Ah/Al=0

    dc_l = _huff_encode_table(*_DC_LUMA)
    ac_l = _huff_encode_table(*_AC_LUMA)
    dc_c = _huff_encode_table(*_DC_CHROMA)
    ac_c = _huff_encode_table(*_AC_CHROMA)
    wtr = _BitWriter()
    if subsample:
        preds = [0, 0, 0]
        mcux, mcuy = yp.shape[1] // 16, yp.shape[0] // 16
        for my in range(mcuy):
            for mx in range(mcux):
                for by in range(2):
                    for bx in range(2):
                        y0, x0 = my * 16 + by * 8, mx * 16 + bx * 8
                        preds[0] = _encode_blocks(
                            wtr, yp[y0:y0 + 8, x0:x0 + 8], lq, dc_l, ac_l,
                            preds[0])
                c0, c1 = my * 8, mx * 8
                preds[1] = _encode_blocks(
                    wtr, cbp[c0:c0 + 8, c1:c1 + 8], cq, dc_c, ac_c, preds[1])
                preds[2] = _encode_blocks(
                    wtr, crp[c0:c0 + 8, c1:c1 + 8], cq, dc_c, ac_c, preds[2])
    else:
        # interleave per MCU (one block per component at 4:4:4)
        preds = [0, 0, 0]
        mcux, mcuy = yp.shape[1] // 8, yp.shape[0] // 8
        for my in range(mcuy):
            for mx in range(mcux):
                y0, x0 = my * 8, mx * 8
                for ci, (plane, qt, de, ae) in enumerate((
                    (yp, lq, dc_l, ac_l), (cbp, cq, dc_c, ac_c),
                    (crp, cq, dc_c, ac_c),
                )):
                    preds[ci] = _encode_blocks(
                        wtr, plane[y0:y0 + 8, x0:x0 + 8], qt, de, ae,
                        preds[ci])
    wtr.flush()
    out += wtr.out
    out += b"\xFF\xD9"  # EOI
    return bytes(out)


def _box2(p: np.ndarray) -> np.ndarray:
    """2×2 box mean (chroma subsampling)."""
    return (p[0::2, 0::2] + p[0::2, 1::2] + p[1::2, 0::2] + p[1::2, 1::2]) \
        / 4.0


# ---------------------------------------------------------------------------
# Progressive encoder: spectral selection + successive approximation,
# the cjpeg-shaped scan script. Exists (like encode_png's filter knob) so
# round-trip tests drive every progressive DECODE path through real byte
# streams — DC first/refine, AC first with EOB runs, AC refinement with
# buffered correction bits.
# ---------------------------------------------------------------------------

# one AC table carrying every symbol a progressive scan can emit: EOBn for
# n=0..14, ZRL, and (run, size) for size 1..10 — 176 symbols, all 8-bit
# canonical codes (2^8 >= 176, so the assignment is trivially prefix-free)
_AC_PROG_SYMS = [
    (r << 4) | s
    for r in range(16)
    for s in range(11)
    if s != 0 or r <= 15
]
_AC_PROG = ([0] * 7 + [len(_AC_PROG_SYMS)] + [0] * 8, _AC_PROG_SYMS)


def _pt(v: int, al: int) -> int:
    """AC point transform: integer division by 2^Al toward zero."""
    return v >> al if v >= 0 else -((-v) >> al)


class _EobState:
    """Pending EOB run + the buffered correction bits (libjpeg's BE) that
    must follow the next emitted EOBn symbol in block order."""

    def __init__(self, wtr, ac_enc):
        self.wtr, self.ac_enc = wtr, ac_enc
        self.run = 0
        self.bits: list[int] = []

    def flush(self):
        if self.run:
            n = self.run.bit_length() - 1
            code, ln = self.ac_enc[n << 4]
            self.wtr.write(code, ln)
            if n:
                self.wtr.write(self.run - (1 << n), n)
            self.run = 0
        for b in self.bits:
            self.wtr.write(b, 1)
        self.bits = []


def _enc_ac_first(wtr, blocks, ac_enc, ss, se, al):
    eob = _EobState(wtr, ac_enc)
    for zz in blocks:
        band = [_pt(int(v), al) for v in zz[ss:se + 1]]
        last = -1
        for idx, t in enumerate(band):
            if t:
                last = idx
        if last < 0:
            eob.run += 1
            if eob.run == 0x7FFF:
                eob.flush()
            continue
        eob.flush()
        run = 0
        for t in band[:last + 1]:
            if t == 0:
                run += 1
                continue
            while run > 15:
                code, ln = ac_enc[0xF0]
                wtr.write(code, ln)
                run -= 16
            size, mag = _magnitude(t)
            code, ln = ac_enc[(run << 4) | size]
            wtr.write(code, ln)
            wtr.write(mag, size)
            run = 0
        if last < len(band) - 1:
            eob.run += 1
            if eob.run == 0x7FFF:
                eob.flush()
    eob.flush()


def _enc_ac_refine(wtr, blocks, ac_enc, ss, se, al):
    """T.81 G.1.2.3 encode side (libjpeg encode_mcu_AC_refine shape):
    newly-nonzero coefficients (|t| == 1 at this precision) emit runs
    over zero-history positions; history coefficients' correction bits
    ride buffered behind the next symbol; all-history blocks fold into
    the EOB run with their corrections buffered."""
    eob = _EobState(wtr, ac_enc)
    for zz in blocks:
        band = [_pt(int(v), al) for v in zz[ss:se + 1]]
        absv = [abs(t) for t in band]
        eob_k = -1
        for idx, a in enumerate(absv):
            if a == 1:
                eob_k = idx
        r = 0
        pend: list[int] = []
        for k, a in enumerate(absv):
            if a == 0:
                r += 1
                continue
            if a > 1:  # history coefficient: one correction bit, run
                pend.append(a & 1)  # unchanged
                continue
            # newly nonzero (|t| == 1)
            while r > 15 and k <= eob_k:
                eob.flush()
                code, ln = ac_enc[0xF0]
                wtr.write(code, ln)
                r -= 16
                for b in pend:
                    wtr.write(b, 1)
                pend = []
            eob.flush()
            code, ln = ac_enc[(r << 4) | 1]
            wtr.write(code, ln)
            wtr.write(1 if band[k] > 0 else 0, 1)
            for b in pend:
                wtr.write(b, 1)
            pend = []
            r = 0
        if r > 0 or pend:
            eob.run += 1
            eob.bits.extend(pend)
            if eob.run == 0x7FFF:
                eob.flush()
    eob.flush()


def encode_jpeg_progressive(
    pixels: np.ndarray, quality: int = 90, subsample: bool = False
) -> bytes:
    """(H, W, 3) uint8 RGB → PROGRESSIVE JFIF bytes (SOF2). Same color
    transform, tables and coefficients as ``encode_jpeg`` — only the
    scan structure differs — so ``decode(progressive) ==
    decode(baseline)`` EXACTLY, which is what the round-trip tests pin.
    Scan script (the cjpeg default shape): DC first at Al=1 →
    luma AC 1-5 at Al=2 → chroma AC full-band at Al=1 → luma AC 6-63 at
    Al=2 → luma AC refine 2→1 → DC refine → final AC refines to Al=0."""
    if pixels.ndim != 3 or pixels.shape[2] != 3:
        raise ValueError("encode_jpeg_progressive expects (H, W, 3) uint8")
    h, w = pixels.shape[:2]
    px = pixels.astype(np.float64)
    r, g, b = px[:, :, 0], px[:, :, 1], px[:, :, 2]
    yy = np.round(0.299 * r + 0.587 * g + 0.114 * b)
    cb = np.round(128.0 - 0.168736 * r - 0.331264 * g + 0.5 * b)
    cr = np.round(128.0 + 0.5 * r - 0.418688 * g - 0.081312 * b)
    lq = _scaled_qt(STD_LUMA_QT, quality)
    cq = _scaled_qt(STD_CHROMA_QT, quality)
    if subsample:
        planes = [_pad_to(yy, 16, 16),
                  _pad_to(np.round(_box2(_pad_to(cb, 2, 2))), 8, 8),
                  _pad_to(np.round(_box2(_pad_to(cr, 2, 2))), 8, 8)]
        hv = [(2, 2), (1, 1), (1, 1)]
    else:
        planes = [_pad_to(yy, 8, 8), _pad_to(cb, 8, 8), _pad_to(cr, 8, 8)]
        hv = [(1, 1), (1, 1), (1, 1)]
    qts = [lq, cq, cq]

    def quantized(plane, qt):
        hh, ww = plane.shape
        bh, bw = hh // 8, ww // 8
        out = np.zeros((bh, bw, 64), np.int64)
        for by in range(bh):
            for bx in range(bw):
                blk = plane[by * 8:by * 8 + 8, bx * 8:bx * 8 + 8] - 128.0
                coef = _C @ blk @ _C.T
                out[by, bx] = np.round(coef / qt).astype(
                    np.int64).reshape(-1)[ZIGZAG]
        return out

    blocks = [quantized(p, q) for p, q in zip(planes, qts)]
    hmax = max(x for x, _ in hv)
    vmax = max(y for _, y in hv)
    mcux = -(-w // (8 * hmax))
    mcuy = -(-h // (8 * vmax))

    out = bytearray(b"\xFF\xD8")
    out += b"\xFF\xE0" + struct.pack(">H", 16) + b"JFIF\x00\x01\x01\x00" \
        + struct.pack(">HHBB", 1, 1, 0, 0)
    for tq, tbl in ((0, lq), (1, cq)):
        out += b"\xFF\xDB" + struct.pack(">HB", 67, tq) \
            + bytes(int(x) for x in tbl.reshape(-1)[ZIGZAG])
    out += b"\xFF\xC2" + struct.pack(">HBHHB", 17, 8, h, w, 3)
    for cid, (hs, vs), tq in ((1, hv[0], 0), (2, hv[1], 1), (3, hv[2], 1)):
        out += struct.pack(">BBB", cid, (hs << 4) | vs, tq)
    for tc, th, (bits, vals) in (
        (0, 0, _DC_LUMA), (0, 1, _DC_CHROMA), (1, 0, _AC_PROG),
    ):
        out += b"\xFF\xC4" + struct.pack(
            ">HB", 19 + len(vals), (tc << 4) | th
        ) + bytes(bits) + bytes(vals)

    dc_enc = [_huff_encode_table(*_DC_LUMA),
              _huff_encode_table(*_DC_CHROMA),
              _huff_encode_table(*_DC_CHROMA)]
    ac_enc = _huff_encode_table(*_AC_PROG)

    def sos(comp_idxs, ss, se, ah, al):
        out.extend(b"\xFF\xDA")
        out.extend(struct.pack(">HB", 6 + 2 * len(comp_idxs),
                               len(comp_idxs)))
        for ci in comp_idxs:
            dc_id = 0 if ci == 0 else 1
            out.extend(struct.pack(">BB", ci + 1, (dc_id << 4) | 0))
        out.extend(struct.pack(">BBB", ss, se, (ah << 4) | al))

    def nonint_blocks(ci):
        """The component's unpadded block grid in raster order."""
        cw = -(-w * hv[ci][0] // hmax)
        chh = -(-h * hv[ci][1] // vmax)
        for by in range(-(-chh // 8)):
            for bx in range(-(-cw // 8)):
                yield blocks[ci][by, bx]

    def dc_scan(ah, al):
        wtr = _BitWriter()
        preds = [0, 0, 0]
        for my in range(mcuy):
            for mx in range(mcux):
                for ci in range(3):
                    for by in range(hv[ci][1]):
                        for bx in range(hv[ci][0]):
                            dc = int(blocks[ci][my * hv[ci][1] + by,
                                                mx * hv[ci][0] + bx][0])
                            if ah == 0:
                                t = dc >> al  # arithmetic: floor
                                diff = t - preds[ci]
                                preds[ci] = t
                                size, mag = _magnitude(diff)
                                code, ln = dc_enc[ci][size]
                                wtr.write(code, ln)
                                if size:
                                    wtr.write(mag, size)
                            else:
                                wtr.write((dc >> al) & 1, 1)
        wtr.flush()
        out.extend(wtr.out)

    def ac_scan(ci, ss, se, ah, al):
        wtr = _BitWriter()
        if ah == 0:
            _enc_ac_first(wtr, nonint_blocks(ci), ac_enc, ss, se, al)
        else:
            _enc_ac_refine(wtr, nonint_blocks(ci), ac_enc, ss, se, al)
        wtr.flush()
        out.extend(wtr.out)

    sos([0, 1, 2], 0, 0, 0, 1)
    dc_scan(0, 1)
    sos([0], 1, 5, 0, 2)
    ac_scan(0, 1, 5, 0, 2)
    sos([2], 1, 63, 0, 1)
    ac_scan(2, 1, 63, 0, 1)
    sos([1], 1, 63, 0, 1)
    ac_scan(1, 1, 63, 0, 1)
    sos([0], 6, 63, 0, 2)
    ac_scan(0, 6, 63, 0, 2)
    sos([0], 1, 63, 2, 1)
    ac_scan(0, 1, 63, 2, 1)
    sos([0, 1, 2], 0, 0, 1, 0)
    dc_scan(1, 0)
    sos([0], 1, 63, 1, 0)
    ac_scan(0, 1, 63, 1, 0)
    sos([2], 1, 63, 1, 0)
    ac_scan(2, 1, 63, 1, 0)
    sos([1], 1, 63, 1, 0)
    ac_scan(1, 1, 63, 1, 0)
    out += b"\xFF\xD9"
    return bytes(out)


# ---------------------------------------------------------------------------
# Lossless process (SOF3, T.81 Annex H)
# ---------------------------------------------------------------------------
# Predictive coding, no DCT and no quantization: each sample's
# difference from a neighborhood prediction is Huffman-coded with a
# DC-class table extended to magnitude category 16 (SSSS=16 means
# diff=32768 with no extra bits; all arithmetic is modulo 2^16 per
# H.1.2.1). Sampling factors must all be 1x1 (the only shape real
# lossless producers — DNG, PACS/DICOM exporters — emit). Components
# are stored verbatim (no color transform is defined for the lossless
# process), so 3-component files decode as RGB as-is.
#
# Restart markers reset the entropy coder and the prediction: the next
# sample of every component is predicted with the default 2^(P-Pt-1),
# after which the normal selection resumes (first-row samples use Ra,
# first-column samples use Rb, interior samples the scan's predictor).
# Mid-line restarts follow the same rule — the documented
# implementation choice, mirrored exactly by the encoder.

#: predictor id → Px(a, b, c); arithmetic on Python ints (H.1.1.1)
_LL_PREDICTORS = {
    1: lambda a, b, c: a,
    2: lambda a, b, c: b,
    3: lambda a, b, c: c,
    4: lambda a, b, c: a + b - c,
    5: lambda a, b, c: a + ((b - c) >> 1),
    6: lambda a, b, c: b + ((a - c) >> 1),
    7: lambda a, b, c: (a + b) >> 1,
}

# fixed Huffman table covering categories 0..16 (Kraft sum 1 - 2^-15,
# so the all-ones max-length code stays unused as C.2 requires)
_LL_BITS = [0, 3, 1, 1, 1, 1, 1, 1, 1, 1, 1, 1, 1, 1, 1, 1]
_LL_VALS = list(range(17))


def _decode_lossless(payload: bytes) -> np.ndarray:
    """SOF3 stream → (H, W) or (H, W, ncomp) array; uint8 when the
    scan's effective precision (P - Pt + Pt shift = P) fits 8 bits,
    uint16 otherwise. Cited behavior: /root/reference has no media
    stack — scope mirrors ES's ingest-attachment opacity instead."""
    dc_tabs: dict[int, dict] = {}
    comps: list[dict] = []
    w = h = prec = 0
    restart_interval = 0
    result = None

    i = 2  # caller checked SOI
    while i < len(payload):
        if payload[i] != 0xFF:
            raise ValueError(f"expected marker at byte {i}")
        marker = 0xFF00 | payload[i + 1]
        i += 2
        if marker == 0xFFD9:
            break
        if marker == 0xFF01 or 0xFFD0 <= marker <= 0xFFD7:
            continue
        ln = struct.unpack(">H", payload[i:i + 2])[0]
        seg = payload[i + 2:i + ln]
        after = i + ln
        i = after
        if marker == 0xFFC3:
            prec, h, w = struct.unpack(">BHH", seg[:5])
            if not 2 <= prec <= 16:
                raise ValueError(f"bad lossless precision {prec}")
            for c in range(seg[5]):
                cid, hv, _tq = seg[6 + c * 3:9 + c * 3]
                if hv != 0x11:
                    raise NotImplementedError(
                        "lossless JPEG with subsampled components"
                    )
                comps.append({"id": cid})
        elif marker == 0xFFC4:
            j = 0
            while j < len(seg):
                tc, th = seg[j] >> 4, seg[j] & 0x0F
                bits = list(seg[j + 1:j + 17])
                nv = sum(bits)
                if tc == 0:
                    dc_tabs[th] = _huff_decode_table(
                        bits, list(seg[j + 17:j + 17 + nv]))
                j += 17 + nv
        elif marker == 0xFFDD:
            restart_interval = struct.unpack(">H", seg[:2])[0]
        elif marker == 0xFFDA:
            if not comps:
                raise ValueError("SOS before SOF")
            ns = seg[0]
            scan = []
            for c in range(ns):
                cid, tabs = seg[1 + c * 2], seg[2 + c * 2]
                next(x for x in comps if x["id"] == cid)  # validate
                scan.append({"id": cid, "tab": dc_tabs[tabs >> 4]})
            sel, _se, ahal = seg[1 + ns * 2:4 + ns * 2]
            pt = ahal & 0x0F
            if not 1 <= sel <= 7:
                raise ValueError(f"bad lossless predictor {sel}")
            if pt >= prec:
                raise ValueError(f"point transform {pt} >= precision")
            default = 1 << (prec - pt - 1)
            planes = {c["id"]: np.zeros((h, w), dtype=np.int64)
                      for c in scan}
            fresh = {c["id"]: True for c in scan}
            reader = _BitReader(payload, after)
            unit = 0
            for y in range(h):
                for x in range(w):
                    if restart_interval and unit and \
                            unit % restart_interval == 0:
                        m = reader.align_to_marker()
                        if not 0xFFD0 <= m <= 0xFFD7:
                            raise ValueError(
                                f"expected RST marker, got {m:#x}")
                        fresh = {k: True for k in fresh}
                    for c in scan:
                        sym = _read_huff_symbol(reader, c["tab"])
                        if sym == 16:
                            diff = 32768
                        elif sym > 16:
                            raise ValueError(
                                f"bad lossless magnitude category {sym}")
                        else:
                            diff = _extend(reader.read_bits(sym), sym) \
                                if sym else 0
                        p = planes[c["id"]]
                        if fresh[c["id"]]:
                            pred = default
                            fresh[c["id"]] = False
                        elif y == 0:
                            pred = int(p[0, x - 1])
                        elif x == 0:
                            pred = int(p[y - 1, 0])
                        else:
                            pred = _LL_PREDICTORS[sel](
                                int(p[y, x - 1]), int(p[y - 1, x]),
                                int(p[y - 1, x - 1]))
                        p[y, x] = (pred + diff) & 0xFFFF
                    unit += 1
            out = [planes[c["id"]] << pt for c in scan]
            dtype = np.uint8 if prec <= 8 else np.uint16
            if len(out) == 1 and prec <= 8:
                g = out[0].astype(dtype)  # match decode_jpeg's gray
                result = np.stack([g, g, g], axis=2)
            elif len(out) == 1:
                result = out[0].astype(dtype)
            else:
                result = np.stack(out, axis=2).astype(dtype)
            i = reader.pos
            while i < len(payload) and payload[i] != 0xFF:
                i += 1
            while i + 1 < len(payload) and payload[i + 1] == 0xFF:
                i += 1

    if result is None:
        raise ValueError("truncated lossless JPEG: missing SOS")
    return result


def encode_jpeg_lossless(
    pixels: np.ndarray, predictor: int = 4, point_transform: int = 0,
    precision: int | None = None, restart_interval: int = 0,
) -> bytes:
    """(H, W) or (H, W, ncomp) uint8/uint16 → SOF3 lossless JFIF bytes.
    Decode of the result reproduces the input EXACTLY (after
    ``>> point_transform << point_transform`` when a point transform is
    requested) — the property the round-trip tests pin. The fixed
    category-0..16 Huffman table is embedded, so standard decoders read
    the stream."""
    if not 1 <= predictor <= 7:
        raise ValueError(f"bad lossless predictor {predictor}")
    if pixels.ndim == 2:
        pixels = pixels[:, :, None]
    h, w, ncomp = pixels.shape
    if precision is None:
        precision = 8 if pixels.dtype == np.uint8 else 16
    if not 2 <= precision <= 16:
        raise ValueError(f"bad lossless precision {precision}")
    pt = point_transform
    if pt >= precision:
        raise ValueError(f"point transform {pt} >= precision")
    if int(pixels.max(initial=0)) >= 1 << precision:
        raise ValueError("sample exceeds declared precision")

    enc = _huff_encode_table(_LL_BITS, _LL_VALS)
    out = bytearray(b"\xFF\xD8")
    # DHT: one class-0 table, id 0, shared by every component
    dht = bytes([0x00]) + bytes(_LL_BITS) + bytes(_LL_VALS)
    out += b"\xFF\xC4" + struct.pack(">H", 2 + len(dht)) + dht
    sof = struct.pack(">BHHB", precision, h, w, ncomp)
    for cid in range(ncomp):
        sof += bytes([cid + 1, 0x11, 0])
    out += b"\xFF\xC3" + struct.pack(">H", 2 + len(sof)) + sof
    if restart_interval:
        out += b"\xFF\xDD" + struct.pack(">HH", 4, restart_interval)
    sos = bytes([ncomp])
    for cid in range(ncomp):
        sos += bytes([cid + 1, 0x00])
    sos += bytes([predictor, 0, pt])
    out += b"\xFF\xDA" + struct.pack(">H", 2 + len(sos)) + sos

    shifted = (pixels.astype(np.int64) >> pt)
    default = 1 << (precision - pt - 1)
    wtr = _BitWriter()
    fresh = [True] * ncomp
    unit = 0
    rst = 0
    for y in range(h):
        for x in range(w):
            if restart_interval and unit and \
                    unit % restart_interval == 0:
                wtr.flush()
                out += wtr.out
                wtr = _BitWriter()
                out += bytes([0xFF, 0xD0 + rst])
                rst = (rst + 1) % 8
                fresh = [True] * ncomp
            for ci in range(ncomp):
                p = shifted[:, :, ci]
                if fresh[ci]:
                    pred = default
                    fresh[ci] = False
                elif y == 0:
                    pred = int(p[0, x - 1])
                elif x == 0:
                    pred = int(p[y - 1, 0])
                else:
                    pred = _LL_PREDICTORS[predictor](
                        int(p[y, x - 1]), int(p[y - 1, x]),
                        int(p[y - 1, x - 1]))
                diff = (int(p[y, x]) - pred + 32768) % 65536 - 32768
                if diff == -32768:
                    code, ln = enc[16]  # SSSS=16: no extra bits
                    wtr.write(code, ln)
                else:
                    size, mag = _magnitude(diff)
                    code, ln = enc[size]
                    wtr.write(code, ln)
                    if size:
                        wtr.write(mag, size)
            unit += 1
    wtr.flush()
    out += wtr.out
    out += b"\xFF\xD9"
    return bytes(out)
