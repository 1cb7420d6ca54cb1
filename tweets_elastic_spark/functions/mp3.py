"""MPEG audio (MP3) frame-header parsing — pure stdlib.

A training-data pipeline filtering scraped audio needs duration /
sample-rate / bitrate metadata per asset; all of it lives in the 4-byte
frame headers (ISO/IEC 11172-3 §2.4.1), no codec required. This module
walks the frame sequence (skipping ID3v2/ID3v1 tags), validates sync,
and aggregates the stream's metadata. Decoding PCM SAMPLES needs a DCT
synthesis filterbank and is out of scope.

Scope: MPEG-1/2/2.5 Layers I, II and III (scraped "MP3" archives carry
the occasional Layer II stream). Reserved
version/layer/bitrate/samplerate codes raise loudly — a mis-synced
walk silently producing garbage durations is the failure mode this
module exists to prevent.

``build_mp3`` emits a valid constant-bitrate frame sequence (headers +
zero payloads) — the deterministic test-fixture encoder sibling.
"""

from __future__ import annotations

import struct
from dataclasses import dataclass

__all__ = ["mp3_metadata", "mp3_frames", "build_mp3"]

# bitrate kbps by index per (version, layer) — ISO/IEC 11172-3 table
# B.1 / 13818-3: MPEG-1 has a table per layer; MPEG-2/2.5 share one
# for Layers II+III and have their own for Layer I
_BITRATE_V1 = [0, 32, 40, 48, 56, 64, 80, 96, 112, 128, 160, 192, 224, 256, 320]
_BITRATE_V2 = [0, 8, 16, 24, 32, 40, 48, 56, 64, 80, 96, 112, 128, 144, 160]
_BITRATE_V1_L1 = [0, 32, 64, 96, 128, 160, 192, 224, 256, 288, 320, 352,
                  384, 416, 448]
_BITRATE_V1_L2 = [0, 32, 48, 56, 64, 80, 96, 112, 128, 160, 192, 224, 256,
                  320, 384]
_BITRATE_V2_L1 = [0, 32, 48, 56, 64, 80, 96, 112, 128, 144, 160, 176, 192,
                  224, 256]
# sample rate Hz by index: MPEG-1; MPEG-2 halves, MPEG-2.5 quarters
_RATE_V1 = [44100, 48000, 32000]


@dataclass
class Mp3Frame:
    offset: int
    length: int
    version: str        # '1', '2', '2.5'
    layer: int          # 1 | 2 | 3
    sample_rate: int
    bitrate_kbps: int
    samples: int        # per frame: L1 384; L2 1152; L3 1152/576 (V1/V2+)


def _id3v2_size(payload: bytes) -> int:
    """Bytes to skip for a leading ID3v2 tag (0 when absent)."""
    if payload[:3] != b"ID3" or len(payload) < 10:
        return 0
    b = payload[6:10]
    if any(x & 0x80 for x in b):
        raise ValueError("ID3v2 size bytes are not syncsafe")
    return 10 + ((b[0] << 21) | (b[1] << 14) | (b[2] << 7) | b[3])


def _parse_header(payload: bytes, pos: int) -> Mp3Frame:
    h = struct.unpack_from(">I", payload, pos)[0]
    if (h >> 21) & 0x7FF != 0x7FF:
        raise ValueError(f"lost MP3 frame sync at offset {pos}")
    ver_bits = (h >> 19) & 0x3
    layer_bits = (h >> 17) & 0x3
    if ver_bits == 1:
        raise ValueError(f"reserved MPEG version id at offset {pos}")
    if layer_bits == 0:
        raise ValueError(f"reserved MPEG layer id at offset {pos}")
    layer = {0x1: 3, 0x2: 2, 0x3: 1}[layer_bits]
    version = {3: "1", 2: "2", 0: "2.5"}[ver_bits]
    bi = (h >> 12) & 0xF
    if bi in (0, 15):
        raise ValueError(
            f"free-format/reserved bitrate index {bi} at offset {pos}"
        )
    ri = (h >> 10) & 0x3
    if ri == 3:
        raise ValueError(f"reserved sample-rate index at offset {pos}")
    padding = (h >> 9) & 0x1
    v1 = version == "1"
    rate = _RATE_V1[ri] // (1 if v1 else (2 if version == "2" else 4))
    bitrate = {
        (True, 1): _BITRATE_V1_L1, (True, 2): _BITRATE_V1_L2,
        (True, 3): _BITRATE_V1, (False, 1): _BITRATE_V2_L1,
        (False, 2): _BITRATE_V2, (False, 3): _BITRATE_V2,
    }[(v1, layer)][bi]
    if layer == 1:
        # slot = 4 bytes for Layer I; padding adds one SLOT
        samples = 384
        length = (12 * bitrate * 1000 // rate + padding) * 4
    elif layer == 2:
        samples = 1152
        length = 144 * bitrate * 1000 // rate + padding
    else:
        samples = 1152 if v1 else 576
        length = (144 if v1 else 72) * bitrate * 1000 // rate + padding
    return Mp3Frame(pos, length, version, layer, rate, bitrate, samples)


def mp3_frames(payload: bytes) -> list[Mp3Frame]:
    """Walk every frame. A trailing ID3v1 tag (128-byte ``TAG`` block) is
    tolerated; any other mid-stream garbage raises loudly."""
    pos = _id3v2_size(payload)
    end = len(payload)
    if payload[end - 128:end - 125] == b"TAG":
        end -= 128
    frames: list[Mp3Frame] = []
    while pos < end:
        if pos + 4 > end:
            raise ValueError(f"truncated MP3 frame header at offset {pos}")
        f = _parse_header(payload, pos)
        if pos + f.length > end:
            raise ValueError(
                f"truncated MP3 frame at offset {pos} (needs {f.length} "
                f"bytes, {end - pos} remain)"
            )
        frames.append(f)
        pos += f.length
    if not frames:
        raise ValueError("no MP3 frames in payload")
    return frames


@dataclass
class Mp3Metadata:
    n_frames: int
    duration_s: float
    sample_rate: int
    bitrate_kbps_avg: float
    has_id3v2: bool


def mp3_metadata(payload: bytes) -> Mp3Metadata:
    frames = mp3_frames(payload)
    rates = {f.sample_rate for f in frames}
    if len(rates) > 1:
        raise ValueError(f"mixed sample rates in one MP3 stream: {rates}")
    return Mp3Metadata(
        n_frames=len(frames),
        duration_s=sum(f.samples / f.sample_rate for f in frames),
        sample_rate=frames[0].sample_rate,
        bitrate_kbps_avg=sum(f.bitrate_kbps for f in frames) / len(frames),
        has_id3v2=_id3v2_size(payload) > 0,
    )


def build_mp3(
    n_frames: int, *, bitrate_kbps: int = 128, sample_rate: int = 44100,
    layer: int = 3,
) -> bytes:
    """A valid constant-bitrate MPEG-1 frame sequence with zeroed
    payloads — the deterministic fixture encoder for the parser.
    ``layer`` selects I/II/III; bitrate must be valid for it."""
    table = {1: _BITRATE_V1_L1, 2: _BITRATE_V1_L2, 3: _BITRATE_V1}[layer]
    bi = table.index(bitrate_kbps)
    ri = _RATE_V1.index(sample_rate)
    layer_bits = {1: 0x3, 2: 0x2, 3: 0x1}[layer]
    h = (0x7FF << 21) | (0x3 << 19) | (layer_bits << 17) | (0x1 << 16) \
        | (bi << 12) | (ri << 10)
    if layer == 1:
        length = (12 * bitrate_kbps * 1000 // sample_rate) * 4
    else:
        length = 144 * bitrate_kbps * 1000 // sample_rate
    frame = struct.pack(">I", h) + b"\x00" * (length - 4)
    return frame * n_frames
