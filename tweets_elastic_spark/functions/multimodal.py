"""Multimodal columns: opaque binary payloads + typed metadata
(north-star block; schema contract in schemas.MULTIMODAL_ASSET).

Images/audio/video ride through the engine as ``binary`` columns. The
canonical operations — decode/inspect, frame sampling, perceptual
hashing — are Arrow-batched ``mapInPandas`` transforms with REAL codecs
for the formats the Python stdlib can handle:

* **Real**: binary netpbm P6 (PPM) images (header parse, pixel access),
  baseline JPEG (full SOF0/Huffman decoder + encoder in
  ``functions/jpeg``, pure stdlib+NumPy), PNG (full zlib-inflate +
  unfilter decoder incl. palette/sub-byte/Adam7 in ``functions/png``),
  and RIFF/WAV audio via the stdlib ``wave`` module (sample-rate/frame
  counts). No external library involved; these paths are exact and
  tested.
* **Real, container level**: MP4 (ISO-BMFF box walk, moov metadata, and
  the stbl sample table — per-frame ``mdat`` byte ranges, so
  ``sample_frames`` addresses REAL access units; ``functions/mp4``) and
  MP3 (frame-header walk: duration / sample rate / bitrate;
  ``functions/mp3``). Decoding those containers' SAMPLES (H.264 pixels,
  Layer-III PCM) is out of scope. The deterministic fake
  (``application/x-fake``, byte-length pseudo-dims) keeps the plumbing
  testable at scale.

``sample_frames`` emits N rows per video asset (1→N inside one Arrow
batch) — the explode-shaped plumbing a real frame sampler needs.

At 100 TB: binary payloads dominate row size, so these transforms must not
shuffle — all are narrow (mapInPandas preserves partitioning), and
metadata-only plans prune the payload column entirely (nested-schema
pruning keeps the scan payload-free when only width/height are selected).
"""

from __future__ import annotations

import hashlib
import io
import wave
from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from tweets_elastic_spark.functions.jpeg import decode_jpeg, jpeg_dimensions
from tweets_elastic_spark.functions.mp3 import mp3_metadata
from tweets_elastic_spark.functions.mp4 import mp4_metadata, mp4_sample_ranges
from tweets_elastic_spark.functions.png import (
    PNG_SIGNATURE,
    decode_png_auto,
    png_dimensions,
)
from tweets_elastic_spark.operators.dedup import hamming_band_pairs

DECODED_SCHEMA = (
    "asset_id long, modality string, n_bytes long, sha256 string, "
    "width int, height int"
)
FRAMES_SCHEMA = "asset_id long, frame_idx int, byte_offset long, frame_sha string"

# mimes with a real stdlib decode path
MIME_PPM = "image/x-portable-pixmap"
MIME_WAV = "audio/x-wav"
MIME_JPEG = "image/jpeg"  # real baseline decoder (functions/jpeg)
MIME_PNG = "image/png"    # real zlib+unfilter decoder (functions/png)
# the synthetic fixture payloads (attach_payload) — the ONLY mime that gets
# deterministic fake dimensions
MIME_FAKE = "application/x-fake"
MIME_MP4 = "video/mp4"    # real ISO-BMFF container parse (functions/mp4)
MIME_MP3 = "audio/mpeg"   # real frame-header parse (functions/mp3)


# ---------------------------------------------------------------------------
# Real codecs (pure stdlib/NumPy)
# ---------------------------------------------------------------------------

def encode_ppm(pixels: np.ndarray) -> bytes:
    """(H, W, 3) uint8 → binary netpbm P6 bytes."""
    h, w, c = pixels.shape
    assert c == 3
    return f"P6\n{w} {h}\n255\n".encode() + pixels.astype(np.uint8).tobytes()


def decode_ppm(payload: bytes) -> np.ndarray:
    """Binary netpbm P6 → (H, W, 3) uint8. Header: magic, whitespace/
    comment-separated width height maxval, single whitespace, raster."""
    if not payload.startswith(b"P6"):
        raise ValueError("not a P6 PPM")
    fields: list[int] = []
    i = 2
    while len(fields) < 3:
        while i < len(payload) and payload[i : i + 1].isspace():
            i += 1
        if payload[i : i + 1] == b"#":  # comment to end of line
            while i < len(payload) and payload[i] != 0x0A:
                i += 1
            continue
        j = i
        while j < len(payload) and not payload[j : j + 1].isspace():
            j += 1
        fields.append(int(payload[i:j]))
        i = j
    i += 1  # the single whitespace after maxval
    w, h, maxval = fields
    if maxval > 255:
        raise ValueError("16-bit PPM not supported")
    raster = np.frombuffer(payload, dtype=np.uint8, count=w * h * 3, offset=i)
    return raster.reshape(h, w, 3)


def decode_wav_meta(payload: bytes) -> tuple[int, int]:
    """WAV → (sample_rate, n_frames) via the stdlib wave reader."""
    with wave.open(io.BytesIO(payload)) as wf:
        return wf.getframerate(), wf.getnframes()


def attach_payload(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Turn a text corpus into fake assets: payload = utf-8 bytes of the
    text (deterministic), modality round-robined by id. Stands in for a
    real binary ingest (S3/tar shards of images)."""
    return df.select(
        F.col(id_col).alias("asset_id"),
        F.element_at(
            F.array(F.lit("image"), F.lit("audio"), F.lit("video")),
            (F.col(id_col) % 3 + 1).cast("int"),
        ).alias("modality"),
        F.encode(F.col(text_col), "utf-8").alias("payload"),
        F.lit(MIME_FAKE).alias("mime_type"),
    )


def _decode_one(payload: bytes, modality: str, mime: str) -> tuple[int, int]:
    """Dispatch by mime: real decode for PPM/WAV, deterministic fake dims
    ONLY for the explicit synthetic mime, explicit NotImplementedError for
    everything else — an unrecognized real-world mime (image/gif,
    audio/ogg, …) must fail loudly, never get fabricated dimensions."""
    if mime == MIME_PPM:
        img = decode_ppm(payload)
        return img.shape[1], img.shape[0]
    if mime == MIME_JPEG:
        return jpeg_dimensions(payload)
    if mime == MIME_PNG:
        return png_dimensions(payload)
    if mime == MIME_WAV:
        rate, frames = decode_wav_meta(payload)
        return rate, frames
    if mime == MIME_MP4:
        md = mp4_metadata(bytes(payload))
        for t in md.tracks:
            if t.handler == "vide":
                return t.width, t.height
        raise ValueError("MP4 without a video track (audio-only: route "
                         "by its real modality)")
    if mime == MIME_MP3:
        # (sample_rate, n_frames) — the same convention as WAV
        md = mp3_metadata(bytes(payload))
        return md.sample_rate, md.n_frames
    if mime == MIME_FAKE:
        n = len(payload)
        return 1 + n % 640, 1 + n % 480
    raise NotImplementedError(f"unrecognized mime type: {mime!r}")


def decode_assets(assets: DataFrame) -> DataFrame:
    """1→1 metadata decode over Arrow batches (no shuffle)."""

    def decode(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            dims = [
                _decode_one(p, m, t)
                for p, m, t in zip(pdf["payload"], pdf["modality"], pdf["mime_type"])
            ]
            yield pd.DataFrame(
                {
                    "asset_id": pdf["asset_id"],
                    "modality": pdf["modality"],
                    "n_bytes": [len(p) for p in pdf["payload"]],
                    "sha256": [hashlib.sha256(p).hexdigest() for p in pdf["payload"]],
                    "width": [d[0] for d in dims],
                    "height": [d[1] for d in dims],
                }
            )

    return assets.mapInPandas(decode, DECODED_SCHEMA)


def sample_frames(assets: DataFrame, n_frames: int = 4) -> DataFrame:
    """1→N frame sampling for video assets, one output row per sampled
    frame (the explode-shaped batch contract). MP4 payloads sample REAL
    access units: n evenly spaced entries of the container's sample
    table (functions/mp4.mp4_sample_ranges), each row hashing that
    frame's exact ``mdat`` byte range — the codec-free frame addressing
    a video-dedup sketch needs. Non-container video payloads fall back
    to evenly spaced raw byte offsets (the synthetic-fixture path)."""

    def sample(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = {"asset_id": [], "frame_idx": [], "byte_offset": [], "frame_sha": []}

            def emit(aid, idx, off, chunk):
                out["asset_id"].append(aid)
                out["frame_idx"].append(idx)
                out["byte_offset"].append(off)
                out["frame_sha"].append(hashlib.sha256(chunk).hexdigest())

            for aid, modality, payload in zip(
                pdf["asset_id"], pdf["modality"], pdf["payload"]
            ):
                if modality != "video" or len(payload) == 0:
                    continue
                p = bytes(payload)
                if p[4:8] == b"ftyp":  # ISO BMFF: sample the real frames
                    ranges = mp4_sample_ranges(p)
                    take = min(n_frames, len(ranges))
                    for i in range(take):
                        off, size = ranges[(len(ranges) * i) // take]
                        emit(aid, i, off, p[off:off + size])
                    continue
                for i in range(n_frames):
                    off = (len(p) * i) // n_frames
                    emit(aid, i, off, p[off:off + 16])
            yield pd.DataFrame(out)

    return assets.mapInPandas(sample, FRAMES_SCHEMA)


# ---------------------------------------------------------------------------
# Perceptual image hashing (dHash) + near-dup — multimodal x dedup crossover
# ---------------------------------------------------------------------------

def dhash64(pixels: np.ndarray) -> int:
    """Difference hash of an (H, W, 3) uint8 image: grayscale →
    nearest-neighbor resize to 9×8 → 64 left<right comparisons, row-major.
    The standard perceptual hash: stable under small pixel noise, mild
    recompression and uniform brightness shifts; near-duplicate images
    land within a few bits of Hamming distance. Returned as a SIGNED
    64-bit value (bit 63 wraps negative) so it stores in a Spark LongType
    and XOR/bit_count Hamming works unchanged."""
    gray = pixels.astype(np.float64).mean(axis=2)
    h, w = gray.shape
    rows = (np.arange(8) * h) // 8
    cols = (np.arange(9) * w) // 9
    grid = gray[np.ix_(rows, cols)]
    bits = (grid[:, :-1] < grid[:, 1:]).flatten()
    v = 0
    for b in bits:
        v = (v << 1) | int(b)
    return v - (1 << 64) if v >= (1 << 63) else v


def image_dhash(
    assets: DataFrame,
    payload_col: str = "payload",
    id_col: str = "asset_id",
) -> DataFrame:
    """(_id, _sig): 64-bit perceptual hash per decodable image — P6 PPM,
    baseline JPEG or PNG, dispatched by payload magic
    (``P6`` / ``FF D8`` / ``\\x89PNG``). Arrow-batched mapInPandas;
    undecodable payloads are dropped (the quarantine channel owns them).
    The payload never shuffles — only the 8-byte sketch leaves the
    scan."""
    out_schema = "_id long, _sig long"

    def hash_batch(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for b in batches:
            ids, sigs = [], []
            for i, payload in zip(b[id_col], b[payload_col]):
                p = bytes(payload)
                try:
                    if p[:2] == b"\xFF\xD8":
                        sigs.append(dhash64(decode_jpeg(p)))
                    elif p[: len(PNG_SIGNATURE)] == PNG_SIGNATURE:
                        # auto = libpng when installed (pixel-equality
                        # pinned), pure decoder here — PNG is lossless so
                        # the oracle recompute is identical either way
                        sigs.append(dhash64(decode_png_auto(p)))
                    else:
                        sigs.append(dhash64(decode_ppm(p)))
                    ids.append(i)
                except (ValueError, AssertionError, IndexError):
                    continue
            yield pd.DataFrame({"_id": ids, "_sig": sigs})

    return assets.select(id_col, payload_col).mapInPandas(
        hash_batch, out_schema
    )


def image_near_dups(
    assets: DataFrame,
    max_distance: int = 3,
    payload_col: str = "payload",
    id_col: str = "asset_id",
) -> DataFrame:
    """Near-duplicate image pairs: dHash sketches + the SAME pigeonhole
    Hamming banding the SimHash text dedup uses
    (operators/dedup.hamming_band_pairs) — sketches band-join on 16-bit
    chunks, exact Hamming verifies. Payload bytes never join anything."""
    return hamming_band_pairs(
        image_dhash(assets, payload_col, id_col), max_distance=max_distance
    )
