"""Multimodal columns: opaque binary payloads + typed metadata
(north-star block; schema contract in schemas.MULTIMODAL_ASSET).

Images/audio/video ride through the engine as ``binary`` columns. The three
canonical operations — decode/inspect, feature extraction, frame sampling —
are Arrow-batched ``mapInPandas`` transforms with REAL codecs for the
formats the Python stdlib can handle and clearly-marked stubs for the rest:

* **Real**: binary netpbm P6 (PPM) images — header parse, pixel access,
  nearest-neighbor resize (``resize_images``), channel-mean features —
  baseline JPEG (r8: full SOF0/Huffman decoder + encoder in
  ``functions/jpeg``, pure stdlib+NumPy), PNG (r8: full zlib-inflate +
  unfilter decoder incl. palette/sub-byte/Adam7 in ``functions/png``),
  and RIFF/WAV audio via the stdlib ``wave`` module (sample-rate/frame
  counts). No external library involved; these paths are exact and
  tested.
* **Real since r10, container level**: MP4 (ISO-BMFF box walk, moov
  metadata, and the stbl sample table — per-frame ``mdat`` byte ranges,
  so ``sample_frames`` addresses REAL access units; ``functions/mp4``)
  and MP3 (frame-header walk: duration / sample rate / bitrate;
  ``functions/mp3``).
* **Gated native (r11)**: decoding those containers' SAMPLES — H.264
  pixels, Layer-III PCM — goes through the ffmpeg seam at the bottom of
  this module (``decode_video_frames_native`` / ``decode_audio_pcm_native``),
  the exact policy ``functions/png`` applies to Pillow: real invocation
  wherever ffmpeg exists (skip-gated pytest), loud ``NotImplementedError``
  here where it doesn't. ``resize_images`` and other pixel paths still refuse for
  these mimes so the boundary is unmistakable. The deterministic fake
  (``application/x-fake``, byte-length pseudo-dims) keeps the plumbing
  testable at scale.

``extract_features`` yields a fixed-dim float vector per asset (channel
statistics for PPM, hash-fold elsewhere) — the contract the similarity
operators downstream consume. ``sample_frames`` emits N rows per video
asset (1→N inside one Arrow batch) — the explode-shaped plumbing a real
frame sampler needs.

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

DECODED_SCHEMA = (
    "asset_id long, modality string, n_bytes long, sha256 string, "
    "width int, height int"
)
FEATURES_SCHEMA = "asset_id long, features array<float>"
FRAMES_SCHEMA = "asset_id long, frame_idx int, byte_offset long, frame_sha string"

# mimes with a real stdlib decode path
MIME_PPM = "image/x-portable-pixmap"
MIME_WAV = "audio/x-wav"
MIME_JPEG = "image/jpeg"  # real baseline decoder since r8 (functions/jpeg)
MIME_PNG = "image/png"    # real zlib+unfilter decoder since r8 (functions/png)
# the synthetic fixture payloads (attach_payload) — the ONLY mime that gets
# deterministic fake dimensions
MIME_FAKE = "application/x-fake"
MIME_MP4 = "video/mp4"    # real ISO-BMFF container parse since r10
MIME_MP3 = "audio/mpeg"   # real frame-header parse since r10 (functions/mp3)
# formats whose SAMPLE decode (pixels / PCM) genuinely needs ffmpeg —
# container/frame METADATA and MP4 sample-table frame addressing are real
# (functions/mp4, functions/mp3); only the codec step stays stubbed
STUB_MIMES = {MIME_MP4, MIME_MP3}


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
        from tweets_elastic_spark.functions.jpeg import jpeg_dimensions

        return jpeg_dimensions(payload)
    if mime == MIME_PNG:
        from tweets_elastic_spark.functions.png import png_dimensions

        return png_dimensions(payload)
    if mime == MIME_WAV:
        rate, frames = decode_wav_meta(payload)
        return rate, frames
    if mime == MIME_MP4:
        from tweets_elastic_spark.functions.mp4 import mp4_metadata

        md = mp4_metadata(bytes(payload))
        for t in md.tracks:
            if t.handler == "vide":
                return t.width, t.height
        raise ValueError("MP4 without a video track (audio-only: route "
                         "by its real modality)")
    if mime == MIME_MP3:
        # (sample_rate, n_frames) — the same convention as WAV
        from tweets_elastic_spark.functions.mp3 import mp3_metadata

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


RESIZED_SCHEMA = "asset_id long, payload binary, width int, height int"


def resize_images(assets: DataFrame, width: int, height: int) -> DataFrame:
    """REAL nearest-neighbor resize for PPM, baseline-JPEG and PNG images
    (pure NumPy index sampling), re-encoded in the input's format — the
    canonical payload-transforming multimodal op: binary in, binary out,
    narrow (no shuffle), payload never leaves the executor. Other mimes
    raise (resize of MP4 needs a real decoder first)."""

    def resize(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        from tweets_elastic_spark.functions.jpeg import (
            decode_jpeg, encode_jpeg,
        )
        from tweets_elastic_spark.functions.png import decode_png, encode_png

        for pdf in batches:
            out_payload = []
            for p, t in zip(pdf["payload"], pdf["mime_type"]):
                if t == MIME_PPM:
                    img, enc = decode_ppm(p), encode_ppm
                elif t == MIME_JPEG:
                    img = decode_jpeg(bytes(p))
                    enc = lambda px: encode_jpeg(px, quality=90)
                elif t == MIME_PNG:
                    img, enc = decode_png(bytes(p)), encode_png
                else:
                    raise NotImplementedError(f"resize for {t} requires ffmpeg")
                h, w = img.shape[:2]
                rows = (np.arange(height) * h) // height
                cols = (np.arange(width) * w) // width
                out_payload.append(enc(img[rows][:, cols]))
            yield pd.DataFrame(
                {
                    "asset_id": pdf["asset_id"],
                    "payload": out_payload,
                    "width": width,
                    "height": height,
                }
            )

    return assets.mapInPandas(resize, RESIZED_SCHEMA)


def extract_features(assets: DataFrame, dim: int = 16) -> DataFrame:
    """1→1 feature extraction: fixed-dim float vector per asset. The stub
    folds sha256 bytes into ``dim`` floats in [-1, 1] — deterministic, so
    downstream ANN results are reproducible in tests."""

    def featurize(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        from tweets_elastic_spark.functions.jpeg import decode_jpeg
        from tweets_elastic_spark.functions.png import decode_png

        for pdf in batches:
            feats = []
            for p, t in zip(pdf["payload"], pdf["mime_type"]):
                if t in (MIME_PPM, MIME_JPEG, MIME_PNG):
                    # real image features: per-channel mean/std, tiled to dim
                    decoders = {MIME_JPEG: decode_jpeg, MIME_PNG: decode_png}
                    img = (decoders[t](bytes(p)) if t in decoders
                           else decode_ppm(p)).astype(np.float32)
                    stats = np.concatenate(
                        [img.mean(axis=(0, 1)) / 255.0, img.std(axis=(0, 1)) / 255.0]
                    )
                    feats.append(np.resize(stats, dim).astype(np.float32))
                    continue
                digest = hashlib.sha256(p).digest()
                raw = np.frombuffer(
                    (digest * ((dim * 4) // len(digest) + 1))[: dim * 4], dtype=np.uint32
                )
                feats.append((raw.astype(np.float64) / 2**31 - 1.0).astype(np.float32))
            yield pd.DataFrame({"asset_id": pdf["asset_id"], "features": feats})

    return assets.mapInPandas(featurize, FEATURES_SCHEMA)


def sample_frames(assets: DataFrame, n_frames: int = 4) -> DataFrame:
    """1→N frame sampling for video assets, one output row per sampled
    frame (the explode-shaped batch contract). MP4 payloads sample REAL
    access units: n evenly spaced entries of the container's sample
    table (functions/mp4.mp4_sample_ranges), each row hashing that
    frame's exact ``mdat`` byte range — the codec-free frame addressing
    a video-dedup sketch needs. Non-container video payloads fall back
    to evenly spaced raw byte offsets (the synthetic-fixture path)."""

    def sample(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        from tweets_elastic_spark.functions.mp4 import mp4_sample_ranges

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
    baseline JPEG (r8) or PNG (r8), dispatched by payload magic
    (``P6`` / ``FF D8`` / ``\\x89PNG``). Arrow-batched mapInPandas;
    undecodable payloads are dropped (the quarantine channel owns them).
    The payload never shuffles — only the 8-byte sketch leaves the
    scan."""
    out_schema = "_id long, _sig long"

    def hash_batch(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        from tweets_elastic_spark.functions.jpeg import decode_jpeg
        from tweets_elastic_spark.functions.png import (
            PNG_SIGNATURE,
            decode_png_auto,
        )

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
    from tweets_elastic_spark.operators.dedup import hamming_band_pairs

    return hamming_band_pairs(
        image_dhash(assets, payload_col, id_col), max_distance=max_distance
    )


def ahash64(payload: bytes) -> int:
    """Audio difference hash: stdlib WAV decode → mono int16 samples →
    65-window RMS energy envelope → 64 envelope[i] < envelope[i+1] bits.
    The acoustic analogue of the image dHash: stable under low-level
    noise and uniform gain changes (difference-based), so re-encoded or
    slightly-degraded copies of the same clip land within a few bits.
    Signed 64-bit, same storage/Hamming contract as dhash64."""
    with wave.open(io.BytesIO(payload)) as wf:
        n = wf.getnframes()
        raw = wf.readframes(n)
        width = wf.getsampwidth()
        channels = wf.getnchannels()
    if width != 2:
        raise ValueError(f"ahash64 supports 16-bit PCM, got width {width}")
    samples = np.frombuffer(raw, dtype="<i2").astype(np.float64)
    if channels > 1:
        samples = samples.reshape(-1, channels).mean(axis=1)
    if samples.size < 65:
        raise ValueError(f"clip too short for 65 windows: {samples.size}")
    bounds = (np.arange(66) * samples.size) // 65
    rms = np.array([
        np.sqrt(np.mean(samples[bounds[i]:bounds[i + 1]] ** 2))
        for i in range(65)
    ])
    v = 0
    for b in rms[:-1] < rms[1:]:
        v = (v << 1) | int(b)
    return v - (1 << 64) if v >= (1 << 63) else v


def audio_near_dups(
    assets: DataFrame,
    max_distance: int = 3,
    payload_col: str = "payload",
    id_col: str = "asset_id",
) -> DataFrame:
    """Near-duplicate audio pairs: ahash64 sketches + the shared pigeonhole
    Hamming banding (operators/dedup.hamming_band_pairs). Undecodable or
    too-short payloads drop (quarantine's job); payload bytes never
    shuffle."""
    from tweets_elastic_spark.operators.dedup import hamming_band_pairs

    out_schema = "_id long, _sig long"

    def hash_batch(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for b in batches:
            ids, sigs = [], []
            for i, payload in zip(b[id_col], b[payload_col]):
                try:
                    sigs.append(ahash64(bytes(payload)))
                    ids.append(i)
                except (ValueError, wave.Error, EOFError):
                    continue
            yield pd.DataFrame({"_id": ids, "_sig": sigs})

    sig = assets.select(id_col, payload_col).mapInPandas(
        hash_batch, out_schema
    )
    return hamming_band_pairs(sig, max_distance=max_distance)


# ---------------------------------------------------------------------------
# Native sample decode: the gated ffmpeg seam (r11 — the PNG/Pillow gate
# policy applied to MP4 pixels and MP3 PCM, closing the policy asymmetry
# the r10 review noted). ffmpeg is absent in this sandbox, so the native
# functions raise loudly here and the pytest is skip-gated — exactly like
# functions/png.decode_png_native on Pillow. Container metadata and frame
# ADDRESSING (sample_frames' exact mdat byte ranges) never need ffmpeg.
# ---------------------------------------------------------------------------

import shutil as _shutil

_FFMPEG = _shutil.which("ffmpeg")


def _ffmpeg_run(payload: bytes, suffix: str, args: list[str]) -> bytes:
    """Feed ``payload`` to ffmpeg through a temp file (MP4 needs seekable
    input when moov trails mdat) and return raw stdout bytes."""
    import os
    import subprocess
    import tempfile

    with tempfile.NamedTemporaryFile(suffix=suffix, delete=False) as f:
        f.write(payload)
        path = f.name
    try:
        proc = subprocess.run(
            [_FFMPEG, "-v", "error", "-i", path, *args, "pipe:1"],
            capture_output=True,
        )
        if proc.returncode != 0:
            raise ValueError(
                f"ffmpeg decode failed: {proc.stderr.decode(errors='replace')}"
            )
        return proc.stdout
    finally:
        os.unlink(path)


def decode_video_frames_native(payload: bytes, n_frames: int = 4) -> np.ndarray:
    """MP4 bytes → (n, H, W, 3) uint8 RGB frames through ffmpeg — the
    production pixel path behind the same mapInPandas seam as the
    codec-free sketches. Dimensions come from the container's own tkhd
    (functions/mp4.mp4_metadata), so the raw rgb24 stream reshapes
    without probing. Raises loudly when ffmpeg is not on PATH."""
    if _FFMPEG is None:
        raise NotImplementedError(
            "decode_video_frames_native needs ffmpeg on PATH; container "
            "metadata and sample_frames' exact frame addressing work "
            "without it"
        )
    from tweets_elastic_spark.functions.mp4 import mp4_metadata

    meta = mp4_metadata(payload)
    vide = next((t for t in meta.tracks if t.handler == "vide"), None)
    if vide is None or not vide.width or not vide.height:
        raise ValueError("MP4 has no video track with tkhd dimensions")
    out = _ffmpeg_run(
        payload, ".mp4",
        ["-f", "rawvideo", "-pix_fmt", "rgb24", "-frames:v", str(n_frames)],
    )
    frame_bytes = vide.width * vide.height * 3
    n = len(out) // frame_bytes
    if n == 0:
        raise ValueError("ffmpeg produced no complete frames")
    return np.frombuffer(out[: n * frame_bytes], np.uint8).reshape(
        n, vide.height, vide.width, 3
    )


def decode_audio_pcm_native(payload: bytes) -> np.ndarray:
    """MP3 bytes → mono int16 PCM samples through ffmpeg (s16le, one
    channel, the container's own sample rate). Raises loudly when ffmpeg
    is not on PATH."""
    if _FFMPEG is None:
        raise NotImplementedError(
            "decode_audio_pcm_native needs ffmpeg on PATH; frame-walk "
            "metadata (functions/mp3.mp3_metadata) works without it"
        )
    out = _ffmpeg_run(
        payload, ".mp3",
        ["-f", "s16le", "-acodec", "pcm_s16le", "-ac", "1"],
    )
    return np.frombuffer(out, np.int16)
