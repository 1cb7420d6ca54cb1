"""Multimodal plumbing: binary schema contract, Arrow batch shapes (1→1 and
1→N), determinism, and payload-column pruning."""

from __future__ import annotations

import pytest
from pyspark.sql.types import BinaryType

from tweets_elastic_spark.functions.multimodal import (
    attach_payload,
    decode_assets,
    sample_frames,
)
from tweets_elastic_spark.sources.catalog import load_table

SF = "/root/testdata/sf0.001"


def _assets(spark):
    return attach_payload(load_table(spark, SF, "documents"))


def test_payload_is_binary_with_modality(spark):
    assets = _assets(spark)
    schema = {f.name: f.dataType for f in assets.schema.fields}
    assert isinstance(schema["payload"], BinaryType)
    mods = {r["modality"] for r in assets.select("modality").distinct().collect()}
    assert mods == {"image", "audio", "video"}


def test_decode_metadata_matches_payload(spark):
    decoded = decode_assets(_assets(spark))
    rows = decoded.collect()
    assert len(rows) == 500
    r = rows[0]
    assert r["width"] == 1 + r["n_bytes"] % 640
    assert r["height"] == 1 + r["n_bytes"] % 480
    assert len(r["sha256"]) == 64


def test_frame_sampling_one_to_n(spark):
    assets = _assets(spark)
    n_videos = assets.filter("modality = 'video'").count()
    frames = sample_frames(assets, n_frames=4)
    assert frames.count() == 4 * n_videos
    one = frames.filter("asset_id = 2").collect()  # doc 2 → video
    assert [r["frame_idx"] for r in sorted(one, key=lambda r: r["frame_idx"])] == [0, 1, 2, 3]
    offs = [r["byte_offset"] for r in sorted(one, key=lambda r: r["frame_idx"])]
    assert offs == sorted(offs) and offs[0] == 0


def test_metadata_plan_prunes_payload(spark):
    """Selecting only modality must not drag the payload column through the
    plan — at 100 TB the payload IS the data volume."""
    assets = _assets(spark)
    plan = assets.select("modality").distinct()._jdf.queryExecution().executedPlan().toString()
    assert "payload" not in plan


# -- real stdlib codecs (PPM images, WAV audio) --------------------------------

def _make_ppm_df(spark, arrays):
    import numpy as np
    from tweets_elastic_spark.functions.multimodal import MIME_PPM, encode_ppm

    rows = [(i, "image", bytearray(encode_ppm(np.array(a, dtype=np.uint8))), MIME_PPM)
            for i, a in enumerate(arrays)]
    return spark.createDataFrame(
        rows, "asset_id long, modality string, payload binary, mime_type string"
    )


def test_ppm_roundtrip_and_decode(spark):
    import numpy as np
    from tweets_elastic_spark.functions.multimodal import decode_assets, decode_ppm, encode_ppm

    img = np.arange(2 * 3 * 3, dtype=np.uint8).reshape(2, 3, 3)  # H=2, W=3
    assert (decode_ppm(encode_ppm(img)) == img).all()
    # comment + whitespace variants in the header parse too
    variant = b"P6\n# a comment\n3 2\n255\n" + img.tobytes()
    assert (decode_ppm(variant) == img).all()

    out = decode_assets(_make_ppm_df(spark, [img])).head()
    assert (out["width"], out["height"]) == (3, 2)


def test_wav_decode_meta(spark):
    import io
    import wave as wavmod
    from tweets_elastic_spark.functions.multimodal import MIME_WAV, decode_assets

    buf = io.BytesIO()
    with wavmod.open(buf, "wb") as wf:
        wf.setnchannels(1)
        wf.setsampwidth(2)
        wf.setframerate(16000)
        wf.writeframes(b"\x00\x01" * 1234)
    df = spark.createDataFrame(
        [(1, "audio", bytearray(buf.getvalue()), MIME_WAV)],
        "asset_id long, modality string, payload binary, mime_type string",
    )
    out = decode_assets(df).head()
    assert (out["width"], out["height"]) == (16000, 1234)  # (rate, frames)


def test_mp4_mp3_metadata_decode(spark):
    """r10: MP4/MP3 container metadata is REAL (pure-stdlib parse); only
    the pixel/PCM codec step stays stubbed. Malformed payloads raise
    loudly through the Spark seam."""
    import pytest as pt
    from pyspark.sql.utils import PythonException
    from tweets_elastic_spark.functions.mp3 import build_mp3
    from tweets_elastic_spark.functions.mp4 import build_mp4
    from tweets_elastic_spark.functions.multimodal import decode_assets

    mp4 = build_mp4([b"frame-%d" % i for i in range(6)], width=64, height=48)
    mp3 = build_mp3(38, bitrate_kbps=128, sample_rate=44100)
    df = spark.createDataFrame(
        [(1, "video", bytearray(mp4), "video/mp4"),
         (2, "audio", bytearray(mp3), "audio/mpeg")],
        "asset_id long, modality string, payload binary, mime_type string",
    )
    meta = {r["asset_id"]: r for r in decode_assets(df).collect()}
    assert (meta[1]["width"], meta[1]["height"]) == (64, 48)
    # audio convention (same as WAV): (sample_rate, n_frames)
    assert (meta[2]["width"], meta[2]["height"]) == (44100, 38)

    bad = spark.createDataFrame(
        [(1, "video", bytearray(b"\x00\x00\x00\x18ftyp"), "video/mp4")],
        "asset_id long, modality string, payload binary, mime_type string",
    )
    with pt.raises(PythonException, match="malformed MP4 box"):
        decode_assets(bad).collect()


def test_mp4_sample_table_frame_addressing():
    """The sample table addresses real access units: every (offset, size)
    range slices the exact frame bytes back out of mdat."""
    from tweets_elastic_spark.functions.mp4 import (
        build_mp4, mp4_metadata, mp4_sample_ranges,
    )

    frames = [b"f%d" % i * (i + 3) for i in range(7)]
    p = build_mp4(frames, width=32, height=24, frame_duration=40)
    assert [p[o:o + s] for o, s in mp4_sample_ranges(p)] == frames
    md = mp4_metadata(p)
    (t,) = md.tracks
    assert (t.handler, t.codec, t.n_samples) == ("vide", "avc1", 7)
    assert abs(md.duration_s - 7 * 0.040) < 1e-9
    # a bare moof with no moov is metadata-less either way (r11: moof no
    # longer refuses wholesale — fragments parse; moov stays required)
    with pytest.raises(ValueError, match="no moov"):
        mp4_metadata(b"\x00\x00\x00\x08moof")
    with pytest.raises(ValueError, match="no moov"):
        mp4_metadata(b"\x00\x00\x00\x08mdat")


def test_fragmented_mp4_frame_addressing():
    """fMP4 (r11): sample ranges resolved from moof/traf/trun across all
    three size-resolution paths (trun entries, tfhd default, trex
    default), default-base-is-moof offsets, metadata aggregated from
    fragments (fMP4 moov durations are 0 by convention)."""
    from tweets_elastic_spark.functions.mp4 import (
        build_fmp4, mp4_metadata, mp4_sample_ranges,
    )

    frags = [[b"frameAA", b"frameBBB"], [b"frameCCCC"],
             [b"fD", b"fEE", b"fFFF"]]
    flat = [f for frag in frags for f in frag]
    p = build_fmp4(frags, width=32, height=24, frame_duration=40)
    assert [p[o:o + s] for o, s in mp4_sample_ranges(p)] == flat
    md = mp4_metadata(p)
    (t,) = md.tracks
    assert (t.handler, t.codec, t.n_samples, t.width) == (
        "vide", "avc1", 6, 32)
    assert abs(md.duration_s - 6 * 0.040) < 1e-9

    eq = [[b"AAAA", b"BBBB"], [b"CCCC"]]
    for mode in ("tfhd", "trex"):
        p = build_fmp4(eq, size_mode=mode)
        assert [p[o:o + s] for o, s in mp4_sample_ranges(p)] == \
            [b"AAAA", b"BBBB", b"CCCC"], mode
        assert mp4_metadata(p).tracks[0].n_samples == 3
    # unequal frames cannot ride a single default size — loud
    with pytest.raises(ValueError, match="equal-size"):
        build_fmp4(frags, size_mode="tfhd")


def test_fragmented_mp4_through_sample_frames(spark):
    """The Spark frame-sampling operator addresses fMP4 frames exactly
    like progressive ones — same mapInPandas seam, zero code switches."""
    import hashlib

    from tweets_elastic_spark.functions.mp4 import build_fmp4
    from tweets_elastic_spark.functions.multimodal import sample_frames

    frames = [b"alpha-frame", b"beta-frame!", b"gamma-frame"]
    payload = build_fmp4([frames[:2], frames[2:]])
    assets = spark.createDataFrame(
        [(1, "video", bytearray(payload), "video/mp4")],
        "asset_id long, modality string, payload binary, mime_type string",
    )
    got = {(r["frame_idx"], r["frame_sha"])
           for r in sample_frames(assets, n_frames=3).collect()}
    want = {(i, hashlib.sha256(f).hexdigest()) for i, f in enumerate(frames)}
    assert got == want


def test_mp3_frame_walk_and_guards():
    from tweets_elastic_spark.functions.mp3 import (
        build_mp3, mp3_frames, mp3_metadata,
    )

    a = build_mp3(19, bitrate_kbps=160, sample_rate=32000)
    m = mp3_metadata(a)
    assert (m.n_frames, m.sample_rate, m.bitrate_kbps_avg) == (19, 32000, 160.0)
    assert abs(m.duration_s - 19 * 1152 / 32000) < 1e-9
    # ID3v2 prefix + ID3v1 trailer are skipped, frames still parse
    wrapped = (b"ID3\x03\x00\x00" + bytes([0, 0, 0, 10]) + b"x" * 10
               + a + b"TAG" + b"\x00" * 125)
    m2 = mp3_metadata(wrapped)
    assert m2.n_frames == 19 and m2.has_id3v2
    with pytest.raises(ValueError, match="sync"):
        mp3_frames(b"\x00\x00\x00\x00" + a)
    with pytest.raises(ValueError, match="truncated"):
        mp3_frames(a[:-10])


def test_mp3_layer_one_and_two_frames():
    """Layers I and II (r12, formerly a loud refusal): Layer I uses
    384 samples/frame and 4-byte slots (length = 4*(12*br/rate) +
    4*padding), Layer II 1152 samples with the 144 multiplier and its
    own MPEG-1 bitrate table. Mixed-layer archives parse frame by
    frame."""
    from tweets_elastic_spark.functions.mp3 import (
        build_mp3, mp3_frames, mp3_metadata,
    )

    l1 = build_mp3(5, bitrate_kbps=192, sample_rate=48000, layer=1)
    f = mp3_frames(l1)[0]
    assert (f.layer, f.samples, f.length) == (1, 384, 192)
    assert abs(mp3_metadata(l1).duration_s - 5 * 384 / 48000) < 1e-9
    l2 = build_mp3(4, bitrate_kbps=160, sample_rate=44100, layer=2)
    f2 = mp3_frames(l2)[0]
    assert (f2.layer, f2.samples, f2.bitrate_kbps) == (2, 1152, 160)
    assert f2.length == 144 * 160 * 1000 // 44100
    # bitrate tables differ per layer: 56 kbps exists in the Layer II
    # table but not Layer I's
    with pytest.raises(ValueError):
        build_mp3(1, bitrate_kbps=56, sample_rate=44100, layer=1)
    assert mp3_frames(build_mp3(1, bitrate_kbps=56, sample_rate=44100,
                                layer=2))[0].bitrate_kbps == 56
    # reserved layer id still refuses
    import struct as _s

    h = (0x7FF << 21) | (0x3 << 19) | (0x0 << 17) | (0x1 << 16) \
        | (0x5 << 12) | (0x0 << 10)
    with pytest.raises(ValueError, match="reserved MPEG layer"):
        mp3_frames(_s.pack(">I", h) + b"\x00" * 100)


def test_mp4_sample_frames_real_access_units(spark):
    """sample_frames on an MP4 hashes the container's REAL frames (mdat
    byte ranges from the sample table), not arbitrary byte windows."""
    import hashlib

    from tweets_elastic_spark.functions.mp4 import build_mp4, mp4_sample_ranges
    from tweets_elastic_spark.functions.multimodal import sample_frames

    frames = [b"payload-%02d" % i * 3 for i in range(8)]
    p = build_mp4(frames)
    df = spark.createDataFrame(
        [(9, "video", bytearray(p), "video/mp4")],
        "asset_id long, modality string, payload binary, mime_type string",
    )
    got = {r["frame_idx"]: (r["byte_offset"], r["frame_sha"])
           for r in sample_frames(df, n_frames=4).collect()}
    ranges = mp4_sample_ranges(p)
    assert len(got) == 4
    for i in range(4):
        off, size = ranges[(len(ranges) * i) // 4]
        assert got[i] == (off, hashlib.sha256(p[off:off + size]).hexdigest())


def test_unrecognized_mime_raises_not_fabricates():
    """Real-world mimes outside the codec sets must fail loudly — fake
    dimensions are reserved for the explicit synthetic mime."""
    from tweets_elastic_spark.functions.multimodal import _decode_one

    with pytest.raises(NotImplementedError, match="unrecognized mime"):
        _decode_one(b"GIF89a....", "image", "image/gif")
    # image/jpeg decodes for real since r8
    import numpy as np

    from tweets_elastic_spark.functions.jpeg import encode_jpeg

    img = np.full((24, 40, 3), 77, dtype=np.uint8)
    w, h = _decode_one(encode_jpeg(img), "image", "image/jpeg")
    assert (w, h) == (40, 24)
    # the synthetic mime still gets deterministic pseudo-dims
    w, h = _decode_one(b"ten bytes!", "image", "application/x-fake")
    assert (w, h) == (1 + 10 % 640, 1 + 10 % 480)


def test_dhash_stable_under_noise_distinct_across_images():
    import numpy as np

    from tweets_elastic_spark.functions.multimodal import dhash64

    rng = np.random.default_rng(7)
    base = rng.integers(0, 256, (32, 48, 3), dtype=np.uint8)
    noisy = base.astype(np.int16).copy()
    noisy[::7, ::5] += rng.integers(-4, 5, noisy[::7, ::5].shape)
    noisy = np.clip(noisy, 0, 255).astype(np.uint8)
    other = rng.integers(0, 256, (32, 48, 3), dtype=np.uint8)

    h_base, h_noisy, h_other = dhash64(base), dhash64(noisy), dhash64(other)
    ham = lambda a, b: bin((a ^ b) & ((1 << 64) - 1)).count("1")
    assert ham(h_base, h_noisy) <= 3
    assert ham(h_base, h_other) > 10
    # brightness shift barely moves the hash (difference-based)
    brighter = np.clip(base.astype(np.int16) + 30, 0, 255).astype(np.uint8)
    assert ham(h_base, dhash64(brighter)) <= 3


def test_image_near_dups_finds_planted_pairs(spark):
    import numpy as np

    from tweets_elastic_spark.functions.multimodal import (
        encode_ppm, image_near_dups,
    )

    rng = np.random.default_rng(11)
    rows = []
    for g in range(5):
        base = rng.integers(0, 256, (24, 24, 3), dtype=np.uint8)
        for j in range(2):  # two near-identical variants per group
            img = base.copy()
            img[0, j, 0] = (int(img[0, j, 0]) + 2) % 256
            rows.append((g * 10 + j, bytearray(encode_ppm(img))))
    rows.append((999, bytearray(b"not a ppm")))
    assets = spark.createDataFrame(rows, "asset_id long, payload binary")
    pairs = {
        (r["id_a"], r["id_b"])
        for r in image_near_dups(assets, max_distance=3).collect()
    }
    assert pairs == {(g * 10, g * 10 + 1) for g in range(5)}
