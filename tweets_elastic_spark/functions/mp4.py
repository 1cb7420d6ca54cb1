"""MP4 / ISO BMFF (ISO/IEC 14496-12) container parsing — pure stdlib.

Scraped multimodal corpora carry video as MP4; a training-data pipeline
needs (a) per-asset metadata (duration, track geometry, codec fourcc)
for filtering/stats and (b) the SAMPLE TABLE — per-frame byte ranges
into ``mdat`` — so frame-level operators (sampling, per-frame sketch
hashing, dedup) can address real frames WITHOUT a codec. This module
provides exactly that: box walking, ``moov`` metadata, and
``stbl``-derived (offset, size) sample ranges. FRAGMENTED files (fMP4 —
``moof``/``traf``/``trun``, the DASH/HLS/CMAF layout most scraped
streaming video actually uses) are supported: sample ranges
and durations come from each fragment's ``trun`` (with ``tfhd``/``trex``
defaults), bases resolved per the spec's default-base-is-moof rules.
Decoding the frames' PIXELS (H.264 etc.) needs a video codec and is out
of scope.

``build_mp4`` / ``build_fmp4`` assemble minimal valid one-video-track
files from raw "frame" blobs — the test-fixture encoder siblings (same
pattern as ``encode_png``: they exist so tests drive the parser through
real byte streams, not for production encoding).

Everything is per-payload, driver- or executor-local CPU invoked from
Arrow-batched ``mapInPandas`` — scan-local, never shuffled.
"""

from __future__ import annotations

import struct
from dataclasses import dataclass, field

__all__ = ["mp4_boxes", "mp4_metadata", "mp4_sample_ranges", "build_mp4",
           "build_fmp4"]


def _boxes4(buf: bytes, start: int = 0, end: int | None = None):
    """Yield ``(fourcc, box_start, body_start, box_end)`` for each box in
    ``buf[start:end]``. Handles 64-bit ``largesize`` (size==1) and
    to-end-of-file boxes (size==0); malformed sizes raise loudly."""
    end = len(buf) if end is None else end
    pos = start
    while pos + 8 <= end:
        size = int.from_bytes(buf[pos:pos + 4], "big")
        fourcc = buf[pos + 4:pos + 8]
        hdr = 8
        if size == 1:
            if pos + 16 > end:
                raise ValueError("truncated MP4 largesize box header")
            size = int.from_bytes(buf[pos + 8:pos + 16], "big")
            hdr = 16
        elif size == 0:
            size = end - pos
        if size < hdr or pos + size > end:
            raise ValueError(
                f"malformed MP4 box {fourcc!r} at offset {pos} "
                f"(size {size}, container ends at {end})"
            )
        yield fourcc, pos, pos + hdr, pos + size
        pos += size
    if pos != end:
        raise ValueError(f"trailing {end - pos} bytes after last MP4 box")


def mp4_boxes(buf: bytes, start: int = 0, end: int | None = None):
    """Yield ``(fourcc, body_start, box_end)`` for each box in
    ``buf[start:end]`` (see ``_boxes4`` for the box-start variant the
    fragment walker needs for default-base-is-moof offsets)."""
    for fc, _, b, e in _boxes4(buf, start, end):
        yield fc, b, e


def _find(buf: bytes, start: int, end: int, fourcc: bytes):
    for fc, b, e in mp4_boxes(buf, start, end):
        if fc == fourcc:
            return b, e
    return None


def _fullbox_times(body: bytes, v0_off: int, v1_off: int) -> tuple[int, int]:
    """(timescale, duration) from an mvhd/mdhd-shaped full box: version 0
    stores 32-bit times, version 1 64-bit."""
    version = body[0]
    if version == 0:
        ts, dur = struct.unpack_from(">II", body, v0_off)
    elif version == 1:
        ts = struct.unpack_from(">I", body, v1_off)[0]
        dur = struct.unpack_from(">Q", body, v1_off + 4)[0]
    else:
        raise ValueError(f"unknown full-box version {version}")
    return ts, dur


@dataclass
class Mp4Track:
    track_id: int
    handler: str          # 'vide' / 'soun' / ...
    codec: str            # stsd entry fourcc, e.g. 'avc1', 'mp4a'
    duration_s: float
    n_samples: int
    width: int = 0        # vide tracks; tkhd 16.16 fixed, integer part
    height: int = 0


@dataclass
class Mp4Metadata:
    major_brand: str
    duration_s: float
    tracks: list[Mp4Track] = field(default_factory=list)


def _parse_trak(buf: bytes, b: int, e: int) -> Mp4Track:
    tkhd = _find(buf, b, e, b"tkhd")
    if tkhd is None:
        raise ValueError("MP4 trak without tkhd")
    tb, te = tkhd
    version = buf[tb]
    # tkhd v0: ver/flags 4, ctime 4, mtime 4, track_id 4; v1: 8-byte times
    tid_off = tb + (12 if version == 0 else 20)
    track_id = int.from_bytes(buf[tid_off:tid_off + 4], "big")
    # width/height: the last 8 bytes of tkhd, 16.16 fixed point
    width = int.from_bytes(buf[te - 8:te - 4], "big") >> 16
    height = int.from_bytes(buf[te - 4:te], "big") >> 16

    mdia = _find(buf, b, e, b"mdia")
    if mdia is None:
        raise ValueError("MP4 trak without mdia")
    mb, me = mdia
    mdhd = _find(buf, mb, me, b"mdhd")
    hdlr = _find(buf, mb, me, b"hdlr")
    if mdhd is None or hdlr is None:
        raise ValueError("MP4 mdia without mdhd/hdlr")
    ts, dur = _fullbox_times(buf[mdhd[0]:mdhd[1]], 12, 20)
    handler = buf[hdlr[0] + 8:hdlr[0] + 12].decode("latin-1")

    minf = _find(buf, mb, me, b"minf")
    stbl = _find(buf, minf[0], minf[1], b"stbl") if minf else None
    codec, n_samples = "", 0
    if stbl is not None:
        sb, se = stbl
        stsd = _find(buf, sb, se, b"stsd")
        if stsd is not None and stsd[1] - stsd[0] >= 16:
            codec = buf[stsd[0] + 12:stsd[0] + 16].decode("latin-1")
        stsz = _find(buf, sb, se, b"stsz")
        if stsz is not None:
            n_samples = int.from_bytes(
                buf[stsz[0] + 8:stsz[0] + 12], "big"
            )
    return Mp4Track(
        track_id=track_id, handler=handler, codec=codec,
        duration_s=(dur / ts) if ts else 0.0, n_samples=n_samples,
        width=width, height=height,
    )


@dataclass
class _FragSample:
    offset: int
    size: int
    duration: int  # media-timescale ticks


def _parse_trex(payload: bytes, mb: int, me: int) -> dict[int, tuple[int, int]]:
    """moov>mvex>trex defaults: track_id → (default_duration,
    default_size). Empty when mvex is absent (then tfhd/trun must carry
    everything)."""
    mvex = _find(payload, mb, me, b"mvex")
    out: dict[int, tuple[int, int]] = {}
    if mvex is None:
        return out
    for fc, b, e in mp4_boxes(payload, mvex[0], mvex[1]):
        if fc == b"trex":
            tid, _sdi, ddur, dsize, _dflags = struct.unpack_from(
                ">IIIII", payload, b + 4
            )
            out[tid] = (ddur, dsize)
    return out


def _parse_fragments(
    payload: bytes, track_id: int, trex: dict[int, tuple[int, int]]
) -> list[_FragSample]:
    """Walk every ``moof`` and return the given track's fragment samples
    in file order — offsets resolved per ISO/IEC 14496-12 §8.8.7/8.8.8:
    ``tfhd`` base-data-offset when present, else the moof's first byte
    (both the explicit default-base-is-moof flag and the spec's default
    for the first traf resolve there); each ``trun``'s data_offset is
    relative to that base. A ``trun`` without data_offset, or a sample
    with no size from trun/tfhd/trex, raises loudly — guessing byte
    ranges would silently hash the wrong frames."""
    out: list[_FragSample] = []
    for fc, box_start, b, e in _boxes4(payload):
        if fc != b"moof":
            continue
        for tfc, tb, te in mp4_boxes(payload, b, e):
            if tfc != b"traf":
                continue
            tfhd = _find(payload, tb, te, b"tfhd")
            if tfhd is None:
                raise ValueError("MP4 traf without tfhd")
            hb = tfhd[0]
            flags = int.from_bytes(payload[hb + 1:hb + 4], "big")
            tid = int.from_bytes(payload[hb + 4:hb + 8], "big")
            if tid != track_id:
                continue
            pos = hb + 8
            base = box_start  # default-base-is-moof / spec default
            if flags & 0x000001:
                base = struct.unpack_from(">Q", payload, pos)[0]
                pos += 8
            if flags & 0x000002:
                pos += 4  # sample_description_index
            d_dur = d_size = None
            if flags & 0x000008:
                d_dur = struct.unpack_from(">I", payload, pos)[0]
                pos += 4
            if flags & 0x000010:
                d_size = struct.unpack_from(">I", payload, pos)[0]
                pos += 4
            tdur, tsize = trex.get(tid, (None, None))
            if d_dur is None:
                d_dur = tdur
            if d_size is None:
                d_size = tsize
            for rfc, rb, re_ in mp4_boxes(payload, tb, te):
                if rfc != b"trun":
                    continue
                rflags = int.from_bytes(payload[rb + 1:rb + 4], "big")
                count = int.from_bytes(payload[rb + 4:rb + 8], "big")
                rpos = rb + 8
                if not rflags & 0x000001:
                    raise ValueError(
                        "MP4 trun without data_offset is unsupported "
                        "(implicit contiguous-run bases need the previous "
                        "trun's end — refuse rather than guess)"
                    )
                doff = struct.unpack_from(">i", payload, rpos)[0]
                rpos += 4
                if rflags & 0x000004:
                    rpos += 4  # first_sample_flags
                cur = base + doff
                for _ in range(count):
                    dur = d_dur
                    if rflags & 0x000100:
                        dur = struct.unpack_from(">I", payload, rpos)[0]
                        rpos += 4
                    size = d_size
                    if rflags & 0x000200:
                        size = struct.unpack_from(">I", payload, rpos)[0]
                        rpos += 4
                    if rflags & 0x000400:
                        rpos += 4  # sample_flags
                    if rflags & 0x000800:
                        rpos += 4  # composition offset
                    if size is None:
                        raise ValueError(
                            "fMP4 sample without a size (no trun entry, "
                            "tfhd default, or trex default)"
                        )
                    out.append(_FragSample(cur, size, dur or 0))
                    cur += size
    return out


def mp4_metadata(payload: bytes) -> Mp4Metadata:
    """Parse ``ftyp`` + ``moov`` into :class:`Mp4Metadata`. Fragmented
    files: per-track sample counts and durations come from the
    ``moof`` fragments (``mvhd``/``mdhd`` durations are 0 by convention
    in fMP4), added onto whatever the progressive sample table holds."""
    major = ""
    moov = None
    fragmented = False
    for fc, b, e in mp4_boxes(payload):
        if fc == b"ftyp":
            major = payload[b:b + 4].decode("latin-1")
        elif fc == b"moov":
            moov = (b, e)
        elif fc == b"moof":
            fragmented = True
    if moov is None:
        raise ValueError("MP4 has no moov box (metadata-less or streaming "
                         "remainder)")
    mb, me = moov
    mvhd = _find(payload, mb, me, b"mvhd")
    if mvhd is None:
        raise ValueError("MP4 moov without mvhd")
    ts, dur = _fullbox_times(payload[mvhd[0]:mvhd[1]], 12, 20)
    tracks = [
        _parse_trak(payload, b, e)
        for fc, b, e in mp4_boxes(payload, mb, me)
        if fc == b"trak"
    ]
    duration_s = (dur / ts) if ts else 0.0
    if fragmented:
        trex = _parse_trex(payload, mb, me)
        for trak, (fc, b, e) in zip(
            tracks,
            (x for x in mp4_boxes(payload, mb, me) if x[0] == b"trak"),
        ):
            frags = _parse_fragments(payload, trak.track_id, trex)
            if not frags:
                continue
            mdia = _find(payload, b, e, b"mdia")
            mdhd = _find(payload, mdia[0], mdia[1], b"mdhd")
            mts, _ = _fullbox_times(payload[mdhd[0]:mdhd[1]], 12, 20)
            trak.n_samples += len(frags)
            trak.duration_s += (
                sum(s.duration for s in frags) / mts if mts else 0.0
            )
        duration_s = max(
            [duration_s] + [t.duration_s for t in tracks]
        )
    return Mp4Metadata(
        major_brand=major,
        duration_s=duration_s,
        tracks=tracks,
    )


def mp4_sample_ranges(
    payload: bytes, *, handler: str = "vide"
) -> list[tuple[int, int]]:
    """Per-sample ``(byte_offset, size)`` ranges for the first track with
    the given handler — the sample table decoded from ``stsz`` (sizes),
    ``stco``/``co64`` (chunk offsets) and ``stsc`` (samples-per-chunk
    runs), plus every ``moof`` fragment's ``trun`` entries for
    fragmented files, appended in file order. This is what lets frame
    operators address real frames without a codec: each range slices one
    access unit out of ``mdat``."""
    moov = _find(payload, 0, len(payload), b"moov")
    if moov is None:
        raise ValueError("MP4 has no moov box")
    for fc, b, e in mp4_boxes(payload, moov[0], moov[1]):
        if fc != b"trak":
            continue
        mdia = _find(payload, b, e, b"mdia")
        hdlr = _find(payload, mdia[0], mdia[1], b"hdlr") if mdia else None
        if hdlr is None:
            continue
        if payload[hdlr[0] + 8:hdlr[0] + 12].decode("latin-1") != handler:
            continue
        minf = _find(payload, mdia[0], mdia[1], b"minf")
        stbl = _find(payload, minf[0], minf[1], b"stbl") if minf else None
        if stbl is None:
            raise ValueError("MP4 track without stbl")
        sb, se = stbl

        stsz = _find(payload, sb, se, b"stsz")
        if stsz is None:
            raise ValueError("MP4 stbl without stsz")
        zb = stsz[0]
        fixed = int.from_bytes(payload[zb + 4:zb + 8], "big")
        count = int.from_bytes(payload[zb + 8:zb + 12], "big")
        if fixed:
            sizes = [fixed] * count
        else:
            sizes = list(struct.unpack_from(f">{count}I", payload, zb + 12))

        co = _find(payload, sb, se, b"stco")
        wide = False
        if co is None:
            co = _find(payload, sb, se, b"co64")
            wide = True
        if co is None:
            raise ValueError("MP4 stbl without stco/co64")
        cb = co[0]
        n_chunks = int.from_bytes(payload[cb + 4:cb + 8], "big")
        fmt = "Q" if wide else "I"
        chunk_offsets = list(
            struct.unpack_from(f">{n_chunks}{fmt}", payload, cb + 8)
        )

        stsc = _find(payload, sb, se, b"stsc")
        if stsc is None:
            raise ValueError("MP4 stbl without stsc")
        cb2 = stsc[0]
        n_runs = int.from_bytes(payload[cb2 + 4:cb2 + 8], "big")
        runs = [
            struct.unpack_from(">III", payload, cb2 + 8 + 12 * i)
            for i in range(n_runs)
        ]  # (first_chunk 1-based, samples_per_chunk, desc_id)

        out: list[tuple[int, int]] = []
        si = 0
        for ri, (first, spc, _) in enumerate(runs):
            last = (runs[ri + 1][0] - 1) if ri + 1 < len(runs) else n_chunks
            for chunk in range(first, last + 1):
                off = chunk_offsets[chunk - 1]
                for _ in range(spc):
                    if si >= len(sizes):
                        break
                    out.append((off, sizes[si]))
                    off += sizes[si]
                    si += 1
        if si != len(sizes):
            raise ValueError(
                f"MP4 sample table inconsistent: stsc/stco place {si} "
                f"samples, stsz declares {len(sizes)}"
            )
        # fragmented remainder: every moof's trun entries for this track,
        # in file order (progressive prefix first — a hybrid file's stbl
        # samples precede its fragments by construction)
        tkhd = _find(payload, b, e, b"tkhd")
        version = payload[tkhd[0]]
        tid_off = tkhd[0] + (12 if version == 0 else 20)
        track_id = int.from_bytes(payload[tid_off:tid_off + 4], "big")
        trex = _parse_trex(payload, moov[0], moov[1])
        out.extend(
            (s.offset, s.size)
            for s in _parse_fragments(payload, track_id, trex)
        )
        return out
    raise ValueError(f"MP4 has no {handler!r} track")


def build_mp4(
    frames: list[bytes],
    *,
    width: int = 64,
    height: int = 48,
    timescale: int = 1000,
    frame_duration: int = 40,
    codec: bytes = b"avc1",
) -> bytes:
    """Assemble a minimal progressive one-video-track MP4 whose ``mdat``
    carries ``frames`` verbatim (one chunk, one sample per frame) — the
    deterministic test-fixture encoder for the parser above."""

    def box(fourcc: bytes, body: bytes) -> bytes:
        return struct.pack(">I", 8 + len(body)) + fourcc + body

    n = len(frames)
    dur = n * frame_duration
    ftyp = box(b"ftyp", b"isom" + struct.pack(">I", 512) + b"isomiso2")
    mvhd = box(b"mvhd", struct.pack(">B3xIIII", 0, 0, 0, timescale, dur)
               + b"\x00" * 80)
    tkhd = box(b"tkhd", struct.pack(">B3xIIII", 0, 0, 0, 1, 0)
               + struct.pack(">I", dur) + b"\x00" * 52
               + struct.pack(">II", width << 16, height << 16))
    mdhd = box(b"mdhd", struct.pack(">B3xIIII", 0, 0, 0, timescale, dur)
               + b"\x00" * 4)
    hdlr = box(b"hdlr", b"\x00" * 8 + b"vide" + b"\x00" * 12 + b"v\x00")
    stsd = box(b"stsd", struct.pack(">B3xI", 0, 1)
               + box(codec, b"\x00" * 78))
    stts = box(b"stts", struct.pack(">B3xIII", 0, 1, n, frame_duration))
    stsc = box(b"stsc", struct.pack(">B3xIIII", 0, 1, 1, n, 1))
    stsz = box(b"stsz", struct.pack(">B3xII", 0, 0, n)
               + b"".join(struct.pack(">I", len(f)) for f in frames))
    # stco needs the mdat body offset: compute with a placeholder first
    def assemble(mdat_off: int) -> bytes:
        stco = box(b"stco", struct.pack(">B3xII", 0, 1, mdat_off))
        stbl = box(b"stbl", stsd + stts + stsc + stsz + stco)
        minf = box(b"minf", stbl)
        mdia = box(b"mdia", mdhd + hdlr + minf)
        trak = box(b"trak", tkhd + mdia)
        moov = box(b"moov", mvhd + trak)
        mdat = box(b"mdat", b"".join(frames))
        return ftyp + moov + mdat

    probe = assemble(0)
    mdat_body = len(probe) - len(b"".join(frames))  # offset of mdat payload
    return assemble(mdat_body)


def build_fmp4(
    fragments: list[list[bytes]],
    *,
    width: int = 64,
    height: int = 48,
    timescale: int = 1000,
    frame_duration: int = 40,
    codec: bytes = b"avc1",
    size_mode: str = "trun",
) -> bytes:
    """Assemble a minimal valid FRAGMENTED one-video-track MP4 (CMAF-ish
    layout): ``ftyp`` + ``moov`` (empty ``stbl``, ``mvex``/``trex``
    defaults) + one ``moof``+``mdat`` pair per fragment, each ``mdat``
    carrying that fragment's frames verbatim. ``size_mode`` places the
    per-sample sizes in the ``trun`` entries (``"trun"``), the ``tfhd``
    default (``"tfhd"``, equal-size frames only) or the ``trex`` default
    (``"trex"``) so tests drive all three resolution paths. The builder
    relies on the spec's default base (the moof's first byte) — no
    base-data-offset — with ``trun.data_offset`` spanning moof+mdat
    header, exactly the layout packagers emit."""
    if size_mode not in ("trun", "tfhd", "trex"):
        raise ValueError(f"bad size_mode {size_mode!r}")
    if size_mode in ("tfhd", "trex"):
        all_sizes = {len(f) for frag in fragments for f in frag}
        if len(all_sizes) != 1:
            raise ValueError(f"size_mode={size_mode!r} needs equal-size "
                             "frames (one default size)")
        (default_size,) = all_sizes
    else:
        default_size = 0

    def box(fourcc: bytes, body: bytes) -> bytes:
        return struct.pack(">I", 8 + len(body)) + fourcc + body

    ftyp = box(b"ftyp", b"iso5" + struct.pack(">I", 512) + b"iso5cmfc")
    # fMP4 convention: moov durations 0, fragments carry timing
    mvhd = box(b"mvhd", struct.pack(">B3xIIII", 0, 0, 0, timescale, 0)
               + b"\x00" * 80)
    tkhd = box(b"tkhd", struct.pack(">B3xIIII", 0, 0, 0, 1, 0)
               + struct.pack(">I", 0) + b"\x00" * 52
               + struct.pack(">II", width << 16, height << 16))
    mdhd = box(b"mdhd", struct.pack(">B3xIIII", 0, 0, 0, timescale, 0)
               + b"\x00" * 4)
    hdlr = box(b"hdlr", b"\x00" * 8 + b"vide" + b"\x00" * 12 + b"v\x00")
    stsd = box(b"stsd", struct.pack(">B3xI", 0, 1)
               + box(codec, b"\x00" * 78))
    # empty-but-present sample table (the spec-compliant fMP4 shape)
    stts = box(b"stts", struct.pack(">B3xI", 0, 0))
    stsc = box(b"stsc", struct.pack(">B3xI", 0, 0))
    stsz = box(b"stsz", struct.pack(">B3xII", 0, 0, 0))
    stco = box(b"stco", struct.pack(">B3xI", 0, 0))
    stbl = box(b"stbl", stsd + stts + stsc + stsz + stco)
    minf = box(b"minf", stbl)
    mdia = box(b"mdia", mdhd + hdlr + minf)
    trak = box(b"trak", tkhd + mdia)
    trex = box(b"trex", struct.pack(
        ">B3xIIIII", 0, 1, 1, frame_duration,
        default_size if size_mode == "trex" else 0, 0,
    ))
    moov = box(b"moov", mvhd + trak + box(b"mvex", trex))

    out = [ftyp, moov]
    decode_time = 0
    for seq, frames in enumerate(fragments, start=1):
        n = len(frames)
        mfhd = box(b"mfhd", struct.pack(">B3xI", 0, seq))
        # tfhd: default-base-is-moof (0x020000) + optional default size
        tf_flags = 0x020000 | (0x000010 if size_mode == "tfhd" else 0)
        tf_body = struct.pack(">B", 0) + tf_flags.to_bytes(3, "big") \
            + struct.pack(">I", 1)
        if size_mode == "tfhd":
            tf_body += struct.pack(">I", default_size)
        tfhd = box(b"tfhd", tf_body)
        tfdt = box(b"tfdt", struct.pack(">B3xI", 0, decode_time))
        decode_time += n * frame_duration
        # trun: data_offset + per-sample duration (+ size in trun mode)
        tr_flags = 0x000001 | 0x000100 | (
            0x000200 if size_mode == "trun" else 0)
        entries = b"".join(
            struct.pack(">I", frame_duration)
            + (struct.pack(">I", len(f)) if size_mode == "trun" else b"")
            for f in frames
        )
        # data_offset = moof size + mdat header (8); trun size depends
        # only on counts, so compute moof once with a placeholder
        def frag(doff: int) -> bytes:
            trun = box(b"trun", struct.pack(">B", 0)
                       + tr_flags.to_bytes(3, "big")
                       + struct.pack(">Ii", n, doff) + entries)
            traf = box(b"traf", tfhd + tfdt + trun)
            return box(b"moof", mfhd + traf)

        moof = frag(0)
        moof = frag(len(moof) + 8)
        out.append(moof)
        out.append(box(b"mdat", b"".join(frames)))
    return b"".join(out)
