"""Multimodal plumbing queries: binary payloads derived deterministically
from the documents corpus, decoded via mapInPandas — metadata checked
against a pure-SQL oracle (the stub codec's formulas are SQL-expressible by
design, so the whole Arrow plumbing path gets a hard correctness gate)."""

from __future__ import annotations

import hashlib

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from tweets_elastic_spark.functions.hashing import hash60_sql
from tweets_elastic_spark.functions.jpeg import (
    encode_jpeg,
    encode_jpeg_lossless,
    encode_jpeg_progressive,
)
from tweets_elastic_spark.functions.mp4 import build_fmp4, build_mp4
from tweets_elastic_spark.functions.multimodal import (
    attach_payload,
    decode_assets,
    encode_ppm,
    image_near_dups,
    sample_frames,
)
from tweets_elastic_spark.functions.png import encode_png
from tweets_elastic_spark.registry import register
from tweets_elastic_spark.sources.catalog import cluster_by, load_table
from tweets_elastic_spark.sources.warc import build_warc, warc_records


@register(
    "multimodal_decode",
    oracle="""
    SELECT doc_id AS asset_id,
           ['image','audio','video'][(doc_id % 3) + 1] AS modality,
           octet_length(encode(text)) AS n_bytes,
           sha256(text) AS sha256,  -- VARCHAR overload == sha256 of utf-8 bytes
           CAST(1 + octet_length(encode(text)) % 640 AS INT) AS width,
           CAST(1 + octet_length(encode(text)) % 480 AS INT) AS height
    FROM documents
    """,
    doc="Binary-column decode plumbing (mapInPandas, stub codec) with full "
        "metadata oracle.",
)
def q_multimodal_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return decode_assets(attach_payload(docs))


@register(
    "multimodal_frame_sample",
    oracle="""
    SELECT doc_id AS asset_id,
           CAST(f AS INT) AS frame_idx,
           (octet_length(encode(text)) * f) // 4 AS byte_offset
    FROM documents, range(4) r(f)
    WHERE doc_id % 3 = 2 AND octet_length(encode(text)) > 0
    """,
    doc="1→N frame sampling for video assets (explode-shaped mapInPandas).",
)
def q_multimodal_frame_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return sample_frames(attach_payload(docs), n_frames=4).select(
        "asset_id", "frame_idx", "byte_offset"
    )


# ---------------------------------------------------------------------------
# Perceptual image dedup with a FULL oracle: payloads are real P6 PPM bytes
# built from a deterministic md5 pixel formula (groups of 4 near-identical
# images, one noised pixel per variant), the Spark side goes through the
# ACTUAL codec pipeline (encode -> decode -> grayscale -> 9x8 resize ->
# dHash bits -> banding join), and the oracle recomputes the very same 64
# bits ARITHMETICALLY from the pixel formula — agreeing hashes prove the
# whole byte-level round trip, not just the join.
# ---------------------------------------------------------------------------

_IMG_H = _IMG_W = 12
_IMG_ROWS = [(i * _IMG_H) // 8 for i in range(8)]
_IMG_COLS = [(i * _IMG_W) // 9 for i in range(9)]


def _planted_grid_assets(docs: DataFrame, salt: str = "", codec: str = "ppm") -> DataFrame:
    """(asset_id, payload): images whose grid pixels (the only ones
    dHash samples) come from hash60(salt + gid:y:x:c) % 256 with
    gid = doc_id//4, plus (doc_id % 4) noise on pixel (0,0,0) — four
    near-identical variants per group, everything else deterministic.
    ``codec='ppm'`` emits P6 bytes; ``codec='png'`` emits real PNG bytes
    with the scanline filter cycled per image (doc_id % 5) and bit depth
    16 on every 7th image so the oracle-gated row drives every
    decoder unfilter path AND the 16-bit high-byte strip;
    ``codec='jpegll'`` emits real SOF3 LOSSLESS JPEG bytes with
    the predictor cycled per image (doc_id % 7 + 1 — all seven Annex H
    predictors) — lossless, so the same arithmetic oracle holds."""
    rows_, cols_ = _IMG_ROWS, _IMG_COLS
    h, w = _IMG_H, _IMG_W

    def h60(s: str) -> int:
        return int(hashlib.md5(s.encode()).hexdigest()[:15], 16)

    def build(batches):
        base_cache: dict[int, np.ndarray] = {}

        def base_pixels(gid: int) -> np.ndarray:
            got = base_cache.get(gid)
            if got is None:
                px = np.zeros((h, w, 3), dtype=np.uint8)
                for y in rows_:
                    for x in cols_:
                        for c in range(3):
                            px[y, x, c] = h60(f"{salt}{gid}:{y}:{x}:{c}") % 256
                got = base_cache[gid] = px
            return got

        for b in batches:
            ids, payloads = [], []
            for did in b["doc_id"]:
                did = int(did)
                px = base_pixels(did // 4).copy()
                px[0, 0, 0] = (int(px[0, 0, 0]) + did % 4) % 256
                ids.append(did)
                if codec == "jpegll":
                    payloads.append(bytearray(encode_jpeg_lossless(
                        px, predictor=did % 7 + 1,
                    )))
                elif codec == "png":
                    # depth 16 on every 7th image: the 8→16
                    # replication round-trips to identical pixels, so
                    # the arithmetic oracle covers the 16-bit decode
                    # path with zero formula changes
                    payloads.append(bytearray(encode_png(
                        px, filter_type=did % 5,
                        depth=16 if did % 7 == 0 else 8,
                    )))
                else:
                    payloads.append(bytearray(encode_ppm(px)))
            yield pd.DataFrame({"asset_id": ids, "payload": payloads})

    return docs.select("doc_id").mapInPandas(
        build, "asset_id long, payload binary"
    )


def _planted_ppm_assets(docs: DataFrame) -> DataFrame:
    return _planted_grid_assets(docs, salt="", codec="ppm")


def _image_dedup_oracle(salt: str = "") -> str:
    def px(y: int, x: int, c: int) -> str:
        feat = f"'{salt}' || gid::VARCHAR || ':{y}:{x}:{c}'"
        base = f"{hash60_sql(feat)} % 256"
        if y == 0 and x == 0 and c == 0:
            return f"(({base}) + doc_id % 4) % 256"
        return base

    grays = []
    for r, y in enumerate(_IMG_ROWS):
        for cc, x in enumerate(_IMG_COLS):
            grays.append(
                f"({px(y, x, 0)} + {px(y, x, 1)} + {px(y, x, 2)}) / 3.0"
                f" AS g_{r}_{cc}"
            )
    bits = []
    k = 0
    for r in range(8):
        for cc in range(8):
            bits.append(
                f"CASE WHEN g_{r}_{cc} < g_{r}_{cc + 1} THEN "
                f"{1 << (63 - k)}::HUGEINT ELSE 0::HUGEINT END"
            )
            k += 1
    vsum = " + ".join(bits)
    chunk_eq = " OR ".join(
        f"((a.s >> {i * 16}) & 65535) = ((b.s >> {i * 16}) & 65535)"
        for i in range(4)
    )
    return f"""
    WITH g AS (
        SELECT doc_id, {', '.join(grays)}
        FROM (SELECT doc_id, doc_id // 4 AS gid FROM documents)
    ), sig AS (
        SELECT doc_id,
               CAST(CASE WHEN v >= 9223372036854775808::HUGEINT
                         THEN v - 18446744073709551616::HUGEINT
                         ELSE v END AS BIGINT) AS s
        FROM (SELECT doc_id, {vsum} AS v FROM g)
    )
    SELECT a.doc_id AS id_a, b.doc_id AS id_b,
           CAST(bit_count(xor(a.s, b.s)) AS INT) AS distance
    FROM sig a JOIN sig b
      ON a.doc_id < b.doc_id AND ({chunk_eq})
    WHERE bit_count(xor(a.s, b.s)) <= 3
    """


# ---------------------------------------------------------------------------
# The JPEG twin: payloads are REAL baseline-JFIF bytes (4:2:0,
# quality=100) produced by the pure-stdlib encoder, decoded by the
# decoder inside image_dhash. The fixture is 8×9 constant 8×8 gray blocks:
# gray→YCbCr is exact, constant blocks are DC-only, and q=100 quant tables
# are all ones — so decode(encode(img)) is BIT-EXACT and the oracle can
# recompute the decoded pixels (hence the full dHash) arithmetically. A
# green row proves the entire encode → Huffman/DCT decode → grayscale →
# 9×8 resample → dHash → banding pipeline byte-for-byte.
# ---------------------------------------------------------------------------

_JPEG_BLOCK_ROWS = 8   # image is 64×72: one 8×8 block per dHash grid cell
_JPEG_BLOCK_COLS = 9


def _planted_jpeg_assets(docs: DataFrame) -> DataFrame:
    """(asset_id, payload): baseline JPEGs whose 8×9 constant gray blocks
    come from hash60('j:gid:r:c') % 200 + 20 with gid = doc_id//4, plus
    (doc_id % 4) noise on block (0,0) — four near-identical variants per
    group (the noised cell feeds exactly one dHash bit)."""
    rows_, cols_ = _JPEG_BLOCK_ROWS, _JPEG_BLOCK_COLS

    def h60(s: str) -> int:
        return int(hashlib.md5(s.encode()).hexdigest()[:15], 16)

    def build(batches):
        base_cache: dict[int, np.ndarray] = {}

        def base_blocks(gid: int) -> np.ndarray:
            got = base_cache.get(gid)
            if got is None:
                blk = np.zeros((rows_, cols_), dtype=np.uint8)
                for r in range(rows_):
                    for c in range(cols_):
                        blk[r, c] = h60(f"j:{gid}:{r}:{c}") % 200 + 20
                got = base_cache[gid] = blk
            return got

        for b in batches:
            ids, payloads = [], []
            for did in b["doc_id"]:
                did = int(did)
                blk = base_blocks(did // 4).copy()
                blk[0, 0] = int(blk[0, 0]) + did % 4   # stays <= 222
                px = np.repeat(np.repeat(blk, 8, 0), 8, 1)
                img = np.stack([px, px, px], axis=2)
                ids.append(did)
                # every 3rd image ships PROGRESSIVE (SOF2): same
                # coefficients, multi-scan layout — the q=100 constant-
                # block exactness holds identically, so the arithmetic
                # oracle now gates the progressive decode paths too
                enc = (encode_jpeg_progressive if did % 3 == 0
                       else encode_jpeg)
                payloads.append(bytearray(
                    enc(img, quality=100, subsample=True)
                ))
            yield pd.DataFrame({"asset_id": ids, "payload": payloads})

    return docs.select("doc_id").mapInPandas(
        build, "asset_id long, payload binary"
    )


def _image_jpeg_dedup_oracle() -> str:
    def g(r: int, c: int) -> str:
        feat = f"'j:' || gid::VARCHAR || ':{r}:{c}'"
        base = f"{hash60_sql(feat)} % 200 + 20"
        if r == 0 and c == 0:
            return f"({base}) + doc_id % 4"
        return base

    grays = [
        f"{g(r, c)} AS g_{r}_{c}"
        for r in range(_JPEG_BLOCK_ROWS) for c in range(_JPEG_BLOCK_COLS)
    ]
    bits = []
    k = 0
    for r in range(8):
        for c in range(8):
            bits.append(
                f"CASE WHEN g_{r}_{c} < g_{r}_{c + 1} THEN "
                f"{1 << (63 - k)}::HUGEINT ELSE 0::HUGEINT END"
            )
            k += 1
    vsum = " + ".join(bits)
    chunk_eq = " OR ".join(
        f"((a.s >> {i * 16}) & 65535) = ((b.s >> {i * 16}) & 65535)"
        for i in range(4)
    )
    return f"""
    WITH g AS (
        SELECT doc_id, {', '.join(grays)}
        FROM (SELECT doc_id, doc_id // 4 AS gid FROM documents)
    ), sig AS (
        SELECT doc_id,
               CAST(CASE WHEN v >= 9223372036854775808::HUGEINT
                         THEN v - 18446744073709551616::HUGEINT
                         ELSE v END AS BIGINT) AS s
        FROM (SELECT doc_id, {vsum} AS v FROM g)
    )
    SELECT a.doc_id AS id_a, b.doc_id AS id_b,
           CAST(bit_count(xor(a.s, b.s)) AS INT) AS distance
    FROM sig a JOIN sig b
      ON a.doc_id < b.doc_id AND ({chunk_eq})
    WHERE bit_count(xor(a.s, b.s)) <= 3
    """


@register(
    "image_near_dups_jpeg",
    oracle=_image_jpeg_dedup_oracle(),
    doc="Perceptual near-dup over REAL baseline-JFIF payloads: the "
        "pure-stdlib JPEG codec (SOF0, Huffman, 4:2:0) encodes constant "
        "8x8 gray blocks at quality=100 — a configuration the decoder "
        "reconstructs BIT-EXACTLY (DC-only blocks, unit quant step, exact "
        "gray YCbCr round trip) — and the dHash/banding path runs over "
        "the decoded pixels. The oracle recomputes the decoded grid "
        "arithmetically, so a green row pins the whole marker-parse -> "
        "Huffman -> dequant -> IDCT -> upsample -> hash pipeline.",
)
def q_image_near_dups_jpeg(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    assets = _planted_jpeg_assets(docs)
    out = image_near_dups(assets, max_distance=3)
    return out.select(
        "id_a", "id_b", F.col("distance").cast("int").alias("distance")
    )


@register(
    "image_near_dups",
    oracle=_image_dedup_oracle(),
    doc="Perceptual image near-dup (multimodal x dedup crossover): dHash "
        "sketches (grayscale -> 9x8 nearest-neighbor resize -> 64 "
        "left<right bits) over REAL P6 PPM payloads, paired with the same "
        "pigeonhole Hamming banding SimHash uses. Payload bytes never "
        "shuffle — only the 8-byte sketch leaves the scan. The oracle "
        "recomputes the 64 bits arithmetically from the deterministic "
        "pixel formula, so a green row proves the encode -> decode -> "
        "resize -> hash byte pipeline end-to-end.",
)
def q_image_near_dups(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    assets = _planted_ppm_assets(docs)
    out = image_near_dups(assets, max_distance=3)

    return out.select(
        "id_a", "id_b", F.col("distance").cast("int").alias("distance")
    )


@register(
    "image_near_dups_png",
    oracle=_image_dedup_oracle(salt="n:"),
    doc="Perceptual near-dup over REAL PNG payloads: the pure-stdlib "
        "zlib+unfilter PNG codec encodes the deterministic pixel grid with "
        "the scanline filter cycled per image (None/Sub/Up/Average/Paeth by "
        "doc_id % 5) — PNG is lossless, so decode(encode(px)) is exact for "
        "every filter and the oracle recomputes the dHash bits "
        "arithmetically from the same pixel formula. A green row pins "
        "signature/chunk/CRC parse -> inflate -> all five unfilter paths -> "
        "grayscale -> 9x8 resample -> dHash -> banding end-to-end.",
)
def q_image_near_dups_png(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    assets = _planted_grid_assets(docs, salt="n:", codec="png")
    out = image_near_dups(assets, max_distance=3)
    return out.select(
        "id_a", "id_b", F.col("distance").cast("int").alias("distance")
    )


@register(
    "image_near_dups_jpeg_lossless",
    oracle=_image_dedup_oracle(salt="l:"),
    doc="Perceptual near-dup over REAL lossless-JPEG payloads ("
        "SOF3 — T.81 Annex H predictive coding, formerly a loud "
        "refusal): the pure-stdlib encoder cycles all seven spec "
        "predictors per image (doc_id % 7 + 1), and lossless means "
        "decode(encode(px)) == px bit-exactly for ARBITRARY pixels — "
        "no constant-block trick needed — so the oracle recomputes the "
        "dHash bits arithmetically from the same pixel formula. A green "
        "row pins marker parse -> extended-category Huffman -> all "
        "seven predictors -> modulo-2^16 reconstruction -> hash "
        "end-to-end.",
)
def q_image_near_dups_jpeg_lossless(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    assets = _planted_grid_assets(docs, salt="l:", codec="jpegll")
    out = image_near_dups(assets, max_distance=3)
    return out.select(
        "id_a", "id_b", F.col("distance").cast("int").alias("distance")
    )


def _mp4_assets(docs: DataFrame) -> DataFrame:
    """One minimal MP4 per document whose frames carry deterministic
    position-tagged token strings — built via functions/mp4.build_mp4 in
    mapInPandas (payloads never shuffle), so downstream frame operators
    exercise the REAL container parse."""
    def build(batches):
        for pdf in batches:
            ids, payloads = [], []
            for did, text in zip(pdf["doc_id"], pdf["text"]):
                toks = (text or "").split()[:4]
                if not toks:
                    continue
                frames = [f"frame:{i}:{t}".encode("utf-8")
                          for i, t in enumerate(toks)]
                ids.append(did)
                payloads.append(build_mp4(frames))
            yield pd.DataFrame({
                "asset_id": ids, "payload": payloads,
                "modality": ["video"] * len(ids),
                "mime_type": ["video/mp4"] * len(ids),
            })

    return docs.select("doc_id", "text").mapInPandas(
        build,
        "asset_id long, payload binary, modality string, mime_type string",
    )


# shared by video_frame_dups and its fragmented twin: both containers
# carry the SAME deterministic frame strings, so byte-exact addressing
# in either layout reproduces identical hashes
_FRAME_DUPS_ORACLE = """
    WITH toks AS (
        SELECT doc_id,
               list_filter(regexp_split_to_array(text, '\\s+'),
                           x -> x <> '') AS t
        FROM documents
        WHERE text IS NOT NULL
    ),
    frames AS (
        SELECT 'frame:' || CAST(f AS VARCHAR) || ':' || t[f + 1] AS frame
        FROM toks, range(4) r(f)
        WHERE len(t) > f
    )
    SELECT sha256(frame) AS frame_sha, CAST(count(*) AS BIGINT) AS n
    FROM frames
    GROUP BY 1
    HAVING count(*) > 1
    """


@register(
    "video_frame_dups",
    oracle=_FRAME_DUPS_ORACLE,
    doc="Video frame-level dedup through the REAL MP4 container path "
        "(functions/mp4): per-doc MP4s are assembled from "
        "position-tagged token frames, sample_frames addresses each "
        "access unit via the stbl sample table (stsz/stsc/stco -> mdat "
        "byte ranges, no codec), and duplicate frames group on the "
        "sha256 of the sliced bytes. The oracle reconstructs the SAME "
        "frame strings in SQL and hashes them — a green row proves the "
        "container round trip (build -> box walk -> sample table -> "
        "exact byte slicing) end-to-end, because any off-by-one in the "
        "ranges changes every hash. Scale shape: payloads stay "
        "scan-local (mapInPandas), only (sha, count) aggregates shuffle.",
)
def q_video_frame_dups(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    frames = sample_frames(_mp4_assets(docs), n_frames=4)
    return (
        frames.groupBy("frame_sha")
        .agg(F.count(F.lit(1)).alias("n"))
        .filter(F.col("n") > 1)
    )


def _fmp4_assets(docs: DataFrame) -> DataFrame:
    """The fragmented twin of ``_mp4_assets``: the SAME deterministic
    position-tagged frames packed as fMP4 — two moof+mdat fragments per
    asset (first two frames, then the rest), default-base-is-moof, sizes
    in the trun entries."""
    def build(batches):
        for pdf in batches:
            ids, payloads = [], []
            for did, text in zip(pdf["doc_id"], pdf["text"]):
                toks = (text or "").split()[:4]
                if not toks:
                    continue
                frames = [f"frame:{i}:{t}".encode("utf-8")
                          for i, t in enumerate(toks)]
                ids.append(did)
                payloads.append(build_fmp4([frames[:2], frames[2:]]
                                           if len(frames) > 2
                                           else [frames]))
            yield pd.DataFrame({
                "asset_id": ids, "payload": payloads,
                "modality": ["video"] * len(ids),
                "mime_type": ["video/mp4"] * len(ids),
            })

    return docs.select("doc_id", "text").mapInPandas(
        build,
        "asset_id long, payload binary, modality string, mime_type string",
    )


@register(
    "video_frame_dups_fmp4",
    oracle=_FRAME_DUPS_ORACLE,
    doc="Frame-level dedup through the FRAGMENTED MP4 path ("
        "functions/mp4 moof/traf/trun walk): the same deterministic "
        "frames as video_frame_dups, packed as two-fragment fMP4 (the "
        "DASH/CMAF layout scraped streaming video uses) with "
        "default-base-is-moof offsets and trun-entry sizes. Shares "
        "video_frame_dups' oracle VERBATIM — identical frame strings "
        "must hash identically through either container layout, so a "
        "green row proves the fragment walker's byte addressing is "
        "exact (any base/data_offset error changes every hash). Same "
        "scale shape: payloads scan-local, only (sha, count) shuffles.",
)
def q_video_frame_dups_fmp4(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    frames = sample_frames(_fmp4_assets(docs), n_frames=4)
    return (
        frames.groupBy("frame_sha")
        .agg(F.count(F.lit(1)).alias("n"))
        .filter(F.col("n") > 1)
    )


@register(
    "warc_extract_text",
    oracle="""
    SELECT 'https://example.com/' || CAST(doc_id AS VARCHAR) AS uri,
           CAST(CASE WHEN doc_id % 11 = 0 THEN 404 ELSE 200 END
                AS INT) AS http_status,
           CASE WHEN doc_id % 5 = 0 THEN 'text/plain'
                ELSE 'text/html' END AS mime,
           CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes,
           text
    FROM documents WHERE text IS NOT NULL
    """,
    doc="WARC ingestion (sources/warc.py — the CommonCrawl first "
        "stage of an LLM training-data pipeline): documents pack into "
        "multi-record WARC archives in-plan (4 pages per archive, "
        "warcinfo + response records, HTTP framing; every OTHER archive "
        "uses CommonCrawl's per-record gzip-member layout, the rest "
        "plain), then `warc_records` walks every archive scan-locally "
        "in Arrow-batched mapInPandas and ships ONLY the extracted "
        "fields — uri, status, mime, byte count, UTF-8 text — never "
        "archive bytes. The oracle recomputes every field from the "
        "same deterministic page formula, so a green row pins gzip "
        "member splitting -> WARC framing -> header parse -> HTTP "
        "status/header/body split -> UTF-8 decode end-to-end. At "
        "100 TB: one narrow projection per archive split; the grouping "
        "shuffle here belongs to the FIXTURE construction, not the "
        "operator.",
)
def q_warc_extract_text(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents").filter(
        F.col("text").isNotNull()
    ).select(
        "doc_id", "text", (F.col("doc_id") % 4).alias("slot"),
        F.expr("doc_id DIV 4").alias("gid"),
    )

    def build(key, pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values("doc_id")
        pages = [
            (f"https://example.com/{int(d)}",
             404 if int(d) % 11 == 0 else 200,
             "text/plain" if int(d) % 5 == 0 else "text/html",
             str(t))
            for d, t in zip(pdf["doc_id"], pdf["text"])
        ]
        gid = int(key[0])
        return pd.DataFrame({
            "asset_id": [gid],
            "payload": [bytearray(build_warc(
                pages, gzip_members=(gid % 2 == 0)))],
        })

    # cluster_by: the WARC assembly (gzip members) and the record walk
    # behind it are CPU-bound Python; AQE's byte-based coalescing would
    # run both on one core at fixture size.
    archives = cluster_by(docs, "gid").groupBy("gid").applyInPandas(
        build, "asset_id long, payload binary"
    )
    recs = warc_records(archives)
    return recs.filter(F.col("warc_type") == "response").select(
        "uri", "http_status", "mime", "n_bytes", "text"
    )
