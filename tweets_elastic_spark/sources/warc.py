"""WARC (Web ARChive, ISO 28500) record parsing — pure stdlib.

CommonCrawl — the canonical first stage of an LLM training-data
pipeline — ships as WARC: a concatenation of records, each a header
block (``WARC/1.0`` version line + ``Name: value`` headers, CRLF
framing) followed by ``Content-Length`` payload bytes and a blank-line
terminator. CommonCrawl's variant gzip-compresses EVERY record as its
own gzip member and concatenates the members, so a reader can split
work without decompressing the whole file.

This module gives the engine that first stage:

* ``parse_warc(payload)`` — walk every record (plain or per-record
  gzip members, auto-detected), returning typed ``WarcRecord``s with
  the WARC headers and, for ``response`` records, the parsed HTTP
  status / headers / body. Malformed framing raises loudly (a
  mis-framed walk silently yielding garbage documents is the failure
  mode to prevent).
* ``build_warc(pages, gzip_members=...)`` — the deterministic fixture
  encoder sibling (warcinfo + one response record per page), so the
  parser is testable without network fixtures and the oracle-gated
  query can recompute every extracted field arithmetically.
* ``warc_records(df)`` (Spark) — Arrow-batched ``mapInPandas`` over
  (asset_id, payload) rows: archives parse scan-locally, and only the
  EXTRACTED fields (uri, status, mime, text, sizes) ever shuffle —
  never the archive bytes. At 100 TB this is one narrow projection per
  archive split; downstream dedup/quality gates compose as with any
  other documents relation.

Scope: WARC/1.0 and 1.1; record types pass through (``response`` gets
HTTP parsing, others carry their raw payload length). Chunked
transfer-encoding inside the HTTP payload is refused loudly (real
CommonCrawl responses are stored de-chunked); header continuation
lines (obsolete RFC 822 folding) likewise.
"""

from __future__ import annotations

import gzip
import zlib
from dataclasses import dataclass, field

import pandas as pd

__all__ = ["WarcRecord", "parse_warc", "build_warc", "warc_records"]

_CRLF = b"\r\n"


@dataclass
class WarcRecord:
    rec_type: str                 # response / warcinfo / request / ...
    uri: str | None               # WARC-Target-URI
    date: str | None              # WARC-Date
    rec_id: str | None            # WARC-Record-ID
    content_type: str | None      # the WARC block's Content-Type
    length: int                   # Content-Length of the block
    http_status: int | None = None
    http_content_type: str | None = None
    body: bytes = b""             # HTTP body for response records
    headers: dict = field(default_factory=dict)


def _split_members(payload: bytes) -> list[bytes]:
    """Per-record gzip members → one decompressed chunk each
    (zlib.decompressobj stops at each member's end and reports the
    unconsumed tail via ``unused_data``, giving exact member
    boundaries). Plain payloads pass through whole."""
    if payload[:2] != b"\x1f\x8b":
        return [payload]
    out: list[bytes] = []
    pos = 0
    while pos < len(payload):
        if payload[pos:pos + 2] != b"\x1f\x8b":
            raise ValueError(
                f"garbage between gzip members at offset {pos}"
            )
        d = zlib.decompressobj(wbits=31)
        out.append(d.decompress(payload[pos:]))
        if not d.eof:
            raise ValueError(f"truncated gzip member at offset {pos}")
        pos = len(payload) - len(d.unused_data)
    return out


def _parse_headers(block: bytes, what: str) -> dict:
    headers: dict = {}
    for line in block.split(_CRLF):
        if not line:
            continue
        if line[:1] in (b" ", b"\t"):
            raise ValueError(
                f"obsolete folded (continuation) header line in {what}"
            )
        name, sep, value = line.partition(b":")
        if not sep:
            raise ValueError(f"malformed {what} header line {line!r}")
        headers[name.decode("latin-1").strip().lower()] = \
            value.decode("latin-1").strip()
    return headers


def _parse_one(chunk: bytes, pos: int) -> tuple[WarcRecord, int]:
    hdr_end = chunk.find(_CRLF + _CRLF, pos)
    if hdr_end == -1:
        raise ValueError(f"unterminated WARC header block at offset {pos}")
    head = chunk[pos:hdr_end]
    version, _, rest = head.partition(_CRLF)
    if version not in (b"WARC/1.0", b"WARC/1.1"):
        raise ValueError(f"bad WARC version line {version!r}")
    headers = _parse_headers(rest, "WARC")
    if "content-length" not in headers:
        raise ValueError("WARC record missing Content-Length")
    length = int(headers["content-length"])
    body_start = hdr_end + 4
    block = chunk[body_start:body_start + length]
    if len(block) != length:
        raise ValueError(
            f"truncated WARC block at offset {body_start} "
            f"(needs {length}, {len(chunk) - body_start} remain)"
        )
    after = body_start + length
    if chunk[after:after + 4] != _CRLF + _CRLF:
        raise ValueError(
            f"missing record terminator (CRLFCRLF) at offset {after}"
        )
    rec = WarcRecord(
        rec_type=headers.get("warc-type", ""),
        uri=headers.get("warc-target-uri"),
        date=headers.get("warc-date"),
        rec_id=headers.get("warc-record-id"),
        content_type=headers.get("content-type"),
        length=length,
        headers=headers,
    )
    if rec.rec_type == "response" and block[:5] == b"HTTP/":
        status_line, _, http_rest = block.partition(_CRLF)
        parts = status_line.split(b" ", 2)
        if len(parts) < 2 or not parts[1].isdigit():
            raise ValueError(f"bad HTTP status line {status_line!r}")
        rec.http_status = int(parts[1])
        hh_end = http_rest.find(_CRLF + _CRLF)
        if hh_end == -1:
            raise ValueError("unterminated HTTP header block")
        http_headers = _parse_headers(http_rest[:hh_end], "HTTP")
        if "chunked" in http_headers.get("transfer-encoding", ""):
            raise ValueError(
                "chunked transfer-encoding inside a WARC response is "
                "unsupported (CommonCrawl stores de-chunked payloads)"
            )
        rec.http_content_type = http_headers.get("content-type")
        rec.body = http_rest[hh_end + 4:]
    else:
        rec.body = block
    return rec, after + 4


def parse_warc(payload: bytes) -> list[WarcRecord]:
    """Every record of a WARC archive (plain or per-record gzip)."""
    records: list[WarcRecord] = []
    for chunk in _split_members(payload):
        pos = 0
        while pos < len(chunk):
            rec, pos = _parse_one(chunk, pos)
            records.append(rec)
    if not records:
        raise ValueError("no WARC records in payload")
    return records


def build_warc(
    pages: list[tuple[str, int, str, str]], *, gzip_members: bool = False
) -> bytes:
    """Fixture encoder: a warcinfo record followed by one ``response``
    record per (uri, status, content_type, body_text) page. With
    ``gzip_members`` every record becomes its own gzip member —
    CommonCrawl's layout. Deterministic (fixed date, mtime=0)."""
    def record(headers: list[tuple[str, str]], block: bytes) -> bytes:
        head = b"WARC/1.0\r\n" + b"".join(
            f"{k}: {v}\r\n".encode("latin-1") for k, v in headers
            ) + f"Content-Length: {len(block)}\r\n".encode() + _CRLF
        return head + block + _CRLF + _CRLF

    recs = [record(
        [("WARC-Type", "warcinfo"),
         ("WARC-Date", "2024-01-01T00:00:00Z"),
         ("WARC-Record-ID", "<urn:uuid:00000000-0000-0000-0000-0>"),
         ("Content-Type", "application/warc-fields")],
        b"software: tweets-elastic-spark build_warc\r\n",
    )]
    for i, (uri, status, ctype, text) in enumerate(pages):
        body = text.encode("utf-8")
        http = (f"HTTP/1.1 {status} X\r\nContent-Type: {ctype}\r\n"
                f"Content-Length: {len(body)}\r\n\r\n").encode() + body
        recs.append(record(
            [("WARC-Type", "response"),
             ("WARC-Target-URI", uri),
             ("WARC-Date", "2024-01-01T00:00:00Z"),
             ("WARC-Record-ID", f"<urn:uuid:{i}>"),
             ("Content-Type", "application/http; msgtype=response")],
            http,
        ))
    if not gzip_members:
        return b"".join(recs)
    return b"".join(
        gzip.compress(r, mtime=0) for r in recs
    )


def warc_records(df, payload_col: str = "payload"):
    """(asset_id, payload) → one row per WARC record with the extracted
    fields ONLY (archive bytes never leave the scan): rec_idx,
    warc_type, uri, http_status, mime, n_bytes, text (UTF-8 best-effort
    decode of response bodies; non-response records carry NULL text).
    Arrow-batched mapInPandas; downstream dedup/quality/lang-id gates
    compose on the result like any documents relation."""
    schema = ("asset_id long, rec_idx int, warc_type string, uri string, "
              "http_status int, mime string, n_bytes long, text string")

    def walk(batches):
        for pdf in batches:
            rows = {k: [] for k in ("asset_id", "rec_idx", "warc_type",
                                    "uri", "http_status", "mime",
                                    "n_bytes", "text")}
            for aid, payload in zip(pdf["asset_id"], pdf[payload_col]):
                for i, r in enumerate(parse_warc(bytes(payload))):
                    rows["asset_id"].append(int(aid))
                    rows["rec_idx"].append(i)
                    rows["warc_type"].append(r.rec_type)
                    rows["uri"].append(r.uri)
                    rows["http_status"].append(r.http_status)
                    rows["mime"].append(r.http_content_type)
                    rows["n_bytes"].append(len(r.body))
                    rows["text"].append(
                        r.body.decode("utf-8", errors="replace")
                        if r.rec_type == "response" else None
                    )
            yield pd.DataFrame(rows)

    return df.mapInPandas(walk, schema)
