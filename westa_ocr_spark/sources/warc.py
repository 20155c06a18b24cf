"""WARC source: Common-Crawl-style web-archive files -> pages rows.

The north rule's input is "an Iceberg table of Common-Crawl-style web
pages"; the upstream format those tables are materialized FROM is
WARC (ISO 28500) — concatenated records, usually stored as
per-record gzip members so readers can skip without decompressing the
whole file. This module provides, pure stdlib:

* :func:`parse_warc` — tolerant parser for plain or member-gzip'd
  WARC bytes: WARC/1.x record headers, ``Content-Length``-sliced
  blocks, HTTP response-header stripping for ``response`` records;
* :func:`write_warc` — deterministic writer used by tests and the
  synthetic corpus (real gzip members, one per record);
* :func:`read_warc_pages` — the Spark source: ``binaryFile`` scan of
  a WARC directory -> Arrow-batched ``mapInPandas`` parse -> rows in
  the pages schema (url, warc_ts, html, text, lang), ready for
  ``extract_pages`` or an Iceberg materialization.

Scale notes: one WARC file maps to one input row of the binaryFile
scan, so parallelism = number of files — exactly how Common Crawl
shards (tens of thousands of ~1 GiB segments per crawl). Per-record
gzip membership means memory per task is bounded by one record, not
one file, when streaming decompression is used (we decompress member
by member). Malformed records surface as ERROR rows, never task
failures (the pipeline's per-row error-capture contract): the batch
loop is the shared ``operators.per_doc.map_documents``, whose
catch-all maps any ``Exception`` of one file to that file's ERROR row.
"""

from __future__ import annotations

import datetime as _dt
import gzip
import re
import zlib
from collections.abc import Iterator

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T

from westa_ocr_spark.operators.per_doc import map_documents

_CRLF = b"\r\n"

WARC_PAGES_SCHEMA = T.StructType(
    [
        T.StructField("url", T.StringType(), True),
        T.StructField("warc_ts", T.TimestampType(), True),
        T.StructField("html", T.BinaryType(), True),
        T.StructField("text", T.StringType(), False),
        T.StructField("lang", T.StringType(), False),
        T.StructField("warc_file", T.StringType(), False),
        T.StructField("record_type", T.StringType(), False),
        T.StructField("status", T.StringType(), False),
        T.StructField("error", T.StringType(), True),
        # transport-layer charset from the HTTP Content-Type header
        # (round 5): fed to extraction as the decode hint — WHATWG
        # precedence puts it above the in-document <meta charset>
        T.StructField("charset", T.StringType(), True),
    ]
)


# per-member inflate cap: a WARC record is one capture (bounded by
# the crawler's own fetch limits); 256 MB is far above any legitimate
# member and far below an executor OOM
_MAX_MEMBER_BYTES = 256 * 1024 * 1024


def _gzip_members(data: bytes) -> Iterator[bytes]:
    """Decompress concatenated gzip members one at a time (inflate
    bounded per member — a member bomb becomes a file-level ERROR
    row, not an executor OOM)."""
    pos = 0
    n = len(data)
    while pos < n:
        d = zlib.decompressobj(16 + zlib.MAX_WBITS)
        try:
            chunk = d.decompress(data[pos:], _MAX_MEMBER_BYTES + 1)
        except zlib.error as exc:
            raise ValueError(f"corrupt gzip member: {exc}") from exc
        if len(chunk) > _MAX_MEMBER_BYTES:
            raise ValueError(
                f"gzip member exceeds {_MAX_MEMBER_BYTES}-byte cap"
            )
        yield chunk + d.flush()
        consumed = (n - pos) - len(d.unused_data)
        if consumed <= 0:
            break
        pos += consumed


def _parse_record(chunk: bytes, at: int) -> tuple[dict, int]:
    """One WARC record at ``at``: returns (record, next_offset)."""
    hdr_end = chunk.find(_CRLF + _CRLF, at)
    if hdr_end < 0:
        raise ValueError("warc: truncated record header")
    header_blob = chunk[at:hdr_end].decode("utf-8", errors="replace")
    lines = header_blob.split("\r\n")
    if not lines or not lines[0].startswith("WARC/"):
        raise ValueError("warc: missing WARC/ version line")
    headers: dict[str, str] = {}
    for line in lines[1:]:
        if ":" in line:
            k, v = line.split(":", 1)
            headers[k.strip().lower()] = v.strip()
    try:
        length = int(headers.get("content-length", ""))
    except ValueError as exc:
        raise ValueError("warc: bad Content-Length") from exc
    block_start = hdr_end + 4
    block = chunk[block_start : block_start + length]
    if len(block) < length:
        raise ValueError("warc: block overruns data")
    return (
        {"headers": headers, "block": block},
        block_start + length + 4,  # records separated by \r\n\r\n
    )


def _dechunk(body: bytes) -> bytes:
    """Decode HTTP/1.1 chunked transfer-encoding (RFC 9112 §7.1)."""
    out = bytearray()
    at = 0
    n = len(body)
    while at < n:
        eol = body.find(_CRLF, at)
        if eol < 0:
            raise ValueError("warc: truncated chunk header")
        size_tok = body[at:eol].split(b";", 1)[0].strip()
        try:
            size = int(size_tok, 16)
        except ValueError as exc:
            raise ValueError("warc: bad chunk size") from exc
        if size == 0:
            break  # trailers (if any) are discarded
        start = eol + 2
        if start + size > n:
            raise ValueError("warc: truncated chunk body")
        out += body[start : start + size]
        at = start + size + 2  # skip trailing CRLF
    return bytes(out)


def _parse_http_headers(raw: bytes) -> dict[bytes, bytes]:
    """HTTP header section -> {lowercased-name: value} (round 5,
    ADVICE r4: real captures say ``Transfer-Encoding:gzip, chunked``
    with arbitrary case/spacing, which exact-substring matching
    missed). Duplicate headers join with commas (RFC 9110 §5.2);
    obs-fold continuation lines append to the previous value."""
    headers: dict[bytes, bytes] = {}
    last: bytes | None = None
    for line in raw.split(b"\r\n")[1:]:  # [0] is the status line
        if not line:
            continue
        if line[:1] in (b" ", b"\t") and last is not None:
            headers[last] += b" " + line.strip()
            continue
        name, _, value = line.partition(b":")
        if not _:
            continue
        key = name.strip().lower()
        value = value.strip()
        headers[key] = (
            headers[key] + b", " + value if key in headers else value
        )
        last = key
    return headers


# Decompression-bomb cap for HTTP bodies (round 5): matches the
# extraction payload cap — a 60 KB gzip member expanding to gigabytes
# must become an honest per-record ERROR, never an executor OOM.
_MAX_BODY_BYTES = 64 * 1024 * 1024


def _bounded_inflate(body: bytes, wbits: int,
                     cap: int = _MAX_BODY_BYTES) -> bytes:
    d = zlib.decompressobj(wbits)
    out = d.decompress(body, cap + 1)
    if len(out) > cap:
        raise ValueError(
            f"decompressed body exceeds {cap}-byte cap"
        )
    return out + d.flush()


def _inflate(body: bytes) -> bytes:
    try:
        return _bounded_inflate(body, zlib.MAX_WBITS)
    except zlib.error:
        return _bounded_inflate(body, -15)  # raw deflate


def _decode_http_body(headers: dict[bytes, bytes], body: bytes) -> bytes:
    """Apply Transfer-Encoding then Content-Encoding coding lists, in
    reverse application order (RFC 9112 §6.1 / 9110 §8.4). An
    unrecognized coding raises — the caller turns that into an honest
    per-record ERROR instead of passing framed/compressed bytes
    downstream as if they were content (ADVICE r4)."""
    for header in (b"transfer-encoding", b"content-encoding"):
        value = headers.get(header)
        if not value:
            continue
        codings = [c.strip().lower() for c in value.split(b",") if c.strip()]
        for coding in reversed(codings):
            try:
                if coding == b"chunked":
                    body = _dechunk(body)
                elif coding in (b"gzip", b"x-gzip"):
                    body = _bounded_inflate(body, 16 + zlib.MAX_WBITS)
                elif coding == b"deflate":
                    body = _inflate(body)
                elif coding in (b"identity", b"none"):
                    pass
                else:
                    raise ValueError(
                        "warc: unsupported "
                        f"{header.decode()} coding {coding.decode()!r}"
                    )
            except (OSError, EOFError, zlib.error) as exc:
                raise ValueError(
                    f"warc: {coding.decode()} body decode failed: {exc}"
                ) from exc
    return body


_CHARSET_PARAM = re.compile(rb"charset\s*=\s*\"?([A-Za-z0-9._:-]+)")


def _content_type_charset(headers: dict[bytes, bytes]) -> str | None:
    """charset parameter of the Content-Type header, if any."""
    ct = headers.get(b"content-type")
    if not ct:
        return None
    m = _CHARSET_PARAM.search(ct)
    return m.group(1).decode("ascii", "replace") if m else None


def _strip_http_headers(
    block: bytes,
) -> tuple[bytes, str | None, str | None]:
    """For response records the block is an HTTP message; the payload
    starts after its header section. Returns ``(body, error,
    charset)``: chunked transfer framing is removed and gzip/deflate
    content codings decompressed (coding LISTS and header-case
    variants handled, round 5); a failed or unrecognized coding
    returns the raw body plus an error message so the record surfaces
    as an ERROR row rather than leaking framing bytes into extracted
    text. ``charset`` is the Content-Type parameter, the
    transport-layer decode hint."""
    if not block.startswith(b"HTTP/"):
        return block, None, None
    sep = block.find(_CRLF + _CRLF)
    if sep < 0:
        return block, None, None
    headers = _parse_http_headers(block[:sep])
    charset = _content_type_charset(headers)
    body = block[sep + 4 :]
    try:
        return _decode_http_body(headers, body), None, charset
    except ValueError as exc:
        return body, str(exc), charset


def _records_from_chunk(chunk: bytes) -> Iterator[dict]:
    """All records in one decompressed buffer (a gzip member or a
    whole plain file)."""
    at = 0
    while at < len(chunk):
        # tolerate inter-record padding
        while at < len(chunk) and chunk[at : at + 1] in (b"\r", b"\n"):
            at += 1
        if at >= len(chunk):
            break
        rec, at = _parse_record(chunk, at)
        h = rec["headers"]
        rtype = h.get("warc-type", "unknown")
        payload = rec["block"]
        error = charset = None
        if rtype == "response":
            payload, error, charset = _strip_http_headers(payload)
        yield {
            "type": rtype,
            "url": h.get("warc-target-uri"),
            "date": h.get("warc-date"),
            "payload": payload,
            "error": error,
            "charset": charset,
        }


def _stream_gzip_members(fh, chunk_size: int = 1 << 20,
                         cap: int = _MAX_MEMBER_BYTES) -> Iterator[bytes]:
    """Decompress concatenated gzip members from a FILE HANDLE one at
    a time: memory is bounded by one member plus one read chunk, not
    the whole (possibly ~1 GiB) segment. Per-member inflate cap as in
    :func:`_gzip_members`."""
    pending = b""
    d = None
    out = bytearray()
    while True:
        if not pending:
            pending = fh.read(chunk_size)
            if not pending:
                if d is not None and out:
                    raise ValueError("corrupt gzip member: truncated")
                return
        if d is None:
            d = zlib.decompressobj(16 + zlib.MAX_WBITS)
        try:
            out += d.decompress(pending, cap + 1 - len(out))
        except zlib.error as exc:
            raise ValueError(f"corrupt gzip member: {exc}") from exc
        if len(out) > cap:
            raise ValueError(f"gzip member exceeds {cap}-byte cap")
        if d.eof:
            pending = d.unused_data
            out += d.flush()
            yield bytes(out)
            out = bytearray()
            d = None
        else:
            pending = d.unconsumed_tail  # empty unless capped


def iter_warc_file(path: str, chunk_size: int = 1 << 20) -> Iterator[dict]:
    """Stream a WARC file's records with O(record + chunk) memory.

    The executor-memory story at crawl scale: a Common-Crawl segment
    is ~1 GiB; loading it whole (the binaryFile path) costs a file's
    worth of heap per task, while this iterator holds one gzip member
    (one capture) at a time. Yields the same record dicts as
    :func:`parse_warc`; raises ValueError on corrupt input.
    """
    with open(path, "rb") as fh:
        magic = fh.read(2)
        if magic == b"\x1f\x8b":
            fh.seek(0)
            for member in _stream_gzip_members(fh, chunk_size):
                yield from _records_from_chunk(member)
            return
        # plain WARC: frame records straight off the file using the
        # header's Content-Length, buffering only what one record needs
        buf = bytearray(magic)
        eof = False
        while True:
            while True:
                # try to parse one record from the buffer; pull more
                # bytes only when the buffer is demonstrably short
                at = 0
                while at < len(buf) and buf[at : at + 1] in (b"\r", b"\n"):
                    at += 1
                if at >= len(buf):
                    if eof:
                        return
                    break  # need more bytes
                try:
                    rec, nxt = _parse_record(bytes(buf), at)
                except ValueError:
                    if eof:
                        raise
                    break  # likely incomplete: read more and retry
                h = rec["headers"]
                rtype = h.get("warc-type", "unknown")
                payload = rec["block"]
                error = charset = None
                if rtype == "response":
                    payload, error, charset = _strip_http_headers(payload)
                yield {
                    "type": rtype,
                    "url": h.get("warc-target-uri"),
                    "date": h.get("warc-date"),
                    "payload": payload,
                    "error": error,
                    "charset": charset,
                }
                del buf[:nxt]
            if eof:
                return
            more = fh.read(chunk_size)
            if not more:
                eof = True
            else:
                buf += more


def parse_warc(data: bytes) -> list[dict]:
    """All records of a WARC byte stream (plain or gzip members).

    Returns dicts with ``type``, ``url``, ``date`` (ISO string or
    None), ``payload`` (bytes, HTTP headers stripped for responses).
    """
    if data[:2] == b"\x1f\x8b":
        chunks = _gzip_members(data)
    else:
        chunks = iter([data])
    out: list[dict] = []
    for chunk in chunks:
        out.extend(_records_from_chunk(chunk))
    return out


def write_warc(records: list[dict], *, gzip_members: bool = True) -> bytes:
    """Serialize (url, date, html) dicts as a WARC byte stream.

    Response records carry a minimal HTTP/1.1 200 message (the
    Common-Crawl shape); a record's optional ``charset`` key becomes
    the Content-Type charset parameter (round 5: the transport decode
    hint). Each record becomes its own gzip member when
    ``gzip_members`` (the CC storage layout). Deterministic: gzip
    mtime pinned to 0.
    """
    out = bytearray()
    for rec in records:
        ctype = b"text/html"
        if rec.get("charset"):
            ctype += b"; charset=" + rec["charset"].encode("ascii")
        http = (
            b"HTTP/1.1 200 OK\r\nContent-Type: " + ctype + b"\r\n\r\n"
            + rec["html"]
        )
        headers = (
            b"WARC/1.0\r\n"
            b"WARC-Type: response\r\n"
            + f"WARC-Target-URI: {rec['url']}\r\n".encode()
            + f"WARC-Date: {rec['date']}\r\n".encode()
            + f"Content-Length: {len(http)}\r\n".encode()
            + b"Content-Type: application/http; msgtype=response\r\n"
        )
        raw = headers + _CRLF + http + _CRLF + _CRLF
        if gzip_members:
            out += gzip.compress(raw, compresslevel=6, mtime=0)
        else:
            out += raw
    return bytes(out)


def _warc_ts(date: str | None):
    if not date:
        return None
    try:
        return _dt.datetime.fromisoformat(date.replace("Z", "+00:00"))
    except ValueError:
        return None


def _page_row(rec: dict, fpath: str) -> dict:
    """One ``response`` record as a pages row. A failed body decoding
    is a per-RECORD error row (html withheld: the raw bytes are
    framing noise, not content)."""
    decode_err = rec["error"]
    return {
        "url": rec["url"], "warc_ts": _warc_ts(rec["date"]),
        "html": None if decode_err else rec["payload"],
        "text": "", "lang": "", "warc_file": fpath,
        "record_type": rec["type"],
        "status": "ERROR" if decode_err else "OK",
        "error": decode_err, "charset": rec["charset"],
    }


def _warc_file_rows(fpath: str, content: bytes) -> list[dict]:
    """Page rows of one WARC file: only ``response`` records."""
    return [_page_row(rec, fpath) for rec in parse_warc(bytes(content))
            if rec["type"] == "response"]


def _warc_file_error(fpath: str, _content, exc: Exception) -> dict:
    return {"url": None, "warc_ts": None, "html": None, "text": "",
            "lang": "", "warc_file": fpath, "record_type": "error",
            "status": "ERROR", "error": f"warc: {exc}", "charset": None}


def read_warc_pages(spark: SparkSession, path: str) -> DataFrame:
    """Spark source: directory/glob of WARC files -> pages-shaped rows.

    ``binaryFile`` scan (one task per file — Common Crawl's sharding
    unit) -> Arrow-batched parse through
    :func:`~westa_ocr_spark.operators.per_doc.map_documents`. Only
    ``response`` records become page rows; a file that fails to parse
    (any ``Exception``) yields ONE ERROR row carrying the file path, so
    ingest failures are visible in the same frame, not lost in logs.
    """
    files = spark.read.format("binaryFile").load(path)
    return map_documents(files, ["path", "content"], _warc_file_rows,
                         WARC_PAGES_SCHEMA, _warc_file_error)
