"""WARC source: roundtrip, gzip members, Spark ingest, error capture."""

import io

import pytest

from westa_ocr_spark.sources.warc import (
    iter_warc_records,
    read_warc_pages,
    write_warc,
)


def _records(data: bytes, **kw) -> list[dict]:
    """Every record of an in-memory WARC, through the framer."""
    return list(iter_warc_records(io.BytesIO(data), **kw))


RECORDS = [
    {"url": "https://a.example/x", "date": "2025-01-01T00:00:00Z",
     "html": b"<html><body><p>alpha doc</p></body></html>"},
    {"url": "https://b.example/y", "date": "2025-01-02T12:30:00Z",
     "html": b"<html><body><p>beta doc</p></body></html>"},
]


@pytest.mark.parametrize("gz", [True, False], ids=["gzip", "plain"])
def test_roundtrip(gz):
    data = write_warc(RECORDS, gzip_members=gz)
    if gz:
        assert data[:2] == b"\x1f\x8b"
    recs = _records(data)
    assert [r["url"] for r in recs] == [r["url"] for r in RECORDS]
    assert [r["payload"] for r in recs] == [r["html"] for r in RECORDS]
    assert all(r["type"] == "response" for r in recs)


def test_writer_deterministic():
    assert write_warc(RECORDS) == write_warc(RECORDS)


def test_truncated_raises():
    data = write_warc(RECORDS, gzip_members=False)
    # cut inside the second record's header section
    second = data.index(b"WARC/1.0", 1)
    with pytest.raises(ValueError):
        _records(data[: second + 20])
    # and inside a declared Content-Length block
    body_at = data.index(b"alpha doc")
    with pytest.raises(ValueError):
        _records(data[: body_at - 2])


def test_spark_ingest_and_extract(spark, tmp_path):
    """binaryFile scan -> parse -> rows feed the extraction operator
    unchanged (the WARC->Iceberg materialization path)."""
    from pyspark.sql import functions as F

    from westa_ocr_spark.operators.extract import extract_pages

    wdir = tmp_path / "warcs"
    wdir.mkdir()
    (wdir / "seg-0.warc.gz").write_bytes(write_warc(RECORDS))
    (wdir / "seg-1.warc.gz").write_bytes(
        write_warc(
            [{"url": "https://c.example/z",
              "date": "2025-02-03T08:00:00Z",
              "html": b"<html><body><p>gamma doc</p></body></html>"}]
        )
    )
    (wdir / "seg-bad.warc.gz").write_bytes(b"\x1f\x8bgarbage not gzip")

    pages = read_warc_pages(spark, str(wdir))
    rows = {r["url"]: r for r in pages.collect()}
    ok = [u for u in rows if u is not None]
    assert sorted(ok) == [
        "https://a.example/x", "https://b.example/y",
        "https://c.example/z",
    ]
    # corrupt segment -> one visible ERROR row naming the file
    err = rows[None]
    assert err["status"] == "ERROR" and "seg-bad" in err["warc_file"]
    assert rows["https://a.example/x"]["warc_ts"].year == 2025

    extracted = extract_pages(
        pages.filter(F.col("status") == "OK")
    ).collect()
    texts = {r["url"]: r["text"] for r in extracted}
    assert texts["https://c.example/z"] == "gamma doc"
    assert all(r["status"] == "DONE" for r in extracted)


def test_warc_python_datasource_matches_binaryfile_path(spark, tmp_path):
    """read_warc_pages over damaged files: response records only, and
    for a damaged file its good records followed by one NULL-url ERROR
    row naming the file — for a gzip and a plain file cut inside their
    third record alike, and for a file that is not gzip at all."""
    three = RECORDS + [
        {"url": "https://c.example/z", "date": "2025-02-03T08:00:00Z",
         "html": b"<html><body><p>gamma doc</p></body></html>"}]
    gz_members = [write_warc([r]) for r in three]
    gz = b"".join(gz_members)
    plain = write_warc(three, gzip_members=False)
    third = plain.index(b"WARC/1.0", plain.index(b"beta doc"))

    wdir = tmp_path / "warcs"
    wdir.mkdir()
    (wdir / "seg-0.warc.gz").write_bytes(write_warc(RECORDS))
    (wdir / "seg-bad.warc.gz").write_bytes(b"\x1f\x8bgarbage not gzip")
    (wdir / "seg-cut.warc.gz").write_bytes(
        gz[: len(gz) - len(gz_members[2]) // 2])
    (wdir / "seg-cut.warc").write_bytes(
        plain[: (third + len(plain)) // 2])

    rows = read_warc_pages(spark, str(wdir)).collect()
    by_file: dict = {}
    for r in rows:
        by_file.setdefault(r["warc_file"].rsplit("/", 1)[-1], []).append(
            str(r["url"]))
    assert {f: sorted(u) for f, u in by_file.items()} == {
        "seg-0.warc.gz": ["https://a.example/x", "https://b.example/y"],
        "seg-bad.warc.gz": ["None"],
        "seg-cut.warc.gz": [
            "None", "https://a.example/x", "https://b.example/y"],
        "seg-cut.warc": [
            "None", "https://a.example/x", "https://b.example/y"],
    }
    gv = {(r["warc_file"].rsplit("/", 1)[-1], r["url"]): r for r in rows}
    assert gv[("seg-0.warc.gz", "https://a.example/x")]["html"] is not None
    for f in ("seg-bad.warc.gz", "seg-cut.warc.gz", "seg-cut.warc"):
        assert gv[(f, None)]["status"] == "ERROR"
        assert gv[(f, None)]["error"].startswith("warc: ")
    assert all(gv[(f, u)]["status"] == "OK"
               for f, u in gv if u is not None)


def test_http_body_decodings():
    """Round 4: response bodies with Transfer-Encoding: chunked and
    Content-Encoding: gzip/deflate — both common in real captures —
    decode to the original document bytes; broken encodings fall back
    to the raw body (ERROR path downstream, never a parser crash)."""
    import gzip as _gzip
    import zlib as _zlib

    doc = b"<html><body><p>hello encodings</p></body></html>"

    def rec(http):
        head = (
            b"WARC/1.0\r\nWARC-Type: response\r\n"
            b"WARC-Target-URI: https://e.example/x\r\n"
            b"WARC-Date: 2025-01-01T00:00:00Z\r\n"
            + f"Content-Length: {len(http)}\r\n".encode()
            + b"\r\n"
        )
        return head + http + b"\r\n\r\n"

    # chunked
    chunks = b"10\r\n" + doc[:16] + b"\r\n" + (
        b"%x\r\n" % len(doc[16:])) + doc[16:] + b"\r\n0\r\n\r\n"
    http = (b"HTTP/1.1 200 OK\r\nTransfer-Encoding: chunked\r\n\r\n"
            + chunks)
    assert _records(rec(http))[0]["payload"] == doc

    # gzip
    http = (b"HTTP/1.1 200 OK\r\nContent-Encoding: gzip\r\n\r\n"
            + _gzip.compress(doc))
    assert _records(rec(http))[0]["payload"] == doc

    # deflate (zlib-wrapped and raw)
    for blob in (_zlib.compress(doc),
                 _zlib.compressobj(wbits=-15).compress(doc)
                 + _zlib.compressobj(wbits=-15).flush()):
        pass
    co = _zlib.compressobj(wbits=-15)
    raw_deflate = co.compress(doc) + co.flush()
    for blob in (_zlib.compress(doc), raw_deflate):
        http = (b"HTTP/1.1 200 OK\r\nContent-Encoding: deflate\r\n\r\n"
                + blob)
        assert _records(rec(http))[0]["payload"] == doc

    # chunked + gzip stacked
    gz = _gzip.compress(doc)
    chunks = (b"%x\r\n" % len(gz)) + gz + b"\r\n0\r\n\r\n"
    http = (b"HTTP/1.1 200 OK\r\nContent-Encoding: gzip\r\n"
            b"Transfer-Encoding: chunked\r\n\r\n" + chunks)
    assert _records(rec(http))[0]["payload"] == doc

    # broken gzip: raw body returned WITH a decode error flagged
    # (round 5: consumers turn this into an ERROR row, the framed
    # bytes never masquerade as content)
    http = (b"HTTP/1.1 200 OK\r\nContent-Encoding: gzip\r\n\r\n"
            b"\x1f\x8bGARBAGE")
    out = _records(rec(http))[0]
    assert out["payload"] == b"\x1f\x8bGARBAGE"
    assert out["error"] and "gzip" in out["error"]
    # clean records carry error=None
    http = b"HTTP/1.1 200 OK\r\nContent-Type: text/html\r\n\r\n" + doc
    assert _records(rec(http))[0]["error"] is None


def test_http_body_decoding_header_variants():
    """Round 5 (ADVICE r4): coding LISTS, no-space colons, mixed case
    and stacked codings in one header all decode; an unrecognized
    coding is flagged as a decode error, not passed through raw."""
    import gzip as _gzip

    doc = b"<html><body><p>variant encodings</p></body></html>"

    def rec(http):
        head = (
            b"WARC/1.0\r\nWARC-Type: response\r\n"
            b"WARC-Target-URI: https://e.example/v\r\n"
            b"WARC-Date: 2025-01-01T00:00:00Z\r\n"
            + f"Content-Length: {len(http)}\r\n".encode()
            + b"\r\n"
        )
        return head + http + b"\r\n\r\n"

    # "Transfer-Encoding: gzip, chunked" list: applied gzip-then-
    # chunked by the sender, so the receiver de-chunks then gunzips
    gz = _gzip.compress(doc)
    chunks = (b"%x\r\n" % len(gz)) + gz + b"\r\n0\r\n\r\n"
    http = (b"HTTP/1.1 200 OK\r\nTransfer-Encoding: gzip, chunked\r\n\r\n"
            + chunks)
    out = _records(rec(http))[0]
    assert out["payload"] == doc and out["error"] is None

    # no-space colon + mixed case
    http = (b"HTTP/1.1 200 OK\r\ncontent-ENCODING:GZIP\r\n\r\n"
            + _gzip.compress(doc))
    out = _records(rec(http))[0]
    assert out["payload"] == doc and out["error"] is None

    # x-gzip alias inside a list with identity
    http = (b"HTTP/1.1 200 OK\r\nContent-Encoding: identity, x-gzip\r\n\r\n"
            + _gzip.compress(doc))
    out = _records(rec(http))[0]
    assert out["payload"] == doc and out["error"] is None

    # unrecognized coding (br is not shipped here): decode error
    http = (b"HTTP/1.1 200 OK\r\nContent-Encoding: br\r\n\r\n"
            b"\x00\x01\x02")
    out = _records(rec(http))[0]
    assert out["error"] and "br" in out["error"]


def test_content_type_charset_drives_extraction(spark, tmp_path):
    """Round 5: the HTTP Content-Type charset rides the pages frame
    as the `charset` column and decodes no-meta non-UTF-8 pages
    end-to-end (WARC -> pages -> extract_pages)."""
    from westa_ocr_spark.operators.extract import extract_pages

    probe = "日本語の本文テキストです"
    body = f"<html><body><p>{probe}</p></body></html>".encode("cp932")
    recs = [
        {
            "url": "https://cs.example/sjis",
            "date": "2025-01-01T00:00:00Z",
            "html": body,
            "charset": "Shift_JIS",
        },
        {
            "url": "https://cs.example/plain",
            "date": "2025-01-01T00:00:00Z",
            "html": b"<html><body><p>plain ascii page</p></body></html>",
        },
    ]
    blob = write_warc(recs)
    # parser surfaces the charset
    parsed = {r["url"]: r for r in _records(blob)}
    assert parsed["https://cs.example/sjis"]["charset"] == "Shift_JIS"
    assert parsed["https://cs.example/plain"]["charset"] is None

    stage = tmp_path / "seg-00000.warc.gz"
    stage.write_bytes(blob)
    pages = read_warc_pages(spark, str(tmp_path))
    out = {
        r["url"]: r
        for r in extract_pages(pages).collect()
    }
    sjis = out["https://cs.example/sjis"]
    assert sjis["status"] == "DONE" and sjis["text"] == probe
    assert out["https://cs.example/plain"]["text"] == "plain ascii page"


def test_pipeline_keeps_transport_charset(spark, tmp_path):
    """run_extraction_job carries the pages frame's `charset` column
    into extraction: a no-meta Shift_JIS page whose only charset is
    the HTTP Content-Type header reads back from the sink decoded."""
    from westa_ocr_spark.plans.pipeline import run_extraction_job
    from westa_ocr_spark.sources.tables import ParquetTable
    from westa_ocr_spark.sources.warc import read_warc_pages, write_warc

    probe = "日本語の本文テキストです"
    body = f"<html><body><p>{probe}</p></body></html>".encode("cp932")
    seg = tmp_path / "warc"
    seg.mkdir()
    (seg / "seg-00000.warc.gz").write_bytes(write_warc([{
        "url": "https://cs.example/sjis",
        "date": "2025-01-01T00:00:00Z",
        "html": body,
        "charset": "Shift_JIS",
    }]))
    out = str(tmp_path / "out")
    res = run_extraction_job(spark, read_warc_pages(spark, str(seg)), out,
                             run_id="cs")
    assert res.docs_done == 1
    rows = ParquetTable(f"{out}/extracted").read(spark).collect()
    assert [(r["url"], r["text"]) for r in rows] == [
        ("https://cs.example/sjis", probe)
    ]


def test_decompression_bombs_are_bounded():
    """Round 5: a small gzip body expanding past the 64 MB cap flags a
    per-record decode error (never an executor OOM); a WARC member
    bomb is a file-level ValueError."""
    import gzip as _gzip

    bomb = _gzip.compress(b"\x00" * (70 * 1024 * 1024))  # ~70 KB in
    http = (b"HTTP/1.1 200 OK\r\nContent-Encoding: gzip\r\n\r\n" + bomb)
    head = (
        b"WARC/1.0\r\nWARC-Type: response\r\n"
        b"WARC-Target-URI: https://bomb.example/\r\n"
        b"WARC-Date: 2025-01-01T00:00:00Z\r\n"
        + f"Content-Length: {len(http)}\r\n".encode()
        + b"\r\n"
    )
    rec = _records(head + http + b"\r\n\r\n")[0]
    assert rec["error"] and "cap" in rec["error"]

    # member-level bomb: the gzip MEMBER itself inflates past the cap
    member_bomb = _gzip.compress(b"\x00" * (300 * 1024 * 1024))
    with pytest.raises(ValueError, match="cap"):
        _records(member_bomb)


def test_streaming_iterator_equivalent_to_inmemory_parse(tmp_path):
    """The framer yields the same records at any read size, for
    gzip-member AND plain layouts, multi-record members and charset
    hints — tiny chunk sizes exercise every buffer boundary — and those
    records are the ones write_warc was given. Truncated and corrupt
    gzip raises."""
    import gzip as _gzip

    recs = [
        {"url": f"https://s{i}.example/p", "date": "2025-01-01T00:00:00Z",
         "html": (f"<html><body><p>doc {i} body text</p></body></html>"
                  ).encode(),
         **({"charset": "Shift_JIS"} if i % 3 == 0 else {})}
        for i in range(7)
    ]
    written = [(r["url"], r["html"], r.get("charset")) for r in recs]
    for gz in (True, False):
        blob = write_warc(recs, gzip_members=gz)
        whole = _records(blob)
        assert [(r["url"], r["payload"], r["charset"]) for r in whole] \
            == written
        assert all(r["type"] == "response" and r["error"] is None
                   for r in whole)
        assert _records(blob, chunk_size=37) == whole
        assert _records(blob, chunk_size=11) == whole
        # and straight off the disk, through a file handle
        path = tmp_path / f"seg_{int(gz)}.warc"
        path.write_bytes(blob)
        with open(path, "rb") as fh:
            assert list(iter_warc_records(fh, chunk_size=37)) == whole
    # multi-record single member
    multi = _gzip.compress(write_warc(recs[:3], gzip_members=False))
    assert _records(multi, chunk_size=11) == _records(multi)
    assert [r["url"] for r in _records(multi)] == [r["url"] for r in recs[:3]]
    # a record split across two members is corrupt
    raw = write_warc(recs[:1], gzip_members=False)
    split = _gzip.compress(raw[:40]) + _gzip.compress(raw[40:])
    with pytest.raises(ValueError):
        _records(split)
    # a file cut inside a member's gzip header is truncated too
    with pytest.raises(ValueError, match="truncated"):
        _records(write_warc(recs[:2]) + write_warc(recs[2:3])[:5])
    # corrupt file raises
    with pytest.raises(ValueError):
        _records(b"\x1f\x8bnot really gzip data")
