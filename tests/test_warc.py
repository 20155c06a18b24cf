"""WARC source: roundtrip, gzip members, Spark ingest, error capture."""

import pytest

from westa_ocr_spark.sources.warc import (
    parse_warc,
    read_warc_pages,
    write_warc,
)

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
    recs = parse_warc(data)
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
        parse_warc(data[: second + 20])
    # and inside a declared Content-Length block
    body_at = data.index(b"alpha doc")
    with pytest.raises(ValueError):
        parse_warc(data[: body_at - 2])


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
    """spark.read.format('warc') (the Spark 4 Python DataSource) must
    produce exactly the rows the binaryFile+mapInPandas composition
    produces: one partition per file, response records only, ERROR
    row per corrupt file."""
    from westa_ocr_spark.sources.warc import read_warc_pages
    from westa_ocr_spark.sources.warc_datasource import register

    wdir = tmp_path / "warcs"
    wdir.mkdir()
    (wdir / "seg-0.warc.gz").write_bytes(write_warc(RECORDS))
    (wdir / "seg-bad.warc.gz").write_bytes(b"\x1f\x8bgarbage not gzip")

    register(spark)
    via_ds = spark.read.format("warc").load(str(wdir))
    assert via_ds.rdd.getNumPartitions() == 2  # one per file
    expected = read_warc_pages(spark, str(wdir)).drop("warc_file")
    got = via_ds.drop("warc_file")
    assert got.schema == expected.schema
    key = lambda r: (str(r["url"]), str(r["status"]))  # noqa: E731
    assert sorted(map(key, got.collect())) == sorted(
        map(key, expected.collect())
    )
    gv = {r["url"]: r for r in via_ds.collect()}
    assert gv["https://a.example/x"]["html"] is not None
    assert gv[None]["status"] == "ERROR"


def test_warc_datasource_filter_pushdown_prunes_files(spark, tmp_path):
    """An equality filter on warc_file must reach pushFilters and
    prune PARTITIONS (only the named segment is read), not just rows
    post-scan."""
    from pyspark.sql import functions as F

    from westa_ocr_spark.sources.warc_datasource import register

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
    register(spark)
    target = str(wdir / "seg-1.warc.gz")
    df = (
        spark.read.format("warc").load(str(wdir))
        .filter(F.col("warc_file") == target)
    )
    # partition pruning is visible in the task count and the rows
    assert df.rdd.getNumPartitions() == 1
    rows = df.collect()
    assert [r["url"] for r in rows] == ["https://c.example/z"]


def test_warc_datasource_empty_glob_returns_empty_df(spark, tmp_path):
    """Zero-match glob is an empty DataFrame (ADVICE r3), consistent
    with the post-pushFilters path; failOnEmpty=true restores the
    planning-time error."""
    from westa_ocr_spark.sources.warc_datasource import register

    wdir = tmp_path / "empty"
    wdir.mkdir()
    register(spark)
    df = spark.read.format("warc").load(str(wdir))
    assert df.count() == 0
    strict = (
        spark.read.format("warc").option("failOnEmpty", "true")
        .load(str(wdir))
    )
    import pytest as _pytest

    with _pytest.raises(Exception, match="no files match"):
        strict.count()


def test_warc_datasource_inlist_and_range_pushdown(spark, tmp_path):
    """IN-lists and prefix/range predicates on warc_file prune files
    at planning time (VERDICT r3 #6): fewer partitions, correct
    rows."""
    from pyspark.sql import functions as F

    from westa_ocr_spark.sources.warc_datasource import register

    wdir = tmp_path / "warcs"
    wdir.mkdir()
    for i in range(4):
        (wdir / f"seg-{i}.warc.gz").write_bytes(
            write_warc(
                [{"url": f"https://s{i}.example/p",
                  "date": "2025-02-03T08:00:00Z",
                  "html": b"<html><body><p>doc</p></body></html>"}]
            )
        )
    register(spark)
    base = spark.read.format("warc").load(str(wdir))
    assert base.rdd.getNumPartitions() == 4

    two = base.filter(
        F.col("warc_file").isin(
            str(wdir / "seg-0.warc.gz"), str(wdir / "seg-3.warc.gz")
        )
    )
    assert two.rdd.getNumPartitions() == 2
    assert sorted(r["url"] for r in two.collect()) == [
        "https://s0.example/p", "https://s3.example/p",
    ]

    ranged = base.filter(
        (F.col("warc_file") >= str(wdir / "seg-1"))
        & (F.col("warc_file") < str(wdir / "seg-3"))
    )
    assert ranged.rdd.getNumPartitions() == 2
    assert sorted(r["url"] for r in ranged.collect()) == [
        "https://s1.example/p", "https://s2.example/p",
    ]

    prefix = base.filter(F.col("warc_file").startswith(str(wdir / "seg-2")))
    assert prefix.rdd.getNumPartitions() == 1


def test_warc_datasource_url_record_skip(spark, tmp_path):
    """url prefix/equality predicates are consumed record-level: the
    scan yields only matching records (and suppresses the NULL-url
    ERROR row, per SQL NULL semantics)."""
    from pyspark.sql import functions as F

    from westa_ocr_spark.sources.warc_datasource import register

    wdir = tmp_path / "warcs"
    wdir.mkdir()
    (wdir / "seg-0.warc.gz").write_bytes(write_warc(RECORDS))
    (wdir / "seg-bad.warc.gz").write_bytes(b"\x1f\x8bgarbage not gzip")
    register(spark)
    base = spark.read.format("warc").load(str(wdir))
    urls_all = [r["url"] for r in base.collect() if r["url"]]
    want_prefix = sorted(u for u in urls_all
                         if u.startswith("https://a."))
    assert want_prefix  # fixture sanity

    got = (
        base.filter(F.col("url").startswith("https://a."))
        .select("url", "status")
        .collect()
    )
    assert sorted(r["url"] for r in got) == want_prefix
    assert all(r["status"] == "OK" for r in got)  # ERROR row suppressed


def test_http_body_decodings():
    """Round 4: response bodies with Transfer-Encoding: chunked and
    Content-Encoding: gzip/deflate — both common in real captures —
    decode to the original document bytes; broken encodings fall back
    to the raw body (ERROR path downstream, never a parser crash)."""
    import gzip as _gzip
    import zlib as _zlib

    from westa_ocr_spark.sources.warc import parse_warc

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
    assert parse_warc(rec(http))[0]["payload"] == doc

    # gzip
    http = (b"HTTP/1.1 200 OK\r\nContent-Encoding: gzip\r\n\r\n"
            + _gzip.compress(doc))
    assert parse_warc(rec(http))[0]["payload"] == doc

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
        assert parse_warc(rec(http))[0]["payload"] == doc

    # chunked + gzip stacked
    gz = _gzip.compress(doc)
    chunks = (b"%x\r\n" % len(gz)) + gz + b"\r\n0\r\n\r\n"
    http = (b"HTTP/1.1 200 OK\r\nContent-Encoding: gzip\r\n"
            b"Transfer-Encoding: chunked\r\n\r\n" + chunks)
    assert parse_warc(rec(http))[0]["payload"] == doc

    # broken gzip: raw body returned WITH a decode error flagged
    # (round 5: consumers turn this into an ERROR row, the framed
    # bytes never masquerade as content)
    http = (b"HTTP/1.1 200 OK\r\nContent-Encoding: gzip\r\n\r\n"
            b"\x1f\x8bGARBAGE")
    out = parse_warc(rec(http))[0]
    assert out["payload"] == b"\x1f\x8bGARBAGE"
    assert out["error"] and "gzip" in out["error"]
    # clean records carry error=None
    http = b"HTTP/1.1 200 OK\r\nContent-Type: text/html\r\n\r\n" + doc
    assert parse_warc(rec(http))[0]["error"] is None


def test_http_body_decoding_header_variants():
    """Round 5 (ADVICE r4): coding LISTS, no-space colons, mixed case
    and stacked codings in one header all decode; an unrecognized
    coding is flagged as a decode error, not passed through raw."""
    import gzip as _gzip

    from westa_ocr_spark.sources.warc import parse_warc

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
    out = parse_warc(rec(http))[0]
    assert out["payload"] == doc and out["error"] is None

    # no-space colon + mixed case
    http = (b"HTTP/1.1 200 OK\r\ncontent-ENCODING:GZIP\r\n\r\n"
            + _gzip.compress(doc))
    out = parse_warc(rec(http))[0]
    assert out["payload"] == doc and out["error"] is None

    # x-gzip alias inside a list with identity
    http = (b"HTTP/1.1 200 OK\r\nContent-Encoding: identity, x-gzip\r\n\r\n"
            + _gzip.compress(doc))
    out = parse_warc(rec(http))[0]
    assert out["payload"] == doc and out["error"] is None

    # unrecognized coding (br is not shipped here): decode error
    http = (b"HTTP/1.1 200 OK\r\nContent-Encoding: br\r\n\r\n"
            b"\x00\x01\x02")
    out = parse_warc(rec(http))[0]
    assert out["error"] and "br" in out["error"]


def test_content_type_charset_drives_extraction(spark, tmp_path):
    """Round 5: the HTTP Content-Type charset rides the pages frame
    as the `charset` column and decodes no-meta non-UTF-8 pages
    end-to-end (WARC -> pages -> extract_pages)."""
    from westa_ocr_spark.operators.extract import extract_pages
    from westa_ocr_spark.sources.warc import (
        parse_warc,
        read_warc_pages,
        write_warc,
    )

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
    parsed = {r["url"]: r for r in parse_warc(blob)}
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

    from westa_ocr_spark.sources.warc import parse_warc

    bomb = _gzip.compress(b"\x00" * (70 * 1024 * 1024))  # ~70 KB in
    http = (b"HTTP/1.1 200 OK\r\nContent-Encoding: gzip\r\n\r\n" + bomb)
    head = (
        b"WARC/1.0\r\nWARC-Type: response\r\n"
        b"WARC-Target-URI: https://bomb.example/\r\n"
        b"WARC-Date: 2025-01-01T00:00:00Z\r\n"
        + f"Content-Length: {len(http)}\r\n".encode()
        + b"\r\n"
    )
    rec = parse_warc(head + http + b"\r\n\r\n")[0]
    assert rec["error"] and "cap" in rec["error"]

    # member-level bomb: the gzip MEMBER itself inflates past the cap
    member_bomb = _gzip.compress(b"\x00" * (300 * 1024 * 1024))
    with pytest.raises(ValueError, match="cap"):
        parse_warc(member_bomb)


def test_streaming_iterator_equivalent_to_inmemory_parse(tmp_path):
    """Round 5: iter_warc_file (O(member) memory, 1 MB read chunks)
    yields exactly parse_warc's records for gzip-member AND plain
    layouts, including multi-record members, decode errors and
    charset hints — verified with a tiny chunk size so every buffer
    boundary is exercised."""
    import gzip as _gzip

    from westa_ocr_spark.sources.warc import iter_warc_file, parse_warc

    recs = [
        {"url": f"https://s{i}.example/p", "date": "2025-01-01T00:00:00Z",
         "html": (f"<html><body><p>doc {i} body text</p></body></html>"
                  ).encode(),
         **({"charset": "Shift_JIS"} if i % 3 == 0 else {})}
        for i in range(7)
    ]
    for gz in (True, False):
        blob = write_warc(recs, gzip_members=gz)
        path = tmp_path / f"seg_{int(gz)}.warc.gz"
        path.write_bytes(blob)
        streamed = list(iter_warc_file(str(path), chunk_size=37))
        assert streamed == parse_warc(blob)
    # multi-record single member + broken-gzip body flagged identically
    multi = _gzip.compress(write_warc(recs[:3], gzip_members=False))
    p2 = tmp_path / "multi.warc.gz"
    p2.write_bytes(multi)
    assert list(iter_warc_file(str(p2), chunk_size=11)) == parse_warc(multi)
    # corrupt file raises in both
    p3 = tmp_path / "bad.warc.gz"
    p3.write_bytes(b"\x1f\x8bnot really gzip data")
    with pytest.raises(ValueError):
        list(iter_warc_file(str(p3)))
