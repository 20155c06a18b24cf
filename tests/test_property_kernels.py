"""Property-based kernel tests (hypothesis): the contracts hold for
arbitrary inputs, not just the seeded corpus."""

import codecs
import io

import pytest
from hypothesis import example, given, settings
from hypothesis import strategies as st

from westa_ocr_spark.kernel.html_extract import extract_html
from westa_ocr_spark.kernel.pdf_mini import extract_pdf_pages, write_pdf
from westa_ocr_spark.operators.extract import _MEDIA_MAGIC, extract_rows

# text without the PDF-hostile control chars we never emit
pdf_text = st.text(
    alphabet=st.characters(
        blacklist_categories=("Cs",), blacklist_characters="\r"
    ),
    max_size=300,
)


@settings(max_examples=150, deadline=None)
@given(st.lists(pdf_text, min_size=1, max_size=5))
def test_pdf_roundtrip_arbitrary_text(pages):
    assert extract_pdf_pages(write_pdf(pages)) == pages


@settings(max_examples=150, deadline=None)
@given(st.binary(max_size=2000))
def test_html_extract_total_on_arbitrary_bytes(data):
    """extract_html either returns (text, spans) or raises the two
    documented error types — never crashes another way, never
    desyncs spans."""
    try:
        text, spans = extract_html(data)
    except (UnicodeDecodeError, ValueError):
        # undecodable bytes, or a malformed marked section (round 4:
        # stdlib's AssertionError normalized to ValueError)
        return
    raw = text.encode("utf-8")
    for s in spans:
        seg = raw[s["start"] : s["end"]]
        seg.decode("utf-8")  # offsets always hit char boundaries
    assert len(spans) == 0 or spans[-1]["end"] == len(raw)
    assert [s["block_id"] for s in spans] == list(
        range(1, len(spans) + 1)
    )


@settings(max_examples=100, deadline=None)
@given(st.text(max_size=2000))
def test_html_extract_deterministic(txt):
    data = txt.encode("utf-8")
    assert extract_html(data) == extract_html(data)


@settings(max_examples=100, deadline=None)
@given(st.text(alphabet="ab <>/ph1div", max_size=300))
def test_html_spans_reconstruct_text(soup):
    """joining span segments with newlines reproduces the text."""
    text, spans = extract_html(soup.encode("utf-8"))
    raw = text.encode("utf-8")
    parts = [raw[s["start"]: s["end"]].decode("utf-8") for s in spans]
    assert "\n".join(parts) == text


@settings(max_examples=60, deadline=None)
@given(
    st.lists(pdf_text, min_size=1, max_size=4),
    st.sampled_from(
        [
            {"compress": True},
            {"tj_arrays": True},
            {"compress": True, "tj_arrays": True},
            {"objstm": True},
            {"objstm": True, "tj_arrays": True},
        ]
    ),
)
def test_pdf_roundtrip_all_dialects(pages, kw):
    """Round 2: every writer dialect (FlateDecode, TJ arrays,
    object-stream/xref-stream) round-trips arbitrary text."""
    assert extract_pdf_pages(write_pdf(pages, **kw)) == pages


@settings(max_examples=200, deadline=None)
@given(st.binary(min_size=0, max_size=3000))
def test_pdf_parser_total_on_arbitrary_bytes(data):
    """The tolerant loader never crashes with anything but ValueError
    on arbitrary garbage prefixed to look like a PDF."""
    try:
        pages = extract_pdf_pages(b"%PDF-1.4\n" + data + b"\n%%EOF\n")
        assert isinstance(pages, list)
        assert all(isinstance(p, str) for p in pages)
    except ValueError:
        pass


@settings(max_examples=80, deadline=None)
@given(
    st.lists(pdf_text, min_size=1, max_size=3),
    st.integers(min_value=0, max_value=10_000),
    st.binary(min_size=1, max_size=12),
)
def test_pdf_parser_total_under_mutation(pages, pos, junk):
    """Corrupting a valid compressed PDF anywhere yields either a
    clean parse or ValueError — never another exception type."""
    pdf = bytearray(write_pdf(pages, compress=True))
    at = pos % len(pdf)
    mutated = bytes(pdf[:at]) + junk + bytes(pdf[at:])
    if not mutated.startswith(b"%PDF-"):
        mutated = b"%PDF-1.4\n" + mutated
    try:
        out = extract_pdf_pages(mutated)
        assert isinstance(out, list)
    except ValueError:
        pass


def _warc_records(data: bytes) -> list[dict]:
    """Every record of an in-memory WARC, through the framer."""
    from westa_ocr_spark.sources.warc import iter_warc_records

    return list(iter_warc_records(io.BytesIO(data)))


@settings(max_examples=150, deadline=None)
@given(st.binary(max_size=2000))
def test_warc_parser_total_on_arbitrary_bytes(data):
    """The WARC framer never crashes with anything but ValueError."""
    for payload in (data, b"WARC/1.0\r\n" + data,
                    b"\x1f\x8b" + data):
        try:
            recs = _warc_records(payload)
            assert isinstance(recs, list)
        except ValueError:
            pass


@settings(max_examples=60, deadline=None)
@given(
    st.lists(
        st.tuples(
            st.text(alphabet=st.characters(
                min_codepoint=33, max_codepoint=126), min_size=1,
                max_size=40),
            st.binary(max_size=400),
        ),
        min_size=1,
        max_size=5,
    ),
    st.booleans(),
)
def test_warc_roundtrip_arbitrary_payloads(items, gz):
    from westa_ocr_spark.sources.warc import write_warc

    recs = [
        {"url": f"https://x.example/{u}", "date": "2025-01-01T00:00:00Z",
         "html": b}
        for u, b in items
    ]
    parsed = _warc_records(write_warc(recs, gzip_members=gz))
    assert [r["payload"] for r in parsed] == [r["html"] for r in recs]
    assert [r["url"] for r in parsed] == [r["url"] for r in recs]


_MARKUP_SOUP = st.text(
    alphabet="ab c<>/=\"'&;!?-[]pdivscrptyle\n\t#x0123",
    max_size=400,
)


@settings(max_examples=400, deadline=None)
@given(_MARKUP_SOUP)
def test_fast_tokenizer_equivalent_to_stdlib(soup):
    """Round 4: the fast tokenizer must produce byte-identical
    (text, spans) to the html.parser reference path on adversarial
    markup soup — quotes, entities, comments, PIs, marked sections,
    script/style cdata, bogus tags. The stdlib path is the arbiter."""
    data = soup.encode("utf-8")

    def run(which):
        try:
            return extract_html(data, tokenizer=which)
        except ValueError as exc:
            return ("VALUE_ERROR", str(exc))

    assert run("fast") == run("stdlib")


@settings(max_examples=150, deadline=None)
@given(st.text(max_size=1500))
def test_fast_tokenizer_equivalent_on_plain_text(soup):
    data = soup.encode("utf-8")

    def run(which):
        try:
            return extract_html(data, tokenizer=which)
        except ValueError as exc:
            return ("VALUE_ERROR", str(exc))

    assert run("fast") == run("stdlib")


@settings(max_examples=200, deadline=None)
@given(st.binary(max_size=2000),
       st.sampled_from([None, "utf-8", "shift_jis", "euc-kr", "gb2312",
                        "latin-1", "utf-16", "x-bogus"]))
def test_charset_decode_total_and_deterministic(data, hint):
    """decode_html_bytes is total (returns or raises exactly
    UnicodeDecodeError), deterministic, and its reported codec really
    is a codec that the returned text is consistent with."""
    import codecs

    from westa_ocr_spark.kernel.html_extract import decode_html_bytes

    try:
        text, enc = decode_html_bytes(data, hint)
    except UnicodeDecodeError:
        with pytest.raises(UnicodeDecodeError):
            decode_html_bytes(data, hint)  # raises deterministically
        return
    # deterministic
    assert decode_html_bytes(data, hint) == (text, enc)
    # the reported codec exists
    codecs.lookup(enc)
    assert isinstance(text, str)


@settings(max_examples=120, deadline=None)
@given(st.text(alphabet=st.characters(codec="cp932"), max_size=200),
       st.sampled_from(["Shift_JIS", "shift-jis", "SJIS", "x-sjis"]))
def test_charset_declared_roundtrip(body, label):
    """Any cp932-encodable body declared under any Shift_JIS alias
    decodes back to the exact original text."""
    from westa_ocr_spark.kernel.html_extract import decode_html_bytes

    doc = f'<meta charset="{label}"><p>{body}</p>'
    raw = doc.encode("cp932", errors="ignore")
    text, enc = decode_html_bytes(raw)
    assert text == raw.decode("cp932")
    assert enc == "cp932"


@settings(max_examples=300, deadline=None)
@given(st.binary(max_size=800))
def test_gif_decoder_total(data):
    """decode_gif_pixels raises ONLY ValueError on arbitrary bytes
    (round-5 fuzz found struct.error/IndexError escapes on truncated
    descriptors / color tables / missing LZW code size)."""
    from westa_ocr_spark.operators.multimodal import decode_gif_pixels

    try:
        decode_gif_pixels(b"GIF89a" + data)
    except ValueError:
        pass


@settings(max_examples=300, deadline=None)
@given(st.integers(0, 10**9), st.integers(0, 255), st.integers(0, 10**9))
# an interlaced PNG whose corrupted height asked np.zeros for 15.8 GiB
# before the IDAT length was checked (MemoryError, not ValueError)
@example(pos=60680, val=72, seed=125)
def test_png_gif_mutation_total(pos, val, seed):
    """Single-byte corruption of REAL png/gif files (incl. interlaced
    and local-palette layouts) either decodes or raises ValueError —
    round-5 fuzz found corrupt IDAT escaping as zlib.error."""
    from westa_ocr_spark.operators.multimodal import (
        decode_gif_pixels,
        decode_png_pixels,
        write_gif,
        write_png,
    )

    png = bytearray(write_png(9 + seed % 8, 7 + seed % 5,
                              interlace=bool(seed % 2)))
    png[pos % len(png)] = val
    try:
        decode_png_pixels(bytes(png))
    except ValueError:
        pass
    gif = bytearray(write_gif(9 + seed % 8, 7 + seed % 5,
                              interlace=bool(seed % 2),
                              local_palette=seed % 3 == 0))
    gif[pos % len(gif)] = val
    try:
        decode_gif_pixels(bytes(gif))
    except ValueError:
        pass


@settings(max_examples=400, deadline=None)
@given(st.integers(0, 10**9), st.integers(0, 255), st.integers(0, 5))
# a DRI segment whose length byte was zeroed (struct.error, not
# ValueError)
@example(pos=635680932, val=0, which=3)
def test_jpeg_mutation_total(pos, val, which):
    """Single-byte corruption of real baseline gray and
    baseline/progressive color JPEGs (all subsamplings + restarts)
    raises ONLY ValueError —
    round-5 fuzz found DHT count/value mismatches, truncated SOF/SOS
    headers, out-of-range DC categories (unbounded predictors) and
    double-SOF grid re-dimensioning escaping as
    IndexError/OverflowError/struct.error."""
    import numpy as np

    from westa_ocr_spark.kernel.jpeg_mini import (
        decode_jpeg,
        write_jpeg_color,
        write_jpeg_progressive,
    )
    from westa_ocr_spark.operators.multimodal import write_jpeg

    yy, xx = np.mgrid[0:24, 0:40]
    rgb = np.stack(
        [np.clip(yy * 3 + 16, 0, 255), np.clip(xx * 2 + 32, 0, 255),
         np.clip(xx + yy + 64, 0, 255)], axis=2
    ).astype(np.uint8)
    bases = [write_jpeg_color(rgb, s) for s in ("420", "422", "444")]
    bases.append(write_jpeg_color(rgb, "420", restart_interval=2))
    bases.append(write_jpeg_progressive(rgb, "420"))
    bases.append(write_jpeg(16, 12))
    base = bytearray(bases[which])
    base[pos % len(base)] = val
    try:
        decode_jpeg(bytes(base))
    except ValueError:
        pass


def test_jpeg_sos_zero_components_is_valueerror():
    """Round-6 fuzz regression (pinned deterministically because the
    hypothesis example DB is gitignored): a corrupted SOS whose Ns
    byte reads 0 left scan_comps empty and index-crashed the
    non-interleaved scan path; T.81 B.2.3 bounds 1 <= Ns <= 4."""
    import numpy as np
    import pytest

    from westa_ocr_spark.kernel.jpeg_mini import (
        decode_jpeg,
        write_jpeg_color,
    )

    yy, xx = np.mgrid[0:24, 0:40]
    rgb = np.stack(
        [np.clip(yy * 3 + 16, 0, 255), np.clip(xx * 2 + 32, 0, 255),
         np.clip(xx + yy + 64, 0, 255)], axis=2
    ).astype(np.uint8)
    buf = bytearray(write_jpeg_color(rgb, "420"))
    # find the SOS marker and zero its Ns byte (first header byte)
    sos = buf.find(b"\xff\xda")
    assert sos >= 0
    buf[sos + 4] = 0
    with pytest.raises(ValueError, match="jpeg: "):
        decode_jpeg(bytes(buf))


def test_jpeg_undefined_huffman_table_is_valueerror():
    """A corrupted DHT class/id byte (the second DHT's Tc/Th, 0x10,
    set to 171) leaves the AC table the scan names undefined; the
    Huffman decode then tested membership in None (TypeError)."""
    from westa_ocr_spark.kernel.jpeg_mini import decode_jpeg
    from westa_ocr_spark.operators.multimodal import write_jpeg

    buf = bytearray(write_jpeg(16, 12))
    assert buf[139] == 0x10
    buf[139] = 171
    with pytest.raises(ValueError, match="jpeg: missing tables"):
        decode_jpeg(bytes(buf))


# ---------------------------------------------------------------------------
# the decoders' shared MAX_PIXELS cap: checked right after the header
# parse, before any inflate or allocation sized from it


def test_jpeg_pixel_cap():
    """17 bytes (SOI, a one-component 65535x65535 SOF0, EOI) once
    asked np.zeros for 32 GiB of coefficients (MemoryError)."""
    import struct

    from westa_ocr_spark.kernel.jpeg_mini import decode_jpeg

    data = (b"\xff\xd8\xff\xc0"
            + struct.pack(">HBHHB", 11, 8, 65535, 65535, 1)
            + bytes([1, 0x11, 0]) + b"\xff\xd9")
    assert len(data) == 17
    with pytest.raises(ValueError, match="MAX_PIXELS"):
        decode_jpeg(data)


def test_png_pixel_cap():
    """A ~249 KB 8000x8000 RGBA PNG of zero scanlines once inflated
    256 MB and allocated 256 MB of pixels."""
    import struct
    import zlib

    from westa_ocr_spark.operators.multimodal import (
        _png_chunk,
        decode_png_pixels,
    )

    w = h = 8000
    z = zlib.compressobj()
    row = bytes(w * 4 + 1)  # filter byte 0 + one zero RGBA scanline
    idat = b"".join(z.compress(row) for _ in range(h)) + z.flush()
    assert len(idat) < 300_000
    data = (b"\x89PNG\r\n\x1a\n"
            + _png_chunk(b"IHDR", struct.pack(">IIBBBBB", w, h, 8, 6,
                                              0, 0, 0))
            + _png_chunk(b"IDAT", idat) + _png_chunk(b"IEND", b""))
    with pytest.raises(ValueError, match="MAX_PIXELS"):
        decode_png_pixels(data)


def test_gif_pixel_cap():
    """An image descriptor of 65535x65535 once ran the LZW decode
    before failing on the raster underrun."""
    from westa_ocr_spark.operators.multimodal import (
        decode_gif_pixels,
        write_gif,
    )

    buf = bytearray(write_gif(4, 4))
    assert buf[25] == 0x2C  # image separator after the 4-entry palette
    buf[30:34] = b"\xff\xff\xff\xff"
    with pytest.raises(ValueError, match="MAX_PIXELS"):
        decode_gif_pixels(bytes(buf))


_PREFIXES = (
    [b"", b"%PDF-", codecs.BOM_UTF8, codecs.BOM_UTF16_LE,
     codecs.BOM_UTF16_BE, codecs.BOM_UTF32_LE, codecs.BOM_UTF32_BE]
    + [magic for magic, _kind in _MEDIA_MAGIC]
)


@settings(max_examples=300, deadline=None)
@given(st.sampled_from(_PREFIXES), st.binary(max_size=2000),
       st.sampled_from([None, "Shift_JIS", "x-bogus-label"]))
def test_extract_rows_total(prefix, data, charset):
    """Any bytes behind any PDF / BOM / media prefix, with no, a valid
    or a junk charset hint: extract_rows returns >= 1 row, each DONE
    or ERROR, pages numbered 1..n — and never raises."""
    rows = extract_rows("u", prefix + data, charset)
    assert rows
    assert {r["status"] for r in rows} <= {"DONE", "ERROR"}
    assert [r["page_index"] for r in rows] == list(range(1, len(rows) + 1))
