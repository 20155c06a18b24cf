"""Round-trip and contract tests for the minimal PDF kernel."""

import pytest

from westa_ocr_spark.kernel.pdf_mini import extract_pdf_pages, write_pdf


def test_roundtrip_single_page():
    pdf = write_pdf(["hello world"])
    assert pdf.startswith(b"%PDF-")
    assert extract_pdf_pages(pdf) == ["hello world"]


def test_roundtrip_multi_page_order():
    pages = ["page one\nline two", "page two", "page three (final)"]
    assert extract_pdf_pages(write_pdf(pages)) == pages


def test_one_based_index_contract():
    # caller assigns 1-based page_index by position
    # (reference: /root/reference/app/pdf_utils.py:29)
    pages = extract_pdf_pages(write_pdf(["a", "b", "c"]))
    indexed = list(enumerate(pages, start=1))
    assert indexed == [(1, "a"), (2, "b"), (3, "c")]


def test_escapes_roundtrip():
    tricky = "parens () and \\ backslash (nested (deep))"
    assert extract_pdf_pages(write_pdf([tricky])) == [tricky]


def test_non_latin1_roundtrip():
    tricky = "café あいう 注文"
    assert extract_pdf_pages(write_pdf([tricky])) == [tricky]


def test_not_a_pdf_raises():
    with pytest.raises(ValueError):
        extract_pdf_pages(b"<html>nope</html>")


def test_truncated_pdf_raises():
    pdf = write_pdf(["hello"])
    with pytest.raises(ValueError):
        extract_pdf_pages(pdf[: len(pdf) // 2])


def test_deterministic_bytes():
    assert write_pdf(["same"]) == write_pdf(["same"])


# ---- real-world dialect coverage (round 2: FlateDecode, TJ, ObjStm) ----

PAGES = ["hello world\nline two", "page two () \\ escaped", "café あいう 注文"]


@pytest.mark.parametrize(
    "kw",
    [
        {"compress": True},
        {"tj_arrays": True},
        {"compress": True, "tj_arrays": True},
        {"objstm": True},
        {"objstm": True, "tj_arrays": True},
    ],
    ids=lambda kw: "+".join(sorted(kw)),
)
def test_dialect_roundtrip(kw):
    assert extract_pdf_pages(write_pdf(PAGES, **kw)) == PAGES


def test_broken_xref_table_is_ignored():
    """The loader scans objects; a corrupted classic xref must not
    matter (tolerant-xref contract)."""
    pdf = write_pdf(PAGES)
    at = pdf.rindex(b"xref")
    broken = pdf[:at] + b"xref\n0 1\ngarbage\n" + pdf[pdf.rindex(b"trailer"):]
    assert extract_pdf_pages(broken) == PAGES


def test_lying_length_falls_back_to_endstream_scan():
    pdf = write_pdf(["short text"])
    # corrupt every /Length to a huge value; parser must rescue via
    # the endstream scan
    import re

    broken = re.sub(rb"/Length \d+", b"/Length 999999", pdf)
    assert extract_pdf_pages(broken) == ["short text"]


def test_quote_operator_and_hex_strings():
    """Hand-written content stream: ' (move+show) and <hex> strings."""
    from westa_ocr_spark.kernel.pdf_core import content_text

    stream = b"BT /F1 12 Tf 72 720 Td (first) Tj (second) ' <746869726421> ' ET"
    assert content_text(stream) == "first\nsecond\nthird!"


def test_tj_array_kerning_numbers_carry_no_text():
    from westa_ocr_spark.kernel.pdf_core import content_text

    stream = b"BT [(ab) -120 (cd) 3.5 (ef)] TJ ET"
    assert content_text(stream) == "abcdef"


def test_nested_pages_tree():
    """Two-level /Pages tree: kids order defines page order."""
    pdf = write_pdf(["a", "b"])
    # splice: make the pages node point at an intermediate node
    mid = (
        b"9 0 obj\n<< /Type /Pages /Kids [4 0 R 6 0 R] /Count 2 "
        b"/Parent 2 0 R >>\nendobj\n"
    )
    patched = pdf.replace(
        b"/Kids [4 0 R 6 0 R]", b"/Kids [9 0 R]"
    )
    at = patched.rindex(b"xref")
    patched = patched[:at] + mid + patched[at:]
    assert extract_pdf_pages(patched) == ["a", "b"]


def test_flat_page_fallback_when_tree_is_broken():
    """No catalog/pages tree at all -> /Type /Page objects in order."""
    pdf = write_pdf(["solo"])
    # nuke the catalog and pages-node types
    broken = pdf.replace(b"/Type /Catalog", b"/Type /Junk").replace(
        b"/Type /Pages", b"/Type /Junk"
    )
    assert extract_pdf_pages(broken) == ["solo"]


def test_utf16be_bom_string():
    from westa_ocr_spark.kernel.pdf_core import decode_pdf_string

    assert decode_pdf_string("﻿hi".encode("utf-16-be")) == "hi"


def test_incremental_update_later_object_wins():
    pdf = write_pdf(["old text"])
    # append a replacement content stream (same object number 5)
    new_stream = b"BT /F1 12 Tf 72 720 Td (new text) Tj ET"
    tail = (
        b"5 0 obj\n<< /Length %d >>\nstream\n%s\nendstream\nendobj\n"
        b"%%%%EOF\n" % (len(new_stream), new_stream)
    )
    assert extract_pdf_pages(pdf + tail) == ["new text"]


def test_obj_header_inside_stream_payload_is_ignored():
    """Binary stream payloads can contain 'N G obj' byte sequences; a
    parseable garbage match must not clobber the real object under
    later-definition-wins (pre-fix: this embedded '5 0 obj << >>'
    replaced content stream 5 and silently dropped the page text)."""
    pdf = write_pdf(["real page text"])
    # splice a fake redefinition of the content stream INTO an
    # unreferenced stream object appended before EOF; an honest
    # /Length covers the payload, so the scanner knows its extent
    payload = b"garbage 5 0 obj\n<< >>\nendobj more garbage"
    extra = (
        b"9 0 obj\n<< /Length %d >>\nstream\n%s\nendstream\nendobj\n"
        b"%%%%EOF\n" % (len(payload), payload)
    )
    assert extract_pdf_pages(pdf + extra) == ["real page text"]


def test_lzw_filter_roundtrip():
    """LZWDecode: encode a content stream with a reference LZW
    compressor and splice it into a PDF; the parser must decode it."""
    from westa_ocr_spark.kernel.pdf_core import _lzw

    def lzw_encode(data: bytes) -> bytes:
        # straightforward MSB-first LZW encoder (test-only)
        table = {bytes([i]): i for i in range(256)}
        next_code = 258
        width = 9
        out_bits: list[tuple[int, int]] = [(256, 9)]  # leading clear
        w = b""
        for ch in data:
            wc = w + bytes([ch])
            if wc in table:
                w = wc
            else:
                out_bits.append((table[w], width))
                table[wc] = next_code
                next_code += 1
                if next_code > (1 << width) - 1 and width < 12:
                    width += 1
                w = bytes([ch])
        if w:
            out_bits.append((table[w], width))
        out_bits.append((257, width))  # EOD
        acc = nbits = 0
        buf = bytearray()
        for code, wd in out_bits:
            acc = (acc << wd) | code
            nbits += wd
            while nbits >= 8:
                buf.append((acc >> (nbits - 8)) & 0xFF)
                nbits -= 8
        if nbits:
            buf.append((acc << (8 - nbits)) & 0xFF)
        return bytes(buf)

    stream = b"BT /F1 12 Tf 72 720 Td (lzw page text) Tj ET"
    assert _lzw(lzw_encode(stream), {}) == stream

    pdf = write_pdf(["placeholder"])
    enc = lzw_encode(stream)
    old = b"(placeholder) Tj ET"
    start = pdf.index(b"<< /Length ")
    end = pdf.index(b"endstream", start) + len(b"endstream")
    replacement = (
        b"<< /Length %d /Filter /LZWDecode >>\nstream\n" % len(enc)
        + enc + b"\nendstream"
    )
    # the content stream is the object right after the page dict;
    # rebuild that object wholesale
    obj_start = pdf.index(b"5 0 obj\n") + len(b"5 0 obj\n")
    obj_end = pdf.index(b"endstream", obj_start) + len(b"endstream")
    patched = pdf[:obj_start] + replacement + pdf[obj_end:]
    assert extract_pdf_pages(patched) == ["lzw page text"]
    assert old not in patched


def test_encrypted_pdf_raises_cleanly():
    pdf = write_pdf(["secret"])
    at = pdf.rindex(b"trailer")
    patched = pdf[:at] + pdf[at:].replace(
        b"/Root 1 0 R", b"/Root 1 0 R /Encrypt 99 0 R", 1
    )
    with pytest.raises(ValueError, match="encrypted"):
        extract_pdf_pages(patched)


# -- empty-user-password RC4 fixtures (standard handler R2/R3) ----------
# The crypto below is written INDEPENDENTLY of pdf_core's decryptor
# (own RC4 + key schedule straight from ISO 32000 7.6.3) so the test
# cross-checks two implementations rather than round-tripping one.

_PAD = bytes(
    (0x28, 0xBF, 0x4E, 0x5E, 0x4E, 0x75, 0x8A, 0x41,
     0x64, 0x00, 0x4E, 0x56, 0xFF, 0xFA, 0x01, 0x08,
     0x2E, 0x2E, 0x00, 0xB6, 0xD0, 0x68, 0x3E, 0x80,
     0x2F, 0x0C, 0xA9, 0xFE, 0x64, 0x53, 0x69, 0x7A)
)


def _rc4_ref(key, data):
    s = list(range(256))
    j = 0
    for i in range(256):
        j = (j + s[i] + key[i % len(key)]) % 256
        s[i], s[j] = s[j], s[i]
    out, i, j = bytearray(), 0, 0
    for b in data:
        i = (i + 1) % 256
        j = (j + s[i]) % 256
        s[i], s[j] = s[j], s[i]
        out.append(b ^ s[(s[i] + s[j]) % 256])
    return bytes(out)


def _write_encrypted_pdf(text, r=2, length=40):
    import hashlib
    import struct

    id0 = bytes(range(16))
    n = 5 if r == 2 else length // 8
    # algorithm 3 (O entry), empty owner and user passwords
    h = hashlib.md5(_PAD).digest()
    if r >= 3:
        for _ in range(50):
            h = hashlib.md5(h).digest()
    okey = h[:n]
    o = _rc4_ref(okey, _PAD)
    if r >= 3:
        for i in range(1, 20):
            o = _rc4_ref(bytes(b ^ i for b in okey), o)
    # algorithm 2 (file key), empty user password
    h = hashlib.md5(
        _PAD + o + struct.pack("<I", 0xFFFFFFFF) + id0
    ).digest()
    key = h[:n]
    if r >= 3:
        for _ in range(50):
            key = hashlib.md5(key[:n]).digest()[:n]
    # algorithm 4/5 (U entry)
    if r == 2:
        u = _rc4_ref(key, _PAD)
    else:
        u = _rc4_ref(key, hashlib.md5(_PAD + id0).digest())
        for i in range(1, 20):
            u = _rc4_ref(bytes(b ^ i for b in key), u)
        u += b"\x00" * 16
    # algorithm 1 (per-object key) for content stream 4 0
    ok = hashlib.md5(
        key + (4).to_bytes(3, "little") + (0).to_bytes(2, "little")
    ).digest()[: min(n + 5, 16)]
    content = b"BT /F1 12 Tf 72 720 Td (" + text.encode("latin-1") \
        + b") Tj ET"
    enc_content = _rc4_ref(ok, content)
    v = 1 if r == 2 else 2
    objs = [
        b"1 0 obj\n<< /Type /Catalog /Pages 2 0 R >>\nendobj\n",
        b"2 0 obj\n<< /Type /Pages /Kids [3 0 R] /Count 1 >>\nendobj\n",
        b"3 0 obj\n<< /Type /Page /Parent 2 0 R /Contents 4 0 R >>\n"
        b"endobj\n",
        b"4 0 obj\n<< /Length %d >>\nstream\n%s\nendstream\nendobj\n"
        % (len(enc_content), enc_content),
        b"5 0 obj\n<< /Filter /Standard /V %d /R %d /Length %d "
        b"/O <%s> /U <%s> /P -1 >>\nendobj\n"
        % (v, r, length, o.hex().encode(), u.hex().encode()),
    ]
    body = b"%PDF-1.4\n" + b"".join(objs)
    trailer = (
        b"trailer\n<< /Size 6 /Root 1 0 R /Encrypt 5 0 R /ID [<%s> <%s>]"
        b" >>\n%%%%EOF\n" % (id0.hex().encode(), id0.hex().encode())
    )
    return body + trailer


@pytest.mark.parametrize("r,length", [(2, 40), (3, 128)])
def test_empty_password_rc4_decrypts_byte_identically(r, length):
    """An empty-user-password RC4 document (handler revisions 2 and 3)
    must extract byte-identically to its plaintext twin — the pypdf
    behavior the reference relies on."""
    text = "the hidden page text 42"
    enc = _write_encrypted_pdf(text, r=r, length=length)
    assert b"hidden page text" not in enc  # really ciphertext
    assert extract_pdf_pages(enc) == [text]


def test_wrong_password_still_errors():
    """A document whose user password is NOT empty keeps the clean
    ERROR path: U won't verify with the empty-password key."""
    enc = _write_encrypted_pdf("locked", r=2)
    # corrupt U so the empty-password check fails (= real password)
    at = enc.index(b"/U <")
    bad = enc[: at + 4] + b"00" * 32 + enc[at + 4 + 64:]
    with pytest.raises(ValueError, match="encrypted"):
        extract_pdf_pages(bad)


# -- AES (V4/R4 AESV2) empty-user-password fixtures (round 4) -----------
# The AES core is validated against the OFFICIAL FIPS-197 Appendix C
# known-answer vectors (independent ground truth), and the PDF
# assembly + key derivation below is written independently of
# pdf_core's decryptor (ISO 32000 7.6.2/7.6.3 straight from the
# spec), so the fixture cross-checks rather than round-trips.


def test_aes_core_fips197_vectors():
    from westa_ocr_spark.kernel.pdf_core import (
        _aes_dec_words,
        _aes_encrypt_block,
        _aes_expand_key,
        _rk_words,
        _rk_words_dec,
    )

    pt = bytes.fromhex("00112233445566778899aabbccddeeff")
    vectors = [
        ("000102030405060708090a0b0c0d0e0f",
         "69c4e0d86a7b0430d8cdb78070b4c55a"),
        ("000102030405060708090a0b0c0d0e0f1011121314151617",
         "dda97ca4864cdfe06eaf70a0ec0d7191"),
        ("000102030405060708090a0b0c0d0e0f10111213141516171819"
         "1a1b1c1d1e1f",
         "8ea2b7ca516745bfeafc49904b496089"),
    ]
    for keyhex, cthex in vectors:
        rk = _aes_expand_key(bytes.fromhex(keyhex))
        ct = _aes_encrypt_block(rk, pt)
        assert ct.hex() == cthex
        # single-block decrypt: the bulk path's word-key schedule
        assert _aes_dec_words(_rk_words_dec(_rk_words(rk)), ct) == pt


def _write_encrypted_pdf_aes(text):
    """Independent V4/R4 AESV2 assembly: key schedule per ISO 32000
    7.6.3 written out here (not imported from the decryptor); only
    the FIPS-197-pinned CBC primitive is shared."""
    import hashlib
    import struct

    from westa_ocr_spark.kernel.pdf_core import _aes_cbc_encrypt

    id0 = bytes(range(16))
    n = 16  # 128-bit
    h = hashlib.md5(_PAD).digest()
    for _ in range(50):
        h = hashlib.md5(h).digest()
    okey = h[:n]
    o = _rc4_ref(okey, _PAD)
    for i in range(1, 20):
        o = _rc4_ref(bytes(b ^ i for b in okey), o)
    h = hashlib.md5(
        _PAD + o + struct.pack("<I", 0xFFFFFFFF) + id0
    ).digest()
    key = h[:n]
    for _ in range(50):
        key = hashlib.md5(key[:n]).digest()[:n]
    u = _rc4_ref(key, hashlib.md5(_PAD + id0).digest())
    for i in range(1, 20):
        u = _rc4_ref(bytes(b ^ i for b in key), u)
    u += b"\x00" * 16
    # algorithm 1 with the AES salt for content stream 4 0
    ok = hashlib.md5(
        key + (4).to_bytes(3, "little") + (0).to_bytes(2, "little")
        + b"sAlT"
    ).digest()[: min(n + 5, 16)]
    content = b"BT /F1 12 Tf 72 720 Td (" + text.encode("latin-1") \
        + b") Tj ET"
    enc_content = _aes_cbc_encrypt(ok, b"\x07" * 16, content)
    objs = [
        b"1 0 obj\n<< /Type /Catalog /Pages 2 0 R >>\nendobj\n",
        b"2 0 obj\n<< /Type /Pages /Kids [3 0 R] /Count 1 >>\nendobj\n",
        b"3 0 obj\n<< /Type /Page /Parent 2 0 R /Contents 4 0 R >>\n"
        b"endobj\n",
        b"4 0 obj\n<< /Length %d >>\nstream\n%s\nendstream\nendobj\n"
        % (len(enc_content), enc_content),
        b"5 0 obj\n<< /Filter /Standard /V 4 /R 4 /Length 128 "
        b"/CF << /StdCF << /CFM /AESV2 /AuthEvent /DocOpen "
        b"/Length 16 >> >> /StmF /StdCF /StrF /StdCF "
        b"/O <%s> /U <%s> /P -1 >>\nendobj\n"
        % (o.hex().encode(), u.hex().encode()),
    ]
    body = b"%PDF-1.4\n" + b"".join(objs)
    trailer = (
        b"trailer\n<< /Size 6 /Root 1 0 R /Encrypt 5 0 R /ID [<%s> <%s>]"
        b" >>\n%%%%EOF\n" % (id0.hex().encode(), id0.hex().encode())
    )
    return body + trailer


def test_empty_password_aesv2_decrypts_byte_identically():
    """An empty-user-password AES-128 (V4/R4 AESV2) document must
    extract byte-identically to its plaintext — the second encrypted
    class pypdf opens silently (VERDICT r3 #10)."""
    text = "the aes hidden page text 42"
    enc = _write_encrypted_pdf_aes(text)
    assert b"aes hidden page" not in enc  # really ciphertext
    assert extract_pdf_pages(enc) == [text]


def test_writer_aes_dialect_across_layouts():
    """encrypt_pdf(aes=True) on every writer dialect extracts
    byte-identically to the plaintext twin (corpus v5 dialect)."""
    from westa_ocr_spark.kernel.pdf_mini import encrypt_pdf

    pages = ["Order A\nline two", "second page\nmore text"]
    for kw in ({}, {"compress": True},
               {"objstm": True, "tj_arrays": True}):
        plain = write_pdf(pages, **kw)
        enc = encrypt_pdf(plain, aes=True)
        assert extract_pdf_pages(enc) == extract_pdf_pages(plain)
        assert encrypt_pdf(plain, aes=True) == enc  # deterministic


def test_font_differences_and_tounicode_dialects():
    """Round 5 (VERDICT r4 #2): custom-encoded fonts — /Encoding
    /Differences arrays and /ToUnicode CMaps — extract byte-
    identically; the raw bytes are font codes, so a parser ignoring
    the maps would emit mis-mapped characters."""
    from westa_ocr_spark.kernel.pdf_mini import encrypt_pdf

    pages = ["The quick brown fox. jumps\nover the lazy dog.",
             "second page aeiou text."]
    for kw in ({"font_differences": True}, {"tounicode": True},
               {"font_differences": True, "compress": True},
               {"tounicode": True, "compress": True, "tj_arrays": True}):
        pdf = write_pdf(pages, **kw)
        assert extract_pdf_pages(pdf) == pages, kw
        assert write_pdf(pages, **kw) == pdf  # deterministic
        if not kw.get("compress"):
            # remapped vowels: the plain text is NOT in the bytes
            assert b"quick brown" not in pdf
    # custom encoding stacked under AES encryption
    enc = encrypt_pdf(
        write_pdf(pages, font_differences=True, compress=True), aes=True
    )
    assert extract_pdf_pages(enc) == pages


def test_tounicode_cmap_parser_forms():
    """bfchar, bfrange-with-base (incl. multi-char UTF-16 dst),
    bfrange-with-array, and codespacerange width detection."""
    from westa_ocr_spark.kernel.pdf_core import parse_tounicode

    cmap = (
        b"1 begincodespacerange\n<0000> <FFFF>\nendcodespacerange\n"
        b"2 beginbfchar\n<0041> <0061>\n<0042> <00E9>\nendbfchar\n"
        b"1 beginbfrange\n<0050> <0052> <0070>\nendbfrange\n"
        b"1 beginbfrange\n<0060> <0061> [<0078> <0079>]\nendbfrange\n"
    )
    mapping, width = parse_tounicode(cmap)
    assert width == 2
    assert mapping[0x41] == "a" and mapping[0x42] == "\xe9"
    assert [mapping[c] for c in (0x50, 0x51, 0x52)] == ["p", "q", "r"]
    assert mapping[0x60] == "x" and mapping[0x61] == "y"


def test_type0_tounicode_decoding():
    """A Type0 font with 2-byte codes + ToUnicode decodes through the
    CID map (the common subsetted-CJK layout)."""
    from westa_ocr_spark.kernel.pdf_core import FontDecoder

    mapping = {0x0001: "日", 0x0002: "本", 0x0003: "語"}
    dec = FontDecoder(cid_map=mapping, width=2)
    assert dec.decode(b"\x00\x01\x00\x02\x00\x03") == "日本語"
    assert dec.decode(b"\x00\x09") == "�"  # unmapped -> U+FFFD


def test_glyph_name_resolution():
    from westa_ocr_spark.kernel.pdf_core import _glyph_to_char

    assert _glyph_to_char("a") == "a"
    assert _glyph_to_char("space") == " "
    assert _glyph_to_char("eacute") == "\xe9"
    assert _glyph_to_char("uni0041") == "A"
    assert _glyph_to_char("u1F600") == "\U0001f600"
    assert _glyph_to_char("nosuchglyph") is None


def test_partially_undecryptable_aes_errors():
    """Round 5 (ADVICE r4): an AES stream whose ciphertext fails the
    length/padding check leaves the DOCUMENT on the ERROR path — a
    partial decrypt must not extract empty/garbage text."""
    from westa_ocr_spark.kernel.pdf_mini import encrypt_pdf

    enc = encrypt_pdf(write_pdf(["padding victim page"]), aes=True)
    # truncate one encrypted stream body to a non-16-multiple:
    # find a "stream\r\n...endstream" span and drop its last byte
    s = enc.index(b"stream")
    body_at = enc.index(b"\n", s) + 1
    end_at = enc.index(b"endstream", body_at) - 1  # trailing newline
    n = end_at - body_at
    assert n % 16 == 0  # it was AES ciphertext
    bad = enc[:body_at] + enc[body_at : end_at - 1] + enc[end_at:]
    bad = bad.replace(
        b"/Length " + str(n).encode(),
        b"/Length " + str(n - 1).encode(), 1,
    )
    with pytest.raises(ValueError, match="encrypted"):
        extract_pdf_pages(bad)


def test_aes256_v5_still_errors():
    """AES-256 (V5/R6) is out of scope and must keep the clean
    encrypted-ERROR path, never emit garbage."""
    enc = _write_encrypted_pdf_aes("locked")
    at = enc.index(b"/V 4 /R 4")
    bad = enc[:at] + b"/V 5 /R 6" + enc[at + len(b"/V 4 /R 4"):]
    with pytest.raises(ValueError, match="encrypted"):
        extract_pdf_pages(bad)


# -- AES-256 (V5 AESV3) empty-user-password fixtures (round 4) ----------

def _write_encrypted_pdf_v5(text, r=6):
    """Independent V5 assembly: /U, /UE and the hardened-hash chain
    written out here per ISO 32000-2 7.6.4.3.3/7.6.4.4.7 (only the
    FIPS-197-pinned AES primitives are shared with the decryptor)."""
    import hashlib

    from westa_ocr_spark.kernel.pdf_core import (
        _aes_cbc_encrypt,
        _aes_cbc_encrypt_nopad,
    )

    def hash_2b(pwd, salt, udata):
        k = hashlib.sha256(pwd + salt + udata).digest()
        rounds = 0
        while True:
            k1 = (pwd + k + udata) * 64
            e = _aes_cbc_encrypt_nopad(k[:16], k[16:32], k1)
            k = (hashlib.sha256, hashlib.sha384,
                 hashlib.sha512)[sum(e[:16]) % 3](e).digest()
            rounds += 1
            if rounds >= 64 and e[-1] <= rounds - 32:
                return k[:32]

    file_key = bytes(range(32))
    vsalt, ksalt = b"VSALT000", b"KSALT000"
    if r == 5:  # Acrobat 9 scheme: plain SHA-256
        u = hashlib.sha256(b"" + vsalt).digest() + vsalt + ksalt
        inter = hashlib.sha256(b"" + ksalt).digest()
    else:
        u = hash_2b(b"", vsalt, b"") + vsalt + ksalt
        inter = hash_2b(b"", ksalt, b"")
    ue = _aes_cbc_encrypt_nopad(inter, b"\x00" * 16, file_key)

    content = b"BT /F1 12 Tf 72 720 Td (" + text.encode("latin-1") \
        + b") Tj ET"
    enc_content = _aes_cbc_encrypt(file_key, b"\x09" * 16, content)
    objs = [
        b"1 0 obj\n<< /Type /Catalog /Pages 2 0 R >>\nendobj\n",
        b"2 0 obj\n<< /Type /Pages /Kids [3 0 R] /Count 1 >>\nendobj\n",
        b"3 0 obj\n<< /Type /Page /Parent 2 0 R /Contents 4 0 R >>\n"
        b"endobj\n",
        b"4 0 obj\n<< /Length %d >>\nstream\n%s\nendstream\nendobj\n"
        % (len(enc_content), enc_content),
        b"5 0 obj\n<< /Filter /Standard /V 5 /R %d /Length 256 "
        b"/CF << /StdCF << /CFM /AESV3 /AuthEvent /DocOpen "
        b"/Length 32 >> >> /StmF /StdCF /StrF /StdCF "
        b"/O <%s> /U <%s> /OE <%s> /UE <%s> /P -1 >>\nendobj\n"
        % (r, b"00" * 48, u.hex().encode(), b"00" * 32,
           ue.hex().encode()),
    ]
    body = b"%PDF-1.7\n" + b"".join(objs)
    trailer = (
        b"trailer\n<< /Size 6 /Root 1 0 R /Encrypt 5 0 R >>\n%%%%EOF\n"
    )
    return body + trailer


@pytest.mark.parametrize("r", [5, 6])
def test_empty_password_aes256_decrypts_byte_identically(r):
    """Empty-user-password AES-256 documents (V5: R5 Acrobat-9 scheme
    and R6 hardened hash) extract byte-identically to the plaintext
    — the last encrypted class pypdf opens silently (round 4)."""
    text = "the aes256 hidden page text"
    enc = _write_encrypted_pdf_v5(text, r=r)
    assert b"aes256 hidden" not in enc
    assert extract_pdf_pages(enc) == [text]


def test_writer_aes256_dialect_across_layouts():
    """encrypt_pdf(aes256=True) on every writer dialect extracts
    byte-identically to the plaintext twin (corpus v6 dialect)."""
    from westa_ocr_spark.kernel.pdf_mini import encrypt_pdf

    pages = ["Order V5\nline two", "second page\nmore text"]
    for kw in ({}, {"compress": True},
               {"objstm": True, "tj_arrays": True}):
        plain = write_pdf(pages, **kw)
        enc = encrypt_pdf(plain, aes256=True)
        assert extract_pdf_pages(enc) == extract_pdf_pages(plain)
        assert encrypt_pdf(plain, aes256=True) == enc


def test_aes256_wrong_password_still_errors():
    """A V5 document whose user password is NOT empty keeps the clean
    ERROR path (the /U validation hash won't match)."""
    enc = bytearray(_write_encrypted_pdf_v5("locked", r=6))
    at = bytes(enc).find(b"/U <") + 4
    enc[at : at + 8] = b"00000000"
    with pytest.raises(ValueError, match="encrypted"):
        extract_pdf_pages(bytes(enc))


def test_flatedecode_bomb_bounded():
    """Round 5: a FlateDecode stream expanding past the 64 MB cap is a
    clean per-document error, not an executor OOM."""
    import zlib as _zlib

    blob = _zlib.compress(b"\x00" * (70 * 1024 * 1024), 9)
    # splice the bomb in as a FlateDecode content stream
    base = write_pdf(["x"])
    s = base.index(b"stream\n") + len(b"stream\n")
    e = base.index(b"\nendstream", s)
    old_len = e - s
    bombed = (
        base[:s] + blob + base[e:]
    ).replace(
        b"/Length " + str(old_len).encode(),
        b"/Length " + str(len(blob)).encode(), 1,
    )
    # not valid Flate-marked? mark the stream as FlateDecode
    bombed = bombed.replace(
        b"<< /Length " + str(len(blob)).encode(),
        b"<< /Filter /FlateDecode /Length " + str(len(blob)).encode(), 1,
    )
    with pytest.raises(ValueError):
        extract_pdf_pages(bombed)
