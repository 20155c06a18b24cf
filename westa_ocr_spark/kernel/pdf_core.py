"""Tolerant real-world PDF object model, filters, and text extraction.

The reference splits and extracts arbitrary user PDFs via pypdf
(``/root/reference/app/pdf_utils.py:23-36``, ``requirements.txt``
pins ``pypdf``). pypdf is not available in this sandbox, so this module
implements — pure stdlib — the subset of ISO 32000 a crawl-scale text
extractor actually needs:

* a recursive-descent object parser (dicts, arrays, names with ``#xx``
  escapes, literal + hex strings, numbers, booleans, null, indirect
  references);
* tolerant document loading that **ignores the xref table entirely**
  and scans every ``N G obj … endobj`` in file order (later definition
  wins, which also covers incremental updates) — so broken or exotic
  cross-reference tables cannot fail a document;
* stream decoding: ``FlateDecode`` (zlib, with raw-deflate fallback and
  PNG/TIFF predictors), ``ASCIIHexDecode``, ``ASCII85Decode``,
  ``RunLengthDecode``; ``/Length`` may be direct or an indirect ref,
  with an ``endstream``-scan fallback when it lies;
* object streams (``/Type /ObjStm``, PDF 1.5+) — modern writers store
  page dictionaries there, compressed;
* page-tree walk (nested ``/Pages`` nodes, ``/Kids`` order, cycle
  guard) with a flat ``/Type /Page`` fallback when the tree is broken;
* a content-stream text interpreter covering ``Tj``, ``TJ`` (array
  show with kerning), ``'``, ``"``, ``Td``, ``TD``, ``T*``, ``Tm``
  line tracking — not just ``(…) Tj`` regexes.

Everything is deterministic: no wall clock, no randomness, no
environment reads; malformed inputs raise ``ValueError`` so the
extraction operator can capture a per-row ERROR
(``/root/reference/app/worker.py:798-823``).
"""

from __future__ import annotations

import re
import zlib
from typing import NamedTuple

_WS = b"\x00\t\n\x0c\r "
_DELIM = b"()<>[]{}/%"


class Ref(NamedTuple):
    num: int
    gen: int


class Name(str):
    """A PDF name (distinct from a decoded text string)."""


class StreamObj(NamedTuple):
    dict: dict
    raw: bytes  # undecoded stream payload


# ---------------------------------------------------------------------------
# tokenizer / object parser
# ---------------------------------------------------------------------------


def _skip_ws(data: bytes, i: int) -> int:
    n = len(data)
    while i < n:
        c = data[i : i + 1]
        if c in (b"\x00", b"\t", b"\n", b"\x0c", b"\r", b" "):
            i += 1
        elif c == b"%":  # comment to end of line
            while i < n and data[i : i + 1] not in (b"\r", b"\n"):
                i += 1
        else:
            break
    return i


_NAME_ESC = re.compile(rb"#([0-9A-Fa-f]{2})")


def _parse_name(data: bytes, i: int) -> tuple[Name, int]:
    i += 1  # past '/'
    start = i
    n = len(data)
    while i < n and data[i : i + 1] not in _WS + _DELIM:
        i += 1
    raw = data[start:i]
    raw = _NAME_ESC.sub(lambda m: bytes([int(m.group(1), 16)]), raw)
    return Name(raw.decode("latin-1")), i


_STR_SIMPLE_ESC = {
    b"n": b"\n", b"r": b"\r", b"t": b"\t", b"b": b"\b", b"f": b"\x0c",
    b"(": b"(", b")": b")", b"\\": b"\\",
}


def _parse_string(data: bytes, i: int) -> tuple[bytes, int]:
    """Literal string ``( … )`` with escapes and balanced parens."""
    i += 1
    out = bytearray()
    depth = 1
    n = len(data)
    while i < n:
        c = data[i : i + 1]
        if c == b"\\":
            nxt = data[i + 1 : i + 2]
            if nxt in _STR_SIMPLE_ESC:
                out += _STR_SIMPLE_ESC[nxt]
                i += 2
            elif nxt.isdigit():
                j = i + 1
                while j < n and j < i + 4 and data[j : j + 1].isdigit():
                    j += 1
                out.append(int(data[i + 1 : j], 8) & 0xFF)
                i = j
            elif nxt in (b"\r", b"\n"):  # line continuation
                i += 2
                if nxt == b"\r" and data[i : i + 1] == b"\n":
                    i += 1
            else:
                out += nxt
                i += 2
        elif c == b"(":
            depth += 1
            out += c
            i += 1
        elif c == b")":
            depth -= 1
            if depth == 0:
                return bytes(out), i + 1
            out += c
            i += 1
        else:
            out += c
            i += 1
    raise ValueError("malformed PDF (unterminated string)")


def _parse_hex_string(data: bytes, i: int) -> tuple[bytes, int]:
    end = data.find(b">", i + 1)
    if end < 0:
        raise ValueError("malformed PDF (unterminated hex string)")
    hexdigits = re.sub(rb"[^0-9A-Fa-f]", b"", data[i + 1 : end])
    if len(hexdigits) % 2:
        hexdigits += b"0"
    return bytes.fromhex(hexdigits.decode("ascii")), end + 1


_NUM_RE = re.compile(rb"[+-]?(?:\d+\.\d*|\.\d+|\d+)")
_KEYWORD_RE = re.compile(rb"[A-Za-z*'\"]+")


def parse_object(data: bytes, i: int):
    """Parse one PDF object at ``i``; returns ``(value, next_pos)``."""
    i = _skip_ws(data, i)
    if i >= len(data):
        raise ValueError("malformed PDF (unexpected end of data)")
    c = data[i : i + 1]
    if c == b"/":
        return _parse_name(data, i)
    if data.startswith(b"<<", i):
        return _parse_dict(data, i)
    if c == b"<":
        return _parse_hex_string(data, i)
    if c == b"(":
        return _parse_string(data, i)
    if c == b"[":
        i += 1
        arr = []
        while True:
            i = _skip_ws(data, i)
            if data.startswith(b"]", i):
                return arr, i + 1
            if i >= len(data):
                raise ValueError("malformed PDF (unterminated array)")
            val, i = parse_object(data, i)
            arr.append(val)
    m = _NUM_RE.match(data, i)
    if m:
        # lookahead for "num gen R" indirect reference
        j = _skip_ws(data, m.end())
        m2 = _NUM_RE.match(data, j)
        if m2 and b"." not in m.group() and b"." not in m2.group():
            k = _skip_ws(data, m2.end())
            if data.startswith(b"R", k) and not _KEYWORD_RE.match(
                data, k + 1
            ):
                return Ref(int(m.group()), int(m2.group())), k + 1
        tok = m.group()
        return (float(tok) if b"." in tok else int(tok)), m.end()
    m = _KEYWORD_RE.match(data, i)
    if m:
        kw = m.group()
        if kw == b"true":
            return True, m.end()
        if kw == b"false":
            return False, m.end()
        if kw == b"null":
            return None, m.end()
        raise ValueError(f"malformed PDF (unexpected keyword {kw[:16]!r})")
    raise ValueError(f"malformed PDF (unexpected byte {c!r})")


def _parse_dict(data: bytes, i: int) -> tuple[dict, int]:
    i += 2
    out: dict = {}
    while True:
        i = _skip_ws(data, i)
        if data.startswith(b">>", i):
            return out, i + 2
        if i >= len(data):
            raise ValueError("malformed PDF (unterminated dict)")
        if data[i : i + 1] != b"/":
            raise ValueError("malformed PDF (dict key is not a name)")
        key, i = _parse_name(data, i)
        val, i = parse_object(data, i)
        out[key] = val


# ---------------------------------------------------------------------------
# stream filters
# ---------------------------------------------------------------------------


def _png_predictor(data: bytes, colors: int, bpc: int,
                   columns: int) -> bytes:
    bpp = max(1, (colors * bpc) // 8)
    rowlen = (columns * colors * bpc + 7) // 8
    out = bytearray()
    prev = bytearray(rowlen)
    i = 0
    while i + 1 <= len(data):
        ft = data[i]
        row = bytearray(data[i + 1 : i + 1 + rowlen])
        i += 1 + rowlen
        if ft == 1:  # Sub
            for k in range(bpp, len(row)):
                row[k] = (row[k] + row[k - bpp]) & 0xFF
        elif ft == 2:  # Up
            for k in range(len(row)):
                row[k] = (row[k] + prev[k]) & 0xFF
        elif ft == 3:  # Average
            for k in range(len(row)):
                left = row[k - bpp] if k >= bpp else 0
                row[k] = (row[k] + (left + prev[k]) // 2) & 0xFF
        elif ft == 4:  # Paeth
            for k in range(len(row)):
                a = row[k - bpp] if k >= bpp else 0
                b = prev[k]
                cc = prev[k - bpp] if k >= bpp else 0
                p = a + b - cc
                pa, pb, pc = abs(p - a), abs(p - b), abs(p - cc)
                pred = a if (pa <= pb and pa <= pc) else (
                    b if pb <= pc else cc
                )
                row[k] = (row[k] + pred) & 0xFF
        # ft == 0: None
        out += row
        prev = row
    return bytes(out)


# FlateDecode inflate cap (round 5): matches the pipeline payload
# cap — a stream bomb becomes a clean per-document ValueError (ERROR
# row upstream), never an executor OOM
_MAX_STREAM_BYTES = 64 * 1024 * 1024


def _bounded_zdecompress(data: bytes, wbits: int) -> bytes:
    d = zlib.decompressobj(wbits)
    out = d.decompress(data, _MAX_STREAM_BYTES + 1)
    if len(out) > _MAX_STREAM_BYTES:
        raise ValueError(
            f"FlateDecode stream exceeds {_MAX_STREAM_BYTES}-byte cap"
        )
    return out + d.flush()


def _flate(data: bytes, parms: dict) -> bytes:
    try:
        raw = _bounded_zdecompress(data, zlib.MAX_WBITS)
    except zlib.error:
        try:
            raw = _bounded_zdecompress(data, -15)  # raw deflate
        except zlib.error as exc:
            raise ValueError(f"malformed PDF (flate: {exc})") from exc
    return _apply_predictor(raw, parms)


def _ascii_hex(data: bytes, _parms: dict) -> bytes:
    body = data.split(b">")[0]
    hexdigits = re.sub(rb"[^0-9A-Fa-f]", b"", body)
    if len(hexdigits) % 2:
        hexdigits += b"0"
    return bytes.fromhex(hexdigits.decode("ascii"))


def _ascii85(data: bytes, _parms: dict) -> bytes:
    import base64

    body = data.split(b"~>")[0]
    body = re.sub(rb"\s", b"", body)
    if body.startswith(b"<~"):
        body = body[2:]
    try:
        return base64.a85decode(body)
    except ValueError as exc:
        raise ValueError(f"malformed PDF (a85: {exc})") from exc


def _lzw(data: bytes, parms: dict) -> bytes:
    """LZWDecode (ISO 32000 §7.4.4): variable-width codes 9..12 bits,
    MSB-first, with clear-table (256) / EOD (257) markers. Older PDF
    writers (and TIFF-era toolchains) still emit it."""
    out = bytearray()
    table: list[bytes] = [bytes([i]) for i in range(256)] + [b"", b""]
    prev: bytes | None = None
    width = 9
    acc = 0
    nbits = 0
    for byte in data:
        acc = (acc << 8) | byte
        nbits += 8
        while nbits >= width:
            code = (acc >> (nbits - width)) & ((1 << width) - 1)
            nbits -= width
            if code == 256:  # clear table
                table = [bytes([i]) for i in range(256)] + [b"", b""]
                prev = None
                width = 9
                continue
            if code == 257:  # EOD
                nbits = 0
                break
            if prev is None:
                if code >= len(table):
                    raise ValueError("malformed PDF (bad LZW start code)")
                entry = table[code]
            elif code < len(table):
                entry = table[code]
                table.append(prev + entry[:1])
            elif code == len(table):
                entry = prev + prev[:1]
                table.append(entry)
            else:
                raise ValueError("malformed PDF (LZW code out of range)")
            out += entry
            prev = entry
            if len(table) >= (1 << width) - 1 and width < 12:
                width += 1
    return _apply_predictor(bytes(out), parms or {})


def _apply_predictor(raw: bytes, parms: dict) -> bytes:
    colors = parms.get("Colors", 1)
    bpc = parms.get("BitsPerComponent", 8)
    columns = parms.get("Columns", 1)
    pred = parms.get("Predictor", 1)
    if pred >= 10:
        return _png_predictor(raw, colors, bpc, columns)
    if pred == 2:
        if bpc != 8:
            raise ValueError("malformed PDF (TIFF predictor bpc != 8)")
        rowlen = columns * colors
        out = bytearray(raw)
        for r0 in range(0, len(out) - rowlen + 1, rowlen):
            for k in range(colors, rowlen):
                out[r0 + k] = (out[r0 + k] + out[r0 + k - colors]) & 0xFF
        return bytes(out)
    if pred in (None, 1):
        return raw
    raise ValueError(f"malformed PDF (unknown predictor {pred})")


def _runlength(data: bytes, _parms: dict) -> bytes:
    out = bytearray()
    i = 0
    while i < len(data):
        l = data[i]
        if l == 128:
            break
        if l < 128:
            out += data[i + 1 : i + 2 + l]
            i += 2 + l
        else:
            out += data[i + 1 : i + 2] * (257 - l)
            i += 2
    return bytes(out)


_FILTERS = {
    "FlateDecode": _flate, "Fl": _flate,
    "ASCIIHexDecode": _ascii_hex, "AHx": _ascii_hex,
    "ASCII85Decode": _ascii85, "A85": _ascii85,
    "RunLengthDecode": _runlength, "RL": _runlength,
    "LZWDecode": _lzw, "LZW": _lzw,
}


# ---------------------------------------------------------------------------
# document store
# ---------------------------------------------------------------------------

_OBJ_HDR = re.compile(rb"(\d+)\s+(\d+)\s+obj\b")
_TRAILER = re.compile(rb"trailer")

# -- standard security handler (empty user password) ---------------------
# The reference's splitter (pypdf, /root/reference/requirements.txt)
# transparently decrypts documents whose user password is empty; the
# same is implementable pure-stdlib for every standard-handler
# generation: classic RC4 (ISO 32000 7.6.3 algorithms 2-5, R2/R3),
# AES-128 AESV2 (V4/R4, round 4) and AES-256 AESV3 (V5, R5 Acrobat-9
# scheme and R6 ISO 32000-2 hardened hash — also round 4). Non-empty
# passwords and non-standard crypt filters take the ERROR path.

_PWD_PAD = bytes(
    (0x28, 0xBF, 0x4E, 0x5E, 0x4E, 0x75, 0x8A, 0x41,
     0x64, 0x00, 0x4E, 0x56, 0xFF, 0xFA, 0x01, 0x08,
     0x2E, 0x2E, 0x00, 0xB6, 0xD0, 0x68, 0x3E, 0x80,
     0x2F, 0x0C, 0xA9, 0xFE, 0x64, 0x53, 0x69, 0x7A)
)


def _rc4(key: bytes, data: bytes) -> bytes:
    s = list(range(256))
    j = 0
    for i in range(256):
        j = (j + s[i] + key[i % len(key)]) & 0xFF
        s[i], s[j] = s[j], s[i]
    out = bytearray()
    i = j = 0
    for b in data:
        i = (i + 1) & 0xFF
        j = (j + s[i]) & 0xFF
        s[i], s[j] = s[j], s[i]
        out.append(b ^ s[(s[i] + s[j]) & 0xFF])
    return bytes(out)


# -- AES-128-CBC (pure python, FIPS-197) for the AESV2 crypt filter --
# Tables are generated, not transcribed: the S-box is the affine
# transform of the GF(2^8) multiplicative inverse; exp/log tables use
# generator 3. Validated against the FIPS-197 Appendix C known-answer
# vectors in tests.

def _xtime(a: int) -> int:
    a <<= 1
    return (a ^ 0x1B) & 0xFF if a & 0x100 else a


_GF_EXP = [0] * 510
_GF_LOG = [0] * 256
_g = 1
for _i in range(255):
    _GF_EXP[_i] = _g
    _GF_LOG[_g] = _i
    _g ^= _xtime(_g)  # multiply by generator 3: g*2 ^ g
for _i in range(255, 510):
    _GF_EXP[_i] = _GF_EXP[_i - 255]


def _gmul(a: int, b: int) -> int:
    if a == 0 or b == 0:
        return 0
    return _GF_EXP[_GF_LOG[a] + _GF_LOG[b]]


_AES_SBOX = [0] * 256
for _i in range(256):
    _q = 0 if _i == 0 else _GF_EXP[255 - _GF_LOG[_i]]
    _s = _q
    for _ in range(4):
        _q = ((_q << 1) | (_q >> 7)) & 0xFF
        _s ^= _q
    _AES_SBOX[_i] = _s ^ 0x63
_AES_INV_SBOX = [0] * 256
for _i, _v in enumerate(_AES_SBOX):
    _AES_INV_SBOX[_v] = _i


def _aes_expand_key(key: bytes) -> list[list[int]]:
    """Round keys as flat 16-int lists (column-major state order)."""
    nk = len(key) // 4
    if nk not in (4, 6, 8):
        raise ValueError("aes: key must be 16/24/32 bytes")
    nr = nk + 6
    words = [list(key[4 * i : 4 * i + 4]) for i in range(nk)]
    rcon = 1
    for i in range(nk, 4 * (nr + 1)):
        tmp = list(words[i - 1])
        if i % nk == 0:
            tmp = tmp[1:] + tmp[:1]
            tmp = [_AES_SBOX[b] for b in tmp]
            tmp[0] ^= rcon
            rcon = _xtime(rcon)
        elif nk > 6 and i % nk == 4:
            tmp = [_AES_SBOX[b] for b in tmp]
        words.append([a ^ b for a, b in zip(words[i - nk], tmp)])
    return [
        [words[4 * r + c][j] for c in range(4) for j in range(4)]
        for r in range(nr + 1)
    ]


# T-tables (classic 4x256-word AES formulation): fold SubBytes +
# ShiftRows + MixColumns into four table lookups per output column.
# ~6x over the byte-wise rounds in pure python — the hardened-hash
# KDF (algorithm 2.B) runs ~10^5 block encryptions per derivation,
# which made V5 documents cost seconds each without this.
_T0 = [0] * 256
_T1 = [0] * 256
_T2 = [0] * 256
_T3 = [0] * 256
_IT0 = [0] * 256
_IT1 = [0] * 256
_IT2 = [0] * 256
_IT3 = [0] * 256
for _x in range(256):
    _s = _AES_SBOX[_x]
    _g2, _g3 = _gmul(_s, 2), _gmul(_s, 3)
    _T0[_x] = (_g2 << 24) | (_s << 16) | (_s << 8) | _g3
    _T1[_x] = (_g3 << 24) | (_g2 << 16) | (_s << 8) | _s
    _T2[_x] = (_s << 24) | (_g3 << 16) | (_g2 << 8) | _s
    _T3[_x] = (_s << 24) | (_s << 16) | (_g3 << 8) | _g2
    _i = _AES_INV_SBOX[_x]
    _e, _9 = _gmul(_i, 14), _gmul(_i, 9)
    _d, _b = _gmul(_i, 13), _gmul(_i, 11)
    _IT0[_x] = (_e << 24) | (_9 << 16) | (_d << 8) | _b
    _IT1[_x] = (_b << 24) | (_e << 16) | (_9 << 8) | _d
    _IT2[_x] = (_d << 24) | (_b << 16) | (_e << 8) | _9
    _IT3[_x] = (_9 << 24) | (_d << 16) | (_b << 8) | _e


def _rk_words(rk: list[list[int]]) -> list[list[int]]:
    """Flat round keys -> per-round column words (big-endian rows)."""
    return [
        [
            (r[4 * c] << 24) | (r[4 * c + 1] << 16)
            | (r[4 * c + 2] << 8) | r[4 * c + 3]
            for c in range(4)
        ]
        for r in rk
    ]


def _aes_enc_words(rkw: list[list[int]], block: bytes) -> bytes:
    w0 = int.from_bytes(block[0:4], "big") ^ rkw[0][0]
    w1 = int.from_bytes(block[4:8], "big") ^ rkw[0][1]
    w2 = int.from_bytes(block[8:12], "big") ^ rkw[0][2]
    w3 = int.from_bytes(block[12:16], "big") ^ rkw[0][3]
    nr = len(rkw) - 1
    for rnd in range(1, nr):
        k = rkw[rnd]
        t0 = (_T0[w0 >> 24] ^ _T1[(w1 >> 16) & 0xFF]
              ^ _T2[(w2 >> 8) & 0xFF] ^ _T3[w3 & 0xFF] ^ k[0])
        t1 = (_T0[w1 >> 24] ^ _T1[(w2 >> 16) & 0xFF]
              ^ _T2[(w3 >> 8) & 0xFF] ^ _T3[w0 & 0xFF] ^ k[1])
        t2 = (_T0[w2 >> 24] ^ _T1[(w3 >> 16) & 0xFF]
              ^ _T2[(w0 >> 8) & 0xFF] ^ _T3[w1 & 0xFF] ^ k[2])
        t3 = (_T0[w3 >> 24] ^ _T1[(w0 >> 16) & 0xFF]
              ^ _T2[(w1 >> 8) & 0xFF] ^ _T3[w2 & 0xFF] ^ k[3])
        w0, w1, w2, w3 = t0, t1, t2, t3
    k = rkw[nr]
    sb = _AES_SBOX
    out = bytearray(16)
    ws = (w0, w1, w2, w3)
    for c in range(4):
        kc = k[c]
        out[4 * c] = sb[ws[c] >> 24] ^ ((kc >> 24) & 0xFF)
        out[4 * c + 1] = sb[(ws[(c + 1) & 3] >> 16) & 0xFF] ^ (
            (kc >> 16) & 0xFF)
        out[4 * c + 2] = sb[(ws[(c + 2) & 3] >> 8) & 0xFF] ^ (
            (kc >> 8) & 0xFF)
        out[4 * c + 3] = sb[ws[(c + 3) & 3] & 0xFF] ^ (kc & 0xFF)
    return bytes(out)


def _rk_words_dec(rkw: list[list[int]]) -> list[list[int]]:
    """Equivalent-inverse-cipher round keys: InvMixColumns applied to
    the middle round keys (precomputed ONCE per key so the per-block
    round is pure table lookups)."""
    nr = len(rkw) - 1
    out = [list(r) for r in rkw]
    for rnd in range(1, nr):
        out[rnd] = [_inv_mix_word(kc) for kc in rkw[rnd]]
    return out


def _aes_dec_words(rkw_dec: list[list[int]], block: bytes) -> bytes:
    """Inverse cipher (equivalent-inverse form over `_rk_words_dec`
    keys)."""
    nr = len(rkw_dec) - 1
    w0 = int.from_bytes(block[0:4], "big") ^ rkw_dec[nr][0]
    w1 = int.from_bytes(block[4:8], "big") ^ rkw_dec[nr][1]
    w2 = int.from_bytes(block[8:12], "big") ^ rkw_dec[nr][2]
    w3 = int.from_bytes(block[12:16], "big") ^ rkw_dec[nr][3]
    for rnd in range(nr - 1, 0, -1):
        k = rkw_dec[rnd]
        t0 = (_IT0[w0 >> 24] ^ _IT1[(w3 >> 16) & 0xFF]
              ^ _IT2[(w2 >> 8) & 0xFF] ^ _IT3[w1 & 0xFF] ^ k[0])
        t1 = (_IT0[w1 >> 24] ^ _IT1[(w0 >> 16) & 0xFF]
              ^ _IT2[(w3 >> 8) & 0xFF] ^ _IT3[w2 & 0xFF] ^ k[1])
        t2 = (_IT0[w2 >> 24] ^ _IT1[(w1 >> 16) & 0xFF]
              ^ _IT2[(w0 >> 8) & 0xFF] ^ _IT3[w3 & 0xFF] ^ k[2])
        t3 = (_IT0[w3 >> 24] ^ _IT1[(w2 >> 16) & 0xFF]
              ^ _IT2[(w1 >> 8) & 0xFF] ^ _IT3[w0 & 0xFF] ^ k[3])
        w0, w1, w2, w3 = t0, t1, t2, t3
    isb = _AES_INV_SBOX
    k = rkw_dec[0]
    out = bytearray(16)
    ws = (w0, w1, w2, w3)
    for c in range(4):
        kc = k[c]
        out[4 * c] = isb[ws[c] >> 24] ^ ((kc >> 24) & 0xFF)
        out[4 * c + 1] = isb[(ws[(c + 3) & 3] >> 16) & 0xFF] ^ (
            (kc >> 16) & 0xFF)
        out[4 * c + 2] = isb[(ws[(c + 2) & 3] >> 8) & 0xFF] ^ (
            (kc >> 8) & 0xFF)
        out[4 * c + 3] = isb[ws[(c + 1) & 3] & 0xFF] ^ (kc & 0xFF)
    return bytes(out)


def _inv_mix_word(w: int) -> int:
    a0, a1 = (w >> 24) & 0xFF, (w >> 16) & 0xFF
    a2, a3 = (w >> 8) & 0xFF, w & 0xFF
    return (
        ((_gmul(a0, 14) ^ _gmul(a1, 11) ^ _gmul(a2, 13)
          ^ _gmul(a3, 9)) << 24)
        | ((_gmul(a0, 9) ^ _gmul(a1, 14) ^ _gmul(a2, 11)
            ^ _gmul(a3, 13)) << 16)
        | ((_gmul(a0, 13) ^ _gmul(a1, 9) ^ _gmul(a2, 14)
            ^ _gmul(a3, 11)) << 8)
        | (_gmul(a0, 11) ^ _gmul(a1, 13) ^ _gmul(a2, 9)
           ^ _gmul(a3, 14))
    )


def _aes_encrypt_block(rk: list[list[int]], block: bytes) -> bytes:
    """Single-block encrypt over flat round keys (KAT/Perms API;
    bulk paths pre-convert to word keys once)."""
    return _aes_enc_words(_rk_words(rk), block)


def _aes_cbc_decrypt(key: bytes, data: bytes) -> bytes:
    """PDF AESV2/AESV3 stream layout: 16-byte IV prefix, then CBC
    ciphertext with PKCS#5 padding (ISO 32000 7.6.2)."""
    if len(data) < 32 or len(data) % 16:
        raise ValueError("aes: bad ciphertext length")
    rkw = _rk_words_dec(_rk_words(_aes_expand_key(key)))
    prev = data[:16]
    out = bytearray()
    for at in range(16, len(data), 16):
        blk = data[at : at + 16]
        out += bytes(
            a ^ b for a, b in zip(_aes_dec_words(rkw, blk), prev)
        )
        prev = blk
    pad = out[-1]
    if not (1 <= pad <= 16) or out[-pad:] != bytes([pad]) * pad:
        raise ValueError("aes: bad padding")
    return bytes(out[:-pad])


def _aes_cbc_encrypt(key: bytes, iv: bytes, data: bytes) -> bytes:
    rkw = _rk_words(_aes_expand_key(key))
    pad = 16 - len(data) % 16
    data = data + bytes([pad]) * pad
    prev = iv
    out = bytearray(iv)
    for at in range(0, len(data), 16):
        prev = _aes_enc_words(
            rkw, bytes(a ^ b for a, b in zip(data[at : at + 16], prev))
        )
        out += prev
    return bytes(out)


def _aes_cbc_encrypt_nopad(key: bytes, iv: bytes, data: bytes) -> bytes:
    """Raw CBC encrypt, no IV prefix, no padding (data % 16 == 0) —
    the primitive ISO 32000-2's key wrapping and hash 2.B use."""
    rkw = _rk_words(_aes_expand_key(key))
    prev = iv
    out = bytearray()
    for at in range(0, len(data), 16):
        prev = _aes_enc_words(
            rkw, bytes(a ^ b for a, b in zip(data[at : at + 16], prev))
        )
        out += prev
    return bytes(out)


def _aes_cbc_decrypt_nopad(key: bytes, iv: bytes, data: bytes) -> bytes:
    rkw = _rk_words_dec(_rk_words(_aes_expand_key(key)))
    prev = iv
    out = bytearray()
    for at in range(0, len(data), 16):
        blk = data[at : at + 16]
        out += bytes(
            a ^ b for a, b in zip(_aes_dec_words(rkw, blk), prev)
        )
        prev = blk
    return bytes(out)


from functools import lru_cache as _lru_cache


@_lru_cache(maxsize=64)
def _hash_2b(password: bytes, salt: bytes, udata: bytes) -> bytes:
    """ISO 32000-2 algorithm 2.B (R6 hardened hash): iterated
    SHA-256/384/512 keyed by an AES-128-CBC round, terminating after
    >= 64 rounds when the last byte of E <= rounds - 32.

    Memoized: the KDF is deliberately expensive (~10^5 AES block ops
    — ~0.9 s in pure python), and it depends only on (password,
    salt, udata), so documents sharing an encryption dictionary (or
    repeated opens of one document) pay it once per process.
    """
    import hashlib

    k = hashlib.sha256(password + salt + udata).digest()
    i = 0
    while True:
        k1 = (password + k + udata) * 64
        e = _aes_cbc_encrypt_nopad(k[:16], k[16:32], k1)
        mod = sum(e[:16]) % 3
        k = (hashlib.sha256, hashlib.sha384, hashlib.sha512)[mod](
            e
        ).digest()
        i += 1
        if i >= 64 and e[-1] <= i - 32:
            return k[:32]


def _std_v5_file_key(enc: dict, password: bytes = b"") -> bytes | None:
    """AES-256 standard handler (V5, R5 'AESV3'/Acrobat 9 or R6/
    ISO 32000-2): validate the user password against /U and unwrap
    the 32-byte file key from /UE. Returns None when the password
    doesn't open the document."""
    import hashlib

    u = bytes(enc.get("U", b""))
    ue = bytes(enc.get("UE", b""))
    if len(u) < 48 or len(ue) < 32:
        return None
    vsalt, ksalt = u[32:40], u[40:48]
    r = int(enc.get("R", 6))
    if r == 5:  # Acrobat 9 scheme: plain SHA-256
        valid = hashlib.sha256(password + vsalt).digest()
        inter = hashlib.sha256(password + ksalt).digest()
    else:
        valid = _hash_2b(password, vsalt, b"")
        inter = _hash_2b(password, ksalt, b"")
    if valid != u[:32]:
        return None
    return _aes_cbc_decrypt_nopad(inter, b"\x00" * 16, ue[:32])


def _std_file_key(enc: dict, id0: bytes, password: bytes = b"") -> bytes:
    """Algorithm 2: file encryption key for the standard handler."""
    import hashlib
    import struct as _struct

    r = int(enc.get("R", 2))
    length = int(enc.get("Length", 40))
    n = max(5, min(16, length // 8))
    if r == 2:
        n = 5
    o = bytes(enc.get("O", b""))[:32]
    p = int(enc.get("P", -1)) & 0xFFFFFFFF
    h = hashlib.md5(
        (password + _PWD_PAD)[:32] + o + _struct.pack("<I", p) + id0
    ).digest()
    key = h[:n]
    if r >= 3:
        for _ in range(50):
            key = hashlib.md5(key[:n]).digest()[:n]
    return key


def _std_user_check(enc: dict, id0: bytes, key: bytes) -> bool:
    """Algorithms 4/5: does ``key`` open this document (U matches)?"""
    import hashlib

    r = int(enc.get("R", 2))
    u = bytes(enc.get("U", b""))
    if r == 2:
        return _rc4(key, _PWD_PAD) == u[:32]
    cand = _rc4(key, hashlib.md5(_PWD_PAD + id0).digest())
    for i in range(1, 20):
        cand = _rc4(bytes(b ^ i for b in key), cand)
    return cand[:16] == u[:16]


def _std_object_key(key: bytes, num: int, gen: int,
                    aes: bool = False) -> bytes:
    """Algorithm 1: per-object key (AESV2 appends the 'sAlT' tag)."""
    import hashlib

    salt = b"sAlT" if aes else b""
    h = hashlib.md5(
        key + num.to_bytes(3, "little") + gen.to_bytes(2, "little") + salt
    ).digest()
    return h[: min(len(key) + 5, 16)]


def make_standard_encryption(r: int, id0: bytes
                             ) -> tuple[bytes, bytes, bytes]:
    """(O, U, file_key) for an EMPTY owner+user password document with
    a 128-bit key at revision ``r`` 3 or 4 — algorithms 3/4/5, the
    writer-side complement of the decryptor (used by the corpus
    generator's encrypted dialect)."""
    import hashlib

    h = hashlib.md5(_PWD_PAD).digest()
    for _ in range(50):
        h = hashlib.md5(h).digest()
    okey = h[:16]
    o = _rc4(okey, _PWD_PAD)
    for i in range(1, 20):
        o = _rc4(bytes(b ^ i for b in okey), o)
    key = _std_file_key({"R": r, "Length": 128, "O": o, "P": -1}, id0)
    u = _rc4(key, hashlib.md5(_PWD_PAD + id0).digest())
    for i in range(1, 20):
        u = _rc4(bytes(b ^ i for b in key), u)
    return o, u + b"\x00" * 16, key


class PdfDocument:
    """All objects of a PDF, loaded by tolerant full-file scan."""

    def __init__(self, data: bytes) -> None:
        self.data = data
        self.objects: dict[int, object] = {}
        self.gens: dict[int, int] = {}
        self.decrypted = False
        self.decrypt_failures = 0
        self._scan()
        # decryption must precede ObjStm expansion: object streams are
        # themselves encrypted, so expanding first would inflate
        # ciphertext (and silently drop those objects)
        self._setup_decryption()
        self._expand_object_streams()

    # -- loading ----------------------------------------------------------

    def _scan(self) -> None:
        data = self.data
        # binary stream payloads can contain 'N G obj' byte sequences;
        # a parseable garbage match would clobber the real object N
        # (later-definition-wins), so matches inside an already-sliced
        # stream extent are skipped. finditer is forward-only and
        # streams are disjoint, so one high-water mark suffices.
        skip_until = 0
        for m in _OBJ_HDR.finditer(data):
            if m.start() < skip_until:
                continue  # header bytes inside a stream payload
            num = int(m.group(1))
            gen = int(m.group(2))
            try:
                val, pos = parse_object(data, m.end())
            except ValueError:
                continue  # tolerate one broken object, keep scanning
            pos = _skip_ws(data, pos)
            if isinstance(val, dict) and data.startswith(b"stream", pos):
                pos += len(b"stream")
                if data.startswith(b"\r\n", pos):
                    pos += 2
                elif data.startswith(b"\n", pos) or data.startswith(
                    b"\r", pos
                ):
                    pos += 1
                payload, stream_end = self._slice_stream(val, pos)
                skip_until = max(skip_until, stream_end)
                val = StreamObj(val, payload)
            # file order: a later definition (incremental update) wins
            self.objects[num] = val
            self.gens[num] = gen

    def _slice_stream(self, d: dict, start: int) -> tuple[bytes, int]:
        data = self.data
        length = d.get("Length")
        if isinstance(length, Ref):
            target = None
            # /Length often points FORWARD; do a local scan for it
            m = re.search(
                rb"%d\s+%d\s+obj\b" % (length.num, length.gen), data
            )
            if m:
                try:
                    target, _ = parse_object(data, m.end())
                except ValueError:
                    target = None
            length = target
        if isinstance(length, int) and 0 <= length <= len(data) - start:
            end = start + length
            tail = data[end : end + 20]
            if b"endstream" in _skip_to_token(tail):
                return data[start:end], end
        # tolerant fallback: the /Length lied (or was absent)
        end = data.find(b"endstream", start)
        if end < 0:
            raise ValueError("malformed PDF (stream without endstream)")
        seg = data[start:end]
        if seg.endswith(b"\r\n"):
            seg = seg[:-2]
        elif seg.endswith(b"\n") or seg.endswith(b"\r"):
            seg = seg[:-1]
        return seg, end

    def _expand_object_streams(self) -> None:
        """PDF 1.5 object streams: compressed container objects."""
        for num in list(self.objects):
            val = self.objects[num]
            if not isinstance(val, StreamObj):
                continue
            if val.dict.get("Type") != Name("ObjStm"):
                continue
            try:
                payload = self.decode_stream(val)
                count = int(self.resolve(val.dict.get("N", 0)))
                first = int(self.resolve(val.dict.get("First", 0)))
            except (ValueError, TypeError):
                continue
            header = payload[:first].split()
            for k in range(count):
                try:
                    onum = int(header[2 * k])
                    off = int(header[2 * k + 1])
                    inner, _ = parse_object(payload, first + off)
                except (IndexError, ValueError):
                    continue
                # direct (file-order) definitions take precedence
                self.objects.setdefault(onum, inner)

    # -- access -----------------------------------------------------------

    def resolve(self, val, _depth: int = 0):
        while isinstance(val, Ref) and _depth < 32:
            val = self.objects.get(val.num)
            _depth += 1
        return val

    def decode_stream(self, obj: StreamObj) -> bytes:
        data = obj.raw
        filt = self.resolve(obj.dict.get("Filter"))
        parms = self.resolve(obj.dict.get("DecodeParms")) or {}
        if filt is None:
            return data
        if not isinstance(filt, list):
            filt, parms = [filt], [parms]
        elif not isinstance(parms, list):
            parms = [parms] * len(filt)
        for f, p in zip(filt, parms):
            fn = _FILTERS.get(str(self.resolve(f)))
            if fn is None:
                raise ValueError(f"malformed PDF (unsupported filter /{f})")
            data = fn(data, self.resolve(p) or {})
        return data

    # -- page tree ----------------------------------------------------------

    def _encrypt_entry(self):
        """(encrypt_value, id0_bytes) from the trailer, or (None, b'')."""
        enc, id0 = None, b""
        for m in _TRAILER.finditer(self.data):
            try:
                d, _ = parse_object(self.data, m.end())
            except ValueError:
                continue
            if isinstance(d, dict) and "Encrypt" in d:
                enc = d["Encrypt"]
                ids = d.get("ID")
                if isinstance(ids, list) and ids and isinstance(
                    ids[0], bytes
                ):
                    id0 = ids[0]
        if enc is None:
            for val in self.objects.values():
                if isinstance(val, StreamObj) and val.dict.get(
                    "Type"
                ) == Name("XRef") and "Encrypt" in val.dict:
                    enc = val.dict["Encrypt"]
                    ids = val.dict.get("ID")
                    if isinstance(ids, list) and ids and isinstance(
                        ids[0], bytes
                    ):
                        id0 = ids[0]
        return enc, id0

    def _setup_decryption(self) -> None:
        """Empty-user-password decrypt: RC4 (standard handler R2/R3),
        AES-128-CBC (V4/R4 AESV2, the Acrobat 7+ layout) and — round
        4 — AES-256-CBC (V5 AESV3: R5 Acrobat-9 scheme and R6's
        ISO 32000-2 hardened hash, with the file key unwrapped from
        /UE).

        The reference's pypdf splitter opens such documents silently;
        we do the same: derive/unwrap the file key with the empty
        password, verify it against /U, and decrypt every top-level
        stream in place (XRef streams are never encrypted by spec;
        strings outside content streams are left alone — text
        extraction reads only content streams). Wrong passwords and
        non-standard crypt filters leave the document encrypted and
        extraction takes the per-row ERROR path.
        """
        enc_ref, id0 = self._encrypt_entry()
        if enc_ref is None:
            return
        enc = self.resolve(enc_ref)
        if not isinstance(enc, dict):
            return
        if str(enc.get("Filter")) != "Standard":
            return
        v, r = int(enc.get("V", 0)), int(enc.get("R", 0))
        aes = v5 = False
        if v in (1, 2) and r in (2, 3):
            pass  # classic RC4 handler
        elif (v == 4 and r == 4) or (v == 5 and r in (5, 6)):
            # V4/V5 name per-class crypt filters; support the single
            # standard layout: StdCF for streams with CFM AESV2
            # (AES-128), AESV3 (AES-256, round 4) or V2 (RC4 under
            # the V4 container)
            cf = enc.get("CF")
            stmf = str(enc.get("StmF", "Identity"))
            if not isinstance(cf, dict) or stmf != "StdCF":
                return
            stdcf = cf.get("StdCF")
            cfm = str(stdcf.get("CFM")) if isinstance(stdcf, dict) else ""
            if cfm == "AESV2" and v == 4:
                aes = True
            elif cfm == "AESV3" and v == 5:
                aes = v5 = True
            elif not (cfm == "V2" and v == 4):
                return
        else:
            return  # unknown revisions: stays encrypted
        try:
            if v5:
                key = _std_v5_file_key(enc)
                if key is None:
                    return  # a real (non-empty) user password
            else:
                key = _std_file_key(enc, id0)
                if not _std_user_check(enc, id0, key):
                    return  # a real (non-empty) user password
        except (ValueError, TypeError):
            return
        enc_num = enc_ref.num if isinstance(enc_ref, Ref) else None
        for num, val in self.objects.items():
            if not isinstance(val, StreamObj) or num == enc_num:
                continue
            if val.dict.get("Type") == Name("XRef"):
                continue  # xref streams are never encrypted
            # V5: the file key encrypts every object directly (no
            # per-object derivation); V1-V4: algorithm 1 per object
            okey = (key if v5 else _std_object_key(
                key, num, self.gens.get(num, 0), aes=aes))
            try:
                plain = (_aes_cbc_decrypt(okey, val.raw) if aes
                         else _rc4(okey, val.raw))
            except ValueError:
                # ADVICE r4: a stream that fails AES length/padding
                # checks stays ciphertext — counting it keeps the
                # document on the honest ERROR path (pypdf would
                # raise) instead of extracting empty/garbage text
                # from a partially-undecryptable file.
                self.decrypt_failures += 1
                continue
            self.objects[num] = StreamObj(val.dict, plain)
        self.decrypted = self.decrypt_failures == 0

    def is_encrypted(self) -> bool:
        """True when a trailer (classic or xref-stream) names
        /Encrypt AND decryption was not possible — content streams
        would be ciphertext, so extraction must take the clean per-row
        ERROR path instead of emitting garbage. Empty-user-password
        RC4 documents were already decrypted at load and report
        False."""
        if self.decrypted:
            return False
        for m in _TRAILER.finditer(self.data):
            try:
                d, _ = parse_object(self.data, m.end())
            except ValueError:
                continue
            if isinstance(d, dict) and "Encrypt" in d:
                return True
        for val in self.objects.values():
            if isinstance(val, StreamObj) and val.dict.get("Type") == Name(
                "XRef"
            ) and "Encrypt" in val.dict:
                return True
        return False

    def _find_root(self) -> dict | None:
        # trailer dict(s), last wins (incremental updates)
        root_ref = None
        for m in _TRAILER.finditer(self.data):
            try:
                d, _ = parse_object(self.data, m.end())
            except ValueError:
                continue
            if isinstance(d, dict) and "Root" in d:
                root_ref = d["Root"]
        if root_ref is None:
            # xref streams carry the trailer in their own dict
            for val in self.objects.values():
                if isinstance(val, StreamObj) and val.dict.get(
                    "Type"
                ) == Name("XRef") and "Root" in val.dict:
                    root_ref = val.dict["Root"]
        if root_ref is not None:
            root = self.resolve(root_ref)
            if isinstance(root, dict):
                return root
        for val in self.objects.values():  # tolerant fallback
            v = val.dict if isinstance(val, StreamObj) else val
            if isinstance(v, dict) and v.get("Type") == Name("Catalog"):
                return v
        return None

    def pages(self) -> list[dict]:
        """Page dictionaries in document order."""
        root = self._find_root()
        out: list[dict] = []
        if root is not None:
            node = self.resolve(root.get("Pages"))
            if isinstance(node, dict):
                self._walk(node, out, set())
        if out:
            return out
        # broken/absent tree: every /Type /Page in file order
        for num in sorted(self.objects):
            v = self.objects[num]
            if isinstance(v, dict) and v.get("Type") == Name("Page"):
                out.append(v)
        if not out:
            raise ValueError("malformed PDF (no /Pages /Kids)")
        return out

    def _walk(self, node: dict, out: list[dict], seen: set[int],
              inherited_resources=None) -> None:
        if id(node) in seen or len(out) > 100_000:
            return
        seen.add(id(node))
        # /Resources is inheritable through the page tree (ISO 32000
        # 7.7.3.4): carry the nearest ancestor's dict down so
        # page_fonts sees it on pages that rely on inheritance
        resources = node.get("Resources", inherited_resources)
        if node.get("Type") == Name("Page"):
            if "Resources" not in node and resources is not None:
                node["Resources"] = resources
            out.append(node)
            return
        kids = self.resolve(node.get("Kids"))
        if not isinstance(kids, list):
            return
        for kid_ref in kids:
            kid = self.resolve(kid_ref)
            if kid is None:
                raise ValueError("malformed PDF (dangling page ref)")
            if isinstance(kid, dict):
                self._walk(kid, out, seen, resources)

    def page_content(self, page: dict) -> bytes:
        contents = self.resolve(page.get("Contents"))
        if contents is None:
            raise ValueError("malformed PDF (page without /Contents)")
        parts = contents if isinstance(contents, list) else [contents]
        chunks: list[bytes] = []
        for part in parts:
            obj = self.resolve(part)
            if obj is None:
                raise ValueError("malformed PDF (dangling contents ref)")
            if not isinstance(obj, StreamObj):
                raise ValueError("malformed PDF (contents without stream)")
            chunks.append(self.decode_stream(obj))
        return b"\n".join(chunks)

    def page_fonts(self, page: dict) -> dict:
        """Resource-name -> FontDecoder for a page's /Font dict.

        Fonts carrying /ToUnicode, an /Encoding dict with
        /Differences, or a named base encoding get a real decoder;
        plain fonts map to a legacy decoder (decode_pdf_string),
        preserving byte-identity for standard-encoded documents.
        """
        fonts: dict = {}
        res = self.resolve(page.get("Resources"))
        if not isinstance(res, dict):
            return fonts
        font_dict = self.resolve(res.get("Font"))
        if not isinstance(font_dict, dict):
            return fonts
        for rname, fref in font_dict.items():
            fobj = self.resolve(fref)
            if not isinstance(fobj, dict):
                continue
            fonts[str(rname)] = self._font_decoder(fobj)
        return fonts

    def _font_decoder(self, font: dict):
        cache = getattr(self, "_font_cache", None)
        if cache is None:
            cache = self._font_cache = {}
        key = id(font)
        if key in cache:
            return cache[key]
        cid_map = None
        width = 1
        byte_map = None
        tu = self.resolve(font.get("ToUnicode"))
        tu_map: dict[int, str] = {}
        if isinstance(tu, StreamObj):
            try:
                tu_map, width = parse_tounicode(self.decode_stream(tu))
            except (ValueError, UnicodeDecodeError):
                tu_map, width = {}, 1
        enc = self.resolve(font.get("Encoding"))
        if font.get("Subtype") == Name("Type0"):
            # composite font: ToUnicode is the only mapping we honor
            # (CID->GID tables without it are rendering-only); absent
            # ToUnicode falls back to the legacy decode
            if tu_map:
                cid_map, width = tu_map, max(width, 2)
                dec = FontDecoder(cid_map=cid_map, width=width)
            else:
                dec = FontDecoder()  # legacy
        else:
            base_name = None
            differences = None
            if isinstance(enc, Name):
                base_name = str(enc)
            elif isinstance(enc, dict):
                base = self.resolve(enc.get("BaseEncoding"))
                if isinstance(base, Name):
                    base_name = str(base)
                differences = self.resolve(enc.get("Differences"))
            if base_name is None and differences is None and not tu_map:
                dec = FontDecoder()  # legacy decode path
            else:
                table = _base_encoding_map(base_name)
                if isinstance(differences, list):
                    code = 0
                    for el in differences:
                        el = self.resolve(el)
                        if isinstance(el, (int, float)):
                            code = int(el)
                        elif isinstance(el, Name) and 0 <= code < 256:
                            ch = _glyph_to_char(str(el))
                            if ch is not None:
                                table[code] = ch
                            code += 1
                for c, ch in tu_map.items():
                    if 0 <= c < 256:
                        table[c] = ch
                dec = FontDecoder(byte_map=table)
        cache[key] = dec
        return dec


def _skip_to_token(tail: bytes) -> bytes:
    return tail.lstrip(_WS)


# ---------------------------------------------------------------------------
# content-stream text interpreter
# ---------------------------------------------------------------------------


def decode_pdf_string(b: bytes) -> str:
    """Text-string decode: UTF-16BE when BOM'd, else UTF-8 with a
    latin-1 (PDFDocEncoding-ish) fallback for legacy byte strings."""
    if b.startswith(b"\xfe\xff"):
        return b[2:].decode("utf-16-be", errors="replace")
    try:
        return b.decode("utf-8")
    except UnicodeDecodeError:
        return b.decode("latin-1")


_NEWLINE_OPS = {b"Td", b"TD", b"T*", b"Tm"}


# ---------------------------------------------------------------------------
# Font encodings (round 5, VERDICT r4 #2): simple-font /Encoding
# (named base encodings + /Differences arrays) and /ToUnicode CMaps
# (bfchar/bfrange), matching what pypdf — the reference's splitter
# dependency (/root/reference/requirements.txt:4) — does for
# custom-encoded fonts. Without these, any PDF whose text bytes are
# font codes (most subsetted-font documents) would extract mis-mapped
# characters without erroring.
# ---------------------------------------------------------------------------

# Adobe Glyph List subset (public: Adobe AGL specification) covering
# ASCII, Latin-1 accents and common typographic glyphs; names outside
# the table resolve via the uniXXXX / uXXXX[XX] conventions.
_AGL: dict[str, str] = {
    "space": " ", "exclam": "!", "quotedbl": '"', "numbersign": "#",
    "dollar": "$", "percent": "%", "ampersand": "&", "quotesingle": "'",
    "parenleft": "(", "parenright": ")", "asterisk": "*", "plus": "+",
    "comma": ",", "hyphen": "-", "period": ".", "slash": "/",
    "zero": "0", "one": "1", "two": "2", "three": "3", "four": "4",
    "five": "5", "six": "6", "seven": "7", "eight": "8", "nine": "9",
    "colon": ":", "semicolon": ";", "less": "<", "equal": "=",
    "greater": ">", "question": "?", "at": "@",
    "bracketleft": "[", "backslash": "\\", "bracketright": "]",
    "asciicircum": "^", "underscore": "_", "grave": "`",
    "braceleft": "{", "bar": "|", "braceright": "}", "asciitilde": "~",
    "quoteleft": "‘", "quoteright": "’",
    "quotedblleft": "“", "quotedblright": "”",
    "endash": "–", "emdash": "—", "bullet": "•",
    "ellipsis": "…", "dagger": "†", "daggerdbl": "‡",
    "Euro": "€", "sterling": "\xa3", "yen": "\xa5", "cent": "\xa2",
    "section": "\xa7", "paragraph": "\xb6", "copyright": "\xa9",
    "registered": "\xae", "trademark": "™", "degree": "\xb0",
    "plusminus": "\xb1", "multiply": "\xd7", "divide": "\xf7",
    "exclamdown": "\xa1", "questiondown": "\xbf",
    "ae": "\xe6", "AE": "\xc6", "oe": "œ", "OE": "Œ",
    "oslash": "\xf8", "Oslash": "\xd8", "germandbls": "\xdf",
    "aring": "\xe5", "Aring": "\xc5", "eth": "\xf0", "Eth": "\xd0",
    "thorn": "\xfe", "Thorn": "\xde", "dotlessi": "ı",
    "florin": "ƒ", "fraction": "⁄", "perthousand": "‰",
    "guilsinglleft": "‹", "guilsinglright": "›",
    "guillemotleft": "\xab", "guillemotright": "\xbb",
    "quotesinglbase": "‚", "quotedblbase": "„",
    "circumflex": "ˆ", "tilde": "˜", "macron": "\xaf",
    "breve": "˘", "dotaccent": "˙", "dieresis": "\xa8",
    "ring": "˚", "cedilla": "\xb8", "hungarumlaut": "˝",
    "ogonek": "˛", "caron": "ˇ", "acute": "\xb4",
    "brokenbar": "\xa6", "currency": "\xa4", "middot": "\xb7",
    "periodcentered": "\xb7", "nbspace": "\xa0", "softhyphen": "\xad",
}
# letters and digits: AGL name == the character itself
for _ch in (
    "abcdefghijklmnopqrstuvwxyzABCDEFGHIJKLMNOPQRSTUVWXYZ"
):
    _AGL.setdefault(_ch, _ch)
# Latin-1 accented letters: AGL names are systematic
# (<letter><accent-name>), enumerate via unicodedata-free table
for _name, _cp in (
    ("agrave", 0xE0), ("aacute", 0xE1), ("acircumflex", 0xE2),
    ("atilde", 0xE3), ("adieresis", 0xE4),
    ("ccedilla", 0xE7), ("egrave", 0xE8), ("eacute", 0xE9),
    ("ecircumflex", 0xEA), ("edieresis", 0xEB), ("igrave", 0xEC),
    ("iacute", 0xED), ("icircumflex", 0xEE), ("idieresis", 0xEF),
    ("ntilde", 0xF1), ("ograve", 0xF2), ("oacute", 0xF3),
    ("ocircumflex", 0xF4), ("otilde", 0xF5), ("odieresis", 0xF6),
    ("ugrave", 0xF9), ("uacute", 0xFA), ("ucircumflex", 0xFB),
    ("udieresis", 0xFC), ("yacute", 0xFD), ("ydieresis", 0xFF),
    ("Agrave", 0xC0), ("Aacute", 0xC1), ("Acircumflex", 0xC2),
    ("Atilde", 0xC3), ("Adieresis", 0xC4),
    ("Ccedilla", 0xC7), ("Egrave", 0xC8), ("Eacute", 0xC9),
    ("Ecircumflex", 0xCA), ("Edieresis", 0xCB), ("Igrave", 0xCC),
    ("Iacute", 0xCD), ("Icircumflex", 0xCE), ("Idieresis", 0xCF),
    ("Ntilde", 0xD1), ("Ograve", 0xD2), ("Oacute", 0xD3),
    ("Ocircumflex", 0xD4), ("Otilde", 0xD5), ("Odieresis", 0xD6),
    ("Ugrave", 0xD9), ("Uacute", 0xDA), ("Ucircumflex", 0xDB),
    ("Udieresis", 0xDC), ("Yacute", 0xDD),
):
    _AGL.setdefault(_name, chr(_cp))

_UNI_NAME = re.compile(r"^uni([0-9A-Fa-f]{4})$")
_U_NAME = re.compile(r"^u([0-9A-Fa-f]{4,6})$")


def _glyph_to_char(name: str) -> str | None:
    got = _AGL.get(name)
    if got is not None:
        return got
    m = _UNI_NAME.match(name) or _U_NAME.match(name)
    if m:
        try:
            return chr(int(m.group(1), 16))
        except ValueError:
            return None
    return None


def _base_encoding_map(enc_name: str | None) -> list[str]:
    """256-entry code->char map for a named simple-font encoding.
    WinAnsi == cp1252 (undefined slots keep their latin-1 identity,
    matching the legacy fallback); MacRoman via the stdlib codec;
    Standard covers the ASCII plane with Adobe's two quote deviations
    (codes 0x27/0x60 are quoteright/quoteleft). Default: latin-1."""
    table = [chr(c) for c in range(256)]  # latin-1 identity
    if enc_name == "WinAnsiEncoding":
        for c in range(128, 256):
            try:
                table[c] = bytes([c]).decode("cp1252")
            except UnicodeDecodeError:
                pass
    elif enc_name == "MacRomanEncoding":
        for c in range(128, 256):
            try:
                table[c] = bytes([c]).decode("mac_roman")
            except UnicodeDecodeError:
                pass
    elif enc_name == "StandardEncoding":
        table[0x27] = "’"  # quoteright
        table[0x60] = "‘"  # quoteleft
    return table


_HEX_TOKEN = re.compile(rb"<([0-9A-Fa-f]+)>")
_BF_CHAR = re.compile(
    rb"beginbfchar(.*?)endbfchar", re.DOTALL)
_BF_RANGE = re.compile(
    rb"beginbfrange(.*?)endbfrange", re.DOTALL)
_CODESPACE = re.compile(
    rb"begincodespacerange(.*?)endcodespacerange", re.DOTALL)


def _utf16be_hex_to_str(hexdigits: bytes) -> str:
    raw = bytes.fromhex(hexdigits.decode("ascii"))
    return raw.decode("utf-16-be", errors="replace")


def parse_tounicode(cmap: bytes) -> tuple[dict[int, str], int]:
    """Parse a /ToUnicode CMap stream -> (code->text map, code byte
    width). Handles bfchar pairs, bfrange with a base destination or
    an explicit destination array, and codespacerange for the code
    width (1 for simple fonts, 2 for the usual Type0 layout)."""
    cmap_map: dict[int, str] = {}
    width = 1
    for m in _CODESPACE.finditer(cmap):
        toks = _HEX_TOKEN.findall(m.group(1))
        if toks:
            width = max(1, len(toks[0]) // 2)
    for m in _BF_CHAR.finditer(cmap):
        toks = _HEX_TOKEN.findall(m.group(1))
        for src, dst in zip(toks[0::2], toks[1::2]):
            cmap_map[int(src, 16)] = _utf16be_hex_to_str(dst)
    for m in _BF_RANGE.finditer(cmap):
        body = m.group(1)
        # two forms: <lo> <hi> <dst>   |   <lo> <hi> [<d1> <d2> ...]
        i = 0
        while True:
            trip = re.compile(
                rb"<([0-9A-Fa-f]+)>\s*<([0-9A-Fa-f]+)>\s*"
                rb"(<[0-9A-Fa-f]+>|\[[^\]]*\])"
            ).search(body, i)
            if not trip:
                break
            i = trip.end()
            lo = int(trip.group(1), 16)
            hi = int(trip.group(2), 16)
            if hi - lo > 0x10000:  # malformed range: bound the loop
                continue
            dst = trip.group(3)
            if dst.startswith(b"["):
                dsts = _HEX_TOKEN.findall(dst)
                for off, d in enumerate(dsts):
                    if lo + off <= hi:
                        cmap_map[lo + off] = _utf16be_hex_to_str(d)
            else:
                base_hex = _HEX_TOKEN.match(dst).group(1)
                base_raw = bytes.fromhex(base_hex.decode("ascii"))
                base = int.from_bytes(base_raw, "big")
                nchars = max(1, len(base_raw) // 2)
                for off in range(hi - lo + 1):
                    val = base + off
                    cmap_map[lo + off] = (
                        val.to_bytes(2 * nchars, "big")
                        .decode("utf-16-be", errors="replace")
                    )
    return cmap_map, width


class FontDecoder:
    """Per-font string decoder: byte (or multi-byte) codes -> text.

    ``byte_map``: 256-entry table for simple fonts (base encoding +
    /Differences, /ToUnicode overrides). ``cid_map``/``width``: code
    map for multi-byte (Type0 + ToUnicode) fonts. A font providing
    neither signals the legacy whole-string decode."""

    __slots__ = ("byte_map", "cid_map", "width")

    def __init__(self, byte_map=None, cid_map=None, width=1):
        self.byte_map = byte_map
        self.cid_map = cid_map
        self.width = width

    def decode(self, raw: bytes) -> str:
        if self.cid_map is not None and self.width > 1:
            out = []
            w = self.width
            for at in range(0, len(raw) - w + 1, w):
                code = int.from_bytes(raw[at : at + w], "big")
                out.append(self.cid_map.get(code, "�"))
            return "".join(out)
        table = self.byte_map
        if table is None:
            return decode_pdf_string(raw)
        return "".join(table[b] for b in raw)


def content_text(stream: bytes, fonts: dict | None = None) -> str:
    """Interpret a content stream's text operators into plain text.

    Line model: ``Td/TD/T*/Tm`` start a new line once the current line
    has shown text (matching how writers emit one text-positioning op
    per visual line); ``'`` and ``"`` imply T* themselves. ``TJ``
    concatenates its string elements (kerning numbers carry no text and
    are ignored — deterministic, and correct for machine-written PDFs).

    ``fonts`` (round 5): resource-name -> :class:`FontDecoder` from
    :meth:`PdfDocument.page_fonts`; the ``Tf`` operator selects the
    active decoder, so /Differences- and /ToUnicode-encoded strings
    map to the right characters. Absent fonts use the legacy
    whole-string decode (byte-identical for standard documents).
    """
    lines: list[str] = []
    cur: list[str] = []
    has_text = False
    fonts = fonts or {}
    decoder: FontDecoder | None = None

    def show(raw: bytes) -> str:
        return decoder.decode(raw) if decoder else decode_pdf_string(raw)

    def new_line() -> None:
        nonlocal has_text
        if has_text:
            lines.append("".join(cur))
            cur.clear()
            has_text = False

    operands: list = []
    i = 0
    n = len(stream)
    while i < n:
        i = _skip_ws(stream, i)
        if i >= n:
            break
        c = stream[i : i + 1]
        if c in b"/<([" or c.isdigit() or c in b"+-." or (
            c == b"<" or stream.startswith(b"<<", i)
        ):
            try:
                val, i = parse_object(stream, i)
                operands.append(val)
                continue
            except ValueError:
                i += 1
                operands.clear()
                continue
        m = _KEYWORD_RE.match(stream, i)
        if not m:
            i += 1
            operands.clear()
            continue
        op = m.group()
        i = m.end()
        if op == b"ID":
            # inline image: raw binary follows until EI — skip it, it
            # would otherwise derail the tokenizer
            end = stream.find(b"EI", i)
            i = n if end < 0 else end + 2
            operands.clear()
            continue
        if op in _NEWLINE_OPS:
            new_line()
        elif op == b"Tf":
            # [/F1 size Tf] — switch the active font decoder
            for od in operands:
                if isinstance(od, Name):
                    decoder = fonts.get(str(od))
        elif op == b"Tj":
            if operands and isinstance(operands[-1], bytes):
                cur.append(show(operands[-1]))
                has_text = True
        elif op in (b"'", b'"'):
            new_line()
            if operands and isinstance(operands[-1], bytes):
                cur.append(show(operands[-1]))
                has_text = True
        elif op == b"TJ":
            if operands and isinstance(operands[-1], list):
                for el in operands[-1]:
                    if isinstance(el, bytes):
                        cur.append(show(el))
                        has_text = True
        elif op == b"BT":
            new_line()
        elif op == b"true" or op == b"false" or op == b"null":
            # parse_object consumed these as operands already; no-op
            pass
        operands.clear()
    new_line()
    return "\n".join(lines)
