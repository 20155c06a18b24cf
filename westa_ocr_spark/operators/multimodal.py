"""Multimodal columns: opaque binary payloads + typed metadata.

Images/audio/video ride as ``binary`` columns with a struct of typed
metadata. Each operator is a per-document function plus an ERROR-row
builder run through
:func:`~westa_ocr_spark.operators.per_doc.map_documents`, the same
Arrow-batched ``mapInPandas`` loop as HTML/PDF extraction: its
catch-all turns any ``Exception`` of one payload (a corrupt byte, a
header past the decoders' shared ``MAX_PIXELS`` cap) into that
payload's ERROR row, never a task failure.

What's REAL here: magic-byte sniffing; true image dimensions parsed
from the container headers — PNG IHDR, JPEG SOF segment walk, GIF
logical-screen descriptor (:func:`parse_image_dimensions`) — plus
matching deterministic writers (:func:`write_png` emits correct CRCs
and a zlib IDAT; :func:`write_gif` emits a real LZW-compressed
raster); and, round 3, full PIXEL decodes for PNG
(:func:`decode_png_pixels`: zlib IDAT inflate, scanline unfiltering
for all five filter types, gray/RGB/RGBA/gray+alpha/palette) and GIF
(:func:`decode_gif_pixels`: LSB-first variable-width LZW with dict
growth/reset and the KwKwK case, palette-mapped) and JPEG
(:mod:`westa_ocr_spark.kernel.jpeg_mini`: a real baseline codec —
Annex-K Huffman/quant tables, FDCT/IDCT — whose writer emits
genuinely entropy-coded files), whose per-channel statistics are the
feature vectors. No image stub remains; an embedding MODEL (vs these
hand statistics) would swap in one function body. ``sample_frames``
still fakes the video codec with a byte-slice while keeping the
1-row->N-frames fan-out contract real.
"""

from __future__ import annotations

import struct
import zlib

from pyspark.sql import DataFrame
from pyspark.sql import types as T

from westa_ocr_spark.kernel import check_pixels
from westa_ocr_spark.operators.per_doc import map_documents


IMAGE_FEATURES_SCHEMA = T.StructType(
    [
        T.StructField("url", T.StringType(), False),
        T.StructField("kind", T.StringType(), False),
        T.StructField("n_bytes", T.LongType(), False),
        T.StructField("width", T.IntegerType(), True),
        T.StructField("height", T.IntegerType(), True),
        T.StructField("feature", T.ArrayType(T.FloatType()), True),
        T.StructField("status", T.StringType(), False),
        T.StructField("error", T.StringType(), True),
    ]
)

# --------------------------------------------------------------------------
# Real image-container header parsing (pure stdlib) + matching writers


def parse_image_dimensions(data: bytes) -> tuple[str, int, int]:
    """(kind, width, height) from real container headers.

    * PNG: signature + first chunk must be IHDR; width/height are the
      first 8 bytes of its payload (big-endian).
    * JPEG: walk the marker segments from SOI; the first SOF frame
      header (C0–CF except DHT C4 / JPGext C8 / DAC CC) carries
      (precision, height, width).
    * GIF: GIF87a/GIF89a logical screen descriptor (little-endian).

    Raises ``ValueError`` for unknown or structurally corrupt payloads
    (-> per-row ERROR capture, same contract as text extraction).
    """
    if data[:8] == b"\x89PNG\r\n\x1a\n":
        if len(data) < 24 or data[12:16] != b"IHDR":
            raise ValueError("corrupt PNG (first chunk is not IHDR)")
        w, h = struct.unpack(">II", data[16:24])
        if not (0 < w < 1 << 24 and 0 < h < 1 << 24):
            raise ValueError("corrupt PNG (absurd IHDR dimensions)")
        return "png", w, h
    if data[:2] == b"\xff\xd8":
        pos = 2
        n = len(data)
        while pos + 4 <= n:
            if data[pos] != 0xFF:
                raise ValueError("corrupt JPEG (lost marker sync)")
            marker = data[pos + 1]
            if marker == 0xFF:  # fill byte
                pos += 1
                continue
            if marker in (0xD8, 0x01) or 0xD0 <= marker <= 0xD7:
                pos += 2  # standalone markers carry no length
                continue
            if marker == 0xD9:  # EOI before any SOF
                break
            (seglen,) = struct.unpack(">H", data[pos + 2 : pos + 4])
            if seglen < 2 or pos + 2 + seglen > n:
                raise ValueError("corrupt JPEG (segment overruns data)")
            is_sof = 0xC0 <= marker <= 0xCF and marker not in (
                0xC4, 0xC8, 0xCC
            )
            if is_sof:
                if seglen < 7:
                    raise ValueError("corrupt JPEG (short SOF)")
                h, w = struct.unpack(">HH", data[pos + 5 : pos + 9])
                if w == 0 or h == 0:
                    raise ValueError("corrupt JPEG (zero SOF dimension)")
                return "jpeg", w, h
            if marker == 0xDA:  # SOS: entropy data follows, stop
                break
            pos += 2 + seglen
        raise ValueError("corrupt JPEG (no SOF frame header)")
    if data[:6] in (b"GIF87a", b"GIF89a"):
        if len(data) < 10:
            raise ValueError("corrupt GIF (truncated descriptor)")
        w, h = struct.unpack("<HH", data[6:10])
        if w == 0 or h == 0:
            raise ValueError("corrupt GIF (zero dimension)")
        return "gif", w, h
    raise ValueError("unsupported media kind (not png/jpeg/gif)")


def _png_chunk(typ: bytes, payload: bytes) -> bytes:
    return (
        struct.pack(">I", len(payload))
        + typ
        + payload
        + struct.pack(">I", zlib.crc32(typ + payload) & 0xFFFFFFFF)
    )


def write_png(width: int, height: int, interlace: bool = False) -> bytes:
    """Real minimal grayscale PNG (correct CRCs, zlib IDAT) with
    deterministic content derived from the dimensions.
    ``interlace=True`` emits the same pixels Adam7-interlaced
    (round 5): seven independently-filtered passes in spec order."""

    def pix(x: int, y: int) -> int:
        return (x * 31 + y * 17) % 256

    if not interlace:
        raw = b"".join(
            b"\x00" + bytes(pix(x, y) for x in range(width))
            for y in range(height)
        )
    else:
        passes = bytearray()
        for x0, y0, dx, dy in _ADAM7:
            pw = (width - x0 + dx - 1) // dx
            ph = (height - y0 + dy - 1) // dy
            if pw <= 0 or ph <= 0:
                continue
            for py in range(ph):
                passes += b"\x00" + bytes(
                    pix(x0 + px_ * dx, y0 + py * dy) for px_ in range(pw)
                )
        raw = bytes(passes)
    ihdr = struct.pack(
        ">IIBBBBB", width, height, 8, 0, 0, 0, 1 if interlace else 0
    )
    return (
        b"\x89PNG\r\n\x1a\n"
        + _png_chunk(b"IHDR", ihdr)
        + _png_chunk(b"IDAT", zlib.compress(raw, 9))
        + _png_chunk(b"IEND", b"")
    )


def write_jpeg(width: int, height: int) -> bytes:
    """REAL grayscale baseline JPEG (round 3): genuinely
    entropy-coded via :mod:`westa_ocr_spark.kernel.jpeg_mini` (FDCT,
    Annex-K quantization + Huffman tables), deterministic content
    derived from the dimensions — the previous writer emitted fake
    entropy bytes that no decoder could read."""
    import numpy as np

    from westa_ocr_spark.kernel.jpeg_mini import write_jpeg_gray

    y, x = np.mgrid[0:height, 0:width]
    pixels = ((x * 31 + y * 17) % 256).astype(np.uint8)
    return write_jpeg_gray(pixels)


def write_jpeg_progressive_rgb(width: int, height: int,
                               subsampling: str = "420") -> bytes:
    """REAL progressive (SOF2) color JPEG (round 4): spectral
    selection + successive approximation scans over the same
    deterministic gradient as :func:`write_jpeg_rgb` — decodes
    pixel-identically to the baseline encoding."""
    import numpy as np

    from westa_ocr_spark.kernel.jpeg_mini import write_jpeg_progressive

    y, x = np.mgrid[0:height, 0:width]
    rgb = np.stack(
        [
            np.clip(y * 3 + 16, 0, 255),
            np.clip(x * 2 + 32, 0, 255),
            np.clip(x + y + 64, 0, 255),
        ],
        axis=2,
    ).astype(np.uint8)
    return write_jpeg_progressive(rgb, subsampling)


def write_jpeg_rgb(width: int, height: int,
                   subsampling: str = "420") -> bytes:
    """REAL color baseline JPEG (round 4): 3-component YCbCr with
    4:2:0 or 4:4:4 subsampling via :mod:`westa_ocr_spark.kernel.
    jpeg_mini`, deterministic smooth RGB gradients derived from the
    dimensions (smooth content keeps the lossy roundtrip tight for
    golden tests)."""
    import numpy as np

    from westa_ocr_spark.kernel.jpeg_mini import write_jpeg_color

    y, x = np.mgrid[0:height, 0:width]
    rgb = np.stack(
        [
            np.clip(y * 3 + 16, 0, 255),
            np.clip(x * 2 + 32, 0, 255),
            np.clip(x + y + 64, 0, 255),
        ],
        axis=2,
    ).astype(np.uint8)
    return write_jpeg_color(rgb, subsampling)


def _gif_lzw_encode(indices: list[int], min_code: int) -> bytes:
    """Greedy GIF LZW (LSB-first variable-width codes) — the writer
    half of the round-3 real-GIF path."""
    clear = 1 << min_code
    end = clear + 1
    table: dict[bytes, int] = {bytes([i]): i for i in range(clear)}
    next_code = end + 1
    width = min_code + 1
    out_bits: list[tuple[int, int]] = [(clear, width)]
    w = b""
    for idx in indices:
        k = bytes([idx])
        if w + k in table:
            w += k
            continue
        out_bits.append((table[w], width))
        table[w + k] = next_code
        next_code += 1
        if next_code > (1 << width) and width < 12:
            width += 1
        if next_code >= (1 << 12):
            out_bits.append((clear, width))
            table = {bytes([i]): i for i in range(clear)}
            next_code = end + 1
            width = min_code + 1
        w = k
    if w:
        out_bits.append((table[w], width))
    out_bits.append((end, width))
    acc = n = 0
    data = bytearray()
    for code, cw in out_bits:
        acc |= code << n
        n += cw
        while n >= 8:
            data.append(acc & 0xFF)
            acc >>= 8
            n -= 8
    if n:
        data.append(acc & 0xFF)
    return bytes(data)


# 4-entry global color table used by the synthetic corpus GIFs
_GIF_PALETTE = [(0, 0, 0), (255, 0, 0), (0, 255, 0), (0, 0, 255)]


def write_gif(width: int, height: int, interlace: bool = False,
              local_palette: bool = False) -> bytes:
    """REAL GIF89a: logical screen descriptor, 4-color color table,
    image descriptor, and an LZW-compressed index raster with
    deterministic content derived from the dimensions (round 3 — the
    previous writer emitted a header-only file with no image data).
    Round 5: ``interlace`` stores rows in the 4-pass order;
    ``local_palette`` moves the table into the image descriptor (no
    global table at all — the stricter layout)."""
    # LCT size bits = 1 -> 2<<1 = 4 entries, matching _GIF_PALETTE
    ipacked = (0x40 if interlace else 0) | (0x81 if local_palette else 0)
    if local_palette:
        lsd = struct.pack("<HHBBB", width, height, 0, 0, 0)
        gct = b""
        lct = b"".join(bytes(c) for c in _GIF_PALETTE)
    else:
        # packed: GCT flag set, 1-bit color res, GCT size 4 (2^2)
        lsd = struct.pack("<HHBBB", width, height, 0b10000001, 0, 0)
        gct = b"".join(bytes(c) for c in _GIF_PALETTE)
        lct = b""
    img_desc = (
        b"\x2c" + struct.pack("<HHHHB", 0, 0, width, height, ipacked) + lct
    )
    row_order = (
        [y for start, step in ((0, 8), (4, 8), (2, 4), (1, 2))
         for y in range(start, height, step)]
        if interlace else range(height)
    )
    indices = [
        (x * 7 + y * 3) % len(_GIF_PALETTE)
        for y in row_order for x in range(width)
    ]
    lzw = _gif_lzw_encode(indices, min_code=2)
    sub_blocks = bytearray()
    for at in range(0, len(lzw), 255):
        chunk = lzw[at : at + 255]
        sub_blocks += bytes([len(chunk)]) + chunk
    return (
        b"GIF89a" + lsd + gct + img_desc + b"\x02"
        + bytes(sub_blocks) + b"\x00" + b";"
    )


def decode_gif_pixels(data: bytes):
    """REAL GIF pixel decode, pure stdlib + numpy: LSB-first
    variable-width LZW over the first image block, palette-mapped to
    an (h, w, 3) uint8 array. Round 5: interlaced rasters
    (4-pass row reorder) and local color tables decode too; a GIF
    with neither a global nor a local table raises ``ValueError``."""
    import numpy as np

    if data[:6] not in (b"GIF87a", b"GIF89a"):
        raise ValueError("not a GIF")
    if len(data) < 13:
        raise ValueError("corrupt GIF (truncated descriptor)")
    sw, sh, packed, _bg, _ar = struct.unpack("<HHBBB", data[6:13])
    pos = 13
    pal = None
    if packed & 0x80:
        gct_n = 2 << (packed & 0x07)
        if pos + 3 * gct_n > len(data):
            raise ValueError("corrupt GIF (truncated global color table)")
        pal = np.frombuffer(
            data[pos : pos + 3 * gct_n], dtype=np.uint8
        ).reshape(-1, 3)
        pos += 3 * gct_n
    while pos < len(data):
        b = data[pos]
        if b == 0x21:  # extension: skip label + sub-blocks
            pos += 2
            while pos < len(data) and data[pos]:
                pos += 1 + data[pos]
            pos += 1
        elif b == 0x2C:
            break
        elif b == 0x3B:
            raise ValueError("corrupt GIF (no image block)")
        else:
            raise ValueError(f"corrupt GIF (unexpected block {b:#x})")
    if pos >= len(data) or data[pos] != 0x2C:
        raise ValueError("corrupt GIF (no image descriptor)")
    if pos + 10 > len(data):
        raise ValueError("corrupt GIF (truncated image descriptor)")
    _l, _t, w, h, ipacked = struct.unpack("<HHHHB", data[pos + 1 : pos + 10])
    check_pixels("gif", w, h)  # before the LZW output grows to w*h
    interlaced = bool(ipacked & 0x40)
    pos += 10
    if ipacked & 0x80:  # local color table overrides the global one
        lct_n = 2 << (ipacked & 0x07)
        if pos + 3 * lct_n > len(data):
            raise ValueError("corrupt GIF (truncated local color table)")
        pal = np.frombuffer(
            data[pos : pos + 3 * lct_n], dtype=np.uint8
        ).reshape(-1, 3)
        pos += 3 * lct_n
    if pal is None:
        raise ValueError("unsupported GIF (no color table)")
    if pos >= len(data):
        raise ValueError("corrupt GIF (missing LZW minimum code size)")
    min_code = data[pos]
    pos += 1
    lzw = bytearray()
    while pos < len(data) and data[pos]:
        n = data[pos]
        lzw += data[pos + 1 : pos + 1 + n]
        pos += 1 + n
    # LSB-first variable-width LZW decode
    clear = 1 << min_code
    end = clear + 1
    width_bits = min_code + 1
    table: list[bytes] = [bytes([i]) for i in range(clear)] + [b"", b""]
    acc = nbits = 0
    out = bytearray()
    needed = w * h  # LZW-bomb guard: stop once the raster is full
    prev: bytes | None = None
    for byte in lzw:
        if len(out) >= needed:
            break
        acc |= byte << nbits
        nbits += 8
        while nbits >= width_bits:
            code = acc & ((1 << width_bits) - 1)
            acc >>= width_bits
            nbits -= width_bits
            if code == clear:
                table = [bytes([i]) for i in range(clear)] + [b"", b""]
                width_bits = min_code + 1
                prev = None
                continue
            if code == end:
                prev = None
                nbits = 0
                acc = 0
                break
            if prev is None:
                if code >= len(table):
                    raise ValueError("corrupt GIF (bad first code)")
                entry = table[code]
            elif code < len(table):
                entry = table[code]
                table.append(prev + entry[:1])
            elif code == len(table):  # the KwKwK case
                entry = prev + prev[:1]
                table.append(entry)
            else:
                raise ValueError("corrupt GIF (LZW code out of range)")
            out += entry
            prev = entry
            if len(table) == (1 << width_bits) and width_bits < 12:
                width_bits += 1
    if len(out) < w * h:
        raise ValueError("corrupt GIF (raster underrun)")
    idx = np.frombuffer(bytes(out[: w * h]), dtype=np.uint8)
    if int(idx.max(initial=0)) >= pal.shape[0]:
        raise ValueError("corrupt GIF (palette index out of range)")
    rows = pal[idx].reshape(h, w, 3)
    if interlaced:
        # 4-pass row interleave (GIF89a spec appendix E): rows were
        # stored pass-major; scatter them back to display order
        deinter = np.zeros_like(rows)
        src = 0
        for start, step in ((0, 8), (4, 8), (2, 4), (1, 2)):
            n_rows = len(range(start, h, step))
            deinter[start::step] = rows[src : src + n_rows]
            src += n_rows
        rows = deinter
    return rows


def _paeth(a: int, b: int, c: int) -> int:
    p = a + b - c
    pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
    if pa <= pb and pa <= pc:
        return a
    if pb <= pc:
        return b
    return c


# Adam7 pass grid: (x0, y0, dx, dy) per pass (PNG spec §8.2)
_ADAM7 = (
    (0, 0, 8, 8), (4, 0, 8, 8), (0, 4, 4, 8), (2, 0, 4, 4),
    (0, 2, 2, 4), (1, 0, 2, 2), (0, 1, 1, 2),
)


def _png_unfilter(raw, h: int, stride: int, bpp: int, offset: int = 0):
    """Undo per-scanline PNG filters over ``h`` scanlines of
    ``stride`` bytes starting at ``offset`` (each preceded by its
    filter byte). Returns an (h, stride) uint8 array; shared by the
    sequential and Adam7 paths (each interlace pass is filtered as an
    independent image)."""
    import numpy as np

    out = np.zeros((h, stride), dtype=np.uint8)
    for y in range(h):
        at = offset + y * (stride + 1)
        ftype = raw[at]
        line = np.frombuffer(
            raw, dtype=np.uint8, count=stride, offset=at + 1
        ).copy()
        prev = out[y - 1] if y > 0 else np.zeros(stride, dtype=np.uint8)
        if ftype == 0:
            out[y] = line
        elif ftype == 1:  # Sub: left neighbor (sequential in x)
            acc = line.astype(np.int64)
            for x in range(bpp, stride):
                acc[x] = (acc[x] + acc[x - bpp]) & 0xFF
            out[y] = acc.astype(np.uint8)
        elif ftype == 2:  # Up: fully vectorized
            out[y] = line + prev
        elif ftype == 3:  # Average
            acc = line.astype(np.int64)
            for x in range(stride):
                left = acc[x - bpp] if x >= bpp else 0
                acc[x] = (acc[x] + ((left + int(prev[x])) >> 1)) & 0xFF
            out[y] = acc.astype(np.uint8)
        elif ftype == 4:  # Paeth
            acc = line.astype(np.int64)
            for x in range(stride):
                left = int(acc[x - bpp]) if x >= bpp else 0
                up = int(prev[x])
                ul = int(prev[x - bpp]) if x >= bpp else 0
                acc[x] = (acc[x] + _paeth(left, up, ul)) & 0xFF
            out[y] = acc.astype(np.uint8)
        else:
            raise ValueError(f"corrupt PNG (filter type {ftype})")
    return out


def decode_png_pixels(data: bytes):
    """REAL PNG pixel decode, pure stdlib + numpy: zlib-inflate the
    IDAT stream, undo the per-scanline filters (None/Sub/Up/Average/
    Paeth), and return an (h, w, channels) uint8 array. Supports
    bit depths 1/2/4 (gray scaled to full range, palette raw), 8,
    and 16 (high-byte 8-bit reduction); color types 0 (gray),
    2 (RGB), 3 (palette -> RGB), 4 (gray+alpha), 6 (RGBA);
    sequential AND Adam7-interlaced — effectively the whole web PNG
    population. Anything else raises ``ValueError`` (per-row ERROR
    capture upstream)."""
    import numpy as np

    if data[:8] != b"\x89PNG\r\n\x1a\n":
        raise ValueError("not a PNG")
    pos, n = 8, len(data)
    ihdr = None
    plte = None
    idat = bytearray()
    while pos + 8 <= n:
        (clen,) = struct.unpack(">I", data[pos : pos + 4])
        ctyp = data[pos + 4 : pos + 8]
        body = data[pos + 8 : pos + 8 + clen]
        if len(body) != clen:
            raise ValueError("corrupt PNG (truncated chunk)")
        if ctyp == b"IHDR":
            ihdr = body
        elif ctyp == b"PLTE":
            plte = body
        elif ctyp == b"IDAT":
            idat += body
        elif ctyp == b"IEND":
            break
        pos += 12 + clen  # len + type + payload + crc
    if ihdr is None or len(ihdr) < 13:
        raise ValueError("corrupt PNG (missing IHDR)")
    w, h, depth, ctype, comp, filt, interlace = struct.unpack(
        ">IIBBBBB", ihdr[:13]
    )
    check_pixels("png", w, h)  # before the inflate sized from IHDR
    if depth not in (1, 2, 4, 8, 16):
        raise ValueError(f"unsupported PNG bit depth {depth}")
    if interlace not in (0, 1):
        raise ValueError(f"corrupt PNG (interlace method {interlace})")
    if comp != 0 or filt != 0:
        raise ValueError("corrupt PNG (bad compression/filter method)")
    channels = {0: 1, 2: 3, 3: 1, 4: 2, 6: 4}.get(ctype)
    if channels is None:
        raise ValueError(f"unsupported PNG color type {ctype}")
    if depth < 8 and ctype not in (0, 3):
        raise ValueError(
            f"corrupt PNG (bit depth {depth} with color type {ctype})"
        )
    if depth == 16 and ctype == 3:
        raise ValueError("corrupt PNG (16-bit palette)")

    def unpack_rows(rows, width):
        """(n, stride) filtered-byte rows -> (n, width, channels)
        8-bit samples: sub-byte depths unpack MSB-first (gray values
        scale to full range, palette indices stay raw); 16-bit takes
        the high byte (the standard 8-bit reduction)."""
        if depth == 8:
            return rows[:, : width * channels].reshape(-1, width, channels)
        if depth == 16:
            return rows.reshape(rows.shape[0], -1, channels, 2)[
                :, :width, :, 0
            ]
        bits = np.unpackbits(rows, axis=1)
        vals = bits.reshape(rows.shape[0], -1, depth)
        weights = 1 << np.arange(depth - 1, -1, -1)
        samples = (vals * weights).sum(axis=2)[:, :width]
        if ctype == 0:  # gray: scale to 8-bit
            samples = samples * (255 // ((1 << depth) - 1))
        return samples.astype(np.uint8).reshape(-1, width, 1)

    def row_stride(width):
        return (width * channels * depth + 7) // 8

    # bounded inflate: the expected raw size is KNOWN from the header
    # (filtered scanlines of all passes); an IDAT bomb or short stream
    # is a clean error, never an executor OOM
    if interlace == 0:
        expected = ((w * channels * depth + 7) // 8 + 1) * h
    else:
        expected = 0
        for x0, y0, dx, dy in _ADAM7:
            pw = (w - x0 + dx - 1) // dx
            ph = (h - y0 + dy - 1) // dy
            if pw > 0 and ph > 0:
                expected += ((pw * channels * depth + 7) // 8 + 1) * ph
    dec = zlib.decompressobj()
    try:
        raw = dec.decompress(bytes(idat), expected + 1)
        if len(raw) > expected:
            raise ValueError("corrupt PNG (IDAT larger than declared size)")
        raw += dec.flush()
    except zlib.error as exc:
        raise ValueError(f"corrupt PNG (IDAT inflate: {exc})") from exc
    # checked before any pixel buffer exists, so the allocation below
    # is bounded by the inflated data, not by the header's dimensions
    if len(raw) != expected:
        raise ValueError("corrupt PNG (IDAT size mismatch)")
    bpp = max(1, channels * depth // 8)  # filter distance in bytes
    if interlace == 0:
        px = unpack_rows(_png_unfilter(raw, h, row_stride(w), bpp), w)
    else:  # Adam7 (round 5): 7 independently-filtered sub-images
        px = np.zeros((h, w, channels), dtype=np.uint8)
        offset = 0
        for x0, y0, dx, dy in _ADAM7:
            pw = (w - x0 + dx - 1) // dx
            ph = (h - y0 + dy - 1) // dy
            if pw <= 0 or ph <= 0:
                continue
            pstride = row_stride(pw)
            sub = unpack_rows(_png_unfilter(raw, ph, pstride, bpp, offset), pw)
            px[y0::dy, x0::dx] = sub
            offset += (pstride + 1) * ph
    if ctype == 3:  # palette indices -> RGB
        if plte is None or len(plte) % 3:
            raise ValueError("corrupt PNG (palette missing/ragged)")
        pal = np.frombuffer(plte, dtype=np.uint8).reshape(-1, 3)
        idx = px[:, :, 0]
        if int(idx.max(initial=0)) >= pal.shape[0]:
            raise ValueError("corrupt PNG (palette index out of range)")
        px = pal[idx]
    return px


def png_pixel_features(data: bytes) -> list[float]:
    """Real 16-dim PNG feature vector from decoded pixels."""
    return _channel_stat_features(decode_png_pixels(data))


def gif_pixel_features(data: bytes) -> list[float]:
    """Real 16-dim GIF feature vector from LZW-decoded pixels."""
    return _channel_stat_features(decode_gif_pixels(data))


def jpeg_pixel_features(data: bytes) -> list[float]:
    """Real 16-dim JPEG feature vector from the baseline decoder
    (kernel/jpeg_mini): grayscale plane as 1 channel, color YCbCr
    files (4:4:4 / 4:2:0 / 4:2:2 — round 4) as 3 RGB channels."""
    from westa_ocr_spark.kernel.jpeg_mini import decode_jpeg

    px = decode_jpeg(data)
    if px.ndim == 2:
        px = px.reshape(*px.shape, 1)
    return _channel_stat_features(px)


def _channel_stat_features(px) -> list[float]:
    """16-dim feature vector from an (h, w, c) uint8 array: for each
    of up to 4 channels, (mean, std, min, max) normalized to [0, 1];
    absent channels contribute zeros. Deterministic, hand-verifiable
    (fixture-tested against an independent pure-python recompute)."""
    import numpy as np

    px = px.astype(np.float64)
    feats: list[float] = []
    for c in range(4):
        if c < px.shape[2]:
            ch = px[:, :, c]
            feats += [
                float(ch.mean() / 255.0),
                float(ch.std() / 255.0),
                float(ch.min() / 255.0),
                float(ch.max() / 255.0),
            ]
        else:
            feats += [0.0, 0.0, 0.0, 0.0]
    return feats


_PIXEL_FEATURES = {
    "png": png_pixel_features,
    "gif": gif_pixel_features,
    "jpeg": jpeg_pixel_features,
}


def _image_rows(url: str, data: bytes) -> list[dict]:
    if not data:
        raise ValueError("empty payload")
    blob = bytes(data)
    kind, w, h = parse_image_dimensions(blob)
    return [{"url": url, "kind": kind, "n_bytes": len(blob), "width": w,
             "height": h, "feature": _PIXEL_FEATURES[kind](blob),
             "status": "DONE", "error": None}]


def _image_error(url: str, data: bytes | None, exc: Exception) -> dict:
    return {"url": url, "kind": "unknown",
            "n_bytes": len(data) if data is not None else 0,
            "width": None, "height": None, "feature": None,
            "status": "ERROR", "error": f"decode: {exc}"}


def extract_image_features(media: DataFrame) -> DataFrame:
    """Arrow-batched image metadata + feature extraction over
    ``(url, data)`` binary rows.

    Width/height come from real header parsing
    (:func:`parse_image_dimensions`); the feature vector is real
    decoded-pixel statistics for all three formats (PNG scanline
    filters, GIF LZW, baseline JPEG Huffman/IDCT — round 3; no stub
    remains). Per-row error capture mirrors the extraction pipeline:
    unknown or corrupt payloads become ``status='ERROR'`` rows, never
    task failures.
    """
    return map_documents(media, ["url", "data"], _image_rows,
                         IMAGE_FEATURES_SCHEMA, _image_error)


# --------------------------------------------------------------------------
# Audio: real WAV PCM decode + MP3 frame-header metadata (round 3)

def write_wav(n_samples: int, period: int = 50, channels: int = 1,
              bits: int = 16) -> bytes:
    """REAL 8 kHz RIFF/WAVE file: PCM with a deterministic integer sawtooth
    (no float trig, so bytes are identical everywhere). Round 5:
    mono/stereo x 8/16-bit layouts (stereo writes L and an inverted R
    so downmix behavior is observable)."""
    if channels not in (1, 2) or bits not in (8, 16):
        raise ValueError("wav writer: channels in (1,2), bits in (8,16)")
    amp_step = 30000 // max(period, 1)
    out = bytearray()
    for k in range(n_samples):
        v = ((k % period) - period // 2) * amp_step
        frame = [v] if channels == 1 else [v, -v]
        for sv in frame:
            if bits == 16:
                out += struct.pack("<h", sv)
            else:
                out += struct.pack("<B", (sv >> 8) + 128)
    samples = bytes(out)
    block = channels * bits // 8
    fmt = struct.pack("<HHIIHH", 1, channels, 8000, 8000 * block,
                      block, bits)
    chunks = (
        b"WAVE"
        + b"fmt " + struct.pack("<I", len(fmt)) + fmt
        + b"data" + struct.pack("<I", len(samples)) + samples
    )
    return b"RIFF" + struct.pack("<I", len(chunks)) + chunks


def decode_wav(data: bytes):
    """(sample_rate, np.int16 samples) from a PCM RIFF/WAVE payload.

    Round 5: mono/stereo x 8/16-bit PCM (stereo downmixes by integer
    mean, 8-bit unsigned rescales to int16), i.e. the common
    crawl-audio layouts; compressed codecs raise ``ValueError``."""
    import numpy as np

    if data[:4] != b"RIFF" or data[8:12] != b"WAVE":
        raise ValueError("not a RIFF/WAVE file")
    pos = 12
    rate = None
    raw = None
    channels = bits = 0
    while pos + 8 <= len(data):
        cid = data[pos : pos + 4]
        (clen,) = struct.unpack("<I", data[pos + 4 : pos + 8])
        body = data[pos + 8 : pos + 8 + clen]
        if cid == b"fmt ":
            if len(body) < 16:
                raise ValueError("corrupt WAV (short fmt chunk)")
            audio_fmt, channels, rate, _br, _ba, bits = struct.unpack(
                "<HHIIHH", body[:16]
            )
            if audio_fmt != 1:
                raise ValueError("unsupported WAV (non-PCM codec)")
            if channels not in (1, 2) or bits not in (8, 16):
                raise ValueError(
                    "unsupported WAV (not 8/16-bit mono/stereo)"
                )
        elif cid == b"data":
            raw = body
        pos += 8 + clen + (clen & 1)  # chunks are word-aligned
    if rate is None or raw is None:
        raise ValueError("corrupt WAV (missing fmt/data chunk)")
    if bits == 16:
        samples = np.frombuffer(raw[: len(raw) // 2 * 2], dtype="<i2")
    else:  # 8-bit PCM is UNSIGNED per spec
        samples = (
            (np.frombuffer(raw, dtype=np.uint8).astype(np.int16) - 128)
            * 256
        )
    if channels == 2:
        n = len(samples) // 2 * 2
        pair = samples[:n].reshape(-1, 2).astype(np.int32)
        samples = ((pair[:, 0] + pair[:, 1]) // 2).astype(np.int16)
    return rate, samples



_MP3_BITRATES = [0, 32, 40, 48, 56, 64, 80, 96,
                 112, 128, 160, 192, 224, 256, 320, 0]  # MPEG1 L3, kbps
_MP3_RATES = [44100, 48000, 32000, 0]


def parse_mp3_header(data: bytes) -> tuple[int, int]:
    """(bitrate_kbps, sample_rate) from the first MPEG1 Layer III
    frame header (ID3v2 tag skipped). Entropy decode is out of scope
    — like JPEG was, this is the real HEADER metadata path."""
    pos = 0
    if data[:3] == b"ID3" and len(data) >= 10:
        size = (
            (data[6] & 0x7F) << 21 | (data[7] & 0x7F) << 14
            | (data[8] & 0x7F) << 7 | (data[9] & 0x7F)
        )
        pos = 10 + size
    if pos + 4 > len(data):
        raise ValueError("corrupt MP3 (no frame header)")
    b0, b1, b2, _b3 = data[pos : pos + 4]
    if b0 != 0xFF or (b1 & 0xE0) != 0xE0:
        raise ValueError("corrupt MP3 (no frame sync)")
    if (b1 >> 3) & 0x03 != 0x03 or (b1 >> 1) & 0x03 != 0x01:
        raise ValueError("unsupported MP3 (not MPEG1 Layer III)")
    bitrate = _MP3_BITRATES[b2 >> 4]
    rate = _MP3_RATES[(b2 >> 2) & 0x03]
    if bitrate == 0 or rate == 0:
        raise ValueError("corrupt MP3 (bad bitrate/rate index)")
    return bitrate, rate


def write_mp3_header(bitrate_kbps: int = 128, n_frames: int = 3) -> bytes:
    """Structurally valid 44.1 kHz MPEG1 Layer III frames (correct sync words
    and frame lengths; payload deterministic filler — the entropy
    content is not decoded, mirroring real-crawl mp3 handling)."""
    bidx = _MP3_BITRATES.index(bitrate_kbps)
    hdr = bytes([0xFF, 0xFB, bidx << 4, 0x00])  # rate index 0: 44.1 kHz
    frame_len = 144 * bitrate_kbps * 1000 // 44100
    frame = hdr + bytes(
        (i * 37) % 255 for i in range(frame_len - 4)
    )
    id3 = b"ID3\x03\x00\x00\x00\x00\x00\x0a" + b"\x00" * 10
    return id3 + frame * n_frames


AUDIO_FEATURES_SCHEMA = T.StructType(
    [
        T.StructField("url", T.StringType(), False),
        T.StructField("kind", T.StringType(), False),
        T.StructField("n_bytes", T.LongType(), False),
        T.StructField("sample_rate", T.IntegerType(), True),
        T.StructField("duration_s", T.DoubleType(), True),
        T.StructField("rms", T.DoubleType(), True),
        T.StructField("peak", T.DoubleType(), True),
        T.StructField("zcr", T.DoubleType(), True),
        T.StructField("status", T.StringType(), False),
        T.StructField("error", T.StringType(), True),
    ]
)


def _audio_rows(url: str, data: bytes) -> list[dict]:
    import numpy as np

    if not data:
        raise ValueError("empty payload")
    blob = bytes(data)
    row = {"url": url, "n_bytes": len(blob), "rms": None, "peak": None,
           "zcr": None, "status": "DONE", "error": None}
    if blob[:4] == b"RIFF":
        rate, s = decode_wav(blob)
        sf = s.astype(np.float64) / 32768.0
        n = len(sf)
        row.update(
            kind="wav", sample_rate=rate,
            duration_s=round(n / rate, 6),
            rms=round(float(np.sqrt((sf ** 2).mean())), 6) if n else 0.0,
            peak=round(float(np.abs(sf).max()), 6) if n else 0.0,
            zcr=round(float(
                (np.diff(np.signbit(sf)) != 0).sum() / max(n - 1, 1)
            ), 6),
        )
    elif blob[:3] == b"ID3" or blob[:2] == b"\xff\xfb":
        kbps, rate = parse_mp3_header(blob)
        row.update(kind="mp3", sample_rate=rate,
                   duration_s=round(len(blob) / (kbps * 125), 6))
    else:
        raise ValueError("unsupported audio container")
    return [row]


def _audio_error(url: str, data: bytes | None, exc: Exception) -> dict:
    return {"url": url, "kind": "unknown",
            "n_bytes": len(data) if data is not None else 0,
            "sample_rate": None, "duration_s": None, "rms": None,
            "peak": None, "zcr": None, "status": "ERROR",
            "error": f"audio: {exc}"}


def extract_audio_features(media: DataFrame) -> DataFrame:
    """Arrow-batched audio features over ``(url, data)`` binary rows:
    WAV payloads decode fully (REAL rms / peak / zero-crossing-rate
    from PCM samples); MP3 payloads yield header metadata + estimated
    duration (entropy decode out of scope); anything else is a per-row
    ERROR."""
    return map_documents(media, ["url", "data"], _audio_rows,
                         AUDIO_FEATURES_SCHEMA, _audio_error)


FRAME_SAMPLE_SCHEMA = T.StructType(
    [
        T.StructField("url", T.StringType(), False),
        T.StructField("frame_index", T.IntegerType(), False),
        T.StructField("frame", T.BinaryType(), True),
        T.StructField("status", T.StringType(), False),
    ]
)


def write_mjpeg(width: int, height: int, n_frames: int) -> bytes:
    """Minimal REAL motion-JPEG 'video': concatenated baseline JPEG
    frames (each independently decodable), deterministic per-frame
    content — frame f shifts the base pattern by 11*f levels."""
    import numpy as np

    from westa_ocr_spark.kernel.jpeg_mini import write_jpeg_gray

    y, x = np.mgrid[0:height, 0:width]
    base = (x * 31 + y * 17) % 256
    return b"".join(
        write_jpeg_gray(((base + 11 * f) % 256).astype(np.uint8))
        for f in range(n_frames)
    )


def split_mjpeg_frames(blob: bytes) -> list[bytes]:
    """Frame boundaries of concatenated JPEGs. Safe on entropy data:
    byte stuffing guarantees 0xFFD9 appears only as the EOI marker."""
    frames: list[bytes] = []
    at = 0
    while True:
        s = blob.find(b"\xff\xd8\xff", at)
        if s < 0:
            break
        e = blob.find(b"\xff\xd9", s)
        if e < 0:
            break
        frames.append(blob[s : e + 2])
        at = e + 2
    return frames


def sample_frames(media: DataFrame, every_n: int = 10,
                  max_frames: int = 4) -> DataFrame:
    """Video frame sampling: 1 ``(url, data)`` binary row -> N frame
    rows (1-based), same fan-out contract as PDF page split.

    Motion-JPEG payloads (concatenated baseline JPEGs — the one video
    container expressible without ffmpeg) sample REAL frames: every
    ``every_n``-th JPEG, each an independently decodable image.
    Unknown codecs keep the documented deterministic byte-slice
    fallback so the fan-out plumbing stays exercised for them too.
    """

    def frame_rows(url: str, data: bytes) -> list[dict]:
        if not data:
            raise ValueError("empty payload")
        blob = bytes(data)
        frames = (
            split_mjpeg_frames(blob) if blob[:3] == b"\xff\xd8\xff" else []
        )
        if len(frames) > 1:  # real MJPEG: sample real JPEGs
            picked = frames[::every_n][:max_frames] or frames[:1]
        else:
            n = min(max_frames, max(1, len(blob) // every_n))
            step = max(1, len(blob) // n)
            picked = [blob[i * step : (i + 1) * step] for i in range(n)]
        return [{"url": url, "frame_index": idx, "frame": fr,
                 "status": "DONE"}
                for idx, fr in enumerate(picked, start=1)]

    def frame_error(url: str, _data, _exc: Exception) -> dict:
        return {"url": url, "frame_index": 1, "frame": None,
                "status": "ERROR"}

    return map_documents(media, ["url", "data"], frame_rows,
                         FRAME_SAMPLE_SCHEMA, frame_error)
