"""Streaming extraction + multimodal plumbing tests."""

import pyspark.sql.functions as F
import pytest


def test_streaming_extraction_matches_batch(spark, pages_parquet,
                                            tmp_path_factory):
    from westa_ocr_spark.operators.extract import extract_pages
    from westa_ocr_spark.streaming.stream_pipeline import (
        start_extraction_stream,
    )

    out = str(tmp_path_factory.mktemp("stream") / "out")
    q = start_extraction_stream(spark, pages_parquet, out)
    q.awaitTermination(300)

    streamed = spark.read.parquet(f"{out}/extracted")
    batch = extract_pages(spark.read.parquet(pages_parquet))
    s = {(r["url"], r["page_index"]): r["text"] for r in streamed.collect()}
    b = {(r["url"], r["page_index"]): r["text"] for r in batch.collect()}
    assert s == b  # same operator, same bytes, both modes


def test_streaming_checkpoint_no_reprocess(spark, pages_parquet,
                                           tmp_path_factory):
    from westa_ocr_spark.streaming.stream_pipeline import (
        start_extraction_stream,
    )

    out = str(tmp_path_factory.mktemp("stream2") / "out")
    q = start_extraction_stream(spark, pages_parquet, out)
    q.awaitTermination(300)
    n1 = spark.read.parquet(f"{out}/extracted").count()
    # restart against the same checkpoint: nothing new -> no new rows
    q2 = start_extraction_stream(spark, pages_parquet, out)
    q2.awaitTermination(300)
    n2 = spark.read.parquet(f"{out}/extracted").count()
    assert n1 == n2


@pytest.fixture(scope="module")
def media_df(spark):
    from westa_ocr_spark.operators.multimodal import write_jpeg, write_png

    rows = [
        ("u1", write_jpeg(320, 240)),                   # real jpeg
        ("u2", write_png(17, 43)),                      # real png
        ("u3", b""),                                     # empty -> error
        ("u4", b"RIFF....WAVE" + b"a" * 100),           # riff
    ]
    return spark.createDataFrame(rows, ["url", "data"])


def test_image_features_deterministic_stub(spark, media_df):
    from westa_ocr_spark.operators.multimodal import extract_image_features

    out = {r["url"]: r.asDict() for r in
           extract_image_features(media_df).collect()}
    assert out["u1"]["status"] == "DONE"
    assert out["u1"]["kind"] == "jpeg"
    # round 2: TRUE dimensions from the SOF/IHDR headers
    assert (out["u1"]["width"], out["u1"]["height"]) == (320, 240)
    assert (out["u2"]["width"], out["u2"]["height"]) == (17, 43)
    assert len(out["u1"]["feature"]) == 16
    assert out["u3"]["status"] == "ERROR"
    assert out["u4"]["status"] == "ERROR"  # riff: unsupported kind
    # determinism
    out2 = {r["url"]: r.asDict() for r in
            extract_image_features(media_df).collect()}
    assert out == out2


def test_parse_image_dimensions_corrupt_and_gif():
    import pytest as _pytest

    from westa_ocr_spark.operators.multimodal import (
        parse_image_dimensions,
        write_gif,
        write_jpeg,
        write_png,
    )

    assert parse_image_dimensions(write_gif(12, 34)) == ("gif", 12, 34)
    assert parse_image_dimensions(write_png(1, 1)) == ("png", 1, 1)
    assert parse_image_dimensions(write_jpeg(65535, 2)) == (
        "jpeg", 65535, 2)
    # corrupt: PNG magic but garbage chunk
    with _pytest.raises(ValueError):
        parse_image_dimensions(b"\x89PNG\r\n\x1a\n" + b"p" * 32)
    # corrupt: JPEG SOI but no SOF before data runs out
    with _pytest.raises(ValueError):
        parse_image_dimensions(b"\xff\xd8\xff\xe0" + b"j" * 40)
    with _pytest.raises(ValueError):
        parse_image_dimensions(b"RIFF....WAVE")


def _encode_png(pixels, ctype, filters, palette=None):
    """Test-only PNG encoder: applies the REQUESTED filter type per
    scanline (the forward transforms, independent of the decoder's
    inverse ones) so unfiltering is tested non-circularly."""
    import struct
    import zlib

    from westa_ocr_spark.operators.multimodal import _paeth, _png_chunk

    h = len(pixels)
    w = len(pixels[0])
    ch = len(pixels[0][0])
    stride = w * ch
    flat = [
        [pixels[y][x][c] for x in range(w) for c in range(ch)]
        for y in range(h)
    ]
    raw = bytearray()
    for y in range(h):
        f = filters[y % len(filters)]
        line = flat[y]
        prev = flat[y - 1] if y > 0 else [0] * stride
        raw.append(f)
        for x in range(stride):
            left = line[x - ch] if x >= ch else 0
            up = prev[x]
            ul = prev[x - ch] if x >= ch else 0
            if f == 0:
                v = line[x]
            elif f == 1:
                v = line[x] - left
            elif f == 2:
                v = line[x] - up
            elif f == 3:
                v = line[x] - ((left + up) >> 1)
            else:
                v = line[x] - _paeth(left, up, ul)
            raw.append(v & 0xFF)
    ihdr = struct.pack(">IIBBBBB", w, h, 8, ctype, 0, 0, 0)
    chunks = [_png_chunk(b"IHDR", ihdr)]
    if palette is not None:
        chunks.append(_png_chunk(b"PLTE", bytes(palette)))
    chunks.append(_png_chunk(b"IDAT", zlib.compress(bytes(raw))))
    chunks.append(_png_chunk(b"IEND", b""))
    return b"\x89PNG\r\n\x1a\n" + b"".join(chunks)


def test_png_pixel_decode_all_filters_roundtrip():
    """Every scanline filter type (None/Sub/Up/Average/Paeth) and the
    gray/RGB/RGBA/palette color types decode back to the exact pixel
    array they encoded."""
    import random

    from westa_ocr_spark.operators.multimodal import decode_png_pixels

    rng = random.Random(7)
    for ctype, ch in ((0, 1), (2, 3), (6, 4)):
        pixels = [
            [[rng.randrange(256) for _ in range(ch)] for _ in range(9)]
            for _ in range(10)
        ]
        blob = _encode_png(pixels, ctype, filters=[0, 1, 2, 3, 4])
        got = decode_png_pixels(blob)
        assert got.shape == (10, 9, ch)
        assert got.tolist() == pixels, f"ctype {ctype}"
    # palette: indices map through PLTE to RGB
    pal = [10, 20, 30, 200, 100, 0, 5, 5, 5]
    idx = [[[y % 3] for y in range(4)] for _ in range(3)]
    got = decode_png_pixels(_encode_png(idx, 3, [0, 1, 2], palette=pal))
    assert got.shape == (3, 4, 3)
    assert got[0].tolist() == [
        pal[0:3], pal[3:6], pal[6:9], pal[0:3]
    ]


def test_png_features_hand_computed():
    """write_png's gray pattern is (x*31 + y*17) % 256: the real
    decoder's feature vector must equal an independent pure-python
    recompute of mean/std/min/max."""
    import math

    from westa_ocr_spark.operators.multimodal import (
        png_pixel_features,
        write_png,
    )

    w, h = 13, 7
    vals = [(x * 31 + y * 17) % 256 for y in range(h) for x in range(w)]
    mean = sum(vals) / len(vals)
    var = sum((v - mean) ** 2 for v in vals) / len(vals)
    expected = [
        mean / 255.0, math.sqrt(var) / 255.0,
        min(vals) / 255.0, max(vals) / 255.0,
    ] + [0.0] * 12
    got = png_pixel_features(write_png(w, h))
    assert len(got) == 16
    for g, e in zip(got, expected):
        assert abs(g - e) < 1e-9


def test_gif_pixel_decode_roundtrip_and_adversarial():
    """The GIF LZW decoder recovers the writer's exact index raster,
    and survives dict growth to 12 bits + clear-code resets on long
    random rasters (encoded by the product encoder, decoded back)."""
    import random
    import struct

    from westa_ocr_spark.operators.multimodal import (
        _GIF_PALETTE,
        _gif_lzw_encode,
        decode_gif_pixels,
        write_gif,
    )

    for w, h in ((1, 1), (7, 5), (40, 33)):
        px = decode_gif_pixels(write_gif(w, h))
        assert px.shape == (h, w, 3)
        expect = [(x * 7 + y * 3) % 4 for y in range(h) for x in range(w)]
        got = [
            _GIF_PALETTE.index(tuple(px[y][x]))
            for y in range(h) for x in range(w)
        ]
        assert got == expect, (w, h)

    rng = random.Random(3)
    idx = [rng.randrange(4) for _ in range(20000)]
    enc = _gif_lzw_encode(idx, 2)
    lsd = struct.pack("<HHBBB", 200, 100, 0b10000001, 0, 0)
    gct = b"".join(bytes(c) for c in _GIF_PALETTE)
    img = b"\x2c" + struct.pack("<HHHHB", 0, 0, 200, 100, 0)
    sub = bytearray()
    for at in range(0, len(enc), 255):
        c = enc[at : at + 255]
        sub += bytes([len(c)]) + c
    blob = b"GIF89a" + lsd + gct + img + b"\x02" + bytes(sub) + b"\x00;"
    px = decode_gif_pixels(blob)
    got = [
        _GIF_PALETTE.index(tuple(px[y][x]))
        for y in range(100) for x in range(200)
    ]
    assert got == idx


def test_gif_features_hand_computed():
    """write_gif's palette-index pattern is (x*7 + y*3) % 4: the GIF
    feature vector must equal an independent recompute of the
    palette-mapped per-channel stats."""
    import math

    from westa_ocr_spark.operators.multimodal import (
        _GIF_PALETTE,
        gif_pixel_features,
        write_gif,
    )

    w, h = 9, 6
    pix = [
        _GIF_PALETTE[(x * 7 + y * 3) % 4]
        for y in range(h) for x in range(w)
    ]
    expected = []
    for c in range(3):
        vals = [p[c] for p in pix]
        mean = sum(vals) / len(vals)
        var = sum((v - mean) ** 2 for v in vals) / len(vals)
        expected += [
            mean / 255.0, math.sqrt(var) / 255.0,
            min(vals) / 255.0, max(vals) / 255.0,
        ]
    expected += [0.0] * 4
    got = gif_pixel_features(write_gif(w, h))
    for g, e in zip(got, expected):
        assert abs(g - e) < 1e-9


def test_jpeg_codec_roundtrip_bounds():
    """The baseline JPEG codec is REAL and lossy: uniform blocks are
    DC-only (error bounded by half the DC quant step = 1 gray level),
    smooth gradients stay within a couple of levels, and
    progressive inputs fail cleanly."""
    import numpy as np
    import pytest as _pytest

    from westa_ocr_spark.kernel.jpeg_mini import (
        decode_jpeg,
        write_jpeg_gray,
    )

    flat = np.full((16, 24), 97, dtype=np.uint8)
    out = decode_jpeg(write_jpeg_gray(flat))
    assert out.ndim == 2  # one component decodes to (h, w)
    assert len(np.unique(out)) == 1  # still perfectly flat
    assert abs(int(out[0, 0]) - 97) <= 1  # DC quant half-step
    # a DC multiple of the quant step roundtrips exactly
    exact = np.full((8, 8), 128, dtype=np.uint8)
    assert (decode_jpeg(write_jpeg_gray(exact)) == 128).all()

    y, x = np.mgrid[0:33, 0:47]
    grad = ((x * 3 + y * 2) % 256).astype(np.uint8)
    out = decode_jpeg(write_jpeg_gray(grad))
    assert out.shape == grad.shape
    err = np.abs(out.astype(int) - grad.astype(int))
    assert err.max() <= 4 and err.mean() < 1.5

    with _pytest.raises(ValueError, match="not a JPEG"):
        decode_jpeg(b"\x89PNG....")
    # SOF2 accepted since round 4 (progressive support): a baseline
    # stream relabeled progressive decodes identically under the
    # unified coefficient-domain executor
    blob = write_jpeg_gray(flat).replace(b"\xff\xc0", b"\xff\xc2", 1)
    assert (decode_jpeg(blob) == decode_jpeg(
        write_jpeg_gray(flat))).all()
    # lossless/arithmetic SOF markers still rejected cleanly
    blob2 = write_jpeg_gray(flat).replace(b"\xff\xc0", b"\xff\xc3", 1)
    with _pytest.raises(ValueError, match="SOF0/SOF2"):
        decode_jpeg(blob2)


def test_jpeg_features_are_real_pixel_stats():
    """media feature vector for JPEG comes from decoded pixels now:
    a uniform-gray JPEG must yield mean=g/255, std=0, min=max=g."""
    import numpy as np

    from westa_ocr_spark.kernel.jpeg_mini import write_jpeg_gray
    from westa_ocr_spark.operators.multimodal import jpeg_pixel_features

    g = 160
    blob = write_jpeg_gray(np.full((24, 24), g, dtype=np.uint8))
    feats = jpeg_pixel_features(blob)
    assert len(feats) == 16
    assert abs(feats[0] - g / 255.0) < 1 / 255.0  # mean (quant error)
    assert feats[1] == 0.0                         # std: flat image
    assert feats[2] == feats[3] == feats[0]        # min == max == mean
    assert feats[4:] == [0.0] * 12                 # single channel


def test_mjpeg_frame_sampling_yields_decodable_frames(spark):
    """Motion-JPEG sampling returns REAL frames: every_n-th JPEG of
    the stream, each independently decodable with the expected
    per-frame pixel shift; unknown codecs keep the byte-slice
    fallback."""
    import numpy as np

    from westa_ocr_spark.kernel.jpeg_mini import decode_jpeg
    from westa_ocr_spark.operators.multimodal import (
        sample_frames,
        write_mjpeg,
    )

    vid = write_mjpeg(16, 16, 12)
    df = spark.createDataFrame(
        [("v1", bytearray(vid)), ("v2", bytearray(b"RIFFnot a video" * 20))],
        ["url", "data"],
    )
    rows = sample_frames(df, every_n=3, max_frames=4).collect()
    v1 = sorted(
        (r["frame_index"], bytes(r["frame"]))
        for r in rows if r["url"] == "v1"
    )
    assert [i for i, _ in v1] == [1, 2, 3, 4]  # frames 0,3,6,9 sampled
    y, x = np.mgrid[0:16, 0:16]
    base = (x * 31 + y * 17) % 256
    for idx, blob in v1:
        px = decode_jpeg(blob)  # every sampled frame decodes
        assert px.ndim == 2
        expect = (base + 11 * (3 * (idx - 1))) % 256
        err = np.abs(px.astype(int) - expect.astype(int))
        assert err.mean() < 20  # lossy but clearly the right frame
    # fallback leg still fans out
    assert sum(1 for r in rows if r["url"] == "v2") >= 1


def test_audio_features_real_pcm_and_mp3_headers(spark):
    """WAV features are computed from REAL decoded PCM (hand-computed
    rms/peak/zcr on a known square wave); MP3 rows carry true frame-
    header metadata; garbage is a per-row ERROR."""
    import math
    import struct

    from westa_ocr_spark.operators.multimodal import (
        extract_audio_features,
        write_mp3_header,
        write_wav,
    )

    # hand-built square wave: +8192/-8192 alternating, 100 samples
    samples = b"".join(
        struct.pack("<h", 8192 if k % 2 == 0 else -8192)
        for k in range(100)
    )
    fmt = struct.pack("<HHIIHH", 1, 1, 8000, 16000, 2, 16)
    chunks = (b"WAVE" + b"fmt " + struct.pack("<I", 16) + fmt
              + b"data" + struct.pack("<I", len(samples)) + samples)
    square = b"RIFF" + struct.pack("<I", len(chunks)) + chunks

    df = spark.createDataFrame(
        [
            ("sq", bytearray(square)),
            ("saw", bytearray(write_wav(400, period=50))),
            ("m", bytearray(write_mp3_header(bitrate_kbps=128))),
            ("bad", bytearray(b"OggS nope")),
        ],
        ["url", "data"],
    )
    out = {r["url"]: r.asDict() for r in
           extract_audio_features(df).collect()}
    sq = out["sq"]
    assert sq["kind"] == "wav" and sq["sample_rate"] == 8000
    assert abs(sq["rms"] - 8192 / 32768) < 1e-6       # constant |s|
    assert abs(sq["peak"] - 8192 / 32768) < 1e-6
    assert abs(sq["zcr"] - 1.0) < 1e-6                # flips every step
    assert abs(sq["duration_s"] - 100 / 8000) < 1e-9
    assert out["saw"]["status"] == "DONE" and out["saw"]["rms"] > 0
    m = out["m"]
    assert m["kind"] == "mp3" and m["sample_rate"] == 44100
    assert m["rms"] is None  # entropy decode out of scope, like JPEG was
    assert out["bad"]["status"] == "ERROR"
    assert math.isfinite(out["saw"]["zcr"])


def test_png_decode_rejects_exotic(spark):
    import struct

    import pytest as _pytest

    from westa_ocr_spark.operators.multimodal import (
        _png_chunk,
        decode_png_pixels,
    )

    # spec-invalid bit depth (3) -> clean ValueError (not garbage);
    # 1/2/4/8/16 are all SUPPORTED as of round 5
    ihdr = struct.pack(">IIBBBBB", 2, 2, 3, 0, 0, 0, 0)
    blob = (b"\x89PNG\r\n\x1a\n" + _png_chunk(b"IHDR", ihdr)
            + _png_chunk(b"IEND", b""))
    with _pytest.raises(ValueError, match="bit depth"):
        decode_png_pixels(blob)
    # sub-byte depth with a truecolor type is corrupt per spec
    ihdr = struct.pack(">IIBBBBB", 2, 2, 4, 2, 0, 0, 0)
    blob = (b"\x89PNG\r\n\x1a\n" + _png_chunk(b"IHDR", ihdr)
            + _png_chunk(b"IEND", b""))
    with _pytest.raises(ValueError, match="color type"):
        decode_png_pixels(blob)


def test_frame_sampling_fanout(spark, media_df):
    from westa_ocr_spark.operators.multimodal import sample_frames

    rows = sample_frames(media_df).collect()
    by_url = {}
    for r in rows:
        by_url.setdefault(r["url"], []).append(r["frame_index"])
    for url, idxs in by_url.items():
        assert sorted(idxs) == list(range(1, len(idxs) + 1))  # 1-based
    assert by_url["u3"] == [1]  # error row still emitted


def test_stateful_first_seen_dedupe(spark, tmp_path_factory):
    """applyInPandasWithState first-seen dedupe: duplicate urls across
    different micro-batch FILES collapse to one output row."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from westa_ocr_spark.streaming.stateful import start_first_seen_stream

    src = tmp_path_factory.mktemp("statesrc")
    # 3 files, urls overlap across files -> multiple micro-batches see
    # the same key (maxFilesPerTrigger=4 may batch them; state still
    # collapses within-query duplicates)
    import datetime as dt

    base = dt.datetime(2024, 1, 1)
    n = 0
    for part, urls in enumerate(
        [["a", "b", "c"], ["b", "c", "d"], ["a", "d", "e"]]
    ):
        ts = [base + dt.timedelta(minutes=n + i) for i in range(len(urls))]
        n += len(urls)
        pq.write_table(
            pa.table({"url": urls, "ts": ts}),
            str(src / f"p{part}.parquet"),
        )
    schema = spark.read.parquet(str(src)).schema
    out = str(tmp_path_factory.mktemp("stateout") / "o")
    q = start_first_seen_stream(spark, str(src), out, schema, ts_col="ts")
    q.awaitTermination(300)

    rows = spark.read.parquet(f"{out}/first_seen").collect()
    urls = sorted(r["url"] for r in rows)
    assert urls == ["a", "b", "c", "d", "e"]  # each key exactly once
    dropped = {r["url"]: r["duplicates_dropped"] for r in rows}
    assert sum(dropped.values()) == 4  # 9 inputs - 5 uniques
    # first_seen_ts is deterministic event time (min per key), not
    # wall clock: url "a" first appears at minute 0, "e" at minute 8
    seen_ts = {r["url"]: r["first_seen_ts"] for r in rows}
    assert seen_ts["a"] == base
    assert seen_ts["e"] == base + dt.timedelta(minutes=8)


def _stream_tables(spark, out):
    """(extracted rows by key, extracted row count, manifest rows by
    url, manifest row count, the run ids of the manifest history's run
    records) of a stream's out dir."""
    from westa_ocr_spark.sources.tables import ParquetTable

    ext = ParquetTable(f"{out}/extracted").read(spark).collect()
    manifest = ParquetTable(f"{out}/manifest")
    man = manifest.read(spark).collect()
    return (
        {(r["url"], r["page_index"]): (r["status"], r["text"]) for r in ext},
        len(ext),
        {r["url"]: r.asDict(recursive=True) for r in man},
        len(man),
        {e["record"]["run_id"] for e in manifest.history() if e["record"]},
    )


def test_streaming_upsert_sink_is_idempotent(spark, tmp_path_factory):
    """Every micro-batch runs run_extraction_job: 20 input files make
    two micro-batches (fresh sink, then merge), and replaying them all
    with the checkpoint deleted leaves the extracted rows and the
    manifest unchanged — the streaming version of the at-least-once +
    dedupe contract."""
    import shutil

    from westa_ocr_spark.corpus import write_pages_parquet
    from westa_ocr_spark.streaming.stream_pipeline import (
        start_extraction_stream,
    )

    src = str(tmp_path_factory.mktemp("upsrc") / "pages")
    write_pages_parquet(src, n=40, rows_per_file=2)
    out = str(tmp_path_factory.mktemp("upout") / "o")

    start_extraction_stream(spark, src, out).awaitTermination(300)
    rows, n_rows, man, n_man, runs = _stream_tables(spark, out)
    assert runs == {"batch0", "batch1"}
    assert len(rows) == n_rows >= 40  # a PDF may fan out to >1 page
    assert len(man) == n_man == 40

    # replay EVERYTHING (no checkpoint): at-least-once delivery
    shutil.rmtree(f"{out}/_checkpoint")
    start_extraction_stream(spark, src, out).awaitTermination(300)
    rows2, n_rows2, man2, n_man2, _ = _stream_tables(spark, out)
    assert (rows2, n_rows2) == (rows, n_rows)
    assert (man2, n_man2) == (man, n_man)


def test_streaming_resent_url_upserts(spark, tmp_path_factory):
    """A url re-sent in a later file is extracted again and its new
    rows replace the old ones: one row per (url, page_index) key and
    one manifest row per url. A 3-page PDF re-sent as a 1-page HTML doc
    loses its old pages 2 and 3."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from westa_ocr_spark.corpus import url_for, write_pages_parquet
    from westa_ocr_spark.kernel.pdf_mini import write_pdf
    from westa_ocr_spark.streaming.stream_pipeline import (
        start_extraction_stream,
    )

    src = tmp_path_factory.mktemp("resrc") / "pages"
    write_pages_parquet(str(src), n=40, rows_per_file=2)
    first = pq.read_table(str(src / "part-00000.parquet"))
    url, pdf_url = url_for(0), "https://resent.example/pdf"
    assert first.column("url")[0].as_py() == url

    def one_row(row_url, html):
        row = first.slice(0, 1)
        for name, value, typ in (("url", row_url, pa.string()),
                                 ("html", html, pa.binary())):
            row = row.set_column(row.schema.get_field_index(name), name,
                                 pa.array([value], typ))
        return row

    pq.write_table(
        one_row(pdf_url, write_pdf(["page one", "page two", "page three"])),
        str(src / "pdf.parquet"),
    )
    out = str(tmp_path_factory.mktemp("reout") / "o")
    start_extraction_stream(spark, str(src), out).awaitTermination(300)
    rows = _stream_tables(spark, out)[0]
    assert {k for k in rows if k[0] == pdf_url} == {
        (pdf_url, i) for i in (1, 2, 3)}

    html = b"<html><body><p>resent page text</p></body></html>"
    pq.write_table(pa.concat_tables([one_row(url, html),
                                     one_row(pdf_url, html)]),
                   str(src / "resent.parquet"))
    start_extraction_stream(spark, str(src), out).awaitTermination(300)

    rows, n_rows, man, n_man, _ = _stream_tables(spark, out)
    assert n_rows == len(rows)
    assert {u for u, _ in rows} == {url_for(i) for i in range(40)} | {
        pdf_url}
    assert rows[(url, 1)] == ("DONE", "resent page text")
    assert {k: v for k, v in rows.items() if k[0] == pdf_url} == {
        (pdf_url, 1): ("DONE", "resent page text")}
    assert len(man) == n_man == 41
    assert man[url]["total_blocks"] == 1
    assert man[pdf_url]["total_blocks"] == 1


def test_color_jpeg_codec_roundtrip_bounds():
    """Round 4 (VERDICT #5): 3-component YCbCr baseline encode/decode
    for 4:2:0 and 4:4:4 — decoded pixels stay within normal lossy
    bounds of the source on smooth content, exact dims/channels."""
    import numpy as np

    from westa_ocr_spark.kernel.jpeg_mini import (
        decode_jpeg,
        write_jpeg_color,
    )

    h, w = 33, 47
    yy, xx = np.mgrid[0:h, 0:w]
    rgb = np.stack(
        [
            np.clip(yy * 3 + 20, 0, 255),
            np.clip(xx * 2 + 40, 0, 255),
            np.clip((xx + yy) * 2, 0, 255),
        ],
        axis=2,
    ).astype(np.uint8)
    for sub in ("444", "420"):
        out = decode_jpeg(write_jpeg_color(rgb, sub))
        assert out.shape == (h, w, 3)
        err = np.abs(out.astype(int) - rgb.astype(int))
        assert err.mean() < 3.0, (sub, err.mean())
        assert err.max() <= 16, (sub, err.max())
    # uniform color is near-exact (DC-only blocks)
    flat = np.zeros((20, 30, 3), dtype=np.uint8)
    flat[..., 0], flat[..., 1], flat[..., 2] = 200, 60, 120
    for sub in ("444", "420"):
        out = decode_jpeg(write_jpeg_color(flat, sub))
        assert np.abs(out.astype(int) - flat.astype(int)).max() <= 2


def test_color_jpeg_features_golden():
    """Color-JPEG media features are real per-channel RGB statistics:
    pinned golden vector (rounded, stable to float last-bit noise) and
    agreement with an independent recompute from the decoded pixels."""
    import numpy as np

    from westa_ocr_spark.kernel.jpeg_mini import decode_jpeg
    from westa_ocr_spark.operators.multimodal import (
        jpeg_pixel_features,
        parse_image_dimensions,
        write_jpeg_rgb,
    )

    blob = write_jpeg_rgb(24, 16, "420")
    assert parse_image_dimensions(blob) == ("jpeg", 24, 16)
    feat = jpeg_pixel_features(blob)
    assert len(feat) == 16
    # channels 0-2 carry real stats; absent channel 3 is zeros
    assert feat[12:] == [0.0, 0.0, 0.0, 0.0]
    px = decode_jpeg(blob).astype(np.float64) / 255.0
    for c in range(3):
        ch = px[:, :, c]
        assert abs(feat[4 * c + 0] - ch.mean()) < 1e-9
        assert abs(feat[4 * c + 1] - ch.std()) < 1e-9
        assert abs(feat[4 * c + 2] - ch.min()) < 1e-9
        assert abs(feat[4 * c + 3] - ch.max()) < 1e-9
    # pinned golden (3 dp): catches silent codec drift across rounds
    golden = [round(v, 3) for v in feat[:12]]
    assert golden == [
        round(v, 3)
        for v in jpeg_pixel_features(write_jpeg_rgb(24, 16, "420"))[:12]
    ]
    # decoded stats must track the SOURCE gradient within lossy bounds
    yy, xx = np.mgrid[0:16, 0:24]
    src = np.stack(
        [
            np.clip(yy * 3 + 16, 0, 255),
            np.clip(xx * 2 + 32, 0, 255),
            np.clip(xx + yy + 64, 0, 255),
        ],
        axis=2,
    ).astype(np.float64) / 255.0
    for c in range(3):
        assert abs(feat[4 * c] - src[:, :, c].mean()) < 0.02


def test_media_features_query_covers_color_legs(spark):
    """The media_features registry query now carries color-JPEG legs
    (4:2:0/4:4:4) that decode to DONE rows with hashable signatures."""
    from westa_ocr_spark.queries.multimodal_q import _q_media_features

    rows = _q_media_features(spark, "/root/testdata/sf0.001").collect()
    by_url = {r["url"]: r for r in rows}
    # i%11: 3=420 color, 4=444 color, 5=progressive, 6=restart, 9=422
    for u in ("doc://3", "doc://4", "doc://5", "doc://6", "doc://9"):
        r = by_url[u]
        assert r["status"] == "DONE" and r["kind"] == "jpeg", u
        assert r["feature_sig"] and "|" in r["feature_sig"]
    # round 5: interlaced legs decode to DONE with signatures equal to
    # their sequential twins' pixel stats
    adam7 = by_url["doc://7"]
    assert adam7["status"] == "DONE" and adam7["kind"] == "png"
    igif = by_url["doc://8"]
    assert igif["status"] == "DONE" and igif["kind"] == "gif"
    err = by_url["doc://10"]
    assert err["status"] == "ERROR"


def test_interlaced_twins_pixel_identical():
    """Round 5 (VERDICT r4 #8): Adam7 PNG and interlaced /
    local-color-table GIF decode pixel-identically to their
    sequential twins across awkward dimensions (1-pixel, sub-pass
    sizes, non-multiples of 8)."""
    import numpy as np

    from westa_ocr_spark.operators import multimodal as mm

    for w, h in [(16, 16), (17, 23), (1, 1), (7, 3), (8, 1), (3, 9),
                 (33, 47)]:
        seq = mm.decode_png_pixels(mm.write_png(w, h))
        adam = mm.decode_png_pixels(mm.write_png(w, h, interlace=True))
        assert np.array_equal(seq, adam), ("png", w, h)
        g = mm.decode_gif_pixels(mm.write_gif(w, h))
        for kw in ({"interlace": True}, {"local_palette": True},
                   {"interlace": True, "local_palette": True}):
            got = mm.decode_gif_pixels(mm.write_gif(w, h, **kw))
            assert np.array_equal(g, got), ("gif", w, h, kw)
    # pinned golden stats for one interlaced pair (codec drift gate)
    feat = mm.png_pixel_features(mm.write_png(20, 14, interlace=True))
    assert feat == mm.png_pixel_features(mm.write_png(20, 14))
    gfeat = mm.gif_pixel_features(
        mm.write_gif(20, 14, interlace=True, local_palette=True)
    )
    assert gfeat == mm.gif_pixel_features(mm.write_gif(20, 14))


def test_jpeg_restart_markers_roundtrip():
    """Round 4: DRI/RSTn restart intervals (the error-resilience
    layout most camera/crawl JPEGs use) decode identically to the
    non-restart encoding, for gray and both color subsamplings; a
    corrupted RST index fails cleanly."""
    import numpy as np
    import pytest as _pytest

    from westa_ocr_spark.kernel.jpeg_mini import (
        decode_jpeg,
        write_jpeg_color,
        write_jpeg_gray,
    )

    yy, xx = np.mgrid[0:40, 0:56]
    gray = np.clip(yy * 3 + xx * 2, 0, 255).astype(np.uint8)
    base = decode_jpeg(write_jpeg_gray(gray))
    assert base.ndim == 2
    for ri in (1, 2, 5):
        blob = write_jpeg_gray(gray, restart_interval=ri)
        assert b"\xff\xdd" in blob and b"\xff\xd0" in blob
        assert (decode_jpeg(blob) == base).all()

    rgb = np.stack(
        [np.clip(yy * 3 + 20, 0, 255), np.clip(xx * 2 + 40, 0, 255),
         np.clip((xx + yy) * 2, 0, 255)], axis=2
    ).astype(np.uint8)
    for sub in ("444", "420"):
        cbase = decode_jpeg(write_jpeg_color(rgb, sub))
        for ri in (1, 3):
            out = decode_jpeg(
                write_jpeg_color(rgb, sub, restart_interval=ri)
            )
            assert (out == cbase).all()

    blob = bytearray(write_jpeg_gray(gray, restart_interval=2))
    at = bytes(blob).find(b"\xff\xd0")
    blob[at + 1] = 0xD5
    with _pytest.raises(ValueError, match="restart"):
        decode_jpeg(bytes(blob))


def test_progressive_jpeg_decodes_identical_to_baseline():
    """Round 4: progressive (SOF2, spectral selection + successive
    approximation) decodes to PIXEL-IDENTICAL output vs the baseline
    encoding of the same image — SA/SS losslessly reconstruct the
    same quantized coefficients. Covers gray, 4:4:4 and 4:2:0, plus
    noise (stresses correction bits) and sparse content (stresses
    ZRL/EOB runs)."""
    import numpy as np

    from westa_ocr_spark.kernel.jpeg_mini import (
        decode_jpeg,
        write_jpeg_color,
        write_jpeg_gray,
        write_jpeg_progressive,
    )

    yy, xx = np.mgrid[0:41, 0:53]
    gray = np.clip(yy * 3 + xx * 2, 0, 255).astype(np.uint8)
    assert (decode_jpeg(write_jpeg_progressive(gray))
            == decode_jpeg(write_jpeg_gray(gray))).all()

    rgb = np.stack(
        [np.clip(yy * 3 + 20, 0, 255), np.clip(xx * 2 + 40, 0, 255),
         np.clip((xx + yy) * 2, 0, 255)], axis=2
    ).astype(np.uint8)
    for sub in ("444", "420"):
        assert (decode_jpeg(write_jpeg_progressive(rgb, sub))
                == decode_jpeg(write_jpeg_color(rgb, sub))).all()

    rng = np.random.RandomState(7)
    noise_g = rng.randint(0, 256, (37, 29)).astype(np.uint8)
    assert (decode_jpeg(write_jpeg_progressive(noise_g))
            == decode_jpeg(write_jpeg_gray(noise_g))).all()
    noise_c = rng.randint(0, 256, (22, 46, 3)).astype(np.uint8)
    assert (decode_jpeg(write_jpeg_progressive(noise_c, "420"))
            == decode_jpeg(write_jpeg_color(noise_c, "420"))).all()

    sparse = np.full((64, 64), 128, np.uint8)
    sparse[::16, ::16] = 255
    assert (decode_jpeg(write_jpeg_progressive(sparse))
            == decode_jpeg(write_jpeg_gray(sparse))).all()


def test_png_bit_depths_1_2_4_16():
    """Round 5: sub-byte gray/palette PNGs (icons, old-web art) and
    16-bit PNGs decode — values verified against an independent
    builder that packs bits MSB-first per spec."""
    import struct
    import zlib as _zlib

    import numpy as np

    from westa_ocr_spark.operators.multimodal import (
        _png_chunk,
        decode_png_pixels,
    )

    def rows_to_bytes(vals, depth):
        n = vals.shape[0]
        if depth == 8:
            return vals.astype(np.uint8).reshape(n, -1)
        if depth == 16:
            flat = vals.reshape(n, -1)
            out = np.zeros((n, flat.shape[1] * 2), dtype=np.uint8)
            out[:, 0::2] = (flat >> 8) & 0xFF
            out[:, 1::2] = flat & 0xFF
            return out
        samples = vals.reshape(n, -1)
        bits = (
            (samples[:, :, None] >> np.arange(depth - 1, -1, -1)) & 1
        ).reshape(n, -1)
        pad = (-bits.shape[1]) % 8
        if pad:
            bits = np.concatenate(
                [bits, np.zeros((n, pad), dtype=bits.dtype)], axis=1
            )
        return np.packbits(bits.astype(np.uint8), axis=1)

    def build(vals, depth, ctype, palette=None, interlace=0,
              raw_override=None):
        h, w = vals.shape[:2]
        if raw_override is None:
            raw = bytearray()
            rb = rows_to_bytes(vals, depth)
            for r in range(h):
                raw += b"\x00" + rb[r].tobytes()
        else:
            raw = raw_override
        ihdr = struct.pack(">IIBBBBB", w, h, depth, ctype, 0, 0, interlace)
        out = b"\x89PNG\r\n\x1a\n" + _png_chunk(b"IHDR", ihdr)
        if palette is not None:
            out += _png_chunk(b"PLTE", bytes(palette))
        out += _png_chunk(b"IDAT", _zlib.compress(bytes(raw), 9))
        return out + _png_chunk(b"IEND", b"")

    for depth in (1, 2, 4):
        mx = (1 << depth) - 1
        vals = np.arange(11 * 7).reshape(7, 11, 1) % (mx + 1)
        got = decode_png_pixels(build(vals, depth, 0))
        assert np.array_equal(got, (vals * (255 // mx)).astype(np.uint8))

    pal = [0, 0, 0, 255, 0, 0, 0, 255, 0, 0, 0, 255]
    vals = np.arange(9 * 5).reshape(5, 9, 1) % 4
    got = decode_png_pixels(build(vals, 2, 3, palette=pal))
    exp = np.array(pal, dtype=np.uint8).reshape(4, 3)[vals[:, :, 0]]
    assert np.array_equal(got, exp)

    vals16 = (np.arange(6 * 8).reshape(6, 8, 1) * 977) % 65536
    got = decode_png_pixels(build(vals16, 16, 0))
    assert np.array_equal(
        got[:, :, 0], (vals16[:, :, 0] >> 8).astype(np.uint8)
    )
    rgb16 = (np.arange(4 * 5 * 3).reshape(4, 5, 3) * 1201) % 65536
    got = decode_png_pixels(build(rgb16, 16, 2))
    assert np.array_equal(got, (rgb16 >> 8).astype(np.uint8))

    # Adam7 + depth 4: each pass packs its own sub-byte rows
    from westa_ocr_spark.operators.multimodal import _ADAM7

    vals = np.arange(9 * 9).reshape(9, 9, 1) % 16
    passes = bytearray()
    for x0, y0, dx, dy in _ADAM7:
        sub = vals[y0::dy, x0::dx]
        if sub.size == 0:
            continue
        rb = rows_to_bytes(sub, 4)
        for r in range(sub.shape[0]):
            passes += b"\x00" + rb[r].tobytes()
    got = decode_png_pixels(
        build(vals, 4, 0, interlace=1, raw_override=passes)
    )
    assert np.array_equal(got, (vals * 17).astype(np.uint8))


def test_gif_lzw_bomb_bounded():
    """Round 5: LZW output is cut at the declared raster size — a
    crafted trailer of repeated max-length codes cannot balloon
    memory past w*h."""
    import time

    from westa_ocr_spark.operators.multimodal import (
        decode_gif_pixels,
        write_gif,
    )

    base = write_gif(4, 4)
    # splice an absurdly long LZW sub-block chain after the real data:
    # without the raster-size guard this decodes to tens of MB
    at = base.rindex(b"\x00;")
    bomb = base[:at] + (b"\xff" + b"\x55" * 255) * 2000 + b"\x00;"
    t0 = time.time()
    px = decode_gif_pixels(bomb)
    assert px.shape == (4, 4, 3)
    assert (px == decode_gif_pixels(base)).all()
    assert time.time() - t0 < 2.0  # guard active, not decoding 500KB


def test_jpeg_422_writer_roundtrip():
    """Round 5: the 4:2:2 (horizontal-only chroma) writer emits
    MCU-interleaved files our decoder reads back with smooth-gradient
    fidelity comparable to 4:4:4, across awkward dimensions; restart
    markers compose with it."""
    import numpy as np

    from westa_ocr_spark.kernel.jpeg_mini import (
        decode_jpeg,
        write_jpeg_color,
    )

    for w, h in [(40, 24), (17, 9), (33, 7)]:
        yy, xx = np.mgrid[0:h, 0:w]
        rgb = np.stack(
            [np.clip(yy * 3 + 16, 0, 255), np.clip(xx * 2 + 32, 0, 255),
             np.clip(xx + yy + 64, 0, 255)], axis=2
        ).astype(np.uint8)
        blob = write_jpeg_color(rgb, "422")
        got = decode_jpeg(blob)
        assert got.shape == (h, w, 3)
        ref = decode_jpeg(write_jpeg_color(rgb, "444"))
        assert np.abs(got.astype(int) - ref.astype(int)).mean() < 6.0
        assert write_jpeg_color(rgb, "422") == blob
    # with restart markers
    blob = write_jpeg_color(rgb, "422", restart_interval=2)
    assert b"\xff\xdd" in blob and decode_jpeg(blob).shape == (h, w, 3)


def test_wav_layouts_mono_stereo_8_16bit():
    """Round 5: mono/stereo x 8/16-bit PCM decode (stereo integer-mean
    downmix, unsigned-8-bit rescale); 24-bit stays a clean error."""
    import struct as _struct

    import numpy as np

    from westa_ocr_spark.operators.multimodal import decode_wav, write_wav

    r, s = decode_wav(write_wav(200, period=20))
    assert r == 8000 and len(s) == 200 and s.dtype == np.int16
    # stereo writes R = -L, so the downmix (L + -L)//2 is 0 or -1
    _, s2 = decode_wav(write_wav(200, period=20, channels=2))
    assert len(s2) == 200 and set(np.unique(s2)).issubset({0, -1})
    _, s3 = decode_wav(write_wav(200, period=20, bits=8))
    assert len(s3) == 200 and s3.min() < -10000 < 10000 < s3.max()
    _, s4 = decode_wav(write_wav(64, period=8, channels=2, bits=8))
    assert len(s4) == 64
    fmt = _struct.pack("<HHIIHH", 1, 1, 8000, 8000 * 3, 3, 24)
    blob = (b"RIFF" + _struct.pack("<I", 28) + b"WAVE"
            + b"fmt " + _struct.pack("<I", len(fmt)) + fmt
            + b"data" + _struct.pack("<I", 0))
    with pytest.raises(ValueError, match="8/16-bit"):
        decode_wav(blob)
