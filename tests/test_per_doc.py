"""The shared per-document operator and its catch-all ERROR row."""

import struct

import pytest
from pyspark.sql import types as T


def test_map_documents_replaces_only_the_failing_row(spark):
    """An Exception of any type raised for one input row becomes that
    row's on_error row; the other rows come out unchanged."""
    from westa_ocr_spark.operators.per_doc import map_documents

    schema = T.StructType([
        T.StructField("k", T.LongType(), False),
        T.StructField("i", T.LongType(), False),
        T.StructField("status", T.StringType(), False),
    ])

    def fan_out(k, n):
        if k == 2:
            raise TypeError("boom")
        return [{"k": k, "i": i, "status": "DONE"} for i in range(n)]

    def on_error(k, n, exc):
        assert isinstance(exc, TypeError)
        return {"k": k, "i": -1, "status": f"ERROR {exc}"}

    df = spark.createDataFrame(
        [(1, 2, "x"), (2, 5, "y"), (3, 0, "z"), (4, 1, "w")],
        "k long, n long, extra string",
    )
    got = sorted(
        tuple(r) for r in
        map_documents(df, ["k", "n"], fan_out, schema, on_error).collect()
    )
    assert got == [
        (1, 0, "DONE"), (1, 1, "DONE"), (2, -1, "ERROR boom"),
        (4, 0, "DONE"),
    ]


def _jpeg_bad_huffman_class() -> bytes:
    from westa_ocr_spark.operators.multimodal import write_jpeg

    buf = bytearray(write_jpeg(16, 12))
    assert buf[139] == 0x10  # the second DHT's Tc/Th byte
    buf[139] = 171
    return bytes(buf)


def _jpeg_huge_sof() -> bytes:
    # SOI, a one-component SOF0 of 65535x65535, EOI: 17 bytes
    return (b"\xff\xd8\xff\xc0"
            + struct.pack(">HBHHB", 11, 8, 65535, 65535, 1)
            + bytes([1, 0x11, 0]) + b"\xff\xd9")


@pytest.mark.parametrize("make_jpeg", [_jpeg_bad_huffman_class,
                                       _jpeg_huge_sof])
def test_image_features_corrupt_jpeg_is_an_error_row(spark, make_jpeg):
    """A JPEG whose decode once raised TypeError / MemoryError in the
    worker now yields its ERROR row next to a good PNG's row."""
    from westa_ocr_spark.operators.multimodal import (
        extract_image_features,
        write_png,
    )

    jpeg = make_jpeg()
    assert len(jpeg) >= 17
    df = spark.createDataFrame(
        [("p.png", write_png(8, 8)), ("j.jpg", jpeg)],
        "url string, data binary",
    )
    rows = {r["url"]: r for r in extract_image_features(df).collect()}
    assert len(rows) == 2
    assert rows["p.png"]["status"] == "DONE"
    assert rows["p.png"]["width"] == 8
    assert rows["j.jpg"]["status"] == "ERROR"
    assert rows["j.jpg"]["error"].startswith("decode: ")
    assert rows["j.jpg"]["n_bytes"] == len(jpeg)
