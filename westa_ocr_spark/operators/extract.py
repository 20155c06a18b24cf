"""The extraction operator: Arrow-batched mapInPandas over page bytes.

Spark-first re-expression of the reference's per-page extraction stage
(fetch->split->extract, ``/root/reference/app/worker.py:170-408`` and
``/root/reference/app/gemini.py:46-136``), with:

* PDF page fan-out inside the batch (1 input row -> N output rows,
  1-based ``page_index`` — the reference's split contract,
  ``/root/reference/app/pdf_utils.py:23-36``);
* HTML main-content extraction via the deterministic kernel;
* per-row error capture — a malformed payload yields a
  ``status='ERROR'`` row, never a task failure (reference behavior:
  the reference's ``app/worker.py:798-823``): :func:`extract_rows`
  catches every ``Exception`` itself, and the batch loop is the
  shared :func:`~westa_ocr_spark.operators.per_doc.map_documents`,
  whose catch-all turns anything left into the same
  :func:`error_row`;
* content-type dispatch by magic bytes (the reference gates on
  ``splitMode`` — ``/root/reference/app/worker.py:219-220`` — we
  dispatch per row and support both).

Data crosses the Python boundary once, as Arrow record batches; there
is no per-row Python at the driver and no RDD usage.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from westa_ocr_spark.kernel.html_extract import extract_html
from westa_ocr_spark.kernel.pdf_mini import extract_pdf_pages
from westa_ocr_spark.operators.per_doc import map_documents

SPAN_TYPE = T.ArrayType(
    T.StructType(
        [
            T.StructField("block_id", T.IntegerType(), False),
            T.StructField("start", T.LongType(), False),
            T.StructField("end", T.LongType(), False),
            T.StructField("tag", T.StringType(), False),
        ]
    )
)

EXTRACTED_SCHEMA = T.StructType(
    [
        T.StructField("url", T.StringType(), False),
        T.StructField("page_index", T.IntegerType(), False),
        T.StructField("text", T.StringType(), True),
        T.StructField("spans", SPAN_TYPE, True),
        T.StructField("status", T.StringType(), False),
        T.StructField("error", T.StringType(), True),
        T.StructField("kind", T.StringType(), False),
        T.StructField("input_bytes", T.LongType(), False),
        T.StructField("n_blocks", T.IntegerType(), False),
    ]
)


def _pdf_line_spans(page_text: str) -> list[dict]:
    """Per-line spans for PDF pages (block = line, tag='line')."""
    spans: list[dict] = []
    offset = 0
    for block_id, line in enumerate(page_text.split("\n"), start=1):
        nbytes = len(line.encode("utf-8"))
        spans.append(
            {"block_id": block_id, "start": offset, "end": offset + nbytes,
             "tag": "line"}
        )
        offset += nbytes + 1
    return spans


# Hard per-document payload cap: Arrow's maxRecordsPerBatch bounds
# ROWS, not BYTES, so one pathological multi-GB page could OOM a
# Python worker at crawl scale. Oversized payloads take the
# deterministic per-row ERROR path instead.
MAX_PAYLOAD_BYTES = 64 * 1024 * 1024


_MEDIA_MAGIC = (
    (b"\x89PNG\r\n\x1a\n", "image/png"),
    (b"\xff\xd8\xff", "image/jpeg"),
    (b"GIF87a", "image/gif"),
    (b"GIF89a", "image/gif"),
    (b"RIFF", "audio-video/riff"),
    (b"ID3", "audio/mp3"),
    (b"OggS", "audio/ogg"),
    (b"\x1aE\xdf\xa3", "video/webm"),
)


def _media_magic(data: bytes) -> str | None:
    for magic, kind in _MEDIA_MAGIC:
        if data.startswith(magic):
            return kind
    if data[4:8] == b"ftyp":
        return "video/mp4"
    return None


def error_row(url: str, data: bytes | None, error: str) -> dict:
    """The one ERROR row of the extraction contract: page 1, no text,
    ``error`` = ``"extract: <reason>"`` (the reference's
    ``"{prefix}: {exc}"`` concat, the reference's ``app/worker.py:821``).
    """
    return {
        "url": url,
        "page_index": 1,
        "text": None,
        "spans": None,
        "status": "ERROR",
        "error": f"extract: {error}",
        "kind": "error",
        "input_bytes": 0 if data is None else len(data),
        "n_blocks": 0,
    }


def extract_rows(url: str, data: bytes,
                 charset: str | None = None) -> list[dict]:
    """Pure per-document extraction: 1 doc -> N page rows.

    Shared by the Spark operator and the fixture generator so the
    byte-identity contract has a single definition. ``charset`` is
    the transport-layer decode hint (round 5: the WARC source's HTTP
    Content-Type charset) — WHATWG precedence: BOM > this hint >
    <meta charset> > strict UTF-8. Total on its own: every failure is
    an :func:`error_row`.
    """
    if data is None:
        # Null payloads must surface as ERROR rows, not vanish:
        # skew_split routes them here via coalesce(octet_length, 0).
        return [error_row(url, data, "null payload")]
    input_bytes = len(data)
    if input_bytes > MAX_PAYLOAD_BYTES:
        return [error_row(
            url, data,
            f"payload {input_bytes} bytes exceeds cap {MAX_PAYLOAD_BYTES}",
        )]
    media = _media_magic(data)
    if media is not None:
        # a known non-document payload (image/audio/video bytes in the
        # html column): name the kind instead of surfacing a cryptic
        # charset decode error (round 5 error-taxonomy polish)
        return [error_row(url, data, f"unsupported media kind {media}")]
    if not isinstance(charset, str):
        charset = None  # a null pandas cell arrives as None or NaN
    try:
        if data.startswith(b"%PDF-"):
            pages = extract_pdf_pages(data)
            return [
                {
                    "url": url,
                    "page_index": idx,
                    "text": page,
                    "spans": _pdf_line_spans(page),
                    "status": "DONE",
                    "error": None,
                    "kind": "pdf",
                    "input_bytes": input_bytes,
                    "n_blocks": page.count("\n") + 1,
                }
                for idx, page in enumerate(pages, start=1)
            ]
        text, spans = extract_html(data, charset_hint=charset)
        return [
            {
                "url": url,
                "page_index": 1,
                "text": text,
                "spans": spans,
                "status": "DONE",
                "error": None,
                "kind": "html",
                "input_bytes": input_bytes,
                "n_blocks": len(spans),
            }
        ]
    except Exception as exc:  # noqa: BLE001 - T7: per-row error capture
        # the same catch-all as map_documents: round 4 widened this
        # from (ValueError, UnicodeDecodeError) after stdlib
        # html.parser raised AssertionError on crafted marked sections
        return [error_row(url, data, str(exc))]


def extract_pages(pages: DataFrame) -> DataFrame:
    """Run extraction over a pages DataFrame (needs url + html cols).

    Column-prunes to (url, html) — plus the optional transport
    ``charset`` hint column when the source provides one (the WARC
    reader does) — before the Python boundary, so the scan reads only
    those columns.

    Rows with a NULL ``url`` are dropped first: the output is keyed by
    (url, page_index) and has no key for them. A damaged WARC file's
    ERROR row is such a row: it reports the file, not a document.
    """
    cols = ["url", "html"] + (
        ["charset"] if "charset" in pages.columns else []
    )
    return map_documents(
        pages.filter(F.col("url").isNotNull()), cols, extract_rows,
        EXTRACTED_SCHEMA,
        # values are (url, html[, charset]); the exception comes last
        lambda url, data, *rest: error_row(url, data, str(rest[-1])),
    )
