"""PDF page-split operator: 1 document row -> N standalone page payloads.

Direct Spark re-expression of the reference's ``split_pdf`` stage
(``/root/reference/app/pdf_utils.py:23-36``, fan-out at
``/root/reference/app/worker.py:284-286``): each PDF byte stream
becomes N rows ``(url, page_index [1-based], data [one-page PDF],
mime_type ['application/pdf'])``. Non-PDF or broken payloads become a
``status='ERROR'`` row (the reference's ``app/worker.py:798-823``):
the batch loop is the shared
:func:`~westa_ocr_spark.operators.per_doc.map_documents`, whose
catch-all maps any ``Exception`` of one document to its ERROR row.

The main extraction pipeline skips this materialized intermediate
(it extracts text per page directly), but the operator exists for
pipelines that need the reference's exact page-payload contract —
e.g. routing individual pages to downstream binary consumers.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import types as T

from westa_ocr_spark.kernel.pdf_mini import split_pdf
from westa_ocr_spark.operators.per_doc import map_documents

PAGE_PAYLOAD_SCHEMA = T.StructType(
    [
        T.StructField("url", T.StringType(), False),
        T.StructField("page_index", T.IntegerType(), False),
        T.StructField("data", T.BinaryType(), True),
        T.StructField("mime_type", T.StringType(), False),
        T.StructField("status", T.StringType(), False),
        T.StructField("error", T.StringType(), True),
    ]
)


def _page_rows(url: str, data: bytes) -> list[dict]:
    return [
        {"url": url, "page_index": idx, "data": page,
         "mime_type": "application/pdf", "status": "DONE", "error": None}
        for idx, page in enumerate(split_pdf(bytes(data)), start=1)
    ]


def _error_row(url: str, _data, exc: Exception) -> dict:
    return {"url": url, "page_index": 1, "data": None,
            "mime_type": "application/pdf", "status": "ERROR",
            "error": f"split: {exc}"}


def split_pdf_payloads(pages: DataFrame) -> DataFrame:
    """Arrow-batched page split over ``(url, html)`` rows, ``html``
    holding the PDF bytes."""
    return map_documents(
        pages, ["url", "html"], _page_rows, PAGE_PAYLOAD_SCHEMA, _error_row,
    )
