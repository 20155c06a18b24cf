"""westa_ocr_spark — a PySpark-native main-content extraction engine.

Brand-new implementation of the per-document extraction dataflow of the
reference repo ``ryunosuke0305/westa-ocr`` (see SURVEY.md), re-expressed
Spark-first:

    read pages table -> [resume anti-join] -> skew split (oversized leg)
      -> mapInPandas(extract, Arrow-batched)
      -> dropDuplicates(url, page_index) -> sink merge by url
      -> groupBy(url).agg(counters) manifest -> structured parse stage

The extraction itself (HTML boilerplate strip via text/link-density DOM
heuristics; minimal PDF page split + text parse) lives in pure-Python
kernels under ``westa_ocr_spark.kernel`` so that byte-identity of the
extracted text is defined independently of Spark.
"""

__version__ = "0.1.0"
