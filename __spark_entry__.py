"""Driver contract for the spark-graft builder (PySpark target).

``entry(spark)`` runs the flagship document-profiling query on
sf0.001; ``queries()``/``oracle_sql()`` expose the full operator
registry (SURVEY.md §2 + training-data ops) for the sf0.01 DuckDB
correctness gate. Implementations live in ``westa_ocr_spark``.
"""

from __future__ import annotations

import os
import sys
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))


def entry(spark: SparkSession) -> DataFrame:
    """Flagship: document profiling for a training-data pipeline —
    language ID, quality scoring, token counts, dedup fingerprints,
    aggregated per detected language."""
    from westa_ocr_spark.functions import textfns

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    profiled = textfns.with_lang_id(docs.select("text"), "text").select(
        "lang_id",
        textfns.quality_score(F.col("text")).alias("quality"),
        textfns.token_count(F.col("text")).alias("ws_tokens"),
        textfns.fingerprint(F.col("text")).alias("fp"),
    )
    return (
        profiled.groupBy("lang_id")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.round(
                F.sum(F.col("quality").cast("decimal(18,6)")).cast("double")
                / F.count(F.lit(1)),
                6,
            ).alias("avg_quality"),
            F.sum("ws_tokens").alias("total_tokens"),
            F.countDistinct("fp").alias("distinct_fingerprints"),
        )
        .orderBy("lang_id")
    )


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    """One entry per implemented operator from SURVEY.md §2 (plus
    dedup / similarity / text-analysis training-data operators)."""
    from westa_ocr_spark.registry import queries as _queries

    return _queries()


def oracle_sql() -> dict[str, str]:
    """DuckDB-runnable ANSI SQL twin for every oracled query (same
    column aliases as the Spark side). Rows-only ops (pandas-UDF
    simhash64, LSH ANN, the generated-corpus extraction job) are
    intentionally absent."""
    from westa_ocr_spark.registry import oracle_sql as _oracle_sql

    return _oracle_sql()
