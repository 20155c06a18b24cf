"""Structured Streaming variant of the extraction pipeline.

The reference is a continuous service (queue + worker threads, its
``app/main.py:363,386-400``); a file-source stream is the natural
continuous-ingest shape of it: new page files land in a directory and
each micro-batch goes through the one extraction lifecycle,
:func:`~westa_ocr_spark.plans.pipeline.run_extraction_job` — keyed
upsert into the ``url_bucket`` sink, J5 key check, compaction, and the
manifest commit that carries the micro-batch's run record (``run_id``
``batch<id>`` and its lineage; ``ParquetTable.history()`` of the
manifest lists one per finished micro-batch, and one more per
replayed one). Batch and streaming writers share the tables' commit logs,
as in Delta Lake (Armbrust et al., VLDB 2020). The checkpoint directory
tracks which files were consumed (the streaming analogue of the
reference's startup re-enqueue, ``app/main.py:402-406``), and the keyed
upsert makes a replayed micro-batch converge.
"""

from __future__ import annotations

import os
import shutil
import tempfile
import uuid

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from westa_ocr_spark.plans.pipeline import run_extraction_job

PAGES_SCHEMA = T.StructType(
    [
        T.StructField("url", T.StringType(), False),
        T.StructField("warc_ts", T.TimestampType(), True),
        T.StructField("html", T.BinaryType(), True),
        T.StructField("text", T.StringType(), True),
        T.StructField("lang", T.StringType(), True),
    ]
)

# files a production stream takes per micro-batch
FILES_PER_TRIGGER = 16
# files, and so micro-batches, a complete-mode drain stages its events in
DRAIN_FILES = 4


def _file_stream(spark: SparkSession, path: str, schema: T.StructType,
                 files_per_trigger: int = FILES_PER_TRIGGER) -> DataFrame:
    """File-source stream over a directory of parquet files."""
    return (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", files_per_trigger)
        .parquet(path)
    )


def start_extraction_stream(
    spark: SparkSession,
    input_dir: str,
    out_dir: str,
    *,
    trigger_available_now: bool = True,
):
    """Extract pages continuously: every micro-batch is one
    ``run_extraction_job`` run into ``out_dir``.

    ``availableNow`` drains everything currently in the directory and
    stops (batch-equivalent, used by tests); drop the trigger for a
    long-running tail. The checkpoint at ``{out_dir}/_checkpoint``
    makes a restart resume after the last committed micro-batch. A
    batch replayed after a crash between its table commits and the
    checkpoint commit re-upserts the same keys (``resume=False``: a
    re-sent url is extracted again and its new rows win), so the
    tables converge.
    """
    def sink(batch_df: DataFrame, batch_id: int) -> None:
        run_extraction_job(batch_df.sparkSession, batch_df, out_dir,
                           resume=False, run_id=f"batch{batch_id}")

    writer = (
        _file_stream(spark, input_dir, PAGES_SCHEMA)
        .writeStream.foreachBatch(sink)
        .option("checkpointLocation", f"{out_dir}/_checkpoint")
    )
    if trigger_available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def _drain_complete(spark: SparkSession, events: DataFrame, key_col: str,
                    window: Column, out_cols: list) -> DataFrame:
    """Count ``events`` per (``window`` over ``ts``, ``key``) through a
    complete-mode stream and return ``out_cols`` of the drained rows.

    Stages ``events`` (as ``ts``, ``key``) in ``DRAIN_FILES`` parquet
    files and streams them back one file per micro-batch, so the
    aggregation state genuinely crosses batch boundaries. Complete mode
    re-emits the whole aggregate each trigger, so the drained memory
    sink (``win``, ``key``, ``n``) equals the batch ``groupBy``
    exactly.
    """
    tag = uuid.uuid4().hex[:8]
    stage = os.path.join(tempfile.gettempdir(), f"cstream_{tag}")
    src = events.select(
        F.col("ts").cast("timestamp").alias("ts"),
        F.col(key_col).alias("key"),
    )
    src.repartition(DRAIN_FILES).write.mode("overwrite").parquet(stage)
    name = f"complete_{tag}"
    (
        _file_stream(spark, stage, src.schema, files_per_trigger=1)
        .groupBy(window.alias("win"), "key")
        .agg(F.count(F.lit(1)).alias("n"))
        .writeStream.format("memory")
        .queryName(name)
        .outputMode("complete")
        .trigger(availableNow=True)
        .start()
        .awaitTermination()
    )
    # the memory sink is session-lived; materialize rows so the staged
    # files can be deleted before returning
    out = spark.table(name).select(*out_cols).localCheckpoint(eager=True)
    shutil.rmtree(stage, ignore_errors=True)
    return out


def windowed_counts_complete(spark: SparkSession,
                             events: DataFrame) -> DataFrame:
    """Batch-equivalence proof for streaming windowed counts: events
    ``(ts, event_type)`` counted per 10-minute window.

    Unlike a watermarked append stream (which trades completeness of
    trailing windows for bounded state), the complete-mode drain
    equals the batch ``groupBy(window, key)`` EXACTLY — which is what
    lets the DuckDB oracle verify the streaming surface (registry
    ``stream_windowed_counts``).

    Output: (window_start epoch-seconds, event_type, n) — epoch longs
    so the oracle compare is exact across engines.
    """
    return _drain_complete(
        spark, events, "event_type", F.window("ts", "10 minutes"),
        [F.col("win.start").cast("long").alias("window_start"),
         F.col("key").alias("event_type"), "n"],
    )


def session_windows_complete(spark: SparkSession,
                             events: DataFrame) -> DataFrame:
    """Streaming SESSION windows (gap-merged state) of events
    ``(ts, user_id)`` with an exact batch twin.

    ``F.session_window`` merges a key's window state whenever a new
    event lands within 30 minutes of the session's end — the
    stateful operation that distinguishes sessions from tumbling
    windows. The complete-mode drain over multiple micro-batches
    exercises cross-batch session merging, and equals the batch
    ``groupBy(session_window(...))`` — which in turn equals the
    classic gap-island SQL (lag + running flag sum), so DuckDB can
    verify the whole thing (registry ``stream_session_windows``).

    Output: (user_id, session_start epoch-seconds, n_events).
    """
    return _drain_complete(
        spark, events, "user_id", F.session_window("ts", "30 minutes"),
        [F.col("key").alias("user_id"),
         F.col("win.start").cast("long").alias("session_start"),
         F.col("n").alias("n_events")],
    )
