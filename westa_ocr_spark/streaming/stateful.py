"""Custom stateful streaming operator: cross-batch first-seen dedupe.

``applyInPandasWithState`` implementation of the reference's
idempotency contract in continuous mode: the first arrival of each key
passes through, later duplicates are dropped, with per-key state
(first-seen event time + hit count) kept by the state store across
micro-batches.

This is the streaming analogue of the batch sink-side key dedupe
(plans/pipeline.py) and of the reference's duplicate-request check
(``/root/reference/app/main.py:165-188``).

Determinism: the emitted ``first_seen_ts`` is the minimum *event-time*
value among the key's first-arrival rows (null when the stream carries
no event-time column) — re-running the same input from a fresh
checkpoint commits identical values. An earlier draft stamped
wall-clock ``getCurrentProcessingTimeMs()`` here, which made committed
output differ per run despite the idempotency framing.
"""

from __future__ import annotations

from collections.abc import Iterable, Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import types as T
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

DEDUPED_SCHEMA = T.StructType(
    [
        T.StructField("url", T.StringType(), False),
        T.StructField("first_seen_ts", T.TimestampType(), True),
        T.StructField("duplicates_dropped", T.LongType(), False),
    ]
)

_STATE_SCHEMA = T.StructType(
    [
        T.StructField("seen", T.BooleanType(), False),
        T.StructField("hits", T.LongType(), False),
    ]
)


def _dedupe_fn(
    key: tuple,
    pdfs: Iterator[pd.DataFrame],
    state: GroupState,
) -> Iterable[pd.DataFrame]:
    first_ts = None
    rows = 0
    for p in pdfs:
        rows += len(p)
        if "_event_ts" in p.columns and len(p):
            batch_min = p["_event_ts"].min()
            if first_ts is None or batch_min < first_ts:
                first_ts = batch_min
    if state.exists:
        _, hits = state.get
        state.update((True, hits + rows))
        return iter(())  # duplicate key: emit nothing
    state.update((True, rows - 1))
    return iter(
        [
            pd.DataFrame(
                {
                    "url": [key[0]],
                    "first_seen_ts": [first_ts],
                    "duplicates_dropped": [rows - 1],
                }
            )
        ]
    )


def streaming_first_seen(
    stream: DataFrame, ts_col: str | None = None
) -> DataFrame:
    """First occurrence of each ``url`` across all micro-batches.

    ``ts_col`` (optional) names an event-time column whose per-key
    minimum becomes ``first_seen_ts``; without one the field is null.
    """
    from pyspark.sql import functions as F

    cols = [F.col("url")]
    if ts_col is not None:
        cols.append(F.col(ts_col).alias("_event_ts"))
    return (
        stream.select(*cols)
        .groupBy("url")
        .applyInPandasWithState(
            _dedupe_fn,
            outputStructType=DEDUPED_SCHEMA,
            stateStructType=_STATE_SCHEMA,
            outputMode="append",
            # NoTimeout: a processing-time timeout keeps the query
            # scheduling wake-up batches forever, so availableNow never
            # drains; long-running deployments bound state size by
            # restarting with a fresh checkpoint epoch instead
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
    )


def start_first_seen_stream(spark, input_dir: str, out_dir: str,
                            schema: T.StructType,
                            ts_col: str | None = None):
    """File stream -> stateful first-seen dedupe -> parquet sink."""
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 4)
        .parquet(input_dir)
    )
    deduped = streaming_first_seen(stream, ts_col=ts_col)
    return (
        deduped.writeStream.format("parquet")
        .option("path", f"{out_dir}/first_seen")
        .option("checkpointLocation", f"{out_dir}/_checkpoint")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
