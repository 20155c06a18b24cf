"""Structured Streaming parity queries: the streaming pipelines run in
complete mode over a bounded replay so DuckDB can oracle them."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window  # noqa: F401
from pyspark.sql import functions as F  # noqa: F401

from westa_ocr_spark.functions import textfns  # noqa: F401
from westa_ocr_spark.functions.textfns import round_det  # noqa: F401
from westa_ocr_spark.queries.common import (  # noqa: F401
    _SQL_NORM, _SQL_WORDS, _sql_lang_best, _sql_lang_from_best,
    _sql_lang_scores, _sql_occ, _sql_punct_ratio, _sql_quality,
    _sql_round_det, _sql_shingles, _sql_simhash16, _sql_stop_ratio,
    _sql_token_count, _scratch_dir, _t,
)

# ---------------------------------------------------------------------------
# Streaming parity: the drained complete-mode stream equals the batch
# aggregate, so the streaming surface gets a real DuckDB oracle row.

def _q_stream_windowed_counts(spark, sf):
    from westa_ocr_spark.streaming.stream_pipeline import (
        windowed_counts_complete,
    )

    return windowed_counts_complete(
        spark, _t(spark, sf, "events").select("ts", "event_type")
    )


_SQL_STREAM_WINDOWED_COUNTS = (
    "SELECT cast(floor(epoch(ts) / 600) * 600 AS bigint) AS window_start, "
    "event_type, count(*) AS n FROM events GROUP BY 1, 2"
)



# ---------------------------------------------------------------------------
# Streaming session windows (stateful gap-merge) vs gap-island SQL

def _q_stream_session_windows(spark, sf):
    from westa_ocr_spark.streaming.stream_pipeline import (
        session_windows_complete,
    )

    return session_windows_complete(
        spark,
        _t(spark, sf, "events").filter(F.col("user_id") < 200)
        .select("ts", "user_id"),
    )


_SQL_STREAM_SESSION_WINDOWS = (
    "WITH flagged AS (SELECT user_id, ts, CASE WHEN "
    "epoch(ts) - lag(epoch(ts)) OVER (PARTITION BY user_id ORDER BY ts) "
    "> 1800 OR lag(ts) OVER (PARTITION BY user_id ORDER BY ts) IS NULL "
    "THEN 1 ELSE 0 END AS new_session "
    "FROM events WHERE user_id < 200), "
    "islands AS (SELECT user_id, ts, sum(new_session) OVER ("
    "PARTITION BY user_id ORDER BY ts "
    "ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sess "
    "FROM flagged) "
    "SELECT user_id, cast(floor(epoch(min(ts))) AS bigint) "
    "AS session_start, count(*) AS n_events "
    "FROM islands GROUP BY user_id, sess"
)




def _q_stream_first_seen(spark, sf):
    """The applyInPandasWithState first-seen dedupe run FOR REAL as a
    bounded stream (availableNow drain over one input file, so arrival
    order is a single batch and the emitted first_seen_ts/dup counts
    are exactly SQL min(ts)/count-1 per key — the property that makes
    a custom stateful operator DuckDB-verifiable). Keys are the
    events' user ids; 500 users x ~20 events each."""
    from westa_ocr_spark.streaming.stateful import start_first_seen_stream

    ev = _t(spark, sf, "events").filter(F.col("event_id") < 10000).select(
        F.concat(F.lit("u"), F.col("user_id").cast("string")).alias("url"),
        F.col("ts").cast("timestamp").alias("ts"),
    )
    base = _scratch_dir("westa_q_fs_")
    src, out = f"{base}/src", f"{base}/out"
    ev.coalesce(1).write.mode("overwrite").parquet(src)
    schema = spark.read.parquet(src).schema
    q = start_first_seen_stream(spark, src, out, schema, ts_col="ts")
    q.awaitTermination()
    return spark.read.parquet(f"{out}/first_seen").select(
        "url",
        F.col("first_seen_ts").cast("timestamp").alias("first_seen_ts"),
        "duplicates_dropped",
    )


_SQL_STREAM_FIRST_SEEN = (
    "SELECT 'u' || cast(user_id AS varchar) AS url, "
    "min(ts) AS first_seen_ts, "
    "count(*) - 1 AS duplicates_dropped "
    "FROM events WHERE event_id < 10000 GROUP BY 1"
)



def _q_stream_stream_join(spark, sf):
    """Watermarked STREAM-STREAM inner join run for real (round 4):
    view->click attribution within 3 hours per user, as two
    Structured Streaming sources over the same bounded replay, joined
    with watermarks on both sides plus the event-time range condition
    (the state-cleanup pattern Spark requires for stream-stream
    joins), drained with availableNow into parquet. For an INNER join
    the watermark only bounds state, never results, so the bounded
    drain equals the batch self-join — which is exactly what the
    DuckDB oracle computes. ts cast from NTZ first (no watermark
    support on TIMESTAMP_NTZ)."""
    ev = _t(spark, sf, "events").select(
        "event_id", "user_id", "event_type",
        F.col("ts").cast("timestamp").alias("ts"),
    )
    base = _scratch_dir("westa_q_ssj_")
    src, out, chk = f"{base}/src", f"{base}/out", f"{base}/chk"
    ev.coalesce(1).write.mode("overwrite").parquet(src)
    schema = spark.read.parquet(src).schema

    def stream():
        return spark.readStream.schema(schema).parquet(src)

    views = (
        stream().filter(F.col("event_type") == "view")
        .select(
            F.col("user_id").alias("v_user"),
            F.col("event_id").alias("view_id"),
            F.col("ts").alias("v_ts"),
        )
        .withWatermark("v_ts", "30 minutes")
    )
    clicks = (
        stream().filter(F.col("event_type") == "click")
        .select(
            F.col("user_id").alias("c_user"),
            F.col("event_id").alias("click_id"),
            F.col("ts").alias("c_ts"),
        )
        .withWatermark("c_ts", "30 minutes")
    )
    joined = views.join(
        clicks,
        (F.col("v_user") == F.col("c_user"))
        & (F.col("c_ts") >= F.col("v_ts"))
        & (F.col("c_ts") <= F.col("v_ts")
           + F.expr("INTERVAL 180 MINUTES")),
    ).select("v_user", "view_id", "click_id")
    q = (
        joined.writeStream.format("parquet")
        .option("path", out)
        .option("checkpointLocation", chk)
        .trigger(availableNow=True)
        .outputMode("append")
        .start()
    )
    q.awaitTermination()
    return (
        spark.read.parquet(out)
        .groupBy(F.col("v_user").alias("user_id"))
        .agg(
            F.count(F.lit(1)).alias("n_attributed"),
            F.min("view_id").alias("first_view_id"),
        )
        .orderBy("user_id")
    )


_SQL_STREAM_STREAM_JOIN = (
    "WITH pairs AS ("
    "SELECT v.user_id, v.event_id AS view_id, c.event_id AS click_id "
    "FROM events v JOIN events c ON v.user_id = c.user_id "
    "AND v.event_type = 'view' AND c.event_type = 'click' "
    "AND c.ts >= v.ts AND c.ts <= v.ts + INTERVAL 180 MINUTE"
    ") SELECT user_id, CAST(count(*) AS BIGINT) AS n_attributed, "
    "min(view_id) AS first_view_id "
    "FROM pairs GROUP BY user_id ORDER BY user_id"
)


# name -> (Spark DataFrame fn, DuckDB oracle SQL or None).
DEFS = {
    "stream_windowed_counts": (_q_stream_windowed_counts, _SQL_STREAM_WINDOWED_COUNTS),
    "stream_session_windows": (_q_stream_session_windows, _SQL_STREAM_SESSION_WINDOWS),
    "stream_first_seen": (_q_stream_first_seen, _SQL_STREAM_FIRST_SEEN),
    "stream_stream_join": (_q_stream_stream_join, _SQL_STREAM_STREAM_JOIN),
}
