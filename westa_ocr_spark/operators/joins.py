"""Custom join operators Spark lacks natively: as-of join and a
shuffle-efficient binned range join.

Both are compositions of existing DataFrame ops (no UDFs, no RDDs),
per the custom-operator ladder: built-in composition first.

* **as-of join**: each left row matched to the most recent right row
  with ``right.ts <= left.ts`` for the same key. Implemented as a
  union + last-non-null window — one shuffle on (key), no range
  cross-product. DuckDB's native ``ASOF JOIN`` serves as the oracle.

* **binned range join**: pairs (left, right) with ``right.ts in
  [left.ts, left.ts + window)``. A naive theta-join degenerates to a
  per-key cross product; instead both sides are binned to
  ``window``-sized buckets and the left side fans out to the two bins
  any match can live in — the join becomes an equi-join on
  (key, bin) followed by an exact range filter. At 100 TB this is the
  difference between a broadcast-nested-loop and a plain hash
  shuffle whose fan-out factor is exactly 2.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def asof_join(
    left: DataFrame,
    right: DataFrame,
    on: str,
    ts: str,
    right_cols: list[str],
) -> DataFrame:
    """For every left row, attach the latest right row at-or-before
    its timestamp (per key). Left rows with no prior right row get
    nulls. Output: all left columns + ``asof_<ts>`` + right_cols.

    Tie rule: a right row with ts equal to a left row's ts matches
    (<=), and among the union's equal timestamps right rows sort
    first so the window sees them (matches DuckDB ASOF semantics).
    When several right rows share (key, ts), a deterministic hash of
    the right payload breaks the tie so the same row wins across
    runs/partitionings (last in xxhash64 order).
    """
    lcols = left.columns
    l = left.select(
        *lcols,
        F.lit(1).alias("_is_left"),
        F.lit(None).cast("timestamp").alias("_r_ts"),
        *[F.lit(None).cast(right.schema[c].dataType).alias(f"_r_{c}")
          for c in right_cols],
    )
    r = right.select(
        *[F.lit(None).cast(left.schema[c].dataType).alias(c)
          if c != on and c != ts else F.col(c)
          for c in lcols],
        F.lit(0).alias("_is_left"),
        F.col(ts).alias("_r_ts"),
        *[F.col(c).alias(f"_r_{c}") for c in right_cols],
    )
    unioned = l.unionByName(r)
    tiebreak = F.xxhash64(
        F.col("_r_ts"), *[F.col(f"_r_{c}") for c in right_cols]
    )
    w = (
        Window.partitionBy(on)
        .orderBy(F.col(ts).asc(), F.col("_is_left").asc(), tiebreak.asc())
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    filled = unioned.select(
        *lcols,
        "_is_left",
        F.last("_r_ts", ignorenulls=True).over(w).alias(f"asof_{ts}"),
        *[
            F.last(f"_r_{c}", ignorenulls=True).over(w).alias(c2)
            for c, c2 in zip(right_cols, right_cols)
        ],
    )
    return filled.filter(F.col("_is_left") == 1).drop("_is_left")


def binned_range_join(
    left: DataFrame,
    right: DataFrame,
    on: str,
    left_ts: str,
    right_ts: str,
    window_seconds: int,
) -> DataFrame:
    """Inner join of rows with ``right_ts in [left_ts, left_ts + w)``
    per key, as an equi-join on (key, time bin) with 2x left fan-out.
    """
    w = F.lit(window_seconds)
    lsec = F.col(left_ts).cast("timestamp").cast("long")
    rsec = F.col(right_ts).cast("timestamp").cast("long")
    l = left.withColumn("_lsec", lsec).withColumn(
        "_bin", F.explode(
            F.array(
                F.floor(F.col("_lsec") / w),
                F.floor(F.col("_lsec") / w) + 1,
            )
        )
    )
    r = right.withColumn("_rsec", rsec).withColumn(
        "_bin", F.floor(F.col("_rsec") / w)
    )
    joined = l.join(r, on=[on, "_bin"], how="inner").filter(
        (F.col("_rsec") >= F.col("_lsec"))
        & (F.col("_rsec") < F.col("_lsec") + w)
    )
    return joined.drop("_bin", "_lsec", "_rsec")
