"""Semantics tests for the as-of and binned range joins."""

import datetime as dt

import pytest
from pyspark.sql import functions as F


def _ts(h, m=0):
    return dt.datetime(2024, 1, 1, h, m)


@pytest.fixture(scope="module")
def frames(spark):
    left = spark.createDataFrame(
        [
            (1, "u1", _ts(10)),
            (2, "u1", _ts(12)),
            (3, "u2", _ts(9)),   # before any right row for u2
            (4, "u3", _ts(15)),  # u3 has no right rows at all
        ],
        ["event_id", "user_id", "ts"],
    )
    right = spark.createDataFrame(
        [
            ("u1", _ts(9), "s1"),
            ("u1", _ts(11), "s2"),
            ("u1", _ts(12), "s3"),   # equal ts: <= matches
            ("u2", _ts(10), "s4"),
        ],
        ["user_id", "ts", "tag"],
    )
    return left, right


def test_asof_semantics(spark, frames):
    from westa_ocr_spark.operators.joins import asof_join

    left, right = frames
    out = {
        r["event_id"]: (r["tag"], r["asof_ts"])
        for r in asof_join(
            left, right, on="user_id", ts="ts", right_cols=["tag"]
        ).collect()
    }
    assert out[1] == ("s1", _ts(9))    # latest at-or-before 10:00
    assert out[2] == ("s3", _ts(12))   # equal ts matches (<=)
    assert out[3] == (None, None)      # nothing before 09:00
    assert out[4] == (None, None)      # key absent on the right
    assert len(out) == 4               # every left row exactly once


def test_binned_range_join_boundaries(spark, frames):
    from westa_ocr_spark.operators.joins import binned_range_join

    left, right = frames
    out = binned_range_join(
        left.withColumnRenamed("ts", "lts"),
        right.withColumnRenamed("ts", "rts"),
        on="user_id", left_ts="lts", right_ts="rts",
        window_seconds=3600,
    ).collect()
    pairs = sorted((r["event_id"], r["tag"]) for r in out)
    # event 1 (10:00): right in [10:00, 11:00) -> none (9:00 too early,
    # 11:00 is exclusive... 11:00 >= 10:00 and < 11:00? no: equal to
    # bound -> excluded? 11:00 < 11:00 false -> excluded)
    # event 2 (12:00): right s3 at 12:00 in [12:00, 13:00) -> included
    # event 3 (9:00): s4 at 10:00 NOT < 10:00 -> excluded
    assert pairs == [(2, "s3")]


def test_binned_range_join_matches_naive(spark):
    """Binned equi-join strategy == naive theta-join, on a dense grid
    crossing many bin boundaries."""
    from westa_ocr_spark.operators.joins import binned_range_join

    rows_l = [(i, "k", _ts(0, i)) for i in range(0, 50, 3)]
    rows_r = [(j, "k", _ts(0, j)) for j in range(0, 50, 2)]
    left = spark.createDataFrame(rows_l, ["lid", "k", "lts"])
    right = spark.createDataFrame(rows_r, ["rid", "k", "rts"])
    w = 420  # 7 minutes
    binned = binned_range_join(
        left, right, on="k", left_ts="lts", right_ts="rts",
        window_seconds=w,
    )
    got = sorted((r["lid"], r["rid"]) for r in binned.collect())
    naive = sorted(
        (r["lid"], r["rid"])
        for r in left.join(right, "k")
        .filter(
            (F.col("rts").cast("long") >= F.col("lts").cast("long"))
            & (F.col("rts").cast("long") < F.col("lts").cast("long") + w)
        )
        .collect()
    )
    assert got == naive and len(got) > 30
