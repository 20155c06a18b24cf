"""Mergeable frequency sketches as plain DataFrame aggregations.

A Count-Min Sketch is usually an imperative array — here it is a
DataFrame: ``(depth, bucket, count)`` rows built by one explode +
hash aggregation, so it inherits Spark's map-side partial counts,
shuffles on near-uniform (depth, bucket) keys, and MERGES by simple
union + re-aggregation (the sketch property, for free). Point
estimates are a broadcast join of the probe keys' buckets against
the sketch, taking the min across depths.

The per-depth hash is the same portable md5-byte arithmetic as
simhash16 (seeded per depth), so DuckDB can rebuild the identical
sketch and the registry oracle verifies build + estimate end-to-end
— a sketch with an exactness proof for its own construction, while
the pytest property checks the CMS guarantee (estimate >= true
count, bounded overestimate).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

CMS_WIDTH = 1024
CMS_DEPTH = 4


def _buckets(col: F.Column) -> F.Column:
    """``(depth, bucket)`` of the value per depth. The portable bucket
    hash is three md5 bytes of the depth-seeded value (ascii
    arithmetic — identical expression valid in DuckDB)."""
    rows = []
    for d in range(CMS_DEPTH):
        h = F.md5(F.concat(F.lit(f"cms{d}:"), col.cast("string")))
        v = (
            F.ascii(F.substring(h, 1, 1)) * 65536
            + F.ascii(F.substring(h, 2, 1)) * 256
            + F.ascii(F.substring(h, 3, 1))
        )
        rows.append(F.struct(F.lit(d).alias("depth"),
                             F.pmod(v, F.lit(CMS_WIDTH)).alias("bucket")))
    return F.array(*rows)


def cms_build(df: DataFrame, col: str) -> DataFrame:
    """Count-Min Sketch of a column: (depth, bucket, count) rows.

    One explode (x depth) + one hash aggregation. Sketches over
    different inputs merge by union + groupBy-sum — used verbatim for
    distributed/incremental builds.
    """
    return (
        df.select(F.explode(_buckets(F.col(col))).alias("r"))
        .select("r.depth", "r.bucket")
        .groupBy("depth", "bucket")
        .agg(F.count(F.lit(1)).alias("count"))
    )


def cms_estimate(sketch: DataFrame, keys: DataFrame,
                 key_col: str) -> DataFrame:
    """Point-frequency estimates for ``keys`` (broadcast of the probe
    side): est = min over depths of the key's bucket count.

    A bucket the key shares with no other value gives the exact
    count; collisions only ever ADD, so est >= true frequency
    (the CMS guarantee — property-tested).

    Probes LEFT-join the sketch so a (depth, bucket) the sketch never
    saw contributes its exact 0 to the min (an inner join would drop
    that depth and inflate the estimate — or emit no row at all for a
    key absent from every bucket, instead of est=0).
    """
    probes = keys.select(
        F.col(key_col).alias("key"),
        F.explode(_buckets(F.col(key_col))).alias("r"),
    ).select("key", "r.depth", "r.bucket")
    # The sketch side is broadcast: it is bounded by depth*width rows
    # by construction, while the probe side may be arbitrarily large.
    joined = probes.join(F.broadcast(sketch), ["depth", "bucket"], "left")
    return joined.groupBy("key").agg(
        F.min(F.coalesce(F.col("count"), F.lit(0))).alias("est")
    )
