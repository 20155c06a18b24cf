"""Skew-aware repartitioning for heterogeneous page payloads.

The reference fans a large document out into independent page tasks so
any worker can pick them up (``/root/reference/app/worker.py:284-286``).
The batch analogue of that load-balancing is payload-size-aware
partitioning: AQE's skew handling only splits skewed *shuffle* blocks
for joins/aggs, not a size-skewed mapInPandas stage, so oversized
payloads are balanced explicitly (SURVEY.md §4.3).

Strategy:
* normal rows -> kept in the input's own partitioning (no shuffle of
  the payload bytes);
* oversized rows (``octet_length(html) >= OVERSIZED_THRESHOLD``) ->
  round-robin ``repartition(k)``, k = the default parallelism: balances
  counts with zero global coordination.
  (An exact row_number+range assignment was tried first and reverted:
  its global window sorts the whole oversized leg through one task —
  a measured serial bottleneck. Round-robin's worst case is a small
  constant imbalance per input partition, which vanishes for any
  realistic number of oversized rows.)

The two legs are unioned; a union concatenates partition lists without
another shuffle, so the extract stage sees len(small)+len(big)
partitions. At 100 TB this is one extra scan-side filter per leg and
no extra shuffle beyond the repartition that was needed anyway.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

OVERSIZED_THRESHOLD = 256 * 1024


def skew_split(pages: DataFrame) -> DataFrame:
    """Split oversized ``html`` payloads (``OVERSIZED_THRESHOLD`` bytes
    and up) into their own balanced partitions, one per
    default-parallelism slot (one per core in local mode).

    Assumes the input is already usefully partitioned (in the
    pipeline: the input scan's splits, or on a resumed run the resume
    anti-join's output partitions); the small leg is passed through
    untouched (filters preserve partitioning — NO extra shuffle of the
    payload bytes), while the oversized leg is round-robin rebalanced.

    Round-robin (``repartition(k)`` without columns) balances counts
    without any global coordination. A row_number window would balance
    *exactly*, but its global sort funnels every oversized payload
    through ONE task — measured as a flat ~30 s serial bottleneck at
    200k docs. Spark's sort-before-round-robin is per-partition and
    stays parallel.

    NULL payloads size as 0 (coalesce) so they flow to the small leg
    and reach the per-row ERROR path; a bare octet_length(NULL) is
    NULL and would fail BOTH filters, silently dropping the row.
    """
    size = F.coalesce(F.octet_length(F.col("html")), F.lit(0))
    small = pages.filter(size < F.lit(OVERSIZED_THRESHOLD))
    k = pages.sparkSession.sparkContext.defaultParallelism
    big = pages.filter(size >= F.lit(OVERSIZED_THRESHOLD)).repartition(k)
    return small.unionByName(big)
