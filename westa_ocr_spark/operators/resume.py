"""Checkpointed resume = anti-join of input keys against committed output.

The reference re-enqueues every job not in a terminal state at startup
(``/root/reference/app/main.py:402-406`` via the pending-status filter
``/root/reference/app/repository.py:291-306``); pages already upserted
are simply overwritten idempotently. In batch Spark the same semantics
fall out of a left_anti join against the committed output keys
(SURVEY.md §2.3 J4): only unfinished documents are re-processed, and the
idempotent keyed sink makes re-runs safe.

At scale the done-keys side is a single-column projection of the output
table (column-pruned parquet/Iceberg scan of ``url`` only); the anti
join shuffles both sides on ``url``, and AQE turns it into a broadcast
when the done side is small. The extract stage then runs over the
join's output partitions.
"""

from __future__ import annotations

from pyspark.sql import DataFrame


def resume_filter(
    pages: DataFrame, done: DataFrame, key: str = "url"
) -> DataFrame:
    """Return only input rows whose key has no committed output row."""
    return pages.join(done.select(key).distinct(), on=key, how="left_anti")
