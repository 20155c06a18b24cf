"""Per-document manifest aggregation.

Re-expresses the reference's job-summary counters as a single hash
aggregation (Catalyst partial+final covers the reference's incremental
per-page counting):

* counters: processed/total/skipped
  (``/root/reference/app/worker.py:425-503``, skipped derivation
  ``:479``);
* final status: errors => ERROR else DONE
  (``/root/reference/app/worker.py:487-494``);
* error list + '; '-joined last_error
  (``/root/reference/app/worker.py:487-490``);
* zero-page docs still get a manifest row — handled naturally because
  every input doc yields at least one extracted row (DONE-empty or
  ERROR), mirroring ``/root/reference/app/worker.py:236-254``.

A run's per-partition lineage is not a table: ``plans/pipeline.py``
aggregates it next to the staged files it reads and writes it into the
manifest's commit as the run's record, read back with
``ParquetTable(f"{out_dir}/manifest").history()``.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def build_manifest(extracted: DataFrame) -> DataFrame:
    """One row per url with the reference's JOB_SUMMARY counters."""
    is_done = F.col("status") == "DONE"
    agg = extracted.groupBy("url").agg(
        F.count(F.lit(1)).cast("int").alias("total_blocks"),
        F.count(F.when(is_done, F.lit(1))).cast("int").alias(
            "processed_blocks"
        ),
        F.sort_array(
            F.collect_list(
                F.when(
                    F.col("error").isNotNull(),
                    F.struct(
                        F.col("page_index").alias("page_index"),
                        F.col("error").alias("message"),
                    ),
                )
            )
        ).alias("errors"),
    )
    return agg.select(
        "url",
        "total_blocks",
        "processed_blocks",
        F.greatest(
            F.lit(0), F.col("total_blocks") - F.col("processed_blocks")
        ).alias("skipped_blocks"),
        F.when(F.size("errors") > 0, F.lit("ERROR"))
        .otherwise(F.lit("DONE"))
        .alias("status"),
        "errors",
        F.array_join(
            F.transform("errors", lambda e: e["message"]), "; "
        ).alias("last_error"),
    )

