"""End-to-end extraction job (SURVEY.md §3.1 lifecycle, Spark-first).

    read pages -> [resume anti-join] -> skew split (oversized leg)
      -> mapInPandas(extract)        -> staged write (single pass)
      -> one aggregation, grouping sets (url_bucket) and
         (partition_id): key stats and per-partition lineage
      -> dropDuplicates(url, page_index) -> commit, or merge by url
      -> [compaction]
      -> groupBy(url) manifest of the same rows, upserted by url in
         one commit with the run record {run_id, lineage}; the
         all-time counters are observed on that write, into the
         commit's stats

Reference lifecycle: ``/root/reference/app/worker.py:170-505``.

Shuffle budget — the hot path is **zero-shuffle**: scan -> extract ->
write is a narrow pipeline over the input splits (only the ~1%
oversized leg takes a tiny round-robin exchange, and the resume
anti-join only exists on restart runs). The J5 idempotency dedupe
happens at the *sink*, over the extracted keys (url, page_index):
deduplicating after extraction trades a sliver of wasted CPU on
duplicate inputs for never shuffling raw payload bytes — at 100 TB
the payload shuffle is the single most expensive thing a plan can do,
and extracted text is ~5-10x smaller than the html it came from.

The extract stage executes once, and the tail runs its steps in order
on the calling thread. On a fresh sink the extract output is committed
straight into the sink (written once, no rewrite); an incremental run
stages it and merges it in, replacing each re-sent url's whole page
set (Iceberg MERGE INTO makes that a metadata commit on a real
deployment — see docs/ICEBERG.md). Lineage, the key stats and the
manifest all derive from the run's own staged rows, and the counters
from the manifest write.

Crash rule: the extracted and manifest tables commit through their own
logs (``ParquetTable``), so a killed run leaves each table at its last
commit, and a rerun converges from there. The manifest commit is the
run's last one and carries the run's record (its ``run_id`` and
per-partition lineage) and its counters (``stats``), read back by
``ParquetTable(f"{out_dir}/manifest").history()``: a run has a record
iff it finished, and a rerun of a killed run writes it once. The
incremental staging directory is the only state outside those logs;
the next run deletes it.
"""

from __future__ import annotations

import os
import shutil
import time
import uuid
from collections import Counter
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from westa_ocr_spark.operators.extract import extract_pages
from westa_ocr_spark.operators.manifest import build_manifest
from westa_ocr_spark.operators.partitioning import skew_split
from westa_ocr_spark.operators.resume import resume_filter
from westa_ocr_spark.sources.tables import ParquetTable

# Hive-partition count for the extracted sink: url_bucket =
# pmod(xxhash64(url), SINK_BUCKETS). Buys bucket-scoped merges (only
# touched buckets rewrite). The sink write fans each extract task into one
# file PER bucket, so file count = tasks x buckets — measured locally
# (50k docs, 32 cores): 32 buckets 7.9s, 16 buckets 5.3s, 8 buckets
# 4.6s end-to-end. 16 balances prune granularity against small-file
# overhead at this scale; a 100-TB deployment raises it (or uses
# Iceberg bucket(N, url) transforms, where compaction absorbs the
# file-count cost) to keep each bucket executor-memory sized.
SINK_BUCKETS = 16

# Compaction cadence: each incremental run adds up to one file per
# (extract task x touched bucket), so files-per-bucket grows linearly
# with run count. When the fullest bucket exceeds this bound, the
# pipeline tail runs ParquetTable.compact (one shuffle, one file per
# bucket) — the amortized cost is one rewrite every ~bound/tasks runs,
# the same policy as Iceberg's rewrite_data_files maintenance action.
COMPACT_FILES_PER_BUCKET = 64


def _max_files_per_bucket(tbl: ParquetTable) -> int:
    """Fullest partition directory's file count in the table's latest
    commit (0 if none); the commit leaves exactly its listed files on
    disk."""
    per_bucket = Counter(os.path.dirname(f) for f in tbl.files())
    return max(per_bucket.values(), default=0)


@dataclass
class ExtractionResult:
    # all-time counters, observed on the manifest write (its commit's
    # stats): the manifest's rows (docs_in), Σ total_blocks
    # (rows_written) and rows by status (docs_done, docs_error)
    docs_in: int
    docs_processed: int     # docs extracted by THIS run (key stats)
    rows_written: int
    docs_done: int
    docs_error: int
    out_dir: str
    resumed_skipped: int = 0  # input docs the resume anti-join skipped
    stages: dict = field(default_factory=dict)
    # measured rewrite amplification of this run's incremental merge
    # (None on fresh runs / resume-skips) — the O(delta) evidence
    merge_stats: dict | None = None
    compacted: bool = False  # True when the tail ran sink compaction


def cancel_extraction(spark: SparkSession, job_group: str) -> None:
    """Cancel a running extraction launched with ``job_group``.

    The batch analogue of the reference's job cancellation (T6,
    ``/root/reference/app/worker.py`` cancel path): every Spark action
    of the tagged run is interrupted; a write cut off before its commit
    never happened, and resume starts again from the committed tables,
    so a cancelled run re-runs safely.
    """
    spark.sparkContext.cancelJobGroup(job_group)


def committed_for_run(staged: DataFrame) -> DataFrame:
    """The run's rows as the sink holds them once committed: the staged
    rows, one per (url, page_index) key (J5 idempotency — duplicate
    requests collapse to one row, westa-ocr ``app/main.py:165-188``).

    The merge replaces each of the run's urls whole, so after it these
    are exactly the sink rows of the run's urls, and the run's manifest
    rows are built from them without reading the sink back.
    """
    return staged.dropDuplicates(["url", "page_index"])


def run_extraction_job(
    spark: SparkSession,
    pages: DataFrame | str,
    out_dir: str,
    *,
    resume: bool = True,
    run_id: str | None = None,
    job_group: str | None = None,
    compact_files_per_bucket: int = COMPACT_FILES_PER_BUCKET,
) -> ExtractionResult:
    """Run the full extraction lifecycle; returns counters.

    ``pages`` is a DataFrame or a parquet path of the input table
    (url, warc_ts, html, text, lang); its optional ``charset`` column
    (the WARC source's transport hint) rides along into extraction.
    ``run_id`` names the run in its manifest record; a run given none
    gets a fresh ``uuid4().hex``, so two such runs keep two records.
    Pass ``job_group`` to make the
    run cancellable via :func:`cancel_extraction` (interrupt-on-cancel
    is set so running tasks stop, not just queued ones).
    """
    if run_id is None:
        run_id = uuid.uuid4().hex
    stages: dict[str, float] = {}
    merge_stats: dict | None = None
    compacted = False
    conf_saved: dict[str, str] = {}
    _t0 = time.time()

    def _mark(name: str) -> None:
        nonlocal _t0
        stages[name] = round(time.time() - _t0, 3)
        _t0 = time.time()

    if job_group is not None:
        spark.sparkContext.setJobGroup(
            job_group, f"extraction {run_id}", interruptOnCancel=True
        )
    try:
        if isinstance(pages, str):
            pages = spark.read.parquet(pages)

        extracted_tbl = ParquetTable(
            f"{out_dir}/extracted", partition_by="url_bucket"
        )
        manifest_tbl = ParquetTable(f"{out_dir}/manifest")

        # the incremental staging directory is the one piece of run state
        # outside the tables' commit logs: a cancelled or crashed run's
        # leftover is re-derived from scratch by the run that needs it.
        # No "_"/"." prefix: Spark skips such paths as hidden files.
        staging_path = f"{out_dir}/staging_{run_id}"
        if os.path.isdir(out_dir):
            for name in os.listdir(out_dir):
                if name.startswith("staging_"):
                    shutil.rmtree(os.path.join(out_dir, name),
                                  ignore_errors=True)

        # prune to the columns extraction needs; the parquet scan then
        # reads only url+html[+charset] (ReadSchema pruning).
        work = pages.select(
            "url", "html", *(["charset"] if "charset" in pages.columns else [])
        )

        first_run = not extracted_tbl.exists()
        resumed = resume and not first_run and manifest_tbl.exists()
        if resumed:
            # the done-keys side is the MANIFEST (one tiny row per
            # committed url) rather than the per-page sink: the anti-join
            # probe shrinks by the pages-per-doc factor and never touches
            # the wide table. A crash between the sink commit and the
            # manifest commit can only UNDER-report done urls — those docs
            # re-extract and the idempotent keyed sink absorbs them
            # (at-least-once, the T4/T5 contract); with no manifest at all
            # (a first run killed there) every doc re-extracts.
            work = resume_filter(work, manifest_tbl.read(spark), key="url")
            _mark("resume_plan")
        work = skew_split(work)

        bucket = F.pmod(F.xxhash64("url"), F.lit(SINK_BUCKETS)).cast("int")
        extracted = extract_pages(work).withColumn("url_bucket", bucket)

        # single execution: on a fresh sink the extract output is committed
        # straight into it (hive-partitioned by url_bucket so later
        # incremental runs get bucket-scoped merges; the
        # narrow extract write stays shuffle-free, each task fans its rows
        # into bucket dirs); an incremental run stages it for the merge.
        if first_run:
            extracted_tbl.append(extracted)
        else:
            extracted.write.mode("overwrite").parquet(staging_path)
        _mark("extract_and_stage")

        # The tail re-reads small files: the incremental staging write is
        # flat, one file per extract task, and a fresh run's read of the
        # bucketed sink sees tasks x buckets files. The session's
        # input-split size is tuned for the big scan (small splits =
        # extract parallelism); under the same setting the tail jobs
        # (the key-stats and lineage aggregation, the merges) fan out
        # into near-empty tasks whose scheduling dominates. Pack them:
        # bump split size / drop per-file open cost for the tail,
        # restore on exit.
        tail_conf = {"spark.sql.files.maxPartitionBytes": str(128 << 20),
                     "spark.sql.files.openCostInBytes": str(1 << 20)}
        conf_saved = {k: spark.conf.get(k) for k in tail_conf}
        for k, v in tail_conf.items():
            spark.conf.set(k, v)
        staged = (
            extracted_tbl.read(spark) if first_run
            else spark.read.schema(extracted.schema).parquet(staging_path)
        )

        # One aggregation over this run's staged rows, with two grouping
        # sets. By url_bucket, the J5 key stats: a url maps to exactly
        # one bucket, so the global counts are the sums of the bucket
        # counts, and the same <= SINK_BUCKETS rows name the buckets and
        # url ranges the merge touches. By partition_id, the run's
        # per-partition lineage (the gemini_logs analogue, westa-ocr
        # ``app/repository.py:84-97``), from the staged
        # part file each row came from (one file per extract partition)
        # — read now, while the staged files are still this run's
        # output. On a resumed run the input's urls join the same job
        # as rows without a page_index or partition_id, so the docs
        # resume skipped are the input docs minus the extracted ones.
        # Otherwise ``page`` is a literal and the plan folds back to the
        # staged rows' aggregation alone.
        keyed = staged.withColumn("partition_id", F.regexp_extract(
            F.input_file_name(), r"part-(\d+)", 1).cast("int"))
        page = F.lit(True)
        if resumed:
            keyed = keyed.unionByName(
                pages.select("url", bucket.alias("url_bucket")),
                allowMissingColumns=True)
            page = F.col("page_index").isNotNull()
        groups = keyed.groupingSets(
            [["url_bucket"], ["partition_id"]], "url_bucket", "partition_id"
        ).agg(
            F.grouping_id().alias("set"),
            F.count(F.when(page, F.lit(1))).alias("rows"),
            F.countDistinct("url", "page_index").alias("keys"),
            F.countDistinct(F.when(page, F.col("url"))).alias("docs"),
            F.countDistinct("url").alias("in_docs"),
            F.min(F.when(page, F.col("url"))).alias("lo"),
            F.max(F.when(page, F.col("url"))).alias("hi"),
            F.sum("input_bytes").alias("input_bytes"),
            F.count(F.when(F.col("status") == "ERROR", F.lit(1)))
            .alias("errors"),
        ).collect()
        # grouping_id 1: partition_id aggregated away, a bucket's row
        by_bucket = [r for r in groups if r["set"] == 1]
        run_rows, run_keys, run_docs, in_docs = (
            sum(int(r[c]) for r in by_bucket)
            for c in ("rows", "keys", "docs", "in_docs"))
        resumed_skipped = in_docs - run_docs
        has_dup_keys = run_keys != run_rows
        ranges = {r["url_bucket"]: (r["lo"], r["hi"])
                  for r in by_bucket if r["rows"]}
        # grouping_id 2: a partition's row. The lineage is committed
        # with the manifest, the run's last commit, so a run has a
        # record iff it finished and a rerun cannot repeat it; sorted,
        # since collect() order is not stable across reruns. The
        # input-url rows of a resumed run are the NULL partition.
        lineage = sorted(
            ({c: r[c] for c in ("partition_id", "rows", "input_bytes",
                                "errors")}
             for r in groups if r["set"] == 2
             and r["partition_id"] is not None),
            key=lambda r: r["partition_id"])
        _mark("key_stats")
        if first_run:
            if has_dup_keys:
                # rare: duplicate urls inside the very first batch
                extracted_tbl.overwrite(committed_for_run(staged))
            # re-read: that overwrite deleted files ``staged`` lists
            committed = extracted_tbl.read(spark)
        else:
            # a re-sent url is a new version of its document: the merge
            # replaces its whole page set (keyed by url), so a version
            # with fewer pages leaves no stale tail pages behind. Keep
            # the key dedupe in front of the merge even when the staged
            # rows are key-unique: its shuffle also decides how many
            # files the merge writes per bucket. Merged straight in,
            # each staged file adds a file to every bucket it touches,
            # and the sink reaches the compaction bound sooner
            # (perfbench's incremental sequence then compacts twice).
            committed = committed_for_run(staged)
            merge_stats = extracted_tbl.merge_upsert(
                spark, committed, keys=["url"], unique_keys=True,
                ranges=ranges)
            # small-file maintenance: each run fans tasks x buckets
            # files into the sink; when the fullest bucket crosses the
            # bound, repack to one file per bucket so read-side task
            # counts stay O(buckets), not O(buckets x runs)
            if (_max_files_per_bucket(extracted_tbl)
                    > compact_files_per_bucket):
                extracted_tbl.compact(spark)
                compacted = True
        # the run's last commit: the manifest rows of this run's urls,
        # built from the rows just committed (a groupBy(url) output is
        # url-unique) and upserted by url — an overwrite on a fresh
        # sink — with the run's record. The manifest is unpartitioned,
        # so that write holds every committed url, and the all-time
        # counters are observed on it.
        status = F.col("status")
        counters = manifest_tbl.merge_upsert(
            spark, build_manifest(committed), keys=["url"],
            unique_keys=True, record={"run_id": run_id, "lineage": lineage},
            observe={
                "docs": F.count(F.lit(1)),
                "done": F.count(F.when(status == "DONE", F.lit(1))),
                "error": F.count(F.when(status == "ERROR", F.lit(1))),
                "rows": F.coalesce(F.sum("total_blocks"), F.lit(0)),
            })
        shutil.rmtree(staging_path, ignore_errors=True)
        _mark("sink_and_manifest")
    finally:
        for k, v in conf_saved.items():
            spark.conf.set(k, v)
        if job_group is not None:
            # job groups are sticky per thread: don't leave the caller's
            # later unrelated jobs in this run's cancellable group, on a
            # failed or cancelled run too
            for key in ("spark.jobGroup.id", "spark.job.description",
                        "spark.job.interruptOnCancel"):
                spark.sparkContext.setLocalProperty(key, None)

    return ExtractionResult(
        docs_in=counters["docs"],
        docs_processed=run_docs,
        rows_written=counters["rows"],
        docs_done=counters["done"],
        docs_error=counters["error"],
        out_dir=out_dir,
        resumed_skipped=resumed_skipped,
        stages=stages,
        merge_stats=merge_stats,
        compacted=compacted,
    )


__all__ = ["ExtractionResult", "cancel_extraction", "run_extraction_job"]
