#!/usr/bin/env python
"""CLI driver for the extraction pipeline (spark-submit compatible).

Usage:
    python scripts/run_pipeline.py --n 500 --out /tmp/out [--master local[8]]
    spark-submit --py-files westa_ocr_spark.zip scripts/run_pipeline.py ...

Generates (or reuses) a seeded synthetic pages table, runs the full
extraction job, prints one JSON line of counters + docs/sec and the
number of Spark jobs the run started (``spark_jobs``, counted by its
job group).
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--n", type=int, default=500, help="corpus rows")
    ap.add_argument("--pages", default=None, help="existing pages parquet")
    ap.add_argument("--out", required=True, help="output dir")
    ap.add_argument("--master", default=None)
    ap.add_argument("--no-resume", action="store_true")
    ap.add_argument("--run-id", default="cli")
    ap.add_argument(
        "--warmup",
        action="store_true",
        help="run a tiny extraction before timing (steady-state "
        "throughput: excludes one-time JVM codegen + Python worker "
        "spawn, which amortize to zero on a long job)",
    )
    args = ap.parse_args()

    from westa_ocr_spark.corpus import write_pages_parquet
    from westa_ocr_spark.plans.pipeline import run_extraction_job
    from westa_ocr_spark.session import get_spark

    pages = args.pages
    if pages is None:
        pages = os.path.join(args.out, "_pages_input")
        if not os.path.isdir(pages) or not os.listdir(pages):
            write_pages_parquet(pages, n=args.n)

    spark = get_spark(app_name="westa_ocr_pipeline", master=args.master)
    if args.warmup:
        from pyspark.sql import functions as F

        from westa_ocr_spark.operators.extract import extract_pages

        par = spark.sparkContext.defaultParallelism
        warm = spark.read.parquet(pages).limit(par * 8).select(
            "url", "html"
        )
        warm = warm.repartition(par, F.xxhash64("url"))
        extract_pages(warm).write.mode("overwrite").parquet(
            os.path.join(args.out, "_warmup")
        )
    t0 = time.time()
    group = f"run_pipeline_{args.run_id}"
    res = run_extraction_job(
        spark,
        pages,
        args.out,
        resume=not args.no_resume,
        run_id=args.run_id,
        job_group=group,
    )
    elapsed = time.time() - t0
    tracker = spark.sparkContext.statusTracker()
    spark_jobs = len(tracker.getJobIdsForGroup(group))
    processed = res.docs_processed
    print(
        json.dumps(
            {
                "docs_in": res.docs_in,
                "resumed_skipped": res.resumed_skipped,
                "docs_processed": processed,
                "rows_written": res.rows_written,
                "docs_done": res.docs_done,
                "docs_error": res.docs_error,
                "elapsed_sec": round(elapsed, 2),
                "docs_per_sec": round(processed / elapsed, 2),
                "stages": res.stages,
                "spark_jobs": spark_jobs,
                "out": res.out_dir,
            }
        )
    )
    spark.stop()


if __name__ == "__main__":
    main()
