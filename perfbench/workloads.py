"""The benchmark workloads: one client, a closed loop of Spark jobs.

``fresh_extract`` repeats one ``run_extraction_job`` into an empty sink.
``incremental_merge`` replays a fixed sequence of ``resume=True`` delta
runs onto a copy of a committed sink. Both start from the same set-up:
``get_spark`` plus one warm extraction job. The registry query pass is
a probe of the traced ``fresh_extract`` run.
"""

from __future__ import annotations

import math
import os
import random
import shutil
import statistics
import sys
import time
from dataclasses import dataclass, field

# Sizes keep one run near 55-90 s on 4 cores: a cold set-up takes
# 25-30 s (JVM ~9 s, warm job ~16 s); the first fresh job ~10 s and
# the later ones ~7 s; the first resume run ~14 s, then ~11 s for a
# delta run that compacts and ~6.5 s for one that does not, most of it
# fixed per-job cost. Each window starts with one untimed warm-up
# operation, so the JVM's first pass over the workload's code paths
# stays out of the timed figures.
WARM_DOCS = 64            # warm job input; also incremental_merge's base
FRESH_DOCS = 1000
FRESH_PARTS = 4           # input files of the fresh corpus
FRESH_MIN_JOBS = 2        # timed fresh jobs per window, at the least
DELTA_NEW = 30            # new urls per delta run
DELTA_RESENT = 10         # re-sent committed urls per delta run
DELTAS = 3                # delta runs per incremental sequence
# pipeline argument, sized so that each sequence compacts exactly
# COMPACTIONS times (a check counts any other number as a failure)
COMPACT_FILES_PER_BUCKET = 4
COMPACTIONS = 1
CHECK_URLS = 16           # committed rows compared with extract_rows
KERNEL_SAMPLE_DOCS = 600  # single-core kernel profile sample (traced)

# Registry query probe of the traced fresh_extract run: every bench.py
# HEADLINE query once, each followed by count(), in a seeded order, over
# the DATA_SEED tables, with the row counts pinned for those tables; the
# rows of one seeded pick of ORACLE_CHECKED (fast DuckDB twins) are
# compared with registry.oracle_sql()
DATA_SEED = 42
QUERY_ROWS = {
    "tpch_q1": 6, "tpch_q3": 10, "join_broadcast": 25,
    "manifest_counters": 150, "ring_buffer_topk": 450, "lang_id": 2,
    "quality_scores": 2000, "gopher_quality": 2000, "fingerprints": 2000,
    "minhash_signatures": 500, "ngram_jaccard": 20, "simhash64": 300,
    "lsh_dup_candidates": 406, "duplicate_groups": 29, "embedding_topk": 10,
    "embedding_knn": 60, "parse_details": 192, "tpch_q19": 1,
    "merge_upsert": 3000, "stratified_sample": 5, "sequence_packing": 59,
    "sequence_packing_strict": 60, "bm25_search": 20,
    "dedup_incremental": 200, "tpch_q9": 168, "tpch_q21": 12,
    "duplicated_spans": 251, "charset_extract": 146, "host_pagerank": 97,
}
ORACLE_CHECKED = ("tpch_q3", "tpch_q9", "tpch_q21", "join_broadcast",
                  "minhash_signatures", "dedup_incremental", "host_pagerank")

# Spark setting the benchmark pins and records
MAX_PARTITION_BYTES = 4 << 20

STAGES = ("resume_plan", "extract_and_stage", "lineage_submit", "key_stats",
          "sink_and_manifest", "counters", "lineage_join")
EVENT_METRICS = ("executor_run_s", "executor_cpu_s", "gc_s",
                 "shuffle_bytes", "spill_bytes", "tasks", "spark_jobs")


def median(values) -> float:
    values = list(values)
    return statistics.median(values) if values else 0.0


def log(msg: str) -> None:
    print(f"perfbench: {msg}", file=sys.stderr, flush=True)


def input_bytes(path: str, first_rows: int | None = None) -> int:
    """Payload bytes of a pages directory (optionally of its first
    rows), from the size sidecars ``inputs.py`` writes next to each
    part."""
    import json

    sizes = []
    for name in sorted(os.listdir(path)):
        if name.startswith("_bytes-"):
            with open(os.path.join(path, name), encoding="utf-8") as fh:
                sizes += json.load(fh)
    return sum(sizes[:first_rows])


def _sink_layout(out_dir: str) -> dict:
    """Files and bytes of the committed extracted table."""
    root = os.path.join(out_dir, "extracted")
    per_bucket, total, nbytes = [], 0, 0
    for name in os.listdir(root):
        d = os.path.join(root, name)
        if "=" in name and os.path.isdir(d):
            files = [f for f in os.listdir(d) if f.endswith(".parquet")]
            per_bucket.append(len(files))
            total += len(files)
            nbytes += sum(os.path.getsize(os.path.join(d, f)) for f in files)
    return {"max_files_per_bucket": max(per_bucket, default=0),
            "sink_files": total, "sink_bytes": nbytes}


def _read_table(path: str, columns: list[str]):
    import pyarrow.dataset as ds

    return ds.dataset(path, format="parquet", partitioning="hive").to_table(
        columns=columns)


def _norm_spans(spans) -> list[tuple] | None:
    if spans is None:
        return None
    return [(s["block_id"], s["start"], s["end"], s["tag"]) for s in spans]


def _cell(v) -> str:
    """One result cell in the order-insensitive digest form of the
    repository's oracle tests: floats to 6 places, NULL and NaN alike."""
    import numpy as np
    import pandas as pd

    if v is None or (isinstance(v, (float, np.floating)) and math.isnan(v)):
        return "<null>"
    if isinstance(v, (float, np.floating)):
        return f"{round(float(v), 6):.6f}"
    if isinstance(v, (bool, np.bool_)):
        return str(bool(v)).lower()
    if isinstance(v, np.integer):
        return str(int(v))
    if isinstance(v, pd.Timestamp):
        return v.isoformat()
    return str(v)


def _digest(pdf) -> tuple[list[str], list[tuple]]:
    cols = sorted(pdf.columns)
    return cols, sorted(tuple(_cell(v) for v in row)
                        for row in pdf[cols].itertuples(index=False))


@dataclass
class Op:
    """One timed operation: a job, a delta sequence or a query, with the
    wall and process-tree CPU seconds of each of its jobs."""

    seconds: float
    results: list = field(default_factory=list)
    run_seconds: list = field(default_factory=list)
    tags: list = field(default_factory=list)
    layout: dict = field(default_factory=dict)
    read_recover_s: float = 0.0
    name: str = ""
    run_cpu: list = field(default_factory=list)  # CPU s per job


class Bench:
    def __init__(self, work: str, seed: int, cores: int) -> None:
        self.work = work
        self.seed = seed
        self.cores = cores
        self.spark = None
        self.get_spark_s = self.warm_s = self.setup_cpu_s = 0.0
        self.attempted = 0
        self.failed = 0
        self.tracer = None

    # ------------------------------------------------------------ checks
    def check(self, ok: bool, what: str) -> None:
        self.attempted += 1
        if not ok:
            self.failed += 1
            log(f"check failed: {what}")

    # ------------------------------------------------------------- setup
    def setup(self, warm_pages: str) -> None:
        """``get_spark`` plus one warm extraction job."""
        from westa_ocr_spark import session
        from westa_ocr_spark.plans import pipeline

        from probes import tree_cpu_s

        self.warm_out = os.path.join(self.work, "warm")
        me = os.getpid()
        c0 = tree_cpu_s(me)
        t0 = time.perf_counter()
        self.spark = session.get_spark(
            app_name="perfbench", master=f"local[{self.cores}]",
            max_partition_bytes=MAX_PARTITION_BYTES)
        t1 = time.perf_counter()
        res = pipeline.run_extraction_job(
            self.spark, warm_pages, self.warm_out, resume=False,
            run_id="warm", job_group="warm")
        t2 = time.perf_counter()
        self.get_spark_s, self.warm_s = t1 - t0, t2 - t1
        # CPU seconds of the process tree, as the job metrics count them
        self.setup_cpu_s = tree_cpu_s(me) - c0
        log(f"setup get_spark {t1 - t0:.2f} s, warm job {t2 - t1:.2f} s, "
            f"cpu {self.setup_cpu_s:.2f} s")
        self.check(res.docs_in == WARM_DOCS, "warm job docs_in")

    # ------------------------------------------------------------ one job
    def _job(self, pages: str, out: str, run_id: str, **kwargs):
        from westa_ocr_spark.plans import pipeline

        from probes import tree_cpu_s

        self.attempted += 1
        me = os.getpid()
        c0 = tree_cpu_s(me)
        t0 = time.perf_counter()
        try:
            res = pipeline.run_extraction_job(
                self.spark, pages, out, run_id=run_id, job_group=run_id,
                **kwargs)
        except Exception as exc:  # an op failure is counted, not fatal
            self.failed += 1
            log(f"{run_id} failed: {exc!r}")
            return None, 0.0, 0.0
        secs = time.perf_counter() - t0
        cpu = tree_cpu_s(me) - c0
        log(f"{run_id} {secs:.2f} s, cpu {cpu:.2f} s")
        return res, secs, cpu

    def _spans_since(self, mark: int) -> float:
        if self.tracer is None:
            return 0.0
        return (self.tracer.total_s("sources.tables.ParquetTable.exists", mark)
                + self.tracer.total_s("sources.tables.ParquetTable.read", mark))

    # ---------------------------------------------------- fresh_extract
    def fresh_warm_up(self, pages: str) -> None:
        """One untimed fresh job, checked like the timed ones."""
        out = os.path.join(self.work, "fresh")
        res, _, _ = self._job(pages, out, "fresh_warm_up", resume=False)
        if res is not None:
            self.check(res.docs_in == FRESH_DOCS,
                       f"fresh_warm_up: docs_in == {FRESH_DOCS}")
        shutil.rmtree(out, ignore_errors=True)

    def fresh_window(self, pages: str, seconds: float, tag: str) -> list[Op]:
        out = os.path.join(self.work, "fresh")
        ops: list[Op] = []
        end = time.perf_counter() + seconds
        while len(ops) < FRESH_MIN_JOBS or time.perf_counter() < end:
            shutil.rmtree(out, ignore_errors=True)
            mark = len(self.tracer.spans) if self.tracer else 0
            run_id = f"{tag}{len(ops)}"
            res, secs, cpu = self._job(pages, out, run_id, resume=False)
            if res is None:
                break
            self.check(res.docs_in == FRESH_DOCS
                       and res.docs_done + res.docs_error == res.docs_in,
                       f"{run_id}: done + error == docs_in == {FRESH_DOCS}")
            ops.append(Op(secs, [res], [secs], [run_id], _sink_layout(out),
                          self._spans_since(mark), run_cpu=[cpu]))
        return ops

    def check_fresh_output(self, pages: str) -> None:
        """Key uniqueness of the last fresh sink, and committed rows of a
        seeded url sample equal to ``extract_rows`` run in-process."""
        from westa_ocr_spark.operators.extract import extract_rows

        sink = os.path.join(self.work, "fresh", "extracted")
        committed = _read_table(
            sink, ["url", "page_index", "text", "spans", "status"]
        ).to_pylist()
        keys = {(r["url"], r["page_index"]) for r in committed}
        self.check(len(keys) == len(committed),
                   "fresh sink (url, page_index) unique")
        src = _read_table(pages, ["url", "html"]).to_pylist()
        self.check(len({r["url"] for r in committed}) == len(src),
                   "fresh sink holds every input url")
        sample = random.Random(self.seed).sample(src, CHECK_URLS)
        by_url: dict[str, list] = {}
        for r in committed:
            by_url.setdefault(r["url"], []).append(r)
        for row in sample:
            want = [(e["page_index"], e["text"], _norm_spans(e["spans"]),
                     e["status"])
                    for e in extract_rows(row["url"], row["html"])]
            got = sorted(
                (r["page_index"], r["text"], _norm_spans(r["spans"]),
                 r["status"])
                for r in by_url.get(row["url"], []))
            self.check(got == want, f"committed rows of {row['url']}")

    # ------------------------------------------------ incremental_merge
    def incremental_warm_up(self, deltas: list[str]) -> None:
        """The first delta, untimed, onto a throwaway copy of the
        committed sink: the JVM's first resume run."""
        sink = os.path.join(self.work, "incremental_warm_up")
        shutil.copytree(self.warm_out, sink)
        res, _, _ = self._job(
            deltas[0], sink, "incremental_warm_up", resume=True,
            compact_files_per_bucket=COMPACT_FILES_PER_BUCKET)
        if res is not None:
            self.check(res.docs_processed == DELTA_NEW,
                       "incremental_warm_up: resume skips the re-sent urls")
        shutil.rmtree(sink, ignore_errors=True)

    def incremental_window(self, deltas: list[str], seconds: float,
                           tag: str) -> list[Op]:
        sink = os.path.join(self.work, "incremental")
        ops: list[Op] = []
        end = time.perf_counter() + seconds
        while not ops or time.perf_counter() < end:
            shutil.rmtree(sink, ignore_errors=True)
            shutil.copytree(self.warm_out, sink)
            mark = len(self.tracer.spans) if self.tracer else 0
            op = Op(0.0)
            for k, pages in enumerate(deltas):
                run_id = f"{tag}{len(ops)}d{k}"
                res, secs, cpu = self._job(
                    pages, sink, run_id, resume=True,
                    compact_files_per_bucket=COMPACT_FILES_PER_BUCKET)
                if res is None:
                    return ops
                if res.compacted:
                    log(f"{run_id} compacted the sink")
                self.check(res.docs_processed == DELTA_NEW,
                           f"{run_id}: resume skips the re-sent urls")
                op.results.append(res)
                op.run_seconds.append(secs)
                op.run_cpu.append(cpu)
                op.tags.append(run_id)
            op.seconds = sum(op.run_seconds)
            op.layout = _sink_layout(sink)
            op.read_recover_s = self._spans_since(mark)
            compactions = sum(r.compacted for r in op.results)
            self.check(compactions == COMPACTIONS,
                       f"sequence compacted {compactions} times, "
                       f"expected {COMPACTIONS}")
            self.check_incremental_output(sink, op)
            ops.append(op)
        return ops

    def check_incremental_output(self, sink: str, op: Op) -> None:
        expected = WARM_DOCS + DELTAS * DELTA_NEW
        manifest = _read_table(os.path.join(sink, "manifest"), ["url"])
        urls = manifest["url"].to_pylist()
        self.check(len(urls) == len(set(urls)) == expected,
                   f"manifest holds the {expected} distinct urls sent")
        keys = _read_table(os.path.join(sink, "extracted"),
                           ["url", "page_index"])
        pairs = list(zip(keys["url"].to_pylist(),
                         keys["page_index"].to_pylist()))
        self.check(len(pairs) == len(set(pairs)),
                   "incremental sink (url, page_index) unique")
        last = op.results[-1]
        self.check(last.docs_in == expected
                   and last.docs_done + last.docs_error == last.docs_in,
                   f"done + error == docs_in == {expected}")

    # ------------------------------------------------- registry queries
    def _query(self, name: str, sf_dir: str, tag: str) -> Op | None:
        from westa_ocr_spark.registry import QUERIES

        self.attempted += 1
        self.spark.sparkContext.setJobGroup(tag, f"query {name}")
        t0 = time.perf_counter()
        try:
            rows = QUERIES[name][0](self.spark, sf_dir).count()
        except Exception as exc:  # an op failure is counted, not fatal
            self.failed += 1
            log(f"{tag} {name} failed: {exc!r}")
            return None
        secs = time.perf_counter() - t0
        self.check(rows == QUERY_ROWS[name],
                   f"{name}: {rows} rows, expected {QUERY_ROWS[name]}")
        return Op(secs, [rows], [secs], [tag], name=name)

    def query_pass(self, sf_dir: str, tag: str,
                   deadline: float) -> list[Op]:
        """Each ``QUERY_ROWS`` query once, followed by ``count()``, in a
        seeded order; none is started after ``deadline``
        (``perf_counter`` seconds)."""
        order = sorted(QUERY_ROWS)
        random.Random(self.seed).shuffle(order)
        ops = []
        for k, name in enumerate(order):
            if time.perf_counter() > deadline:
                log(f"{tag}: deadline reached, {len(order) - k} "
                    "queries not run")
                break
            op = self._query(name, sf_dir, f"{tag}_{name}")
            if op is not None:
                ops.append(op)
        log(f"{tag} queries {sum(op.seconds for op in ops):.2f} s")
        return ops

    def check_registry_output(self, sf_dir: str, tables) -> None:
        """The rows of one seed-chosen query equal its DuckDB oracle's,
        compared order-insensitively."""
        import duckdb

        from westa_ocr_spark.registry import QUERIES

        name = random.Random(self.seed).choice(ORACLE_CHECKED)
        fn, sql = QUERIES[name]
        got = _digest(fn(self.spark, sf_dir).toPandas())
        con = duckdb.connect()
        for t in tables:
            path = os.path.join(sf_dir, f"{t}.parquet")
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                        f"read_parquet('{path}')")
        want = _digest(con.execute(sql).fetchdf())
        con.close()
        self.check(got == want, f"{name} rows equal its DuckDB oracle")

    # ------------------------------------------------------ stage probes
    def stage_variants(self, pages: str) -> dict[str, float]:
        """The extract stage alone, written to a noop sink, to flat
        parquet and to the pipeline's url_bucket-partitioned parquet."""
        from pyspark.sql import functions as F

        from westa_ocr_spark.operators.extract import extract_pages
        from westa_ocr_spark.operators.partitioning import skew_split
        from westa_ocr_spark.plans.pipeline import SINK_BUCKETS

        out = os.path.join(self.work, "variant")

        def frame():
            pages_df = self.spark.read.parquet(pages).select("url", "html")
            return extract_pages(skew_split(pages_df))

        def timed(write) -> float:
            shutil.rmtree(out, ignore_errors=True)
            t0 = time.perf_counter()
            write()
            return time.perf_counter() - t0

        bucket = F.pmod(F.xxhash64("url"), F.lit(SINK_BUCKETS)).cast("int")
        return {
            "operators.extract.noop_sink_s": timed(
                lambda: frame().write.format("noop").mode("overwrite").save()),
            "plans.pipeline.stage_flat_s": timed(
                lambda: frame().write.mode("overwrite").parquet(out)),
            "plans.pipeline.stage_bucketed_s": timed(
                lambda: frame().withColumn("url_bucket", bucket)
                .write.partitionBy("url_bucket").mode("overwrite")
                .parquet(out)),
        }

    def stop(self) -> None:
        if self.spark is not None:
            self.spark.stop()
            self.spark = None
