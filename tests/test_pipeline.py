"""End-to-end pipeline tests: counters, manifest, resume, upsert, skew."""

import pyarrow.parquet as pq
import pytest

from westa_ocr_spark.corpus import write_pages_parquet
from westa_ocr_spark.operators.partitioning import skew_split
from westa_ocr_spark.plans.pipeline import run_extraction_job
from westa_ocr_spark.sources.tables import ParquetTable


@pytest.fixture(scope="module")
def job(spark, pages_parquet, tmp_path_factory):
    out = str(tmp_path_factory.mktemp("job") / "out")
    res = run_extraction_job(spark, pages_parquet, out, run_id="r1")
    return res


def test_counters(job):
    assert job.docs_in == 200
    assert job.docs_processed == 200
    assert job.docs_done == 198
    assert job.docs_error == 2  # i in {93,193}
    assert job.rows_written > 200  # pdf fan-out
    assert job.resumed_skipped == 0


def test_manifest_semantics(spark, job):
    man = ParquetTable(f"{job.out_dir}/manifest").read(spark)
    rows = {r["url"]: r.asDict(recursive=True) for r in man.collect()}
    assert len(rows) == 200
    for r in rows.values():
        assert r["skipped_blocks"] == max(
            0, r["total_blocks"] - r["processed_blocks"]
        )
        if r["status"] == "ERROR":
            assert r["errors"] and r["last_error"]
            assert r["errors"][0]["message"].startswith("extract: ")
        else:
            assert r["errors"] == [] and r["last_error"] == ""


def test_lineage_totals(job):
    """The run's lineage is its record in the manifest's last commit,
    not a table of its own."""
    import os

    history = ParquetTable(f"{job.out_dir}/manifest").history()
    records = [e["record"] for e in history if e["record"]]
    assert [r["run_id"] for r in records] == ["r1"]
    assert history[-1]["record"] is records[0]  # the run's last commit
    lin = records[0]["lineage"]
    assert sum(p["rows"] for p in lin) == job.rows_written
    assert sum(p["errors"] for p in lin) == 2
    # one lineage row per staged extract partition
    assert len({p["partition_id"] for p in lin}) == len(lin)
    assert not os.path.exists(f"{job.out_dir}/lineage")


def test_resume_skips_committed_work(spark, job, tmp_path_factory):
    # grow the corpus 200 -> 250: deterministic generator means the
    # first 200 rows are identical, so resume must skip exactly 200.
    bigger = str(tmp_path_factory.mktemp("corpus2") / "pages")
    write_pages_parquet(bigger, n=250, seed=42, rows_per_file=50)
    res2 = run_extraction_job(spark, bigger, job.out_dir, run_id="r2")
    assert res2.resumed_skipped == 200
    assert res2.docs_processed == 50  # only the new urls extracted
    assert res2.docs_in == 250
    man = ParquetTable(f"{job.out_dir}/manifest").read(spark)
    assert man.count() == 250


def test_resume_counts_only_skipped_input_docs(spark, tmp_path_factory):
    """resumed_skipped counts the input docs resume skipped, not every
    committed doc: a 64-doc sink, then a delta of 30 new and 10 re-sent
    urls, skips 10."""
    from pyspark.sql import functions as F

    from westa_ocr_spark.corpus import url_for

    base = tmp_path_factory.mktemp("skipc")
    write_pages_parquet(str(base / "all"), n=94, seed=42, rows_per_file=50)
    every = spark.read.parquet(str(base / "all"))
    first = every.filter(F.col("url").isin([url_for(i) for i in range(64)]))
    delta = every.filter(F.col("url").isin(
        [url_for(i) for i in [*range(64, 94), *range(0, 60, 6)]]
    ))
    out = str(base / "out")
    run_extraction_job(spark, first, out, run_id="s1")
    res = run_extraction_job(spark, delta, out, run_id="s2")
    assert res.resumed_skipped == 10
    assert res.docs_processed == 30
    assert res.docs_in == 94


def _corpus(spark, base, n=94):
    write_pages_parquet(str(base / "all"), n=n, seed=42, rows_per_file=50)
    return spark.read.parquet(str(base / "all"))


def _docs(every, ids):
    from pyspark.sql import functions as F

    from westa_ocr_spark.corpus import url_for

    return every.filter(F.col("url").isin([url_for(i) for i in ids]))


def test_counters_are_the_manifest_commit_stats(spark, tmp_path_factory):
    """A run's all-time counters are observed on its manifest write and
    stored as that commit's ``stats``; they equal a groupBy(status) over
    the manifest for a first run, a first run with duplicate urls, a
    resumed delta that re-sends urls, and an empty input (all 0)."""
    from pyspark.sql import functions as F

    base = tmp_path_factory.mktemp("counters")
    every = _corpus(spark, base)
    first = _docs(every, [*range(40), 93])  # doc 93 is malformed: ERROR
    runs = (
        ("first", first, "a"),
        ("dup", first.unionByName(_docs(every, range(5))), "b"),
        ("delta", _docs(every, [*range(40, 60), *range(0, 40, 4)]), "a"),
        ("empty", spark.createDataFrame([], "url string, html binary"),
         "c"),
    )
    for run_id, pages, sink in runs:
        out = str(base / sink)
        res = run_extraction_job(spark, pages, out, run_id=run_id)
        manifest = ParquetTable(f"{out}/manifest")
        by_status = {
            r["status"]: (r["docs"], r["rows"])
            for r in manifest.read(spark).groupBy("status").agg(
                F.count(F.lit(1)).alias("docs"),
                F.sum("total_blocks").alias("rows")).collect()}
        (done, done_rows), (error, error_rows) = (
            by_status.get(s, (0, 0)) for s in ("DONE", "ERROR"))
        want = (done + error, done, error, done_rows + error_rows)
        stats = manifest.history()[-1]["stats"]
        assert (stats["docs"], stats["done"], stats["error"],
                stats["rows"]) == want, run_id
        assert (res.docs_in, res.docs_done, res.docs_error,
                res.rows_written) == want, run_id
        assert want[0] == {"first": 41, "dup": 41, "delta": 61,
                           "empty": 0}[run_id]
        assert error == (0 if run_id == "empty" else 1), run_id


def test_resumed_run_lineage_totals(spark, tmp_path_factory):
    """A resumed delta's lineage counts the rows it staged, not the
    input urls that join its key-stats job: Σ rows is the sink rows of
    the urls it extracted, Σ errors their ERROR rows, and every
    partition_id is a staged part file's."""
    from pyspark.sql import functions as F

    from westa_ocr_spark.corpus import url_for

    base = tmp_path_factory.mktemp("lineage")
    every = _corpus(spark, base)
    out = str(base / "out")
    run_extraction_job(spark, _docs(every, range(40)), out, run_id="first")
    new = [*range(40, 60), 93]  # doc 93 is malformed: ERROR
    res = run_extraction_job(
        spark, _docs(every, [*new, *range(0, 40, 4)]), out, run_id="delta")
    assert res.docs_processed == len(new) and res.resumed_skipped == 10
    record = ParquetTable(f"{out}/manifest").history()[-1]["record"]
    assert record["run_id"] == "delta"
    lin = record["lineage"]
    ids = [p["partition_id"] for p in lin]
    assert None not in ids and ids == sorted(set(ids))
    staged = ParquetTable(f"{out}/extracted").read(spark).filter(
        F.col("url").isin([url_for(i) for i in new]))
    errors = staged.filter(F.col("status") == "ERROR").count()
    assert errors > 0
    assert sum(p["rows"] for p in lin) == staged.count()
    assert sum(p["errors"] for p in lin) == errors


def test_upsert_is_idempotent(spark, job, pages_parquet):
    ext = ParquetTable(f"{job.out_dir}/extracted")
    before = {
        (r["url"], r["page_index"]): r["text"]
        for r in ext.read(spark).collect()
    }
    # re-run without resume: every row rewritten via merge, results equal
    res = run_extraction_job(
        spark, pages_parquet, job.out_dir, resume=False, run_id="r3",
    )
    after = {
        (r["url"], r["page_index"]): r["text"]
        for r in ext.read(spark).collect()
    }
    assert before == after
    assert res.resumed_skipped == 0


def test_resent_url_replaces_its_whole_page_set(spark, tmp_path_factory):
    """A url re-sent is a new version of its document, and the new
    version's pages replace the old version's whole page set: a 3-page
    PDF re-sent as a 1-page HTML doc leaves one sink row, and its
    manifest row counts one block."""
    from westa_ocr_spark.kernel.pdf_mini import write_pdf

    out = str(tmp_path_factory.mktemp("resent") / "out")
    url = "https://resent.example/doc"
    versions = (write_pdf(["page one", "page two", "page three"]),
                b"<html><body><p>the new version</p></body></html>")
    for run, html in enumerate(versions):
        pages = spark.createDataFrame([(url, html)], "url string, html binary")
        run_extraction_job(spark, pages, out, resume=False, run_id=f"v{run}")
        rows = ParquetTable(f"{out}/extracted").read(spark).collect()
        assert len(rows) == (3, 1)[run]
    assert [(r["page_index"], r["kind"]) for r in rows] == [(1, "html")]
    man = ParquetTable(f"{out}/manifest").read(spark).collect()
    assert len(man) == 1
    assert man[0]["total_blocks"] == man[0]["processed_blocks"] == 1


def test_runs_without_an_id_keep_distinct_records(spark, tmp_path_factory):
    """Two runs given no ``run_id`` onto one sink leave two run records
    with distinct ids, not two records both named alike."""
    out = str(tmp_path_factory.mktemp("noid") / "out")
    for text in (b"first", b"second"):
        pages = spark.createDataFrame(
            [("https://noid.example/a", b"<p>" + text + b"</p>")],
            "url string, html binary")
        run_extraction_job(spark, pages, out, resume=False)
    ids = [e["record"]["run_id"]
           for e in ParquetTable(f"{out}/manifest").history() if e["record"]]
    assert len(ids) == 2 and ids[0] != ids[1], ids


def test_failed_run_clears_its_job_group(spark, tmp_path_factory):
    """A run that raises leaves no job group on the calling thread, so
    the caller's later jobs cannot be cancelled with the run's group."""
    from pyspark.errors import AnalysisException

    out = str(tmp_path_factory.mktemp("failgroup") / "out")
    with pytest.raises(AnalysisException):
        run_extraction_job(spark, "/nonexistent", out, job_group="g")
    sc = spark.sparkContext
    assert sc.getLocalProperty("spark.jobGroup.id") is None
    assert sc.getLocalProperty("spark.job.interruptOnCancel") is None


def test_skew_split_balances_oversized(spark, pages_parquet):
    from pyspark.sql import functions as F

    pages = spark.read.parquet(pages_parquet).select("url", "html")
    parted = skew_split(pages)
    assert parted.count() == 200  # split legs lose nothing
    n_small = pages.rdd.getNumPartitions()
    # the oversized leg gets one round-robin partition per core
    assert parted.rdd.getNumPartitions() == (
        n_small + spark.sparkContext.defaultParallelism
    )
    sizes = (
        parted.withColumn("pid", F.spark_partition_id())
        .withColumn("big", F.octet_length("html") >= 256 * 1024)
        .groupBy("pid")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.col("big").cast("int")).alias("n_big"),
        )
        .collect()
    )
    # oversized rows (i in {71,171} -> 2 rows) leave the input's
    # partitions and land in the round-robin leg, which holds nothing
    # else (with only 2 rows the balance guarantee is statistical, so
    # assert placement, not spread)
    assert sum(r["n_big"] for r in sizes) == 2
    for r in sizes:
        assert r["n_big"] == (r["n"] if r["pid"] >= n_small else 0)


def test_cancellation_interrupts_run_and_resume_recovers(
    spark, tmp_path_factory
):
    """T6 cancellation, batch analogue: cancel_extraction interrupts
    a tagged run mid-extraction; a follow-up run (resume on) completes
    and the final state equals an uncancelled run's."""
    import threading
    import time as _time

    import pandas as pd
    from pyspark.sql import types as T

    from westa_ocr_spark.plans.pipeline import (
        cancel_extraction,
        run_extraction_job,
    )

    # a pages frame whose extraction is artificially slow: the html
    # column is fine, but we bolt a sleepy map stage in FRONT so the
    # run is guaranteed to still be in-flight when cancel lands
    from westa_ocr_spark.corpus import generate_rows

    rows = [
        (r["url"], r["html"]) for r in generate_rows(64)
    ]
    schema = T.StructType(
        [
            T.StructField("url", T.StringType(), False),
            T.StructField("html", T.BinaryType(), True),
        ]
    )
    base = spark.createDataFrame(rows, schema).repartition(8)

    def slow(it):
        for pdf in it:
            _time.sleep(4)
            yield pdf

    slow_pages = base.mapInPandas(slow, schema=schema)

    out = str(tmp_path_factory.mktemp("cancel") / "o")
    errs: list[BaseException] = []

    def runner():
        try:
            run_extraction_job(
                spark, slow_pages, out, resume=True,
                run_id="r1", job_group="cancel-me",
            )
        except BaseException as exc:
            errs.append(exc)

    t = threading.Thread(target=runner, daemon=True)
    t0 = _time.time()
    t.start()
    # cancelJobGroup is a no-op when no job of the group is active yet
    # (driver-side setup can outlast any fixed sleep on a loaded host):
    # wait until the run's first job is actually RUNNING, then cancel.
    tracker = spark.sparkContext.statusTracker()
    while (not tracker.getJobIdsForGroup("cancel-me")
           and _time.time() - t0 < 30):
        _time.sleep(0.1)
    _time.sleep(0.5)  # let tasks (the sleepy stage) get on-core
    cancel_extraction(spark, "cancel-me")
    t.join(timeout=60)
    assert not t.is_alive()
    assert errs, "cancelled run must raise, not succeed"
    assert _time.time() - t0 < 30  # interrupted, not run to completion
    # killed before the sink's first commit: the sink does not exist
    assert not ParquetTable(f"{out}/extracted").exists()

    # recovery: plain resume run completes with the full result
    res = run_extraction_job(spark, base, out, resume=True, run_id="r2")
    assert res.docs_in == 64
    assert res.docs_done + res.docs_error == 64


def test_incremental_runs_bound_files_and_measure_merges(
        spark, tmp_path_factory):
    """10 incremental runs: the tail compaction keeps files-per-bucket
    bounded (VERDICT r3 #4) and every incremental merge reports its
    measured rewrite amplification (VERDICT r3 #3)."""
    from westa_ocr_spark.plans.pipeline import _max_files_per_bucket

    root = tmp_path_factory.mktemp("inc")
    out = str(root / "out")
    bound = 6
    compact_runs = 0
    amps = []
    for step in range(10):
        n = 40 + 20 * step
        pages = str(root / f"pages{step}")
        write_pages_parquet(pages, n=n, seed=42, rows_per_file=50)
        res = run_extraction_job(
            spark, pages, out, run_id=f"inc{step}",
            compact_files_per_bucket=bound,
        )
        if step > 0:
            assert res.merge_stats is not None
            amps.append(res.merge_stats["rewrite_amplification"])
            assert res.merge_stats["files_rewritten"] >= 0
        if res.compacted:
            compact_runs += 1
        assert _max_files_per_bucket(ParquetTable(f"{out}/extracted")) \
            <= max(bound, 1)
    assert compact_runs >= 1  # the bound actually triggered
    assert all(a >= 0.0 for a in amps)
    man = ParquetTable(f"{out}/manifest").read(spark)
    assert man.count() == 40 + 20 * 9


def test_spark_jobs_per_run(spark, tmp_path_factory):
    """Spark jobs of a fresh run and of a resumed delta onto its sink,
    counted per job group; a new collect or a table read that infers
    its schema shows here.

    - fresh, 8: input schema inference 1, extract write 2, key-stats
      and lineage aggregation 3, manifest write 2;
    - delta, 17: inference 1, resume and staging write 4, key-stats and
      lineage aggregation 3, sink merge plus manifest merge 9.

    The lineage rides in the manifest commit, and the counters are
    observed on the manifest write, so neither costs a job."""
    from pyspark.sql import functions as F

    from westa_ocr_spark.corpus import url_for

    base = tmp_path_factory.mktemp("jobs")
    write_pages_parquet(str(base / "all"), n=94, seed=42, rows_per_file=50)
    every = spark.read.parquet(str(base / "all"))
    for name, ids in (("first", range(64)),
                      ("delta", [*range(64, 94), *range(0, 60, 6)])):
        every.filter(F.col("url").isin([url_for(i) for i in ids])) \
            .write.parquet(str(base / name))
    out = str(base / "out")
    tracker = spark.sparkContext.statusTracker()
    jobs = {}
    for name, resume in (("first", False), ("delta", True)):
        group = f"jobs_{name}"
        run_extraction_job(spark, str(base / name), out, resume=resume,
                           run_id=name, job_group=group)
        jobs[name] = len(tracker.getJobIdsForGroup(group))
    assert jobs == {"first": 8, "delta": 17}


def test_damaged_warc_file_gives_error_row_not_job_failure(
        spark, tmp_path_factory):
    """A WARC directory holding one cut file: read_warc_pages gives the
    file's good records and one NULL-url ERROR row, and the job over
    it completes. The NULL-url row has no (url, page_index) key, so
    the sink and the manifest hold exactly the good urls."""
    from westa_ocr_spark.sources.warc import read_warc_pages, write_warc

    def rec(name):
        return {"url": f"https://{name}.example/p",
                "date": "2025-01-01T00:00:00Z",
                "html": f"<html><body><p>{name} doc</p></body></html>"
                .encode()}

    base = tmp_path_factory.mktemp("cutwarc")
    wdir = base / "warcs"
    wdir.mkdir()
    (wdir / "seg-0.warc.gz").write_bytes(write_warc([rec("a"), rec("b")]))
    members = [write_warc([rec(n)]) for n in ("c", "d", "e")]
    cut = b"".join(members)[: -len(members[2]) // 2]
    (wdir / "seg-cut.warc.gz").write_bytes(cut)

    pages = read_warc_pages(spark, str(wdir))
    assert pages.filter("url IS NULL AND status = 'ERROR'").count() == 1
    out = str(base / "out")
    res = run_extraction_job(spark, pages, out, run_id="warc")
    good = {f"https://{n}.example/p" for n in "abcd"}
    sink = ParquetTable(f"{out}/extracted").read(spark).collect()
    man = ParquetTable(f"{out}/manifest").read(spark).collect()
    assert {r["url"] for r in sink} == good
    assert {r["url"] for r in man} == good
    assert all(r["status"] == "DONE" for r in sink)
    assert (res.docs_in, res.docs_done, res.docs_error) == (4, 4, 0)
