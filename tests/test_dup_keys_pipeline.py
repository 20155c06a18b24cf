"""Sink-side J5 idempotency: duplicate input urls collapse to one row
per (url, page_index) even on the zero-shuffle narrow plan."""

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from westa_ocr_spark.corpus import generate_rows
from westa_ocr_spark.plans.pipeline import run_extraction_job
from westa_ocr_spark.sources.tables import ParquetTable


@pytest.fixture(scope="module")
def dup_pages(tmp_path_factory):
    """60 docs written twice into two SEPARATE files — duplicates are
    guaranteed to sit in different input splits."""
    path = tmp_path_factory.mktemp("dup") / "pages"
    path.mkdir()
    rows = list(generate_rows(60))
    schema = pa.schema(
        [
            pa.field("url", pa.string()),
            pa.field("warc_ts", pa.timestamp("us", tz="UTC")),
            pa.field("html", pa.binary()),
            pa.field("text", pa.string()),
            pa.field("lang", pa.string()),
        ]
    )
    for part in (0, 1):
        pq.write_table(
            pa.Table.from_pylist(rows, schema=schema),
            str(path / f"part-{part}.parquet"),
        )
    return str(path)


def test_first_run_dedupes_sink(spark, dup_pages, tmp_path_factory):
    out = str(tmp_path_factory.mktemp("dupout") / "o")
    res = run_extraction_job(spark, dup_pages, out, run_id="d1")
    ext = ParquetTable(f"{out}/extracted").read(spark)
    keys = ext.select("url", "page_index")
    assert keys.count() == keys.distinct().count()
    assert res.docs_in == 60
    man = ParquetTable(f"{out}/manifest").read(spark)
    assert man.count() == 60
    # counters never double-count a doc
    assert all(
        r["total_blocks"] == r["processed_blocks"] + r["skipped_blocks"]
        for r in man.collect()
    )


def test_incremental_run_dedupes_sink(spark, dup_pages, tmp_path_factory):
    """The same duplicated batch, re-sent without resume onto the
    committed sink, goes through the incremental merge: the sink keys
    stay unique, each url keeps one manifest row with consistent
    counters, and the run's staging directory is gone."""
    import os

    out = str(tmp_path_factory.mktemp("dupinc") / "o")
    run_extraction_job(spark, dup_pages, out, run_id="d1")
    res = run_extraction_job(spark, dup_pages, out, resume=False,
                             run_id="d2")
    assert res.merge_stats is not None  # the merge path ran
    ext = ParquetTable(f"{out}/extracted").read(spark)
    keys = ext.select("url", "page_index")
    assert keys.count() == keys.distinct().count()
    man = ParquetTable(f"{out}/manifest").read(spark).collect()
    assert len(man) == len({r["url"] for r in man}) == 60
    pages_per_url = {
        r["url"]: r["count"] for r in ext.groupBy("url").count().collect()}
    for r in man:
        assert r["total_blocks"] == pages_per_url[r["url"]]
        assert r["total_blocks"] == (
            r["processed_blocks"] + r["skipped_blocks"])
    assert res.docs_in == 60
    assert res.rows_written == keys.count()
    assert not [n for n in os.listdir(out) if n.startswith("staging_")]
