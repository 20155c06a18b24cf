"""Crash points of a run sequence: a run killed right after any of its
table commits but its last converges on rerun.

The sequence is a fresh run, a delta that re-sends urls, and a delta
that compacts, all over tiny HTML-only inputs. For each commit that is
not a run's last, the sequence is killed right after that commit, the
killed run is rerun with the same arguments and ``run_id``, and the
sequence is finished. The sink rows, the manifest rows and the run
records in the manifest's history then equal an uncrashed sequence's.
"""

import shutil

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from westa_ocr_spark.plans.pipeline import run_extraction_job
from westa_ocr_spark.sources.tables import ParquetTable

# (run_id, doc ids, page version, run_extraction_job keywords)
RUNS = (
    ("fresh", range(24), 0, {}),
    ("resend", [*range(24, 36), *range(0, 24, 2)], 1, {"resume": False}),
    ("compact", range(36, 48), 2, {"compact_files_per_bucket": 1}),
)

# table commits per run: the sink write, the compaction (last run
# only), then the manifest commit that carries the run's record
COMMITS = (2, 2, 3)


class Crash(Exception):
    pass


def _url(i):
    return f"https://crash.example/doc-{i:03d}"


def _html(i, version):
    return (f"<html><body><h1>doc {i}</h1><p>version {version} of the "
            f"text of document {i}.</p></body></html>").encode()


def _tables(spark, out):
    """(sink rows by key, manifest rows by url, run records in commit
    order) of an out dir."""
    sink = ParquetTable(f"{out}/extracted").read(spark).collect()
    manifest = ParquetTable(f"{out}/manifest")
    return (
        {(r["url"], r["page_index"]): r.asDict(recursive=True)
         for r in sink},
        {r["url"]: r.asDict(recursive=True)
         for r in manifest.read(spark).collect()},
        [e["record"] for e in manifest.history() if e["record"]],
    )


def _run(spark, inputs, out, i, monkeypatch, kill_after=None):
    """Run ``RUNS[i]`` into ``out``; with ``kill_after`` = k, raise
    :class:`Crash` right after the run's k-th table commit. Returns the
    run's table commit count and its result."""
    run_id, _, _, kwargs = RUNS[i]
    commit = ParquetTable._commit
    commits = []

    def counted(self, *args, **kw):
        commit(self, *args, **kw)
        commits.append(self.path)
        if len(commits) == kill_after:
            raise Crash(self.path)

    with monkeypatch.context() as m:
        m.setattr(ParquetTable, "_commit", counted)
        res = run_extraction_job(spark, inputs[i], out, run_id=run_id,
                                 **kwargs)
    return len(commits), res


@pytest.fixture(scope="module")
def clean(spark, tmp_path_factory):
    """Inputs, the out dir before each run of an uncrashed sequence,
    and that sequence's final tables."""
    base = tmp_path_factory.mktemp("crashpoints")
    schema = pa.schema([("url", pa.string()), ("html", pa.binary())])
    inputs = []
    for run_id, ids, version, _ in RUNS:
        path = base / f"in_{run_id}"
        path.mkdir()
        pq.write_table(pa.Table.from_pylist(
            [{"url": _url(i), "html": _html(i, version)} for i in ids],
            schema=schema), str(path / "part-0.parquet"))
        inputs.append(str(path))
    out = str(base / "clean")
    before = []
    mp = pytest.MonkeyPatch()
    try:
        for i in range(len(RUNS)):
            snap = str(base / f"before_{i}")
            if i:
                shutil.copytree(out, snap)
            before.append(snap)
            n, res = _run(spark, inputs, out, i, mp)
            assert n == COMMITS[i], RUNS[i][0]
            assert res.compacted == (RUNS[i][0] == "compact")
    finally:
        mp.undo()
    return inputs, before, _tables(spark, out)


@pytest.mark.parametrize("run,k", [(i, k) for i, n in enumerate(COMMITS)
                                   for k in range(1, n)])
def test_crash_after_commit_converges(spark, clean, tmp_path, monkeypatch,
                                      run, k):
    inputs, before, want = clean
    out = str(tmp_path / "out")
    if run:
        shutil.copytree(before[run], out)
    with pytest.raises(Crash):
        _run(spark, inputs, out, run, monkeypatch, kill_after=k)
    for i in range(run, len(RUNS)):
        _run(spark, inputs, out, i, monkeypatch)
    sink, manifest, records = _tables(spark, out)
    assert sink == want[0]
    assert manifest == want[1]
    assert [r["run_id"] for r in records] == [r[0] for r in RUNS]
    assert records == want[2]
