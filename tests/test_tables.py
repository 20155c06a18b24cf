"""Direct unit tests for the keyed-table sink (sources/tables.py)."""

import pytest

from westa_ocr_spark.sources.tables import ParquetTable


@pytest.fixture()
def tbl(tmp_path):
    return ParquetTable(str(tmp_path / "t"))


def _rows(spark, tbl):
    return {
        (r["k"], r["p"]): r["v"] for r in tbl.read(spark).collect()
    }


def test_first_write_creates_table(spark, tbl):
    df = spark.createDataFrame([(1, 1, "a"), (2, 1, "b")], ["k", "p", "v"])
    assert not tbl.exists()
    tbl.merge_upsert(spark, df, keys=["k", "p"])
    assert tbl.exists()
    assert _rows(spark, tbl) == {(1, 1): "a", (2, 1): "b"}


def test_upsert_new_rows_win(spark, tbl):
    df1 = spark.createDataFrame([(1, 1, "old"), (2, 1, "keep")],
                                ["k", "p", "v"])
    tbl.merge_upsert(spark, df1, keys=["k", "p"])
    df2 = spark.createDataFrame([(1, 1, "new"), (3, 1, "add")],
                                ["k", "p", "v"])
    tbl.merge_upsert(spark, df2, keys=["k", "p"])
    assert _rows(spark, tbl) == {
        (1, 1): "new", (2, 1): "keep", (3, 1): "add"
    }


def test_upsert_dedupes_incoming_batch(spark, tbl):
    # J5: duplicate keys inside one batch collapse to a single row
    df = spark.createDataFrame(
        [(1, 1, "x"), (1, 1, "x"), (2, 1, "y")], ["k", "p", "v"]
    )
    tbl.merge_upsert(spark, df, keys=["k", "p"])
    assert len(_rows(spark, tbl)) == 2


def test_upsert_unique_keys_fastpath_matches_default(spark, tmp_path):
    """Round 6: ``unique_keys=True`` skips the J5 dedup shuffle for
    batches the caller guarantees key-unique — the merged table must
    be identical to the default path, on both the unpartitioned and
    the bucket-partitioned merge."""
    for part in (None, "p"):
        a = ParquetTable(str(tmp_path / f"a_{part}"), partition_by=part)
        b = ParquetTable(str(tmp_path / f"b_{part}"), partition_by=part)
        base = spark.createDataFrame(
            [(1, 1, "old"), (2, 2, "keep")], ["k", "p", "v"]
        )
        batch = spark.createDataFrame(
            [(1, 1, "new"), (3, 1, "add")], ["k", "p", "v"]
        )
        for t, fast in ((a, False), (b, True)):
            t.merge_upsert(spark, base, keys=["k"], unique_keys=fast)
            t.merge_upsert(spark, batch, keys=["k"], unique_keys=fast)
        assert _rows(spark, a) == _rows(spark, b) == {
            (1, 1): "new", (2, 2): "keep", (3, 1): "add"
        }


class _Killed(Exception):
    """Stands in for the process dying at a chosen point of a write."""


def _die(*args, **kwargs):
    raise _Killed


_COLS = ["k", "p", "v", "b"]
_BASE = [(k, 1, f"v{k}", k % 4) for k in range(8)]
_BATCH = [(0, 1, "NEW", 0), (99, 1, "add", 3)]


def _expect(rows):
    return {(k, p): v for k, p, v, _ in rows}


# op -> (partitioned table, the write, the rows once it has committed)
_OPS = {
    "append": (True, lambda s, t, b: t.append(b.filter("k = 99")),
               _expect(_BASE + _BATCH[1:])),
    "overwrite": (True, lambda s, t, b: t.overwrite(b), _expect(_BATCH)),
    "merge_upsert": (True,
                     lambda s, t, b: t.merge_upsert(s, b, keys=["k", "p"]),
                     _expect(_BASE[1:] + _BATCH)),
    "merge_upsert_flat": (False,
                          lambda s, t, b: t.merge_upsert(s, b,
                                                         keys=["k", "p"]),
                          _expect(_BASE[1:] + _BATCH)),
    "compact": (True, lambda s, t, b: t.compact(s), _expect(_BASE)),
}


def _files(tbl):
    """Every file under the table but its commit log, relative."""
    import os

    return {
        os.path.relpath(os.path.join(root, n), tbl.path)
        for root, _, names in os.walk(tbl.path)
        if not os.path.relpath(root, tbl.path).startswith("_log")
        for n in names
    }


def _committed(tbl):
    """The file list of the newest commit file."""
    import json
    import os

    log = os.path.join(tbl.path, "_log")
    newest = max(int(n.split(".")[0]) for n in os.listdir(log))
    with open(os.path.join(log, f"{newest}.json")) as fh:
        return set(json.load(fh)["files"])


def _kill_write(spark, tmp_path, monkeypatch, op, before_commit):
    """Run ``op`` on a committed table and kill it just before its
    commit file is created, or just after (before any file is deleted).
    Checks that the next read leaves exactly the committed files and
    that a copy of the crashed directory reads the same rows."""
    import shutil

    partitioned, write, _ = _OPS[op]
    tbl = ParquetTable(str(tmp_path / "t"),
                       partition_by="b" if partitioned else None)
    tbl.append(spark.createDataFrame(_BASE, _COLS).repartition(2))
    old_files = _committed(tbl)
    batch = spark.createDataFrame(_BATCH, _COLS)
    with monkeypatch.context() as m:
        if before_commit:
            m.setattr(ParquetTable, "_commit", _die)
            with pytest.raises(_Killed):
                write(spark, tbl, batch)
        else:
            m.setattr(ParquetTable, "_vacuum", lambda self, keep: None)
            write(spark, tbl, batch)
    assert _files(tbl) != _committed(tbl)  # the kill left files behind
    copy = ParquetTable(str(tmp_path / "copy"), partition_by=tbl.partition_by)
    shutil.copytree(tbl.path, copy.path)
    rows = _rows(spark, tbl)
    assert _files(tbl) == _committed(tbl)
    assert _rows(spark, copy) == rows
    return tbl, old_files, rows


@pytest.mark.parametrize("op", sorted(_OPS))
def test_kill_before_commit_keeps_old_rows(spark, tmp_path, monkeypatch, op):
    tbl, old_files, rows = _kill_write(spark, tmp_path, monkeypatch, op,
                                       before_commit=True)
    assert rows == _expect(_BASE)
    assert _committed(tbl) == old_files


@pytest.mark.parametrize("op", sorted(_OPS))
def test_kill_after_commit_serves_new_rows(spark, tmp_path, monkeypatch, op):
    tbl, old_files, rows = _kill_write(spark, tmp_path, monkeypatch, op,
                                       before_commit=False)
    assert rows == _OPS[op][2]
    assert _committed(tbl) != old_files


def test_killed_first_write_leaves_no_table(spark, tbl, monkeypatch):
    """No commit file means nothing happened, also for the first write:
    the table does not exist, and the next write starts clean."""
    df = spark.createDataFrame([(1, 1, "a")], ["k", "p", "v"])
    with monkeypatch.context() as m:
        m.setattr(ParquetTable, "_commit", _die)
        with pytest.raises(_Killed):
            tbl.append(df)
    assert not tbl.exists()
    tbl.append(df)
    assert _rows(spark, tbl) == {(1, 1): "a"}
    assert _files(tbl) == _committed(tbl)


def test_torn_commit_file_never_happened(spark, tbl):
    """A commit file created but never filled (killed during its own
    write) does not count: reads serve the commit before it, and the
    next write takes its version."""
    import os

    tbl.append(spark.createDataFrame([(1, 1, "a")], ["k", "p", "v"]))
    open(os.path.join(tbl.path, "_log", "1.json"), "w").close()
    assert tbl.exists()
    assert _rows(spark, tbl) == {(1, 1): "a"}
    assert os.listdir(os.path.join(tbl.path, "_log")) == ["0.json"]
    tbl.append(spark.createDataFrame([(2, 1, "b")], ["k", "p", "v"]))
    assert sorted(os.listdir(os.path.join(tbl.path, "_log"))) == [
        "0.json", "1.json"]
    assert _rows(spark, tbl) == {(1, 1): "a", (2, 1): "b"}


def test_empty_partitioned_table_reads_its_committed_columns(spark, tmp_path):
    """A partitioned table committed from an empty DataFrame has no part
    file to infer a schema from: the commit's schema reads it back as 0
    rows with the committed columns, the partition column last."""
    tbl = ParquetTable(str(tmp_path / "pt"), partition_by="b")
    tbl.append(spark.createDataFrame([], "k int, b int, v string"))
    df = tbl.read(spark)
    assert df.columns == ["k", "v", "b"]
    assert df.count() == 0


def test_partitioned_merge_rewrites_only_affected_buckets(
        spark, tmp_path):
    """Bucket-scoped merge: a batch touching one bucket must leave
    every other bucket's data FILES untouched (left in place, not
    rewritten) — the parquet stand-in for Iceberg's file-level
    MERGE."""
    import os

    tbl = ParquetTable(str(tmp_path / "pt"), partition_by="b")
    base = spark.createDataFrame(
        [(k, 1, f"v{k}", k % 4) for k in range(16)], ["k", "p", "v", "b"]
    )
    tbl.merge_upsert(spark, base, keys=["k", "p"])

    def bucket_files(b):
        d = os.path.join(tbl.path, f"b={b}")
        return sorted(
            (n, os.stat(os.path.join(d, n)).st_ino)
            for n in os.listdir(d) if n.endswith(".parquet")
        )

    before = {b: bucket_files(b) for b in range(4)}
    batch = spark.createDataFrame(
        [(0, 1, "NEW", 0), (99, 1, "added", 0)], ["k", "p", "v", "b"]
    )
    tbl.merge_upsert(spark, batch, keys=["k", "p"])
    # untouched buckets: identical file names AND inodes (left in place)
    for b in (1, 2, 3):
        assert bucket_files(b) == before[b], f"bucket {b} was rewritten"
    assert bucket_files(0) != before[0]
    got = _rows(spark, tbl)
    assert got[(0, 1)] == "NEW" and got[(99, 1)] == "added"
    assert len(got) == 17


_PBASE = [(k, 1, f"v{k}", k % 4) for k in range(8)]
_PBATCH = [(0, 1, "NEWGEN", 0), (4, 1, "v4", 0)]


def _pexpect():
    expect = _expect(_PBASE)
    expect[(0, 1)] = "NEWGEN"
    return expect


def test_partitioned_merge_swap_phase_crash_promotes_tmp(
        spark, tmp_path, monkeypatch):
    """A partitioned merge killed right after its commit file is
    created (the swap from the old generation to the new) and before
    any old file is deleted: old and new part files of the affected
    bucket sit side by side. The next read promotes the new ones —
    serves the merged rows and deletes the replaced files — and every
    unaffected bucket keeps its files, same inodes."""
    import os

    tbl = ParquetTable(str(tmp_path / "pt"), partition_by="b")
    tbl.merge_upsert(spark, spark.createDataFrame(_PBASE, _COLS),
                     keys=["k", "p"])
    before = _committed(tbl)
    inodes = {f: os.stat(os.path.join(tbl.path, f)).st_ino
              for f in before if not f.startswith("b=0" + os.sep)}
    with monkeypatch.context() as m:
        m.setattr(ParquetTable, "_vacuum", lambda self, keep: None)
        tbl.merge_upsert(spark, spark.createDataFrame(_PBATCH, _COLS),
                         keys=["k", "p"])
    after = _committed(tbl)
    replaced = before - after
    assert replaced
    assert all(f.startswith("b=0" + os.sep) for f in replaced)
    assert replaced <= _files(tbl)  # still on disk after the kill
    assert _rows(spark, tbl) == _pexpect()
    assert _files(tbl) == after
    for f, ino in inodes.items():
        assert os.stat(os.path.join(tbl.path, f)).st_ino == ino


def test_partitioned_merge_cleanup_phase_crash_drops_marker(
        spark, tmp_path, monkeypatch):
    """A partitioned merge killed during its clean-up, after its commit
    file and after deleting only one of the files it replaced: the next
    read finishes the clean-up — it deletes the other replaced file and
    Spark's ``_SUCCESS`` marker, neither listed by the commit — and
    serves the merged rows."""
    import os

    tbl = ParquetTable(str(tmp_path / "pt"), partition_by="b")
    base = spark.createDataFrame(_PBASE, _COLS)
    # two appends: bucket b=0 gets one file per key, both overlapping
    # the batch, so the merge replaces two files
    tbl.append(base.filter("k != 4"))
    tbl.append(base.filter("k = 4"))
    before = _committed(tbl)
    vacuum = ParquetTable._vacuum

    def killed_midway(self, keep):
        if not before - keep:  # a read's clean-up, not the commit's
            return vacuum(self, keep)
        os.remove(os.path.join(self.path, sorted(before - keep)[0]))
        raise _Killed

    with monkeypatch.context() as m:
        m.setattr(ParquetTable, "_vacuum", killed_midway)
        with pytest.raises(_Killed):
            tbl.merge_upsert(spark, spark.createDataFrame(_PBATCH, _COLS),
                             keys=["k", "p"])
    after = _committed(tbl)
    assert len(before - after) == 2
    assert len((before - after) & _files(tbl)) == 1
    assert "_SUCCESS" in _files(tbl)
    assert _rows(spark, tbl) == _pexpect()
    assert _files(tbl) == after
    assert not os.path.exists(os.path.join(tbl.path, "_SUCCESS"))


def test_compact_collapses_bucket_files(spark, tmp_path):
    """Compaction rewrites each bucket to one file (files accumulate
    as tasks x buckets x merges) and preserves every row."""
    import os

    tbl = ParquetTable(str(tmp_path / "pt"), partition_by="b")
    for batch in range(3):
        df = spark.createDataFrame(
            [(batch * 100 + k, 1, f"v{batch}_{k}", k % 4)
             for k in range(16)],
            ["k", "p", "v", "b"],
        ).repartition(4)  # several writer tasks -> several files/bucket
        tbl.merge_upsert(spark, df, keys=["k", "p"])
    before = _rows(spark, tbl)

    def n_files(b):
        d = os.path.join(tbl.path, f"b={b}")
        return len([n for n in os.listdir(d) if n.endswith(".parquet")])

    assert any(n_files(b) > 1 for b in range(4))  # fragmentation real
    tbl.compact(spark)
    assert all(n_files(b) == 1 for b in range(4))
    assert _rows(spark, tbl) == before


def test_file_scoped_merge_prunes_nonoverlapping_files(spark, tmp_path):
    """O(delta) scoping: files in an affected bucket whose footer key
    range cannot intersect the batch stay in place (same inode), and
    the stats report the measured rewrite amplification and are the
    ones the merge's commit records."""
    import json
    import os

    tbl = ParquetTable(str(tmp_path / "pt"), partition_by="b")
    # two disjoint key-range files in bucket 0: k in [0,9], k in [1000,1009]
    lo = spark.createDataFrame(
        [(k, 1, f"lo{k}", 0) for k in range(10)], ["k", "p", "v", "b"]
    ).coalesce(1)
    tbl.merge_upsert(spark, lo, keys=["k", "p"])
    hi = spark.createDataFrame(
        [(k, 1, f"hi{k}", 0) for k in range(1000, 1010)],
        ["k", "p", "v", "b"],
    ).coalesce(1)
    tbl.merge_upsert(spark, hi, keys=["k", "p"])

    bucket = os.path.join(tbl.path, "b=0")
    files_before = {
        n: os.stat(os.path.join(bucket, n)).st_ino
        for n in os.listdir(bucket) if n.endswith(".parquet")
    }
    # identify the low-range file (the one the next merge must NOT touch)
    from westa_ocr_spark.sources.tables import _parquet_key_range
    lo_files = {
        n for n in files_before
        if _parquet_key_range(os.path.join(bucket, n), "k")[1] < 1000
    }
    assert lo_files  # sanity: footer stats usable

    batch = spark.createDataFrame(
        [(1005, 1, "NEW", 0)], ["k", "p", "v", "b"]
    )
    stats = tbl.merge_upsert(spark, batch, keys=["k", "p"])
    assert stats["files_pruned"] >= 1
    assert stats["files_rewritten"] >= 1
    assert stats["rewrite_amplification"] >= 0.0
    log = os.path.join(tbl.path, "_log")
    newest = max(int(n[:-5]) for n in os.listdir(log) if n.endswith(".json"))
    with open(os.path.join(log, f"{newest}.json"), encoding="utf-8") as fh:
        assert json.load(fh)["stats"] == stats

    files_after = {
        n: os.stat(os.path.join(bucket, n)).st_ino
        for n in os.listdir(bucket) if n.endswith(".parquet")
    }
    # the non-overlapping file survived as the SAME inode (left in
    # place, not rewritten)
    for n in lo_files:
        assert files_after[n] == files_before[n]
    got = _rows(spark, tbl)
    assert got[(1005, 1)] == "NEW"
    assert got[(0, 1)] == "lo0" and got[(1000, 1)] == "hi1000"
    assert len(got) == 20
