"""Keyed-table sink: a commit-logged parquet table.

The reference's core sink is an idempotent keyed upsert —
``INSERT ... ON CONFLICT(job_id,page_index) DO UPDATE``
(westa-ocr ``app/repository.py:230-265``), where a new version of a
document is a new job. Here the url is the document, so the pipeline
merges a batch, deduplicated on ``(url, page_index)``, with
``keys=["url"]``: a re-sent url's whole page set is replaced. The
Spark-native equivalent is an Iceberg ``MERGE INTO`` with
snapshot-isolated commits (docs/ICEBERG.md). No Iceberg runtime jar
ships with this package, so the extraction pipeline writes
``ParquetTable``: a hive-partitioned parquet directory with a
Delta-Lake-style commit log
(Armbrust et al., VLDB 2020). Data files are immutable; every write
adds new part files and then commits by creating ``_log/<n>.json``,
which lists the table's files, the files added and removed, the merge
stats, the writer's record (Delta's ``commitInfo``; the pipeline's run
record) and the table schema (Delta's ``metaData`` action), so a read
passes the schema instead of inferring it from a part file's footer.
One commit file means the write happened; no commit file means nothing
happened. docs/ICEBERG.md gives the ``MERGE INTO`` that does the
pipeline's per-url replace on an Iceberg catalog.

Scale note: a ``ParquetTable`` merge rewrites whole key-overlapping
files and each commit carries the full file list, acceptable for
incremental local runs — Iceberg's manifests scale the same design
out.
"""

from __future__ import annotations

import json
import os

from pyspark.sql import (Column, DataFrame, DataFrameReader, Observation,
                       SparkSession)
from pyspark.sql.functions import col as F_col
from pyspark.sql.types import StructType

_LOG = "_log"


def _parquet_key_range(path: str, col: str):
    """(min, max) of ``col`` from the parquet footer, or None when any
    row group lacks usable statistics (then the caller must treat the
    file as possibly-overlapping). Parquet writers truncate long
    binary stats but keep them valid bounds (min is cut, max is cut
    and incremented), so range pruning on them stays conservative."""
    try:
        import pyarrow.parquet as pq

        md = pq.ParquetFile(path).metadata
        idx = next((i for i in range(md.num_columns)
                    if md.schema.column(i).name == col), None)
        if idx is None:
            return None
        lo = hi = None
        for g in range(md.num_row_groups):
            st = md.row_group(g).column(idx).statistics
            if st is None or not st.has_min_max:
                return None
            mn, mx = st.min, st.max
            if isinstance(mn, bytes):
                mn, mx = mn.decode("utf-8"), mx.decode("utf-8")
            lo = mn if lo is None or mn < lo else lo
            hi = mx if hi is None or mx > hi else hi
        return None if lo is None else (lo, hi)
    except Exception:
        return None


def _reader(spark: SparkSession, entry: dict) -> DataFrameReader:
    """A parquet reader that takes a commit's schema instead of
    inferring it."""
    return spark.read.schema(StructType.fromJson(entry["schema"]))


class ParquetTable:
    """Directory-of-parquet keyed table with upsert semantics and a
    commit log.

    Every write (``append``, ``overwrite``, ``merge_upsert``,
    ``compact``) appends new part files into the table's own hive
    ``col=value`` directories, then commits with one ``O_EXCL`` create
    of ``_log/<n>.json`` (so of two racing writers, the second fails),
    then deletes the files the commit removed. Each commit lists every
    file of the table and its schema (the written DataFrame's, with the
    partition column last, as Spark reads it back), so a reader needs
    only the latest one and runs no schema-inference job.
    ``history()`` returns every commit's entry, with the ``record`` a
    ``merge_upsert`` carried.

    Crash rule: ``exists()`` means a commit exists, and ``read()`` first
    deletes every file under the table that the latest commit does not
    list. A write killed before its commit leaves only unlisted files,
    so reads return the old rows; a write killed after it leaves
    removed files behind, which the next read deletes. A commit file
    cut short by a crash during its own write never happened. Paths in
    the log are relative, so a copied table reads the same.

    ``partition_by`` names a hive-style partition column (e.g.
    ``url_bucket = pmod(xxhash64(url), N)``). A partitioned table
    buys partition-pruned reads and a merge that rewrites only
    key-overlapping files of the AFFECTED buckets — every other file
    stays where it is, untouched. This is the parquet form of
    Iceberg's file-level MERGE.
    """

    def __init__(self, path: str, partition_by: str | None = None) -> None:
        self.path = path
        self.partition_by = partition_by

    def _latest(self) -> tuple[int, dict]:
        """Version and entry of the latest commit; (-1, {"files": []})
        without one."""
        log = os.path.join(self.path, _LOG)
        if not os.path.isdir(log):
            return -1, {"files": []}
        for v in sorted((int(n[:-5]) for n in os.listdir(log)
                         if n.endswith(".json")), reverse=True):
            try:
                return v, self._entry(v)
            except ValueError:  # torn by a crash while it was written
                os.remove(os.path.join(log, f"{v}.json"))
        return -1, {"files": []}

    def _entry(self, version: int) -> dict:
        with open(os.path.join(self.path, _LOG, f"{version}.json"),
                  encoding="utf-8") as fh:
            return json.load(fh)

    def _vacuum(self, keep: set[str]) -> None:
        """Delete every file under the table but ``_log/`` and ``keep``
        (relative paths), then the directories left empty."""
        for root, _, names in os.walk(self.path, topdown=False):
            rel = os.path.relpath(root, self.path)
            if rel.split(os.sep)[0] == _LOG:
                continue
            for name in names:
                if os.path.normpath(os.path.join(rel, name)) not in keep:
                    os.remove(os.path.join(root, name))
            if rel != "." and not os.listdir(root):
                os.rmdir(root)

    def _snapshot(self) -> tuple[int, dict]:
        """The latest commit, with the directory reduced to its files.
        A directory without ``_log/`` was never written by this class
        and is left alone."""
        version, entry = self._latest()
        if os.path.isdir(os.path.join(self.path, _LOG)):
            self._vacuum(set(entry["files"]))
        return version, entry

    def exists(self) -> bool:
        return self._latest()[0] >= 0

    def files(self) -> list[str]:
        """The latest commit's files, as paths relative to the table."""
        return self._latest()[1]["files"]

    def history(self) -> list[dict]:
        """Every commit's entry, oldest first; a write's ``record`` is
        under that key (``None`` when it passed none)."""
        latest, _ = self._latest()  # drops a commit torn by a crash
        return [self._entry(v) for v in range(latest + 1)]

    def read(self, spark: SparkSession) -> DataFrame:
        # a directory read, not a file list: a long explicit file list
        # costs Spark an extra listing job, and partition pruning works
        # either way
        return _reader(spark, self._snapshot()[1]).parquet(self.path)

    def _write(self, df: DataFrame) -> tuple[int, list[str], list[str]]:
        """Append ``df`` as new part files, uncommitted. Returns the
        version and files of the commit it builds on, and the new files."""
        os.makedirs(os.path.join(self.path, _LOG), exist_ok=True)
        version, entry = self._snapshot()
        files = entry["files"]
        w = df.write
        if self.partition_by and self.partition_by in df.columns:
            w = w.partitionBy(self.partition_by)
        # append, never overwrite: overwrite mode would delete _log/
        w.mode("append").parquet(self.path)
        # the new part files are the ones Spark reads (no "_"/"."
        # prefix, which also skips _log/ and Spark's _SUCCESS and .crc
        # files) that the last commit does not list
        written = set()
        for root, dirs, names in os.walk(self.path):
            dirs[:] = [d for d in dirs if not d.startswith(("_", "."))]
            rel = os.path.relpath(root, self.path)
            written.update(os.path.normpath(os.path.join(rel, n))
                           for n in names if not n.startswith(("_", ".")))
        return version, files, sorted(written.difference(files))

    def _commit(self, version: int, files: list[str], added: list[str],
                removed: list[str], schema: StructType,
                stats: dict | None = None, record: dict | None = None) -> None:
        """Create ``_log/<version + 1>.json``, then delete every file
        it does not list: ``removed`` and Spark's write leftovers.
        ``schema`` is the written DataFrame's; the commit holds it the
        way Spark reads the files back, partition column last.
        ``record`` is the caller's own JSON data for the commit, kept
        as given (Delta Lake's ``commitInfo``)."""
        live = sorted(set(files).difference(removed).union(added))
        part = [f for f in schema.fields if f.name == self.partition_by]
        fields = [f for f in schema.fields if f not in part] + part
        entry = os.path.join(self.path, _LOG, f"{version + 1}.json")
        fd = os.open(entry, os.O_WRONLY | os.O_CREAT | os.O_EXCL, 0o644)
        with os.fdopen(fd, "w", encoding="utf-8") as fh:
            json.dump({"files": live, "added": added,
                       "removed": sorted(removed), "stats": stats,
                       "record": record,
                       "schema": StructType(fields).jsonValue()}, fh)
        self._vacuum(set(live))

    def append(self, df: DataFrame) -> None:
        version, files, added = self._write(df)
        self._commit(version, files, added, [], df.schema)

    def overwrite(self, df: DataFrame) -> None:
        version, files, added = self._write(df)
        self._commit(version, files, added, files, df.schema)

    def merge_upsert(
        self, spark: SparkSession, df: DataFrame, keys: list[str],
        unique_keys: bool = False, ranges: dict | None = None,
        record: dict | None = None, observe: dict[str, Column] | None = None,
    ) -> dict | None:
        """Upsert df by keys: new rows win over existing rows.

        Mirrors the reference's ON CONFLICT DO UPDATE (westa-ocr
        ``app/repository.py:256-262``): every existing row whose
        ``keys`` match a batch row is replaced by the batch's rows of
        that key. The incoming batch is key-deduplicated first (J5
        idempotency — duplicate requests collapse to one row,
        westa-ocr ``app/main.py:165-188``); a caller that has already
        deduplicated the batch (a groupBy(keys) output, or pages
        deduplicated on ``(url, page_index)`` and merged with
        ``keys=["url"]``, so several rows share a key) passes
        ``unique_keys=True`` to skip the dedup shuffle, which the
        partitioned path would otherwise pay once per evaluation of
        ``df``. On the partitioned path, returns the measured
        rewrite-amplification stats; a caller that already knows each
        partition's ``keys[0]`` (min, max) in ``df`` passes them as
        ``ranges`` (partition value -> (lo, hi)) to save the merge its
        own aggregation job. ``record`` is stored as is in the merge's
        commit (the pipeline's run record, see :meth:`history`). On a
        table without a commit the merge is an overwrite.

        An unpartitioned merge writes the whole table, so aggregates
        over the rows it writes are the table's totals. There,
        ``observe`` (name -> aggregate column) computes them with an
        ``Observation`` on that write, with no job of its own (Delta's
        ``operationMetrics``); the values are the commit's ``stats``
        and the return value. The partitioned path ignores it.
        """
        if not unique_keys:
            df = df.dropDuplicates(keys)
        exists = self.exists()
        if exists and self.partition_by and self.partition_by in df.columns:
            return self._merge_partitioned(spark, df, keys, ranges, record)
        if exists:
            old = self.read(spark)
            kept = old.join(df.select(*keys).distinct(), keys, "left_anti")
            df = kept.unionByName(df.select(*old.columns))
        if observe:
            obs = Observation()
            df = df.observe(obs, *(c.alias(k) for k, c in observe.items()))
        version, files, added = self._write(df)
        stats = obs.get if observe else None
        self._commit(version, files, added, files, df.schema, stats, record)
        return stats

    def compact(self, spark: SparkSession) -> None:
        """Small-file compaction: rewrite the table so each partition
        holds one file (the extract write fans every task into every
        bucket dir, so files accumulate as tasks x buckets x runs —
        the same reason Iceberg ships rewrite_data_files). One shuffle
        hash-partitioned on the partition column routes each bucket to
        exactly one task; the commit replaces every old file."""
        df = self.read(spark)
        if self.partition_by and self.partition_by in df.columns:
            df = df.repartition(F_col(self.partition_by))
        else:
            df = df.coalesce(1)
        self.overwrite(df)

    def _merge_partitioned(
        self, spark: SparkSession, df: DataFrame, keys: list[str],
        ranges: dict | None, record: dict | None,
    ) -> dict:
        """File-scoped merge: IO approaches O(delta), the parquet
        stand-in for Iceberg's file-level MERGE INTO.

        Two pruning levels, mirroring Iceberg's partition- then
        file-level planning:

        * files of unaffected bucket DIRECTORIES are not touched;
        * within an affected bucket, a parquet FILE whose footer
          ``keys[0]`` min/max range cannot intersect the batch's key
          range for that bucket stays too — only genuinely
          key-overlapping files are read, anti-joined, rewritten as
          new files and removed by the commit.

        Returns rewrite-amplification stats (also recorded as the
        commit's ``stats``) so callers can record the measured cost of
        each incremental run:
        ``bytes_rewritten / bytes_incoming`` is the number Iceberg
        would drive to ~1.
        """
        from pyspark.sql import functions as F

        pcol = self.partition_by
        kcol = keys[0]
        if ranges is None:
            ranges = {
                r[0]: (r[1], r[2])
                for r in df.groupBy(pcol)
                .agg(F.min(kcol).alias("lo"), F.max(kcol).alias("hi"))
                .collect()
            }
        ranges = {f"{pcol}={p}": lo_hi for p, lo_hi in ranges.items()}
        _, entry = self._snapshot()
        cols = StructType.fromJson(entry["schema"]).fieldNames()
        rewrite_files: list[str] = []
        files_pruned = bytes_rewritten = bytes_kept = 0
        for rel in entry["files"]:
            if os.path.dirname(rel) not in ranges:
                continue
            lo, hi = ranges[os.path.dirname(rel)]
            fpath = os.path.join(self.path, rel)
            fr = _parquet_key_range(fpath, kcol)
            if fr is not None and (fr[1] < lo or fr[0] > hi):
                files_pruned += 1
                bytes_kept += os.path.getsize(fpath)
            else:
                rewrite_files.append(rel)
                bytes_rewritten += os.path.getsize(fpath)
        if rewrite_files:
            existing = (
                _reader(spark, entry).option("basePath", self.path)
                .parquet(*(os.path.join(self.path, f)
                           for f in rewrite_files))
            )
            kept = existing.join(
                df.select(*keys).distinct(), keys, "left_anti"
            )
            merged = kept.unionByName(df.select(*cols))
        else:
            merged = df.select(*cols)
        version, files, added = self._write(merged)
        bytes_out = sum(
            os.path.getsize(os.path.join(self.path, f)) for f in added
        )
        stats = {
            "files_rewritten": len(rewrite_files),
            "files_pruned": files_pruned,
            "bytes_rewritten": bytes_rewritten,
            "bytes_pruned": bytes_kept,
            "bytes_out": bytes_out,
            "rewrite_amplification": (
                round(bytes_rewritten / bytes_out, 3)
                if bytes_out else 0.0
            ),
        }
        self._commit(version, files, added, rewrite_files, merged.schema,
                     stats, record)
        return stats

