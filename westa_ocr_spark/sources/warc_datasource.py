"""WARC as a registered Spark 4 Python DataSource: ``format("warc")``.

The Data Source API (``pyspark.sql.datasource``, Spark 4) lets the
WARC reader plug into the normal reader surface next to the
binaryFile+mapInPandas composition of
:func:`westa_ocr_spark.sources.warc.read_warc_pages` (which works on
any Spark 3.4+):

    spark.dataSource.register(WarcDataSource)
    df = spark.read.format("warc").load("/crawl/segments/*.warc.gz")

Partition planning mirrors Common Crawl's sharding: ONE input
partition per WARC file (tens of thousands of ~1 GiB segments per
crawl), planned on the driver from a filesystem glob; each executor
task streams only its own file from disk, so task memory is bounded by
a record, not a file. Rows come from the same
:func:`~westa_ocr_spark.sources.warc.warc_file_rows` as the binaryFile
reader, so the two agree row for row: a file that faults yields its
good records, then a single ERROR row, never a task failure.

Local/posix paths only (the sandbox has no distributed FS client);
on a real cluster the same class works wherever the executors mount
the same filesystem, or swap the ``open()`` for an fsspec handle.
"""

from __future__ import annotations

import glob as _glob
import os
from collections.abc import Iterator

from pyspark.sql.datasource import (
    DataSource,
    DataSourceReader,
    EqualTo,
    Filter,
    GreaterThan,
    GreaterThanOrEqual,
    In,
    InputPartition,
    LessThan,
    LessThanOrEqual,
    StringStartsWith,
)

from westa_ocr_spark.sources.warc import WARC_PAGES_SCHEMA, warc_file_rows

_FIELDS = WARC_PAGES_SCHEMA.fieldNames()


def _as_tuple(row: dict) -> tuple:
    return tuple(row[c] for c in _FIELDS)


class _WarcFilePartition(InputPartition):
    def __init__(self, path: str) -> None:
        self.path = path


class WarcReader(DataSourceReader):
    def __init__(self, options: dict) -> None:
        path = options.get("path")
        if not path:
            raise ValueError("warc datasource requires .load(<path>)")
        self._path = path
        # file-level predicates on warc_file, applied at planning time
        self._file_preds: list = []
        # record-level predicates on url, applied while scanning
        self._url_preds: list = []

    def pushFilters(self, filters: list[Filter]) -> list[Filter]:
        """Consume predicate pushdowns at two granularities:

        * ``warc_file`` equality / IN-list / prefix / range filters
          prune whole FILES at planning time — the Python-DataSource
          analogue of partition pruning (``WHERE warc_file >=
          '.../seg-2020' AND warc_file < '.../seg-2021'`` plans only
          that crawl-window's segments);
        * ``url`` equality / IN / prefix filters skip RECORDS during
          the scan, before payload bytes leave the reader.

        Everything else stays with Spark. Consumed filters are applied
        EXACTLY (SQL semantics: a NULL url satisfies nothing, so ERROR
        rows are suppressed once a url filter is consumed).
        """
        remaining: list[Filter] = []
        for f in filters:
            attr = f.attribute
            if attr == ("warc_file",) and isinstance(
                f, (EqualTo, In, StringStartsWith, GreaterThan,
                    GreaterThanOrEqual, LessThan, LessThanOrEqual)
            ):
                self._file_preds.append(f)
            elif attr == ("url",) and isinstance(
                f, (EqualTo, In, StringStartsWith)
            ):
                self._url_preds.append(f)
            else:
                remaining.append(f)
        return remaining

    @staticmethod
    def _matches(value: str, pred: Filter) -> bool:
        if isinstance(pred, EqualTo):
            return value == pred.value
        if isinstance(pred, In):
            return value in set(pred.value)
        if isinstance(pred, StringStartsWith):
            return value.startswith(pred.value)
        if isinstance(pred, GreaterThan):
            return value > pred.value
        if isinstance(pred, GreaterThanOrEqual):
            return value >= pred.value
        if isinstance(pred, LessThan):
            return value < pred.value
        if isinstance(pred, LessThanOrEqual):
            return value <= pred.value
        return True  # pragma: no cover - unreachable (gated above)

    def partitions(self) -> list[InputPartition]:
        # one partition per WARC file = Common Crawl's sharding unit
        if os.path.isdir(self._path):
            pattern = os.path.join(self._path, "*")
        else:
            pattern = self._path
        # a zero-match glob plans no partitions: an empty DataFrame,
        # as Spark's own readers give for an empty directory
        files = sorted(
            f for f in _glob.glob(pattern)
            if os.path.isfile(f)
            and all(self._matches(f, p) for p in self._file_preds)
        )
        return [_WarcFilePartition(f) for f in files]

    def read(self, partition: _WarcFilePartition) -> Iterator[tuple]:
        if partition is None:  # empty plan: Spark sends one None task
            return
        fpath = partition.path
        with open(fpath, "rb") as fh:
            for row in warc_file_rows(fpath, fh):
                # consumed url predicates hold EXACTLY: a NULL url (the
                # file's ERROR row) satisfies none of them
                url = row["url"]
                if self._url_preds and (
                    url is None
                    or not all(self._matches(url, p) for p in self._url_preds)
                ):
                    continue
                yield _as_tuple(row)


class WarcDataSource(DataSource):
    """``spark.read.format("warc")`` over WARC files/directories."""

    @classmethod
    def name(cls) -> str:
        return "warc"

    def schema(self):
        return WARC_PAGES_SCHEMA

    def reader(self, schema) -> WarcReader:
        return WarcReader(self.options)


def register(spark) -> None:
    """Idempotent registration of the ``warc`` format."""
    spark.dataSource.register(WarcDataSource)


__all__ = ["WarcDataSource", "WarcReader", "register"]
