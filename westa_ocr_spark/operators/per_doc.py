"""The one per-document operator: an Arrow-batched ``mapInPandas`` fan-out.

Every document-shaped operator (page extraction, PDF page split,
image / audio features, frame sampling, WARC ingest) is a function of
one input row that returns that row's output rows, plus an ERROR-row
builder. :func:`map_documents` owns the batch loop they share, and the
reference's catch-all: any ``Exception`` raised for one input becomes
that input's ERROR row, never a task failure
(the reference's ``app/worker.py:798-823``).
"""

from __future__ import annotations

from collections.abc import Callable, Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import types as T


def map_documents(
    df: DataFrame,
    cols: list[str],
    fn: Callable[..., list[dict]],
    schema: T.StructType,
    on_error: Callable[..., dict],
) -> DataFrame:
    """Select ``cols`` and map each row through ``fn(*values)``.

    ``fn`` returns the list of output rows (dicts keyed by the
    ``schema`` field names) for one input row; when it raises, the
    row's output is ``[on_error(*values, exc)]`` instead.
    """
    names = schema.fieldNames()

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for batch in it:
            out: list[dict] = []
            for values in zip(*(batch[c] for c in batch.columns)):
                try:
                    rows = fn(*values)
                except Exception as exc:  # noqa: BLE001 - per-row capture
                    rows = [on_error(*values, exc)]
                out.extend(rows)
            # dict-of-lists: pandas skips per-row dict inference this way
            yield pd.DataFrame({c: [r[c] for r in out] for c in names})

    return df.select(*cols).mapInPandas(batches, schema=schema)
