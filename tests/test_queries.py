"""Driver-replica oracle sweep: mirrors the grading driver's compare
EXACTLY (the round-3 lesson — see VERDICT r3 "What's wrong").

The driver materializes the Spark result via ``toPandas()`` and the
DuckDB oracle via ``fetchdf()``, pandas-canonicalizes both (columns
sorted by name, ``sort_values`` over all columns, per-cell string
canon), and compares an exact value hash. That path has two traps the
old ``fetchall()``-based harness could not see:

* **dtype divergence**: DuckDB widens integer ``sum()`` to HUGEINT,
  which ``fetchdf`` renders as float64 — ``27345.0`` vs Spark's
  bigint ``27345`` breaks the exact hash even though the values are
  equal (3 red rows in CORRECTNESS_r03). We therefore assert the
  dtype *kind* of every column matches between the two frames.
* **unhashable cells**: a raw ``array<double>`` column makes pandas
  ``sort_values`` raise ``TypeError: unhashable type: 'list'``
  (the media_features red row). We reject list/dict/ndarray cells
  with a named error before they reach the canonicalizer.

Every query in the registry — oracled or rows-only — goes through the
same canonicalization the driver applies, so nothing can enter
``MANIFEST`` unverified again.
"""

import math

import duckdb
import numpy as np
import pandas as pd
import pytest

from westa_ocr_spark.registry import QUERIES

SF_DIR = "/root/testdata/sf0.001"
TABLES = [
    "region", "nation", "customer", "supplier", "part", "orders",
    "lineitem", "events", "documents", "embeddings",
]

_UNHASHABLE = (list, dict, set, np.ndarray)


@pytest.fixture(scope="module")
def ducks():
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM "
            f"read_parquet('{SF_DIR}/{t}.parquet')"
        )
    return con


def _kind(dtype) -> str:
    """Collapse a pandas dtype to the equivalence class the driver's
    per-cell canon distinguishes: float formats as %.6f, everything
    else as str — so int-vs-float is a real mismatch, int64-vs-int32
    is not."""
    try:
        k = dtype.kind
    except AttributeError:
        k = "O"
    if k in "iu":
        return "int"
    if k == "f":
        return "float"
    if k == "b":
        return "bool"
    if k == "M":
        return "datetime"
    return "object"


def _reject_unhashable(pdf: pd.DataFrame, name: str, side: str) -> None:
    for c in pdf.columns:
        if pdf[c].dtype == object:
            for v in pdf[c]:
                if isinstance(v, _UNHASHABLE):
                    raise AssertionError(
                        f"{name}: {side} column {c!r} holds "
                        f"{type(v).__name__} cells — the driver's pandas "
                        "canonicalizer cannot sort/hash these "
                        "(CORRECTNESS_r03 media_features failure). "
                        "Project to a hashable form (join/format) first."
                    )


def _cell(v):
    if v is None:
        return "<null>"
    if isinstance(v, float):
        if math.isnan(v):
            return "<null>"
        return f"{round(v, 6):.6f}"
    if isinstance(v, (np.floating,)):
        f = float(v)
        if math.isnan(f):
            return "<null>"
        return f"{round(f, 6):.6f}"
    if isinstance(v, (bool, np.bool_)):
        return str(bool(v)).lower()
    if isinstance(v, np.integer):
        return str(int(v))
    if isinstance(v, pd.Timestamp):
        return v.isoformat()
    return str(v)


def _canon(pdf: pd.DataFrame, name: str, side: str):
    """Driver-replica canonicalization: sorted column order, per-cell
    canon, sorted row tuples. NaN/None collapse to the same token
    (pandas renders SQL NULLs as NaN in float columns)."""
    _reject_unhashable(pdf, name, side)
    cols = sorted(pdf.columns)
    rows = [
        tuple(_cell(row[c]) for c in cols)
        for _, row in pdf.iterrows()
    ]
    rows.sort()
    return cols, rows


ORACLED = [(n, fn, sql) for n, (fn, sql) in QUERIES.items() if sql]
ROWS_ONLY = [(n, fn) for n, (fn, sql) in QUERIES.items() if sql is None]


@pytest.mark.parametrize("name,fn,sql", ORACLED, ids=[n for n, *_ in ORACLED])
def test_oracle_parity(spark, ducks, name, fn, sql):
    spdf = fn(spark, SF_DIR).toPandas()
    dpdf = ducks.execute(sql).fetchdf()

    assert sorted(spdf.columns) == sorted(dpdf.columns), (
        f"{name}: column mismatch {list(spdf.columns)} vs "
        f"{list(dpdf.columns)}"
    )
    # dtype-kind parity: the HUGEINT->float64 trap. Exception: a
    # nullable Spark int column arrives as float64 in toPandas, so a
    # float-vs-int pair is only legal when the FLOAT side holds NaN
    # (i.e. the widening came from nulls, not from DuckDB HUGEINT).
    for c in sorted(spdf.columns):
        sk, dk = _kind(spdf[c].dtype), _kind(dpdf[c].dtype)
        if sk != dk:
            pair = {sk, dk}
            floaty = spdf[c] if sk == "float" else dpdf[c]
            if pair == {"int", "float"} and floaty.isna().any():
                continue
            raise AssertionError(
                f"{name}: dtype-kind mismatch on {c!r}: spark={sk}"
                f"({spdf[c].dtype}) duckdb={dk}({dpdf[c].dtype}) — "
                "integer sums in DuckDB twins must be CAST(... AS "
                "BIGINT) (HUGEINT renders as float64 and breaks the "
                "driver's exact hash; CORRECTNESS_r03)."
            )

    s_cols, s_rows = _canon(spdf, name, "spark")
    d_cols, d_rows = _canon(dpdf, name, "duckdb")
    assert len(s_rows) == len(d_rows), (
        f"{name}: row count {len(s_rows)} vs {len(d_rows)}"
    )
    if s_rows != d_rows:
        diffs = [(a, b) for a, b in zip(s_rows, d_rows) if a != b][:5]
        raise AssertionError(
            f"{name}: value mismatch, first diffs: {diffs}"
        )


@pytest.mark.parametrize("name,fn", ROWS_ONLY, ids=[n for n, _ in ROWS_ONLY])
def test_rows_only_queries_run(spark, name, fn):
    """Rows-only queries still pass through the driver's pandas
    canonicalizer (row-count check), so they must be canonicalizable
    too — media_features errored in r3 without ever having an
    oracle."""
    pdf = fn(spark, SF_DIR).toPandas()
    assert len(pdf.columns) > 0
    _canon(pdf, name, "spark")


def test_scratch_dir_is_removed_by_its_exit_hook(monkeypatch):
    """A query's scratch directory outlives the query (the lazy frame
    it returns still reads the directory) and is removed by the hook
    the helper registers for interpreter exit."""
    import atexit
    import os

    from westa_ocr_spark.queries.common import _scratch_dir

    hooks = []
    monkeypatch.setattr(atexit, "register",
                        lambda fn, *args, **kw: hooks.append((fn, args, kw)))
    path = _scratch_dir("westa_q_test_")
    with open(os.path.join(path, "part"), "w") as fh:
        fh.write("x")
    assert os.path.basename(path).startswith("westa_q_test_")
    assert len(hooks) == 1
    fn, args, kw = hooks[0]
    fn(*args, **kw)
    assert not os.path.exists(path)
