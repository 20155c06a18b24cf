"""Seeded benchmark inputs: pages corpora written as parquet directories.

Every input is a list of corpus row indices rendered with
``westa_ocr_spark.corpus.make_row(i, seed)``, so the same seed always
gives the same bytes. Generation runs in child processes
(``python3 inputs.py <seed>`` with its list of ``[part path, indices]``
as JSON on stdin) before Spark starts, outside every timer, and the
result is cached by (``CORPUS_VERSION``, name, row count, rows digest,
seed). Each part has a ``_bytes-<k>.json`` sidecar with the payload size
of its rows. The program under test only ever receives the parquet
paths.
"""

from __future__ import annotations

import hashlib
import json
import os
import random
import shutil
import subprocess
import sys


def _write_part(path: str, indices: list[int], seed: int) -> None:
    import pyarrow as pa
    import pyarrow.parquet as pq

    from westa_ocr_spark.corpus import make_row

    schema = pa.schema([
        pa.field("url", pa.string()),
        pa.field("warc_ts", pa.timestamp("us", tz="UTC")),
        pa.field("html", pa.binary()),
        pa.field("text", pa.string()),
        pa.field("lang", pa.string()),
    ])
    rows = [make_row(i, seed) for i in indices]
    pq.write_table(pa.Table.from_pylist(rows, schema=schema), path)
    # payload bytes per row, for the benchmark's byte ratios; Spark
    # skips files whose names start with "_"
    head, tail = os.path.split(path)
    sidecar = os.path.join(head, "_bytes-" + tail.split("-", 1)[1])
    with open(sidecar.replace(".parquet", ".json"), "w",
              encoding="utf-8") as fh:
        json.dump([len(r["html"]) for r in rows], fh)


def _chunks(indices: list[int], parts: int) -> list[list[int]]:
    step = -(-len(indices) // parts)
    return [indices[k:k + step] for k in range(0, len(indices), step)]


def write_inputs(cache_dir: str, inputs: list[tuple[str, list[int], int]],
                 seed: int, procs: int) -> list[str]:
    """Materialize each ``(name, indices, parts)`` as a ``parts``-file
    pages parquet directory and return the directories.

    Part ``k`` holds a contiguous slice of ``indices`` in order, so
    reading the parts sorted by name yields the rows in list order.
    Cached directories are reused; the missing ones are written by at
    most ``procs`` child processes.
    """
    from westa_ocr_spark.corpus import CORPUS_VERSION

    paths, renames, jobs = [], [], []
    for name, indices, parts in inputs:
        # the digest keys the exact rows, so resized workloads never
        # reuse a stale directory of the same length
        digest = hashlib.sha1(json.dumps([indices, parts]).encode())
        path = os.path.join(
            cache_dir, f"{name}_v{CORPUS_VERSION}_n{len(indices)}"
            f"_{digest.hexdigest()[:10]}_s{seed}")
        paths.append(path)
        if os.path.isdir(path):
            continue
        tmp = f"{path}.tmp{os.getpid()}"
        shutil.rmtree(tmp, ignore_errors=True)
        os.makedirs(tmp)
        renames.append((tmp, path))
        jobs += [(os.path.join(tmp, f"part-{k:05d}.parquet"), chunk)
                 for k, chunk in enumerate(_chunks(indices, parts))]
    if jobs:
        children = []
        for slot in range(min(procs, len(jobs))):
            child = subprocess.Popen(
                [sys.executable, os.path.abspath(__file__), str(seed)],
                stdin=subprocess.PIPE, text=True)
            child.stdin.write(json.dumps(jobs[slot::procs]))
            child.stdin.close()
            children.append(child)
        codes = [child.wait() for child in children]
        if any(codes):
            raise RuntimeError(f"input generation failed: exit codes {codes}")
    for tmp, path in renames:
        os.rename(tmp, path)
    return paths


def delta_indices(first_new: int, n_new: int, n_resent: int,
                  committed: int, seed: int, k: int) -> list[int]:
    """Delta ``k``: ``n_new`` fresh corpus rows starting at ``first_new``
    plus ``n_resent`` rows drawn from the ``committed`` rows before it
    (re-sent urls the resume anti-join must skip)."""
    rng = random.Random(seed * 1_000_003 + k)
    resent = rng.sample(range(committed), n_resent)
    return list(range(first_new, first_new + n_new)) + sorted(resent)


if __name__ == "__main__":
    for part_path, part_indices in json.load(sys.stdin):
        _write_part(part_path, part_indices, int(sys.argv[1]))
