"""Measurement helpers: process-tree RSS, call spans, Spark event logs.

Nothing here changes the package under test. Spans come from wrapping
public module attributes for the duration of a traced window; stage
metrics come from the event log Spark writes when the benchmark
enables it through ``PYSPARK_SUBMIT_ARGS``.
"""

from __future__ import annotations

import json
import os
import statistics
import threading
import time
from collections import defaultdict

_PAGE = os.sysconf("SC_PAGE_SIZE")
_TICKS = os.sysconf("SC_CLK_TCK")


def _stat_fields(pid: str) -> list[str] | None:
    try:
        with open(f"/proc/{pid}/stat", encoding="ascii", errors="replace") as fh:
            raw = fh.read()
    except OSError:  # the process exited between listdir and open
        return None
    # fields after "(comm)"; comm may itself hold spaces or parentheses
    return raw[raw.rfind(")") + 2:].split()


def _parents() -> dict[int, int]:
    """pid -> parent pid for every live process."""
    parent = {}
    for name in os.listdir("/proc"):
        if name.isdigit():
            fields = _stat_fields(name)
            if fields is not None:
                parent[int(name)] = int(fields[1])  # stat field 4, ppid
    return parent


def descendants(root: int) -> list[int]:
    """Every live process below ``root``."""
    children: dict[int, list[int]] = defaultdict(list)
    for pid, ppid in _parents().items():
        children[ppid].append(pid)
    found, todo = [], [root]
    while todo:
        kids = children.get(todo.pop(), [])
        found += kids
        todo += kids
    return found


def tree_cpu_s(root: int) -> float:
    """CPU seconds (user + system) used so far by ``root`` and every
    live process below it, each with its reaped children's, so a Python
    worker that exits still counts through the process that waited for
    it. Time the hypervisor stole from the guest is not in these
    counters."""
    ticks = 0
    for pid in [root] + descendants(root):
        fields = _stat_fields(str(pid))
        if fields is not None:
            # stat fields 14-17: utime, stime, cutime, cstime
            ticks += sum(int(f) for f in fields[11:15])
    return ticks / _TICKS


def _peak_rss_bytes(pid: int) -> int:
    """The kernel's resident-set high-water mark of one process."""
    try:
        with open(f"/proc/{pid}/status", encoding="ascii") as fh:
            for line in fh:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1]) * 1024
    except OSError:  # the process exited
        pass
    return 0


class RssSampler:
    """Peak resident memory of this process tree: the driver Python, the
    Spark JVM it launched and the JVM's Python workers.

    A thread reads each process's own high-water mark every
    ``interval_s``; the result is their sum, so a short spike counts
    whether or not a sample lands on it. A process must be seen by two
    samples to count: a child the JVM forks to run a command shows the
    JVM's pages until it execs.
    """

    def __init__(self, interval_s: float = 0.2) -> None:
        self.interval_s = interval_s
        self.last: dict[int, int] = {}
        self.seen: dict[int, int] = defaultdict(int)
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def _sample(self) -> None:
        me = os.getpid()
        for pid in [me] + descendants(me):
            hwm = _peak_rss_bytes(pid)
            if hwm:
                self.last[pid] = hwm
                self.seen[pid] += 1

    def _loop(self) -> None:
        while not self._stop.is_set():
            self._sample()
            self._stop.wait(self.interval_s)

    @property
    def peak_bytes(self) -> int:
        return sum(b for pid, b in self.last.items() if self.seen[pid] > 1)

    def breakdown(self) -> str:
        """Counted peaks in MB, largest first, for the progress log."""
        peaks = sorted((b for pid, b in self.last.items()
                        if self.seen[pid] > 1), reverse=True)
        return " ".join(f"{b / 2**20:.0f}" for b in peaks)

    def __enter__(self) -> RssSampler:
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join()
        self._sample()


class Tracer:
    """Records a span around each call of the wrapped attributes.

    Spans are ``(name, start, end, parent)`` tuples kept in memory; the
    parent is the index of the enclosing span on the same thread.
    """

    def __init__(self) -> None:
        self.spans: list[list] = []
        self._local = threading.local()
        self._restore: list = []

    def _stack(self) -> list[int]:
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    def traced(self, fn, name: str):
        """``fn`` with a span recorded around each call."""
        def call(*args, **kwargs):
            stack = self._stack()
            span = [name, time.perf_counter(), None,
                    stack[-1] if stack else None]
            self.spans.append(span)
            stack.append(len(self.spans) - 1)
            try:
                return fn(*args, **kwargs)
            finally:
                stack.pop()
                span[2] = time.perf_counter()

        return call

    def wrap(self, owner: object, attr: str, name: str) -> None:
        orig = getattr(owner, attr)
        setattr(owner, attr, self.traced(orig, name))
        self._restore.append(lambda: setattr(owner, attr, orig))

    def wrap_query(self, queries: dict, key: str, name: str) -> None:
        """Span the DataFrame-building function of a registry entry."""
        orig = queries[key]
        queries[key] = (self.traced(orig[0], name),) + tuple(orig[1:])
        self._restore.append(lambda: queries.__setitem__(key, orig))

    def unwrap_all(self) -> None:
        for restore in reversed(self._restore):
            restore()
        self._restore.clear()

    def total_s(self, name: str, since: int = 0) -> float:
        return sum(s[2] - s[1] for s in self.spans[since:]
                   if s[0] == name and s[2] is not None)

    def dump(self, path: str) -> None:
        with open(path, "w", encoding="utf-8") as fh:
            json.dump(self.spans, fh)


def wrap_package(tracer: Tracer) -> None:
    """Span every public call the extraction pipeline makes into the
    layers below it, and each registry query's DataFrame construction,
    as seen from the driver process."""
    from westa_ocr_spark import registry
    from westa_ocr_spark.plans import pipeline
    from westa_ocr_spark.sources import tables

    for attr in ("extract_pages", "skew_split", "resume_filter",
                 "build_manifest", "committed_for_run"):
        tracer.wrap(pipeline, attr, f"plans.pipeline.{attr}")
    for attr in ("exists", "read", "merge_upsert", "compact", "append",
                 "overwrite"):
        tracer.wrap(tables.ParquetTable, attr,
                    f"sources.tables.ParquetTable.{attr}")
    for key in list(registry.QUERIES):
        tracer.wrap_query(registry.QUERIES, key, f"registry.QUERIES.{key}")


# ---------------------------------------------------------------- event log

def _ms(v) -> float:
    return v / 1000.0


def read_event_log(log_dir: str) -> dict[str, dict]:
    """Per job group: Spark job count, summed task metrics and the
    task-duration profile of its ``MapInPandas`` (extract) stages."""
    files = [os.path.join(log_dir, f) for f in os.listdir(log_dir)]
    stage_group: dict[int, str] = {}
    groups: dict[str, dict] = defaultdict(lambda: {
        "spark_jobs": 0, "tasks": 0, "executor_run_s": 0.0,
        "executor_cpu_s": 0.0, "gc_s": 0.0, "shuffle_bytes": 0,
        "spill_bytes": 0, "extract_tasks": 0, "extract_task_s": [],
    })
    extract_stages: set[int] = set()
    task_ends = []
    for path in files:
        with open(path, encoding="utf-8") as fh:
            for line in fh:
                ev = json.loads(line)
                kind = ev["Event"]
                if kind == "SparkListenerJobStart":
                    group = (ev.get("Properties") or {}).get(
                        "spark.jobGroup.id")
                    if group is None:
                        continue
                    groups[group]["spark_jobs"] += 1
                    for sid in ev["Stage IDs"]:
                        stage_group[sid] = group
                elif kind == "SparkListenerStageCompleted":
                    info = ev["Stage Info"]
                    if any('"MapInPandas"' in (r.get("Scope") or "")
                           for r in info["RDD Info"]):
                        extract_stages.add(info["Stage ID"])
                elif kind == "SparkListenerTaskEnd":
                    task_ends.append(ev)
    for ev in task_ends:
        group = stage_group.get(ev["Stage ID"])
        metrics = ev.get("Task Metrics")
        if group is None or metrics is None:
            continue
        g = groups[group]
        g["tasks"] += 1
        g["executor_run_s"] += _ms(metrics["Executor Run Time"])
        g["executor_cpu_s"] += metrics["Executor CPU Time"] / 1e9
        g["gc_s"] += _ms(metrics["JVM GC Time"])
        g["shuffle_bytes"] += (
            metrics["Shuffle Write Metrics"]["Shuffle Bytes Written"]
            + metrics["Shuffle Read Metrics"]["Local Bytes Read"]
            + metrics["Shuffle Read Metrics"]["Remote Bytes Read"]
        )
        g["spill_bytes"] += metrics["Disk Bytes Spilled"]
        if ev["Stage ID"] in extract_stages:
            info = ev["Task Info"]
            g["extract_tasks"] += 1
            g["extract_task_s"].append(
                _ms(info["Finish Time"] - info["Launch Time"]))
    for g in groups.values():
        durs = g.pop("extract_task_s")
        g["extract_task_skew"] = (
            max(durs) / statistics.median(durs)
            if durs and statistics.median(durs) > 0 else 0.0
        )
    return dict(groups)


# ------------------------------------------------------- in-process layers

def _dialect(i: int, seed: int) -> str:
    from westa_ocr_spark.corpus import charset_for

    codec = charset_for(i, seed)[2]
    if codec == "utf-8":
        return "utf8"
    if codec == "cp1252":
        return "legacy_8bit"
    if codec == "utf-16-le":
        return "utf16"
    return "cjk"


def doc_class(i: int, seed: int) -> str:
    """Kernel cost class of corpus row ``i``: an HTML dialect, pdf,
    oversized or error."""
    from westa_ocr_spark.corpus import kind_for

    kind = kind_for(i)
    if kind == "html":
        return f"html.{_dialect(i, seed)}"
    return {"malformed": "error"}.get(kind, kind)


def kernel_profile(rows: list[tuple[int, str, bytes]], seed: int,
                   batch_rows: int) -> dict:
    """Single-core time of the kernel calls the extract UDF makes, per
    document class, plus the Arrow/pandas boundary around them for
    Arrow batches of ``batch_rows``.

    ``rows`` are ``(corpus index, url, html)`` in batch order.
    """
    import pandas as pd
    import pyarrow as pa
    from pyspark.sql.pandas.types import to_arrow_schema

    from westa_ocr_spark.kernel.html_extract import extract_html
    from westa_ocr_spark.kernel.pdf_mini import extract_pdf_pages
    from westa_ocr_spark.operators.extract import (
        EXTRACTED_SCHEMA,
        extract_rows,
    )

    # the first pass pays lazy imports and table set-up; time the second
    for _ in range(2):
        per: dict[str, list[float]] = defaultdict(lambda: [0, 0.0, 0])
        for i, url, data in rows:
            cls = doc_class(i, seed)
            t0 = time.perf_counter()
            if cls == "pdf":
                extract_pdf_pages(data)
            elif cls == "error":
                extract_rows(url, data)
            else:
                extract_html(data)
            acc = per[cls]
            acc[0] += 1
            acc[1] += time.perf_counter() - t0
            acc[2] += len(data)

    cols = [f.name for f in EXTRACTED_SCHEMA.fields]
    out_schema = to_arrow_schema(EXTRACTED_SCHEMA)
    a2p = frame = p2a = 0.0
    for k in range(0, len(rows), batch_rows):
        chunk = rows[k:k + batch_rows]
        batch = pa.RecordBatch.from_pydict({
            "url": [r[1] for r in chunk],
            "html": pa.array([r[2] for r in chunk], pa.binary()),
        })
        t0 = time.perf_counter()
        pdf = batch.to_pandas()
        t1 = time.perf_counter()
        out = []
        for url, data in zip(pdf["url"], pdf["html"]):
            out.extend(extract_rows(url, data))
        t2 = time.perf_counter()
        frame_df = pd.DataFrame({c: [r[c] for r in out] for c in cols})
        t3 = time.perf_counter()
        pa.Table.from_pandas(frame_df, schema=out_schema,
                             preserve_index=False)
        t4 = time.perf_counter()
        a2p += t1 - t0
        frame += t3 - t2
        p2a += t4 - t3
    return {"classes": {c: tuple(v) for c, v in per.items()},
            "arrow_to_pandas_s": a2p, "frame_build_s": frame,
            "pandas_to_arrow_s": p2a, "docs": len(rows)}
