#!/usr/bin/env python3
"""Benchmark of the westa_ocr_spark extraction pipeline.

    python3 perfbench/run.py --workload fresh_extract --seed 1 \
        --seconds 5 --trace 0

Run from the repository root. It generates the seeded inputs, sets up
Spark on ``local[<nproc>]``, runs the workload as a closed loop of jobs
for ``--seconds``, checks the outputs and prints one JSON result as the
last line of stdout. ``--trace 0`` reports the end-to-end metrics;
``--trace 1`` runs the window with spans and the Spark event log on,
adds single-layer probes after it (on ``fresh_extract`` also one pass
over the registry's headline queries) and reports the per-layer
metrics named in ``BENCHMARK.json``. All scratch output goes under
``.perfbench/``.
"""

from __future__ import annotations

import argparse
import json
import math
import os
import shlex
import shutil
import signal
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".perfbench")
WORKLOADS = ("fresh_extract", "incremental_merge")
HARD_LIMIT_S = 170  # the result must be printed well inside 180 s
# the traced registry query pass issues no query after this many
# seconds of the run, leaving time for the checks and the report
QUERY_DEADLINE_S = 120
DRIVER_MEMORY = "1g"

sys.path.insert(0, HERE)

import workloads as wl  # noqa: E402  (sibling module, path set above)


def _configure_environment(run_dir: str, trace: bool) -> str:
    """Point every scratch location of Python, the JVM and Spark inside
    the checkout; enable the event log on traced runs. Returns the
    event-log directory."""
    tmp = os.path.join(run_dir, "tmp")
    local = os.path.join(run_dir, "spark-local")
    events = os.path.join(run_dir, "eventlog")
    for d in (tmp, local, events):
        os.makedirs(d, exist_ok=True)
    conf = {
        "spark.sql.warehouse.dir": os.path.join(run_dir, "warehouse"),
        "spark.local.dir": local,
        "spark.ui.showConsoleProgress": "false",
    }
    if trace:
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": f"file://{events}",
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        })
    args = []
    for key, value in conf.items():
        args += ["--conf", f"{key}={value}"]
    args += ["--driver-java-options",
             f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData", "pyspark-shell"]
    os.environ["PYSPARK_SUBMIT_ARGS"] = shlex.join(args)
    # spark-class's own launcher JVM, which starts before the driver's
    os.environ["SPARK_LAUNCHER_OPTS"] = (
        f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData")
    os.environ["TMPDIR"] = tmp
    # the session's own knob; a 1 GiB heap keeps the JVM's resident set
    # from tracking its lazy growth towards the 12 GiB default (at 2 GiB
    # its peak still read 1.0-1.6 GB from run to run)
    os.environ["SPARK_DRIVER_MEMORY"] = DRIVER_MEMORY
    os.environ["SPARK_LOCAL_DIRS"] = local
    # Python workers import the package from the checkout
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    return events


def _stop_processes() -> None:
    """Shut the JVM gateway down and wait for every child process."""
    from pyspark import SparkContext

    from probes import descendants

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=20)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
    deadline = time.monotonic() + 10
    sig = signal.SIGTERM
    while (pids := descendants(os.getpid())):
        if time.monotonic() > deadline:
            sig = signal.SIGKILL
        for pid in pids:
            try:
                os.kill(pid, sig)
            except ProcessLookupError:
                pass
        for pid in pids:
            try:
                os.waitpid(pid, os.WNOHANG)
            except ChildProcessError:
                pass
        time.sleep(0.2)


def _inputs(workload: str, seed: int, procs: int, trace: bool) -> dict:
    import inputs
    import sfgen

    cache = os.path.join(WORK, "inputs")
    os.makedirs(cache, exist_ok=True)
    wanted = [("warm", list(range(wl.WARM_DOCS)), 4)]
    if workload == "fresh_extract":
        new = [list(range(wl.FRESH_DOCS))]
        wanted.append(("fresh", new[0], wl.FRESH_PARTS))
    else:
        new = []
        for k in range(wl.DELTAS):
            first = wl.WARM_DOCS + k * wl.DELTA_NEW
            idx = inputs.delta_indices(first, wl.DELTA_NEW, wl.DELTA_RESENT,
                                       first, seed, k)
            wanted.append((f"delta{k}", idx, 4))
            new.append(idx[:wl.DELTA_NEW])
    paths = inputs.write_inputs(cache, wanted, seed, procs)
    spec = {"warm": paths[0], "new_indices": new}
    if workload == "fresh_extract":
        spec["pages"] = paths[1]
        spec["input_bytes"] = wl.input_bytes(spec["pages"])
        if trace:
            spec["tables"] = sfgen.write_tables(cache, wl.DATA_SEED)
    else:
        spec["deltas"] = paths[1:]
        spec["new_bytes"] = sum(wl.input_bytes(p, wl.DELTA_NEW)
                                for p in spec["deltas"])
        spec["input_bytes"] = wl.input_bytes(spec["warm"]) + spec["new_bytes"]
    return spec


def _op_rates(workload: str, ops, cpu: bool) -> tuple[float, float]:
    """(seconds per job, items per second) of a window, in process-tree
    CPU seconds when ``cpu`` is set, else in wall seconds.

    fresh_extract: median over jobs, docs per second of that median.
    incremental_merge: median over sequences, each taken whole, so its
    compaction counts whichever delta run it falls on; seconds per delta
    run and new docs per second.
    """
    per_op = statistics.median(
        sum(op.run_cpu if cpu else op.run_seconds) for op in ops)
    if workload == "fresh_extract":
        return per_op, wl.FRESH_DOCS / per_op
    return per_op / wl.DELTAS, wl.DELTAS * wl.DELTA_NEW / per_op


def _end_to_end(workload: str, bench, ops, peak_rss: int) -> dict:
    cpu_op, items = _op_rates(workload, ops, cpu=True)
    return {
        "setup_s": {"value": bench.setup_cpu_s, "unit": "s"},
        "peak_rss_mb": {"value": peak_rss / 2**20, "unit": "MB"},
        "cpu_s_per_op": {"value": cpu_op, "unit": "s"},
        "items_per_cpu_s": {"value": items, "unit": "1/s"},
    }


def _kernel_rows(spec: dict, workload: str) -> list[tuple[int, str, bytes]]:
    """(index, url, html) of the profile sample, in corpus order."""
    import pyarrow.parquet as pq

    paths = [spec["pages"]] if workload == "fresh_extract" else spec["deltas"]
    rows = []
    for path, idx in zip(paths, spec["new_indices"]):
        table = []
        for name in sorted(os.listdir(path)):
            if name.endswith(".parquet"):
                table += pq.read_table(os.path.join(path, name),
                                       columns=["url", "html"]).to_pylist()
        rows += [(i, r["url"], r["html"]) for i, r in zip(idx, table)]
    return rows[:wl.KERNEL_SAMPLE_DOCS]


def _per_layer_units() -> dict[str, str]:
    """Name -> unit of every per-layer metric, from BENCHMARK.json."""
    with open(os.path.join(ROOT, "BENCHMARK.json"), encoding="utf-8") as fh:
        return {m["name"]: m["unit"] for m in json.load(fh)["per_layer"]}


def _extract_layers(m: dict, workload: str, bench, spec: dict, traced,
                    variants: dict, events: dict, kern: dict) -> None:
    from probes import doc_class

    med = wl.median

    # L0 kernel, single core
    classes = kern["classes"]
    per_doc = {c: t / n for c, (n, t, _) in classes.items() if n}
    html = [v for c, v in classes.items() if c.startswith("html.")]
    html_n, html_t = sum(v[0] for v in html), sum(v[1] for v in html)
    html_b = sum(v[2] for v in html)
    kernel_t = sum(v[1] for v in classes.values())
    if html_t:
        m["kernel.html.docs_per_s_core"] = html_n / html_t
        m["kernel.html.mb_per_s_core"] = html_b / html_t / 1e6
    for name, (n, t, _) in classes.items():
        if n and t:
            m[f"kernel.{name}.docs_per_s_core"] = n / t
    if kernel_t:
        m["kernel.html_share"] = (
            html_t + classes.get("oversized", (0, 0.0, 0))[1]) / kernel_t

    # L1 the Arrow/pandas boundary of the extract UDF
    kdocs = kern["docs"] / 1000
    boundary_t = 0.0
    for part in ("arrow_to_pandas", "frame_build", "pandas_to_arrow"):
        m[f"operators.extract.{part}_s_per_kdoc"] = kern[f"{part}_s"] / kdocs
        boundary_t += kern[f"{part}_s"]
    m["operators.extract.boundary_share"] = boundary_t / (
        boundary_t + kernel_t)
    m.update(variants)

    # L2/L3 pipeline stages and Spark task metrics, per traced job
    results = [r for op in traced for r in op.results]
    for stage in wl.STAGES:
        m[f"plans.pipeline.{stage}_s"] = med(
            r.stages.get(stage, 0.0) for r in results)
    run_tags = [t for op in traced for t in op.tags]
    for key in wl.EVENT_METRICS + ("extract_tasks",):
        m[f"plans.pipeline.{key}"] = med(
            events.get(t, {}).get(key, 0) for t in run_tags)
    m["operators.partitioning.extract_task_skew"] = med(
        events.get(t, {}).get("extract_task_skew", 0.0) for t in run_tags)
    last = results[-1]
    m["plans.pipeline.error_doc_share"] = last.docs_error / last.docs_in

    # share of one job's extract_and_stage explained by kernel time on
    # the cores, the boundary, and the partitioned-write cost
    docs = spec["new_indices"][0]
    kernel_est = sum(per_doc.get(doc_class(i, bench.seed), 0.0)
                     for i in docs)
    boundary_est = len(docs) / 1000 * boundary_t / kdocs
    write_cost = (variants["plans.pipeline.stage_bucketed_s"]
                  - variants["operators.extract.noop_sink_s"])
    stage_s = m["plans.pipeline.extract_and_stage_s"]
    if stage_s:
        m["plans.pipeline.extract_attributed_share"] = (
            (kernel_est + boundary_est) / bench.cores + write_cost) / stage_s

    # sources.tables and resume, per traced op (job or delta sequence)
    def per_op(fn):
        return med(fn(op) for op in traced)

    def merged(op, key):
        return sum((r.merge_stats or {}).get(key, 0) for r in op.results)

    for key in ("files_rewritten", "files_pruned", "bytes_rewritten"):
        m[f"sources.tables.{key}"] = per_op(lambda op, k=key: merged(op, k))
    m["sources.tables.rewrite_amplification"] = per_op(
        lambda op: merged(op, "bytes_rewritten") / merged(op, "bytes_out")
        if merged(op, "bytes_out") else 0.0)
    m["sources.tables.compactions"] = per_op(
        lambda op: sum(r.compacted for r in op.results))
    for key in ("max_files_per_bucket", "sink_files"):
        m[f"sources.tables.{key}"] = per_op(lambda op, k=key: op.layout[k])
    m["sources.tables.read_recover_s"] = per_op(lambda op: op.read_recover_s)
    in_bytes = spec["input_bytes"]
    m["sources.tables.sink_bytes_per_input_byte"] = per_op(
        lambda op: op.layout["sink_bytes"] / in_bytes)
    if workload == "incremental_merge":
        m["sources.tables.rewrite_bytes_per_new_byte"] = per_op(
            lambda op: merged(op, "bytes_rewritten") / spec["new_bytes"])
        m["operators.resume.skipped_docs"] = per_op(
            lambda op: sum(wl.DELTA_NEW + wl.DELTA_RESENT - r.docs_processed
                           for r in op.results))


def _query_layers(m: dict, qops, events: dict) -> None:
    """Per-query seconds of the registry probe pass, their sum and
    geometric mean, and the pass's Spark jobs, shuffle and GC."""
    for op in qops:
        m[f"queries.{op.name}_s"] = op.seconds
    times = [op.seconds for op in qops]
    if times:
        m["queries.total_s"] = sum(times)
        m["queries.geomean_s"] = math.exp(
            sum(math.log(t) for t in times) / len(times))
    for key in ("spark_jobs", "shuffle_bytes", "gc_s"):
        m[f"queries.{key}"] = sum(events.get(op.tags[0], {}).get(key, 0)
                                  for op in qops)


def _on_alarm(signum, frame):
    raise TimeoutError(f"run exceeded {HARD_LIMIT_S} s")


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    if not os.path.isfile(os.path.join(ROOT, "westa_ocr_spark",
                                       "__init__.py")):
        print(f"perfbench: no westa_ocr_spark package under {ROOT}",
              file=sys.stderr)
        return 2
    signal.signal(signal.SIGALRM, _on_alarm)
    signal.alarm(HARD_LIMIT_S)
    sys.path.insert(0, ROOT)
    trace = bool(args.trace)
    workload = args.workload
    run_dir = os.path.join(WORK, "run")
    shutil.rmtree(run_dir, ignore_errors=True)
    events_dir = _configure_environment(run_dir, trace)
    cores = len(os.sched_getaffinity(0))

    # inputs first, in their own processes, before any timer or JVM
    t_start = time.perf_counter()
    spec = _inputs(workload, args.seed, cores, trace)
    wl.log(f"inputs ready after {time.perf_counter() - t_start:.2f} s")

    from probes import RssSampler, Tracer, kernel_profile, read_event_log
    from probes import wrap_package

    bench = wl.Bench(run_dir, args.seed, cores)
    if workload == "fresh_extract":
        def warm_up():
            bench.fresh_warm_up(spec["pages"])

        def window(tag):
            return bench.fresh_window(spec["pages"], args.seconds, tag)
    else:
        def warm_up():
            bench.incremental_warm_up(spec["deltas"])

        def window(tag):
            return bench.incremental_window(spec["deltas"], args.seconds, tag)

    ops, qops, variants = [], [], {}
    try:
        # peak memory covers set-up and the window, not the checks
        with RssSampler() as rss:
            bench.setup(spec["warm"])
            warm_up()
            if trace:
                bench.tracer = Tracer()
                wrap_package(bench.tracer)
            ops = window("t" if trace else "u")
        wl.log(f"peak rss per process (MB): {rss.breakdown()}")
        wl.log(f"window done after {time.perf_counter() - t_start:.2f} s")
        if trace and ops:
            first_input = (spec["pages"] if workload == "fresh_extract"
                           else spec["deltas"][0])
            variants = bench.stage_variants(first_input)
            if workload == "fresh_extract":
                qops = bench.query_pass(spec["tables"], "q",
                                        t_start + QUERY_DEADLINE_S)
            bench.tracer.unwrap_all()
        if ops and workload == "fresh_extract":
            bench.check_fresh_output(spec["pages"])
        if qops:
            import sfgen

            bench.check_registry_output(spec["tables"], sfgen.TABLES)
        bench.stop()
    finally:
        wl.log(f"stopping after {time.perf_counter() - t_start:.2f} s")
        _stop_processes()
        wl.log(f"stopped after {time.perf_counter() - t_start:.2f} s")
    if not ops:
        print("perfbench: no operation completed", file=sys.stderr)
        return 1

    if trace:
        from westa_ocr_spark.session import ARROW_BATCH_ROWS

        events = read_event_log(events_dir)
        units = _per_layer_units()
        m = {name: 0.0 for name in units}
        m["session.get_spark_s"] = bench.get_spark_s
        m["session.warm_s"] = bench.warm_s
        kern = kernel_profile(_kernel_rows(spec, workload), args.seed,
                              ARROW_BATCH_ROWS)
        _extract_layers(m, workload, bench, spec, ops, variants, events,
                        kern)
        _query_layers(m, qops, events)
        # cpu_s_per_op of this traced run, minus that of an untraced run
        # on the same seed, is the tracing overhead; op_s is its wall time
        m["trace.cpu_s_per_op"] = _op_rates(workload, ops, cpu=True)[0]
        m["trace.op_s"] = _op_rates(workload, ops, cpu=False)[0]
        unknown = set(m) - set(units)
        if unknown:
            raise KeyError(f"metrics missing from BENCHMARK.json: {unknown}")
        metrics = {name: {"value": value, "unit": units[name]}
                   for name, value in m.items()}
        bench.tracer.dump(os.path.join(run_dir, "spans.json"))
    else:
        metrics = _end_to_end(workload, bench, ops, rss.peak_bytes)
    signal.alarm(0)
    print(json.dumps({
        "correct": bench.failed == 0,
        "attempted": bench.attempted,
        "failed": bench.failed,
        "metrics": metrics,
    }), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
