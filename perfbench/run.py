"""Benchmark of the extraction pipeline (``operators.pipeline.run_batch``).

    python3 perfbench/run.py --workload html_filings --seed 1 --seconds 15 --trace 0

Builds the workload's pages table from ``generate_corpus`` (untimed), starts
the program's session at local[nproc], warms up with one cold run, then
times ``run_batch`` until ``--seconds`` of timed calls have passed and checks
every timed call's output against the core path.  ``--trace 1`` instead
times each layer's public functions (Spark phases, with task metrics from
the event log) and the ``core`` kernel layers in-process.  The last stdout line is the
JSON result; the line before it records host context.  See README.md.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

WORKLOADS = ("html_filings", "text_filings", "resume_mirrors")
CHECK_SAMPLE = 24       # urls whose markdown/spans are compared byte for byte
TRACE_SAMPLE = 300      # rows of the in-process kernel trace
JVM_HEAP = "2g"         # fixed JVM heap (the program's default maximum is 8g)

END_TO_END = {
    "docs_per_s": "docs/s",
    "setup_s": "s",
    "cpu_s_per_kdoc": "s",
    "peak_rss_mb": "MB",
    "out_bytes_per_in_byte": "ratio",
}


def per_layer_units() -> dict[str, str]:
    from kernel import LAYERS

    units = {
        "sources.scan_s": "s", "sources.in_mb": "MB",
        "extract.stage_s": "s", "extract.tasks": "count",
        "extract.task_s_sum": "s", "extract.task_skew": "ratio",
        "extract.slot_busy": "ratio", "extract.kernel_share": "ratio",
        "checkpoint.write_s": "s", "checkpoint.write_versioned_s": "s",
        "checkpoint.sink_mb": "MB", "checkpoint.lineage_rows": "count",
        "checkpoint.pending_s": "s", "checkpoint.pending_versioned_s": "s",
        "checkpoint.pending_ratio": "ratio",
        "pipeline.dedup_s": "s", "pipeline.dedup_keep_ratio": "ratio",
        "consistency.finalize_s": "s", "consistency.shuffle_mb": "MB",
        "core.kernel_us_per_doc": "us", "core.trace_overhead": "ratio",
        "core.document.self_us_per_doc": "us",
        "core.tables.text_retry_ratio": "ratio",
        "core.segment.sections_per_doc": "count",
    }
    for layer in LAYERS:
        units[f"core.{layer}.self_us_per_doc"] = "us"
        units[f"core.{layer}.calls_per_doc"] = "count"
    return units


def parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def _environment(work: str) -> None:
    """Workers import the program from the checkout; scratch stays in it."""
    sys.path.insert(0, ROOT)
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["PYSPARK_DRIVER_PYTHON"] = sys.executable
    os.environ["SPARK_LOCAL_DIRS"] = f"{work}/local"
    os.environ["TMPDIR"] = f"{work}/tmp"
    os.makedirs(f"{work}/tmp", exist_ok=True)


def _log(t_top: float, what: str) -> None:
    print(f"perfbench {time.perf_counter() - t_top:7.1f}s {what}", file=sys.stderr, flush=True)


def _metrics(values: dict, units: dict) -> dict:
    return {k: {"value": values[k], "unit": units[k]} for k in units}


def _timed_runs(b, seconds: float, t_top: float) -> tuple[list, list]:
    """Call run_batch until ``seconds`` of timed calls have passed; returns
    the output dirs and (wall s, tree CPU s, peak RSS MB) per call."""
    import procs

    sampler = procs.TreeSampler()
    outs, reps = [], []
    while sum(r[0] for r in reps) < seconds:
        pages, out = b.prepare()
        sampler.start()
        t = time.perf_counter()
        b.run(pages, out)
        dt = time.perf_counter() - t
        cpu, rss = sampler.stop()
        outs.append(out)
        reps.append((dt, cpu, rss))
        _log(t_top, f"timed run {dt:.2f}s")
    return outs, reps


def run(args, age0: float, t_top: float, work: str) -> tuple[dict, int]:
    import random

    import check
    import inputs
    import kernel
    import procs
    from sparkside import Batch, Phases, start_session, stop_session

    cores = len(os.sched_getaffinity(0))
    t0 = time.perf_counter()
    w = inputs.make_workload(args.workload, args.seed)
    inputs.write_parquet(w.rows, f"{work}/pages")
    expected = inputs.expected_urls(w)
    sample = set(random.Random(f"check:{args.seed}").sample(sorted(expected), CHECK_SAMPLE))
    host = {"before": procs.host_context(cores)}
    excluded = time.perf_counter() - t0  # input generation + host control
    _log(t_top, "inputs written")

    eventlog = f"{work}/eventlog" if args.trace else None
    spark = start_session(cores, work, JVM_HEAP, eventlog)
    try:
        _log(t_top, "session up")
        b = Batch(spark, w, work)
        b.warm_up()
        setup_s = age0 + (time.perf_counter() - t_top) - excluded
        _log(t_top, "warmed up")
        if args.trace:
            pages, out = b.prepare()
            b.run(pages, out)
            outs, reps = [out], []
            phases = Phases(spark, b, cores)
            layer = phases.run(out)
        else:
            outs, reps = _timed_runs(b, args.seconds, t_top)
        got = [b.readback(o, sample) for o in outs]
    finally:
        stop_session(spark)
    _log(t_top, "session stopped")

    n_rows = len(w.rows)
    ref = kernel.reference(w.rows, sample, inputs.RUN_TS, cores)
    attempted, failed, correct = check.tally(expected, ref, got, n_rows)
    _log(t_top, "output checked")
    if args.trace:
        layer.update(phases.metrics(eventlog))
        layer["extract.kernel_share"] = (
            sum(dt for _, dt, _ in ref.values()) / layer["extract.task_s_sum"])
        trace_rows = random.Random(f"trace:{args.seed}").sample(w.rows, TRACE_SAMPLE)
        core, differ = kernel.trace(trace_rows, inputs.RUN_TS)
        layer.update(core)
        attempted += len(trace_rows)
        if differ:
            print(f"check failed: {differ} traced kernel results differ", file=sys.stderr)
            correct = False
            failed += len(trace_rows)
        metrics = _metrics(layer, per_layer_units())
    else:
        kdocs = n_rows / 1000
        e2e = {
            "docs_per_s": statistics.median(n_rows / dt for dt, _, _ in reps),
            "setup_s": setup_s,
            "cpu_s_per_kdoc": statistics.median(cpu / kdocs for _, cpu, _ in reps),
            "peak_rss_mb": statistics.median(rss for _, _, rss in reps),
            "out_bytes_per_in_byte":
                statistics.median(g["sink_bytes"] for g in got) / w.in_bytes,
        }
        metrics = _metrics(e2e, END_TO_END)
    host["after"] = procs.host_context(cores)
    print(json.dumps({"host": host, "timed_runs": len(reps), "rows": n_rows}))
    result = {"correct": correct, "attempted": attempted, "failed": failed,
              "metrics": metrics}
    return result, 0 if correct else 1


def main(argv=None) -> int:
    import procs

    age0 = procs.process_age_s()
    t_top = time.perf_counter()
    args = parse_args(argv)
    if not os.path.isfile(os.path.join(ROOT, "pdf_parser_spark", "__init__.py")):
        print(f"perfbench: the program (pdf_parser_spark) is not in {ROOT}",
              file=sys.stderr)
        return 2
    work = os.path.join(ROOT, ".perfbench_work", f"{args.workload}-{args.seed}-{os.getpid()}")
    _environment(work)
    try:
        result, code = run(args, age0, t_top, work)
    finally:
        procs.stop_resource_tracker()
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(work))
        except OSError:  # another run still uses it
            pass
    print(json.dumps(result))
    return code


if __name__ == "__main__":
    sys.exit(main())
