"""Everything that talks to Spark: the session, timed ``run_batch``
repetitions, the readback used by the output check, and the traced run's
per-phase timings with task metrics from the Spark event log."""

from __future__ import annotations

import glob
import json
import os
import shutil
import statistics
import sys
import time

from inputs import RUN_TS, Workload

PHASE_TAG = "perfbench:"


def start_session(cores: int, work: str, heap: str,
                  eventlog_dir: str | None = None):
    """The program's own session (``session.get_spark``) at local[cores].
    The JVM heap is fixed at ``heap`` and touched up front, so peak RSS does
    not depend on when the collector grows the heap.  Scratch space goes
    under ``work``; the event log is enabled here, for the traced run only,
    through spark-submit arguments."""
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = heap
    java = f"-Xms{heap} -XX:+AlwaysPreTouch -XX:-UsePerfData -Djava.io.tmpdir={work}/tmp"
    args = [
        f"--driver-java-options '{java}'",
        "--conf spark.ui.showConsoleProgress=false",
    ]
    if eventlog_dir:
        os.makedirs(eventlog_dir, exist_ok=True)
        args += [
            "--conf spark.eventLog.enabled=true",
            f"--conf spark.eventLog.dir=file://{eventlog_dir}",
            "--conf spark.eventLog.compress=false",
            "--conf spark.eventLog.rolling.enabled=false",
        ]
    os.environ["PYSPARK_SUBMIT_ARGS"] = " ".join(args + ["pyspark-shell"])
    from pdf_parser_spark.session import get_spark

    spark = get_spark("perfbench", master=f"local[{cores}]")
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_session(spark) -> None:
    """Stop the session and wait for the JVM and the Python workers it
    forked to exit.  The JVM leaves when its stdin closes; the workers are
    reparented when it does, so they are waited for by pid."""
    import procs

    gateway = spark.sparkContext._gateway
    proc = gateway.proc
    jvm_tree = procs.tree_pids(proc.pid)
    spark.stop()
    gateway.shutdown()
    proc.stdin.close()
    proc.wait(timeout=60)
    left = procs.wait_gone(jvm_tree, timeout=30)
    if left:
        print(f"perfbench: Spark processes still running: {left}", file=sys.stderr)


def _pages(spark, path: str):
    from pdf_parser_spark.sources.pages import read_pages

    return read_pages(spark, path)


def parquet_bytes(paths) -> int:
    return sum(os.path.getsize(p) for p in paths)


class Batch:
    """One workload's ``run_batch`` call, as the timed interval runs it."""

    def __init__(self, spark, w: Workload, work: str):
        self.spark, self.w, self.work = spark, w, work
        self.pages_path = f"{work}/pages"
        self.prior_path = f"{work}/prior_run"
        self.n = 0

    @property
    def resume(self) -> bool:
        return self.w.name == "resume_mirrors"

    def warm_up(self) -> None:
        """One cold run_batch: starts the Python workers and compiles the
        JVM code paths before anything is timed.  For resume_mirrors it is
        the prior committed run itself — the program's own run over the
        seeded prior 3/4 of the urls, restored (copied) before every later
        call.  Otherwise it runs over half of the input: the cold run costs
        about the same at any size, and the extra rows warm the JIT further."""
        from inputs import write_parquet
        from pdf_parser_spark.operators.pipeline import run_batch

        if self.resume:
            path = write_parquet(self.w.prior, f"{self.work}/prior_pages")
            run_batch(_pages(self.spark, path), self.prior_path, run_ts=RUN_TS,
                      run_id="prior", dedup=True, versioned=True)
        else:
            part = self.w.prior[: len(self.w.rows) // 2]
            path = write_parquet(part, f"{self.work}/warm_pages")
            run_batch(_pages(self.spark, path), f"{self.work}/warm",
                      run_ts=RUN_TS, run_id="warm")

    def prepare(self) -> tuple:
        """Untimed: a fresh output dir (holding a restored copy of the prior
        run for resume_mirrors) and the pages DataFrame."""
        self.n += 1
        out = f"{self.work}/run{self.n}"
        if self.resume:
            shutil.copytree(self.prior_path, out)
        return _pages(self.spark, self.pages_path), out

    def run(self, pages, out: str) -> None:
        from pdf_parser_spark.operators.pipeline import run_batch

        if self.resume:
            run_batch(pages, out, run_ts=RUN_TS, run_id="resume",
                      resume=True, dedup=True, versioned=True)
        else:
            run_batch(pages, out, run_ts=RUN_TS, run_id="bench")

    def extracted(self, out: str):
        if self.resume:
            from pdf_parser_spark.sources import tableformat as tf

            return tf.read_table(self.spark, f"{out}/extracted_tbl")
        return self.spark.read.parquet(f"{out}/extracted")

    def sink_files(self, out: str) -> list[str]:
        if self.resume:
            from pdf_parser_spark.sources import tableformat as tf

            return tf.snapshots(f"{out}/extracted_tbl")[-1]["all_files"]
        return glob.glob(f"{out}/extracted/**/*.parquet", recursive=True)

    def readback(self, out: str, sample: set[str]) -> dict:
        """What the output check needs from one run's sinks."""
        from pyspark.sql import functions as F

        ext = self.extracted(out)
        rows = ext.select("url", "status").collect()
        detail = (
            ext.where(F.col("url").isin(sorted(sample)))
            .select("url", "markdown", "spans").collect()
        )
        cons = self.spark.read.parquet(f"{out}/consistency").select("url").collect()
        return {
            "status": [(r.url, r.status) for r in rows],
            "detail": {r.url: (r.markdown, [s.asDict() for s in r.spans]) for r in detail},
            "consistency": [r.url for r in cons],
            "sink_bytes": parquet_bytes(self.sink_files(out)),
        }


# ---------------------------------------------------------------- traced run

class Phases:
    """Times calls into each layer's public functions, each to a noop or
    parquet sink, and tags their Spark jobs for the event log."""

    def __init__(self, spark, b: Batch, cores: int):
        self.spark, self.b, self.cores = spark, b, cores
        self.wall: dict[str, float] = {}

    def _timed(self, name: str, fn):
        sc = self.spark.sparkContext
        sc.setJobDescription(PHASE_TAG + name)
        t0 = time.perf_counter()
        try:
            out = fn()
        finally:
            self.wall[name] = time.perf_counter() - t0
            sc.setJobDescription(None)
        return out

    def run(self, extracted_out: str) -> dict:
        """``extracted_out`` holds a checked run_batch output whose
        extracted rows feed the sink phases, so the kernel stays out of them."""
        from pyspark.sql import functions as F

        from pdf_parser_spark.operators import checkpoint as ck
        from pdf_parser_spark.operators.consistency import finalize
        from pdf_parser_spark.operators.extract import extract_stage
        from pdf_parser_spark.operators.pipeline import dedup_pages

        def noop(df):
            df.write.format("noop").mode("overwrite").save()

        m: dict[str, float] = {}
        work = self.b.work
        pages = _pages(self.spark, self.b.pages_path)
        n_in = len(self.b.w.rows)
        self._timed("scan", lambda: noop(_pages(self.spark, self.b.pages_path)))
        # Spark's task input metric undercounts this parquet reader, so the
        # scanned volume is the size of the files read_pages reads
        m["sources.in_mb"] = parquet_bytes(glob.glob(f"{self.b.pages_path}/*.parquet")) / 1e6
        self._timed("extract", lambda: noop(extract_stage(pages, run_ts=RUN_TS)))

        # sink phases over already-extracted rows of the seeded prior 3/4
        prior = sorted(r["url"] for r in self.b.w.prior)
        done = (
            self.b.extracted(extracted_out).where(F.col("url").isin(prior))
            .drop("run_id").localCheckpoint()
        )
        plain = self._timed("write", lambda: ck.write_checkpoint(done, f"{work}/ck", "ck"))
        self._timed("write_versioned",
                    lambda: ck.write_checkpoint_versioned(done, f"{work}/ckv", "ck"))
        m["checkpoint.sink_mb"] = parquet_bytes(
            glob.glob(f"{work}/ck/extracted/**/*.parquet", recursive=True)) / 1e6
        m["checkpoint.lineage_rows"] = self.spark.read.parquet(f"{work}/ck/lineage").count()
        self._timed("pending", lambda: noop(ck.pending_urls(self.spark, pages, f"{work}/ck")))
        self._timed("pending_versioned", lambda: noop(
            ck.pending_urls_versioned(self.spark, pages, f"{work}/ckv")))
        self._timed("dedup", lambda: noop(dedup_pages(pages)))
        self._timed("finalize", lambda: noop(finalize(plain)))
        # ratios from untimed counts, so the timed calls carry whole rows
        m["checkpoint.pending_ratio"] = (
            ck.pending_urls(self.spark, pages, f"{work}/ck").count() / n_in)
        m["pipeline.dedup_keep_ratio"] = dedup_pages(pages).count() / n_in
        return m

    def metrics(self, eventlog_dir: str) -> dict:
        ev = EventLog(eventlog_dir)
        w = self.wall
        m = {
            "sources.scan_s": w["scan"],
            "extract.stage_s": w["extract"],
            "checkpoint.write_s": w["write"],
            "checkpoint.write_versioned_s": w["write_versioned"],
            "checkpoint.pending_s": w["pending"],
            "checkpoint.pending_versioned_s": w["pending_versioned"],
            "pipeline.dedup_s": w["dedup"],
            "consistency.finalize_s": w["finalize"],
            "consistency.shuffle_mb":
                ev.task_sum("finalize", "Shuffle Write Metrics", "Shuffle Bytes Written") / 1e6,
        }
        wall_s, tasks = ev.busiest_stage("extract")
        m["extract.tasks"] = len(tasks)
        m["extract.task_s_sum"] = sum(tasks)
        m["extract.task_skew"] = max(tasks) / statistics.median(tasks)
        m["extract.slot_busy"] = sum(tasks) / (wall_s * self.cores)
        return m


class EventLog:
    """Task and stage records of the jobs each phase tagged."""

    def __init__(self, directory: str):
        self.stage_tag: dict[int, str] = {}
        self.stage_wall: dict[int, float] = {}
        self.tasks: dict[int, list[dict]] = {}
        for path in glob.glob(f"{directory}/*"):
            with open(path) as f:
                for line in f:
                    self._add(json.loads(line))

    def _add(self, e: dict) -> None:
        kind = e["Event"]
        if kind == "SparkListenerJobStart":
            desc = (e.get("Properties") or {}).get("spark.job.description") or ""
            if desc.startswith(PHASE_TAG):
                for sid in e["Stage IDs"]:
                    self.stage_tag[sid] = desc[len(PHASE_TAG):]
        elif kind == "SparkListenerStageCompleted":
            info = e["Stage Info"]
            self.stage_wall[info["Stage ID"]] = (
                info["Completion Time"] - info["Submission Time"]) / 1000
        elif kind == "SparkListenerTaskEnd":
            self.tasks.setdefault(e["Stage ID"], []).append(e)

    def _stages(self, tag: str) -> list[int]:
        return [s for s, t in self.stage_tag.items() if t == tag and s in self.tasks]

    def task_sum(self, tag: str, group: str, key: str) -> float:
        return sum(
            (t.get("Task Metrics") or {}).get(group, {}).get(key, 0)
            for s in self._stages(tag) for t in self.tasks[s]
        )

    def busiest_stage(self, tag: str) -> tuple[float, list[float]]:
        """(stage wall s, task durations s) of the tagged stage with the
        most task time — the Arrow extraction stage for ``extract``."""
        def durations(s):
            return [(t["Task Info"]["Finish Time"] - t["Task Info"]["Launch Time"]) / 1000
                    for t in self.tasks[s]]
        best = max(self._stages(tag), key=lambda s: sum(durations(s)))
        return self.stage_wall[best], durations(best)
