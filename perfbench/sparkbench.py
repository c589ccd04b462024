"""Spark phase: the extraction job, its layer ladder, the warehouse
append/incremental path and the event-log task metrics.

The job is ``plans.job.run_extract_job`` at its own defaults on the
repo's session (``session.get_spark``) at ``local[cpus]``. Submit-time
confs (event log, no console progress bar) go through
``PYSPARK_SUBMIT_ARGS``, so no program file changes.
"""

from __future__ import annotations

import glob
import inspect
import json
import os
import pathlib
import shlex
import shutil
import statistics
import subprocess

import pyarrow.parquet as pq

from perfbench.inputs import DATA, ROOT, Golden, check_job_output, fresh_dir

# (warm-up jobs, least measured jobs) per workload. The cold first job is
# ~2.2x a warm one and the second still ~10% slow. batch_clean's warm
# jobs in one run agree within a few percent, so it measures one after
# two warm-ups; batch_sloppy's move +-10% from job to job, so it takes
# the median of three after one warm-up, in the time of four jobs.
JOBS = {"batch_clean": (2, 1), "batch_sloppy": (1, 3), "serve_closed": (2, 1)}
LADDER = ("scan", "shuffle", "identity", "fused")
JOB_DESC = "e2e.job"


def _identity(batches):
    yield from batches


def start(master: str, eventlog_dir: str | None):
    """Start the repo's Spark session; Python workers import the
    package from the checkout whatever the launch directory."""
    paths = [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    os.environ["PYTHONPATH"] = os.pathsep.join(paths)
    confs = ["spark.ui.showConsoleProgress=false"]
    if eventlog_dir:
        os.makedirs(eventlog_dir, exist_ok=True)
        confs += ["spark.eventLog.enabled=true",
                  f"spark.eventLog.dir={pathlib.Path(eventlog_dir).as_uri()}",
                  "spark.eventLog.compress=false"]
    os.environ["PYSPARK_SUBMIT_ARGS"] = " ".join(
        f"--conf {shlex.quote(c)}" for c in confs) + " pyspark-shell"
    from paddleocr_spark.session import get_spark

    spark = get_spark(master=master)
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def run_job(spark, pages_path: str, golden: Golden, tracer, run_id: str,
            desc: str = JOB_DESC) -> dict:
    """One verified ``run_extract_job`` into a fresh output dir; its
    Spark jobs carry the description ``desc`` in the event log."""
    from paddleocr_spark.plans.job import run_extract_job

    out = fresh_dir("job")
    spark.sparkContext.setJobDescription(desc)
    try:
        with tracer.span("plans.job.run_extract_job", run_id) as sp:
            stats = run_extract_job(spark, pages_path, out, mode="fused")
        with tracer.span("bench.verify", run_id):
            failed = check_job_output(golden, out)
        files = glob.glob(os.path.join(out, "extracted", "*", "*.parquet"))
        lineage = glob.glob(os.path.join(out, "lineage", "*.parquet"))
        rows = sorted(pq.read_table(lineage, columns=["row_count"]).column(0).to_pylist())
        return dict(
            wall_s=sp.dur, docs=golden.table.num_rows, failed=failed,
            timings=stats["timings"], out_files=len(files),
            out_mb=sum(os.path.getsize(f) for f in files) / 1e6,
            part_skew=rows[-1] / statistics.median(rows),
        )
    finally:
        spark.sparkContext.setJobDescription(None)
        shutil.rmtree(out, ignore_errors=True)


def stop(spark) -> None:
    """Stop the session and the JVM it launched, and wait for both."""
    from pyspark import SparkContext

    spark.stop()
    gw = SparkContext._gateway
    if gw is None:
        return
    proc = getattr(gw, "proc", None)
    gw.shutdown()
    SparkContext._gateway = SparkContext._jvm = None
    if proc is not None:
        proc.stdin.close()  # the gateway JVM exits when its stdin closes
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def setup(master, pages_path, golden, tracer, warmup_jobs, eventlog_dir=None):
    """Session start plus ``warmup_jobs`` fixed warm-up jobs. Returns
    (spark, set-up seconds, warm-up job records); output checks are not
    set-up time."""
    with tracer.span("bench.session_start", "setup") as sp:
        spark = start(master, eventlog_dir)
    try:
        warm = [run_job(spark, pages_path, golden, tracer, f"warmup-{k}", "warmup.job")
                for k in range(warmup_jobs)]
    except BaseException:
        stop(spark)
        raise
    return spark, sp.dur + sum(w["wall_s"] for w in warm), warm


def job_window(spark, pages_path, golden, seconds, tracer, min_jobs) -> list[dict]:
    """Verified jobs, at least ``min_jobs``, until their summed wall time
    reaches ``seconds``."""
    jobs: list[dict] = []
    while len(jobs) < min_jobs or sum(j["wall_s"] for j in jobs) < seconds:
        jobs.append(run_job(spark, pages_path, golden, tracer, f"job-{len(jobs)}"))
    return jobs


def _ladder_frames(spark, pages_path):
    from paddleocr_spark.operators.extract import extract_fused
    from paddleocr_spark.plans.job import add_part_id, run_extract_job, salted_repartition

    params = inspect.signature(run_extract_job).parameters
    n, salt = params["n_partitions"].default, params["salt"].default
    scan = spark.read.parquet(pages_path).select("url", "html", "lang")
    shuf = salted_repartition(add_part_id(scan, n), n, salt).select("url", "html", "lang")
    return dict(
        scan=scan,
        shuffle=shuf,
        identity=shuf.mapInPandas(_identity, shuf.schema),
        fused=extract_fused(shuf),
    )


def ladder(spark, pages_path, tracer, reps: int = 2) -> dict[str, float]:
    """Median noop-sink wall per cumulative ladder step."""
    frames = _ladder_frames(spark, pages_path)
    walls: dict[str, list[float]] = {k: [] for k in LADDER}
    for r in range(reps):
        for step in LADDER:
            spark.sparkContext.setJobDescription(f"ladder.{step}")
            with tracer.span(f"ladder.{step}", f"ladder-{r}") as sp:
                frames[step].write.format("noop").mode("overwrite").save()
            walls[step].append(sp.dur)
    spark.sparkContext.setJobDescription(None)
    return {k: statistics.median(v) for k, v in walls.items()}


def warehouse(spark, pages_path, tracer) -> dict:
    """Seed a fresh warehouse table with half the pages, then time the
    append of the other half and a noop scan of the incremental read."""
    from pyspark.sql import functions as F

    from paddleocr_spark.sources import warehouse as W

    tbl = fresh_dir("warehouse")
    try:
        df = spark.read.parquet(pages_path)
        half = F.pmod(F.xxhash64("url"), F.lit(2))
        W.append(df.filter(half == 0), tbl)
        seed_snap = W.current_snapshot_id(tbl)
        with tracer.span("sources.warehouse.append", "warehouse") as ap:
            W.append(df.filter(half == 1), tbl)
        with tracer.span("sources.warehouse.read_incremental", "warehouse") as rd:
            W.read_incremental(spark, tbl, seed_snap).write.format("noop").mode("overwrite").save()
        n_delta = W.read_incremental(spark, tbl, seed_snap).count()
        want = df.filter(half == 1).count()
        snaps = W.snapshots(tbl)
        return dict(append_ms=ap.dur * 1000, read_incremental_s=rd.dur,
                    files_added=snaps[-1]["n_files"] - snaps[-2]["n_files"],
                    attempted=want, failed=abs(n_delta - want))
    finally:
        shutil.rmtree(tbl, ignore_errors=True)


def _eventlog_events(eventlog_dir: str):
    for path in sorted(glob.glob(os.path.join(eventlog_dir, "**", "*"), recursive=True)):
        if os.path.isfile(path) and "events" in os.path.basename(path) and not path.endswith(".crc"):
            with open(path) as fh:
                for line in fh:
                    yield json.loads(line)


_PY = {"data sent to Python workers": "py_sent", "data returned from Python workers": "py_recv",
       "time to start Python workers": "py_boot", "time to initialize Python workers": "py_boot",
       "time to run Python workers": "py_run"}


def eventlog_metrics(eventlog_dir: str) -> dict:
    """Task metrics summed over the measured jobs (``JOB_DESC``):
    executor CPU, GC, shuffle write, spill, the Python SQL metrics, and
    max/median task time of the stages that ran Python workers."""
    stage_desc: dict[int, str] = {}
    agg = dict(cpu_s=0.0, gc_s=0.0, shuffle_mb=0.0, spill_mb=0.0,
               py_sent=0.0, py_recv=0.0, py_boot=0.0, py_run=0.0)
    py_tasks: dict[int, list[float]] = {}
    for e in _eventlog_events(eventlog_dir):
        ev = e["Event"]
        if ev == "SparkListenerJobStart":
            d = (e.get("Properties") or {}).get("spark.job.description")
            for s in e["Stage IDs"]:
                stage_desc[s] = d
        elif ev == "SparkListenerTaskEnd" and stage_desc.get(e["Stage ID"]) == JOB_DESC:
            tm, ti = e.get("Task Metrics") or {}, e["Task Info"]
            agg["cpu_s"] += tm.get("Executor CPU Time", 0) / 1e9
            agg["gc_s"] += tm.get("JVM GC Time", 0) / 1e3
            agg["shuffle_mb"] += tm.get("Shuffle Write Metrics", {}).get("Shuffle Bytes Written", 0) / 1e6
            agg["spill_mb"] += (tm.get("Memory Bytes Spilled", 0) + tm.get("Disk Bytes Spilled", 0)) / 1e6
            is_py = False
            for a in ti.get("Accumulables", []):
                k = _PY.get(a.get("Name"))
                if k is not None:
                    is_py = True
                    agg[k] += float(a.get("Update") or 0)
            if is_py:
                py_tasks.setdefault(e["Stage ID"], []).append(
                    (ti["Finish Time"] - ti["Launch Time"]) / 1e3)
    skews = [max(v) / statistics.median(v) for v in py_tasks.values() if statistics.median(v) > 0]
    agg["task_skew"] = statistics.median(skews) if skews else 0.0
    agg["py_sent"] /= 1e6
    agg["py_recv"] /= 1e6
    agg["py_boot"] /= 1e3
    agg["py_run"] /= 1e3
    return agg


def eventlog_dir_for(tag: str) -> str:
    d = os.path.join(DATA, "eventlog", f"{tag}-{os.getpid()}")
    shutil.rmtree(d, ignore_errors=True)
    return d
