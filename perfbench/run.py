"""Extraction benchmark: one workload, one seed, one JSON result line.

Usage (from the repository root):
    python3 perfbench/run.py --workload batch_clean --seed 1 --seconds 5 --trace 0

``--trace 0`` measures the end-to-end metrics with tracing off;
``--trace 1`` is a separate run that reports the per-layer metrics
(ladder, event log, core wrappers, serving and warehouse probes) and
writes its spans and self-time table under ``perfbench/.data/traces``.
Every output is checked against ``core.oracle.extract_page``. The last
stdout line is ``{"correct", "attempted", "failed", "metrics"}``; the
line before it records cpus, master, host speed and the output digest.
Metric names and units come from ``BENCHMARK.json``. See DESIGN.md.
"""

from __future__ import annotations

import argparse
import ctypes
import importlib.util
import json
import os
import shutil
import signal
import statistics
import sys
import time
import traceback

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
if ROOT not in sys.path:
    sys.path.insert(0, ROOT)

# Spark-free probe window on batch workloads, and core pages per probe
SERVE_PROBE_S = 3.0
CORE_PROBE_PAGES = 1000


def pct(values: list[float], q: int) -> float:
    if len(values) < 2:
        return values[0]
    return statistics.quantiles(values, n=100, method="inclusive")[q - 1]


def _spark_layers(jobs, ev, lad, wh) -> dict:
    n = len(jobs)
    med = {k: statistics.median(j[k] for j in jobs)
           for k in ("wall_s", "out_mb", "out_files", "part_skew")}
    timing = {k: statistics.median(j["timings"][k] for j in jobs)
              for k in ("plan_parts_s", "extract_write_s", "lineage_s")}
    return {
        "sources.scan_s": lad["scan"],
        "plans.job.shuffle_s": lad["shuffle"] - lad["scan"],
        "operators.extract.boundary_s": lad["identity"] - lad["shuffle"],
        "operators.extract.udf_s": lad["fused"] - lad["identity"],
        "operators.extract.py_sent_mb": ev["py_sent"] / n,
        "operators.extract.py_recv_mb": ev["py_recv"] / n,
        "operators.extract.py_boot_s": ev["py_boot"] / n,
        "operators.extract.py_run_s": ev["py_run"] / n,
        "plans.job.plan_parts_s": timing["plan_parts_s"],
        "plans.job.write_s": timing["extract_write_s"] - lad["fused"],
        "plans.job.lineage_s": timing["lineage_s"],
        "plans.job.unaccounted_share": 1.0 - sum(timing.values()) / med["wall_s"],
        "plans.job.out_mb": med["out_mb"],
        "plans.job.out_files": med["out_files"],
        "plans.job.part_skew": med["part_skew"],
        "spark.task_skew": ev["task_skew"],
        "spark.task_cpu_s": ev["cpu_s"] / n,
        "spark.gc_s": ev["gc_s"] / n,
        "spark.shuffle_write_mb": ev["shuffle_mb"] / n,
        "spark.spill_mb": ev["spill_mb"] / n,
        "sources.warehouse.append_ms": wh["append_ms"],
        "sources.warehouse.read_incremental_s": wh["read_incremental_s"],
        "sources.warehouse.files_added": wh["files_added"],
    }


def _serve_layers(res) -> dict:
    recs = res["records"]
    return {
        "serving.server_ms": statistics.median(r[2] for r in recs),
        "serving.overhead_ms": statistics.median(r[0] * 1e3 - r[2] for r in recs),
        "serving.conns_per_request": res["connects"] / len(recs),
        "serving.latency_p99_ms": pct([r[0] for r in recs], 99) * 1e3,
        "bench.client_cpu_s": res["client_cpu_s"],
    }


class Run:
    """One benchmark process: inputs, phases, and the counts they verify."""

    def __init__(self, args):
        from perfbench.trace import Tracer

        self.args = args
        self.cpus = len(os.sched_getaffinity(0))
        self.master = f"local[{self.cpus}]"
        self.tracer = Tracer(bool(args.trace))
        self.attempted = 0
        self.failed = 0
        self.layers: dict[str, float] = {}
        self.info: dict = {}

    def count(self, attempted: int, failed: int) -> None:
        self.attempted += attempted
        self.failed += failed

    def spark_phase(self, pages_path, golden, seconds) -> tuple[float, list[dict]]:
        from perfbench import sparkbench as S

        warmup_jobs, min_jobs = S.JOBS[self.args.workload]
        ev_dir = S.eventlog_dir_for(self.args.workload) if self.args.trace else None
        spark, setup_s, warm = S.setup(self.master, pages_path, golden, self.tracer,
                                       warmup_jobs, ev_dir)
        try:
            jobs = S.job_window(spark, pages_path, golden, seconds, self.tracer, min_jobs)
            if self.args.trace:
                lad = S.ladder(spark, pages_path, self.tracer)
                wh = S.warehouse(spark, pages_path, self.tracer)
                self.count(wh["attempted"], wh["failed"])
        finally:
            S.stop(spark)
        for j in warm + jobs:
            self.count(j["docs"], j["failed"])
        if self.args.trace:
            self.layers.update(_spark_layers(jobs, S.eventlog_metrics(ev_dir), lad, wh))
            shutil.rmtree(ev_dir, ignore_errors=True)
        return setup_s, jobs

    def serve_phase(self, pages, golden, seconds, n_setups) -> tuple[float, dict]:
        from perfbench import servebench as V

        bodies = V.request_bodies(pages)
        server, setup_s, warm = V.setup(bodies, golden, self.tracer, n_setups)
        try:
            res = V.closed_loop(server.port, bodies, golden, self.cpus, seconds, self.tracer)
        finally:
            server.stop()
        self.count(len(warm) + len(res["records"]),
                   sum(not r[1] for r in warm) + sum(not r[1] for r in res["records"]))
        if self.args.trace:
            self.layers.update(_serve_layers(res))
        return setup_s, res

    def core_phase(self, pages, golden) -> None:
        from perfbench import corebench

        core = corebench.probe(pages[:CORE_PROBE_PAGES], golden, self.tracer)
        self.count(core.pop("attempted"), core.pop("failed"))
        self.layers.update(core)

    def batch(self, input_dir, golden) -> dict:
        from perfbench.inputs import read_pages

        pages_path = os.path.join(input_dir, "pages.parquet")
        setup_s, jobs = self.spark_phase(pages_path, golden, self.args.seconds)
        walls = [j["wall_s"] for j in jobs]
        e2e = dict(setup_s=setup_s,
                   docs_per_s=statistics.median(j["docs"] / j["wall_s"] for j in jobs),
                   latency_p50_ms=pct(walls, 50) * 1e3, latency_p90_ms=pct(walls, 90) * 1e3)
        self.info["samples"] = dict(docs_per_job=jobs[0]["docs"], job_walls_s=walls)
        if self.args.trace:
            pages = read_pages(input_dir)
            self.core_phase(pages, golden)
            self.serve_phase(pages, golden, SERVE_PROBE_S, n_setups=1)
        return e2e

    def serve(self, input_dir, golden) -> dict:
        from perfbench.inputs import read_pages

        pages = read_pages(input_dir)
        setup_s, res = self.serve_phase(pages, golden, self.args.seconds, n_setups=3)
        rtts = [r[0] for r in res["records"]]
        e2e = dict(setup_s=setup_s, docs_per_s=len(rtts) / res["wall_s"],
                   latency_p50_ms=pct(rtts, 50) * 1e3, latency_p90_ms=pct(rtts, 90) * 1e3)
        self.info["samples"] = dict(requests=len(rtts), clients=self.cpus)
        if self.args.trace:
            self.core_phase(pages, golden)
            self.spark_phase(os.path.join(input_dir, "pages.parquet"), golden, 0.0)
        return e2e


def _metric_specs() -> tuple[dict, dict]:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    return ({m["name"]: m["unit"] for m in spec["end_to_end"]},
            {m["name"]: m["unit"] for m in spec["per_layer"]})


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True,
                    choices=["batch_clean", "batch_sloppy", "serve_closed"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args(argv)

    spec = importlib.util.find_spec("paddleocr_spark")
    if spec is None or not (spec.origin or "").startswith(os.path.join(ROOT, "")):
        print(f"perfbench: no paddleocr_spark package under {ROOT}", file=sys.stderr)
        return 2
    # a terminated run still stops the server and the JVM in its finally blocks
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))

    from perfbench.inputs import Golden, ensure_inputs
    from perfbench.trace import RssSampler, format_self_times, host_speed, span_cost_s

    e2e_units, layer_units = _metric_specs()
    run = Run(args)
    input_dir = ensure_inputs(args.workload, args.seed, run.cpus)
    golden = Golden(input_dir)
    speed_before = host_speed()
    t0 = time.perf_counter()
    with RssSampler(enabled=bool(args.trace)) as rss:
        e2e = (run.serve if args.workload == "serve_closed" else run.batch)(input_dir, golden)
    wall = time.perf_counter() - t0
    speed_after = host_speed()

    run.info.update(workload=args.workload, seed=args.seed, seconds=args.seconds,
                    trace=args.trace, cpus=run.cpus, master=run.master,
                    host_speed_before=speed_before, host_speed_after=speed_after,
                    golden_digest=golden.digest)
    if args.trace:
        run.layers.update({
            "host.speed": (speed_before + speed_after) / 2,
            "peak_rss_mb": rss.peak_kb / 1024,
            "trace.overhead": len(run.tracer.spans) * span_cost_s() / wall,
        })
        run.info["traced_e2e"] = e2e
        table = run.tracer.self_times()
        print(format_self_times(table), file=sys.stderr)
        run.tracer.write(os.path.join(ROOT, "perfbench", ".data", "traces",
                                      f"{args.workload}-s{args.seed}.json"), run.info)
        values, units = run.layers, layer_units
    else:
        values, units = e2e, e2e_units
    absent = sorted(set(units) - set(values))
    if absent:
        raise RuntimeError(f"metrics not measured: {absent}")
    correct = run.failed == 0
    print(json.dumps({"perfbench": run.info}))
    print(json.dumps(dict(
        correct=correct, attempted=run.attempted, failed=run.failed,
        metrics={k: dict(value=float(values[k]), unit=u) for k, u in units.items()})))
    return 0 if correct else 1


_PR_SET_CHILD_SUBREAPER = 36


def adopt_orphans() -> None:
    """Make this process the reaper of its orphaned descendants, such as
    the launcher shell ``spark-class`` leaves behind as a child of the
    JVM, so ``reap_descendants`` can end them and wait for them."""
    ctypes.CDLL(None, use_errno=True).prctl(_PR_SET_CHILD_SUBREAPER, 1, 0, 0, 0)


def reap_descendants() -> None:
    """Kill and wait for every process still below this one, down the
    tree: the normal paths have stopped theirs already, so this only
    ends what they left behind (exited launchers, stray workers)."""
    from perfbench.trace import child_pids

    reaped = 0
    while kids := child_pids(os.getpid()):
        reaped += len(kids)
        for pid in kids:
            try:
                os.kill(pid, signal.SIGKILL)
            except OSError:
                pass
        for pid in kids:
            try:
                os.waitpid(pid, 0)
            except ChildProcessError:
                pass
    if reaped:
        print(f"perfbench: ended {reaped} leftover processes", file=sys.stderr)


if __name__ == "__main__":
    adopt_orphans()
    code = 1
    try:
        code = main()
    except Exception:
        traceback.print_exc()
    finally:
        reap_descendants()
    sys.exit(code)
