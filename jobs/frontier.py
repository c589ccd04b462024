"""Streaming crawl-frontier job — the ``spark-submit --py-files``
surface for streaming/frontier.py: drain whatever new page files have
landed, fold their crawled keys into the known store and their
never-seen outlink targets into the frontier store, and print the
frontier summary the fetch planner (jobs/crawl_plan.py) consumes.

    rm -f dist/paddleocr_spark.zip && zip -qr dist/paddleocr_spark.zip paddleocr_spark -x '*__pycache__*'
    spark-submit --py-files dist/paddleocr_spark.zip jobs/frontier.py \
        --pages <dir of page parquet files> --store <state dir>

Steady-state contract (tests/test_streaming.py pins the core):
- per run, cost is O(newly landed pages + their links) while the
  stores fit the broadcast threshold; past that the anti-joins
  co-partition on the shared key (see streaming/frontier.py's scale
  notes for the bucketed-store production layout);
- re-running with nothing new landed is a no-op (checkpoint replay
  appends nothing);
- the frontier converges to the batch truth (all link targets minus
  all crawled keys) under any landing order, and urls crawled later
  leave it — the fetch loop consuming its own discoveries.

Prints ONE JSON line: known/frontier sizes, per-host top discoveries.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

_REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
if _REPO not in sys.path:
    sys.path.insert(0, _REPO)


def main(argv=None) -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--pages", required=True, help="landing dir of page parquet files")
    ap.add_argument("--store", required=True, help="state dir (known/ + frontier/ + _ckpt/)")
    ap.add_argument("--max-files-per-trigger", type=int, default=None)
    ap.add_argument("--top-hosts", type=int, default=5)
    ap.add_argument("--cpus", type=int, default=None)
    args = ap.parse_args(argv)

    from pyspark.sql import functions as F

    from paddleocr_spark.session import get_spark
    from paddleocr_spark.streaming.frontier import (
        read_frontier,
        run_frontier_stream,
    )

    master = f"local[{args.cpus}]" if args.cpus else None
    spark = get_spark(master=master) if master else get_spark()
    spark.sparkContext.setLogLevel("ERROR")
    t0 = time.time()

    run_frontier_stream(
        spark,
        args.pages,
        args.store,
        checkpoint_dir=os.path.join(args.store, "_ckpt"),
        max_files_per_trigger=args.max_files_per_trigger,
    )
    frontier = read_frontier(spark, args.store)
    known_dir = os.path.join(args.store, "known")
    known_n = (
        spark.read.parquet(known_dir).count()
        if os.path.isdir(known_dir)
        else 0  # nothing landed yet: report zeros, not a traceback
    )
    by_host = (
        frontier.groupBy("host")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy(F.desc("n"), F.asc("host"))
        .limit(args.top_hosts)
        .collect()
    )
    stats = {
        "n_known": known_n,
        "n_frontier": frontier.count(),
        "top_hosts": {r["host"]: r["n"] for r in by_host},
        "wall_sec": round(time.time() - t0, 3),
    }
    print(json.dumps(stats))
    return 0


if __name__ == "__main__":
    sys.exit(main())
