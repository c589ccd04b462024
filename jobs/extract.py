"""Batch extraction job — the ``spark-submit --py-files`` entrypoint.

Usage:
    rm -f dist/paddleocr_spark.zip && zip -qr dist/paddleocr_spark.zip paddleocr_spark -x '*__pycache__*'
    spark-submit --master local[N] --driver-memory 8g \
        --py-files dist/paddleocr_spark.zip \
        jobs/extract.py --input <pages.parquet> --output <dir> \
        [--partitions 64] [--salt 1] [--resume]

(local mode hosts all executor threads in the driver JVM — size
--driver-memory for the thread count; the 1g spark-submit default can
OOM (SparkExitCode 52) under 8+ threads of dynamic-partition parquet
writers. On a real cluster use --executor-memory as usual.)

Replaces the reference's subprocess striping
(tools/infer/predict_system.py:313-324) with url-hash logical parts —
one task and one output file per part — plus per-partition lineage
(see paddleocr_spark/plans/job.py).
"""

from __future__ import annotations

import argparse
import json
import sys
import time


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__)
    ap.add_argument("--input", required=True, help="pages input: parquet path, warehouse dir, or WARC member file/dir (*.warc)")
    ap.add_argument("--output", required=True, help="output directory")
    ap.add_argument("--partitions", type=int, default=32)
    ap.add_argument("--salt", type=int, default=1,
                    help="tasks (and output files) per logical part; raise it only "
                         "when the cluster has more task slots than --partitions")
    ap.add_argument("--resume", action="store_true", help="anti-join completed partitions")
    ap.add_argument("--blocklist", default=None,
                    help="host blocklist: a file of hosts (one per line) or a "
                         "comma-separated list; matching pages are pruned "
                         "before any parsing")
    ap.add_argument("--wet-out", default=None,
                    help="also export the extracted text as WARC conversion "
                         "records (.warc.wet members) under this directory")
    ap.add_argument("--wet-gz", action="store_true",
                    help="per-record-gzip the WET members (CDX-range-safe)")
    ap.add_argument("--since-snapshot", default=None,
                    help="delta run (warehouse inputs only): extract only "
                         "pages appended after this snapshot and still live "
                         "— a recrawl costs the crawl, not the table. Use a "
                         "fresh output dir per delta window.")
    args = ap.parse_args(argv)

    from pyspark.sql import SparkSession

    from paddleocr_spark.plans.job import parse_blocklist, run_extract_job

    spark = SparkSession.builder.appName("paddleocr-spark-extract").getOrCreate()
    t0 = time.time()
    stats = run_extract_job(
        spark,
        input_path=args.input,
        output_dir=args.output,
        n_partitions=args.partitions,
        salt=args.salt,
        resume=args.resume,
        blocked_hosts=parse_blocklist(args.blocklist),
        since_snapshot=args.since_snapshot,
        wet_out=args.wet_out,
        wet_gz=args.wet_gz,
    )
    wall = time.time() - t0
    out = dict(stats)
    out["wall_sec"] = round(wall, 3)
    out["docs_per_sec"] = round(stats["rows_out"] / wall, 2) if wall > 0 else None
    print(json.dumps(out))
    spark.stop()
    return 0


if __name__ == "__main__":
    sys.exit(main())
