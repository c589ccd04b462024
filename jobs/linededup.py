"""Steady-state line-level boilerplate rewrite job: the spark-submit
surface over functions/linefreq_store.py (third member of the
admission-store family after jobs/dedup.py --store and
jobs/semdedup.py --store).

Each run folds the day's batch into the persistent segment-frequency
counts (one shuffle of 8-byte hashes; the counts table is read, never
corpus text) and writes the batch's rewrite under the CUMULATIVE
counts — a boilerplate footer crossing the threshold today is dropped
from today's documents, and from every later batch, without ever
re-reading the corpus. Re-running an applied batch-id is a no-op for
the counts and a deterministic re-emission of the same rewrite.

Usage:
    rm -f dist/paddleocr_spark.zip && zip -qr dist/paddleocr_spark.zip paddleocr_spark -x '*__pycache__*'
    spark-submit --py-files dist/paddleocr_spark.zip jobs/linededup.py \
        --input <documents.parquet> --store <dir> --output <dir> \
        --batch-id <unique id, e.g. the crawl day> \
        [--seg 8] [--min-count 3]

One JSON line out: version, n_distinct, n_docs, n_rewritten.
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


def run_linededup(
    spark,
    input_path: str,
    store_dir: str,
    output_dir: str,
    batch_id: str,
    seg: int = 8,
    min_count: int = 3,
) -> dict:
    from pyspark.sql import functions as F

    from paddleocr_spark.functions.linefreq_store import (
        line_store_exists,
        rewrite_against_store,
        seed_line_store,
        update_line_store,
    )

    docs = spark.read.parquet(input_path).select("doc_id", "text")
    if not line_store_exists(store_dir):
        meta = seed_line_store(
            docs, store_dir, batch_id=batch_id, seg=seg, min_count=min_count
        )
    else:
        meta = update_line_store(docs, store_dir, batch_id=batch_id)
    rewritten = rewrite_against_store(spark, docs, store_dir)
    out = os.path.join(output_dir, "rewritten")
    rewritten.write.mode("overwrite").parquet(out)
    res = spark.read.parquet(out)
    n_docs = res.count()
    n_rewritten = res.filter(F.col("n_kept") < F.col("n_lines")).count()
    return {
        "store_version": meta["version"],
        "n_distinct_segments": meta["n_distinct"],
        "applied_batches": len(meta["applied"]),
        "n_docs": n_docs,
        "n_rewritten": n_rewritten,
        "output": out,
    }


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__)
    ap.add_argument("--input", required=True)
    ap.add_argument("--store", required=True)
    ap.add_argument("--output", required=True)
    ap.add_argument("--batch-id", required=True)
    ap.add_argument("--seg", type=int, default=8)
    ap.add_argument("--min-count", type=int, default=3)
    args = ap.parse_args(argv)

    from pyspark.sql import SparkSession

    spark = SparkSession.builder.appName("paddleocr-spark-linededup").getOrCreate()
    t0 = time.time()
    stats = run_linededup(
        spark,
        args.input,
        args.store,
        args.output,
        batch_id=args.batch_id,
        seg=args.seg,
        min_count=args.min_count,
    )
    stats["wall_sec"] = round(time.time() - t0, 3)
    print(json.dumps(stats))
    spark.stop()
    return 0


if __name__ == "__main__":
    sys.exit(main())
