"""Incremental materialized-view sync: keep a derived EXTRACTED
warehouse table in step with the pages warehouse table using changelog
(CDC) reads — the 100 TB steady-state shape, where a daily recrawl +
takedown batch costs the delta, never a corpus rescan.

    rm -f dist/paddleocr_spark.zip && zip -qr dist/paddleocr_spark.zip paddleocr_spark -x '*__pycache__*'
    spark-submit --py-files dist/paddleocr_spark.zip jobs/sync.py \
        --pages <pages table dir> --extracted <derived table dir>

Each sync:
- reads the pages table's changes since the last synced snapshot
  (``warehouse.read_changes``): recrawl upserts arrive as
  delete(old)+insert(new), takedowns as deletes;
- runs the fused extraction stage over the INSERT rows only;
- applies them to the derived table with ``upsert`` (replace-by-key) and
  retracts the DELETE urls with ``delete_where`` — both replace/delete
  by key, so re-running an interrupted window is idempotent;
- records the synced pages-snapshot id in a sync log inside the derived
  table dir, giving each sync run lineage (from..to window, row counts)
  and the next run its starting point.

The first sync (no log) is a full extraction of the current snapshot.
The reference has no analog — it re-runs inference over whatever file
list it is given (tools/infer/predict_system.py:313-324); incremental
maintenance is what the warehouse layer buys at corpus scale.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time


def _sync_log_path(extracted_dir: str) -> str:
    return os.path.join(extracted_dir, "_sync", "log.jsonl")


def last_synced_snapshot(extracted_dir: str) -> str | None:
    p = _sync_log_path(extracted_dir)
    if not os.path.exists(p):
        return None
    with open(p) as fh:
        lines = [json.loads(line) for line in fh if line.strip()]
    return lines[-1]["pages_snapshot"] if lines else None


def _record_sync(extracted_dir: str, entry: dict) -> None:
    p = _sync_log_path(extracted_dir)
    os.makedirs(os.path.dirname(p), exist_ok=True)
    with open(p, "a") as fh:
        fh.write(json.dumps(entry) + "\n")


def sync_extracted(
    spark,
    pages_dir: str,
    extracted_dir: str,
    cfg=None,
) -> dict:
    """One sync step; returns stats. Safe to call when nothing changed
    (no-op, records nothing)."""
    from pyspark.sql import functions as F

    from paddleocr_spark.config import DEFAULT
    from paddleocr_spark.operators.extract import extract_fused
    from paddleocr_spark.sources import warehouse as W

    cfg = cfg or DEFAULT
    to_snap = W.current_snapshot_id(pages_dir)
    if to_snap is None:
        raise ValueError(f"pages table {pages_dir} has no snapshots")
    from_snap = last_synced_snapshot(extracted_dir)
    if from_snap == to_snap:
        return {"synced": False, "pages_snapshot": to_snap, "inserted": 0, "deleted": 0}

    if from_snap is None:
        changes = W.read_table(spark, pages_dir, to_snap).withColumn(
            "_change_type", F.lit("insert")
        )
    else:
        changes = W.read_changes(spark, pages_dir, from_snap, to_snap)
    changes = changes.drop("day", "bucket").cache()

    ins = changes.filter(F.col("_change_type") == "insert")
    ext = extract_fused(ins, cfg).join(ins.select("url", "warc_ts"), "url")
    n_ins = ext.count()
    if n_ins:
        W.upsert(ext, extracted_dir)
    # retract urls the window deleted UNLESS the window also re-inserted
    # them (upsert above already replaced those)
    dels = (
        changes.filter(F.col("_change_type") == "delete")
        .select("url")
        .join(ins.select("url"), "url", "left_anti")
    )
    n_del = dels.count()
    if n_del:
        W.delete_where(spark, extracted_dir, dels)
    changes.unpersist()
    entry = {
        "pages_snapshot": to_snap,
        "from_snapshot": from_snap,
        "inserted": n_ins,
        "deleted": n_del,
        "extracted_snapshot": W.current_snapshot_id(extracted_dir),
        "committed_ms": int(time.time() * 1000),
    }
    _record_sync(extracted_dir, entry)
    return {"synced": True, **entry}


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__)
    ap.add_argument("--pages", required=True, help="pages warehouse table dir")
    ap.add_argument("--extracted", required=True, help="derived extracted table dir")
    args = ap.parse_args(argv)

    from pyspark.sql import SparkSession

    spark = SparkSession.builder.appName("paddleocr-spark-sync").getOrCreate()
    t0 = time.time()
    stats = sync_extracted(spark, args.pages, args.extracted)
    stats["wall_sec"] = round(time.time() - t0, 3)
    print(json.dumps(stats))
    spark.stop()
    return 0


if __name__ == "__main__":
    sys.exit(main())
