"""Daily crawl operations — ONE spark-submit surface for the steady
state the rest of the repo builds toward. Each run processes a landing
directory of page parquet files and leaves every store consistent:

  1. INGEST   landing files -> pages warehouse, exactly-once, as
              recrawl UPSERTS (a url recrawled today shadows yesterday;
              snapshots keep history)           streaming/ingest.py
  2. SYNC     pages CDC window -> derived EXTRACTED warehouse table
              (extraction runs over the delta only)        jobs/sync.py
  3. ADMIT    the day's newly-extracted documents dedup against the
              materialized signature store (corpus bodies never
              re-read; batch side broadcast); survivors land in
              <out>/admitted/ and their signatures join the store
                                         functions/dedup_store.py

Per-day cost is O(day's crawl + collisions): nothing in this loop
re-reads the pages table, the extracted table, or corpus bodies at
table scale. Takedown note: signatures of removed documents stay in
the store by design — a future re-submission of taken-down content is
still rejected, which is the conservative behavior a takedown wants.

Crash recovery: every stage is rerun-safe. Ingest replays via the
streaming checkpoint + batch-id guard; sync replays via its log; and
admission is driven by an ADMISSION MARKER (<store>/_admission.json:
the extracted-table snapshot admitted through, plus the in-flight
window while one is open). A rerun admits whatever window is synced
but not yet admitted — even one left behind by a crash on a previous
day — instead of keying off "did THIS run's sync insert anything".
The recovery window between writing the admitted output and the final
marker re-appends the same signature rows; duplicates in the store
are semantically harmless (every probe is a set operation).

Usage:
    rm -f dist/paddleocr_spark.zip && zip -qr dist/paddleocr_spark.zip paddleocr_spark -x '*__pycache__*'
    spark-submit --py-files dist/paddleocr_spark.zip jobs/daily.py \
        --landing <dir> --pages <tbl> --extracted <tbl> \
        --store <dir> --output <dir> --checkpoint <dir>
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


def _admission_state(store_dir: str) -> dict:
    p = os.path.join(store_dir, "_admission.json")
    if os.path.exists(p):
        with open(p) as fh:
            return json.load(fh)
    return {"admitted_through": None, "pending": None}


def _write_admission_state(store_dir: str, state: dict) -> None:
    os.makedirs(store_dir, exist_ok=True)
    p = os.path.join(store_dir, "_admission.json")
    tmp = p + ".tmp"
    with open(tmp, "w") as fh:
        json.dump(state, fh)
    os.replace(tmp, p)


def run_daily(
    spark,
    landing_dir: str,
    pages_dir: str,
    extracted_dir: str,
    store_dir: str,
    output_dir: str,
    checkpoint_dir: str,
) -> dict:
    from pyspark.sql import functions as F

    sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
    from sync import sync_extracted
    from paddleocr_spark.functions import dedup_store as S
    from paddleocr_spark.sources import warehouse as W
    from paddleocr_spark.streaming.ingest import ingest_recrawl_stream

    stats: dict = {}

    # 1) ingest (exactly-once; a rerun of the same landing dir is a no-op)
    ingest_recrawl_stream(
        spark, landing_dir, pages_dir, os.path.join(checkpoint_dir, "ingest")
    )
    stats["pages_snapshot"] = W.current_snapshot_id(pages_dir)
    if stats["pages_snapshot"] is None:
        # first run over a still-empty landing dir: nothing ingested,
        # no pages table yet — a quiet-day no-op with zeroed stats, not
        # a crash in sync (whose loud no-snapshots error is for a WRONG
        # path, which an operator-scheduled daily run can't distinguish
        # from "the crawlers just haven't dropped files yet")
        stats["extracted"] = {"inserted": 0, "deleted": 0}
        stats["admitted"] = 0
        return stats

    # 2) sync the extracted table over the pages CDC window
    sync = sync_extracted(spark, pages_dir, extracted_dir)
    stats["extracted"] = {k: sync[k] for k in ("inserted", "deleted") if k in sync}

    # 3) admit against the signature store. The admission window is
    #    marker -> current extracted snapshot, NOT "what this run's
    #    sync inserted": a rerun after a crash between sync and
    #    admission (sync replays as a no-op, inserted == 0) still sees
    #    the synced-but-unadmitted window and admits it.
    target = (
        W.current_snapshot_id(extracted_dir)
        if os.path.isdir(os.path.join(extracted_dir, "_snapshots"))
        else None
    )
    state = _admission_state(store_dir)
    if target is None or state["admitted_through"] == target:
        stats["admitted"] = 0
        return stats

    pending = state.get("pending")
    if (
        pending
        and pending.get("window") != target
        and os.path.isdir(pending.get("out_path", ""))
        and pending["window"] in {s["snapshot_id"] for s in W.snapshots(extracted_dir)}
    ):
        # crash after append_to_store but before the final marker, AND
        # new data synced before the rerun (target advanced past the
        # pending window). Recomputing admitted_through -> target would
        # reject the crashed batch against its own already-appended
        # signatures and strand it in the never-sealed out_path. Finish
        # the pending window first — re-append its signatures
        # (duplicates harmless) and advance admitted_through to it —
        # then compute the remaining window pending -> target below.
        recovered = spark.read.parquet(pending["out_path"])
        stats["recovered"] = S.append_to_store(recovered, store_dir)
        stats["recovered_path"] = pending["out_path"]
        state = {"admitted_through": pending["window"], "pending": None}
        _write_admission_state(store_dir, state)
        pending = None
    if (
        pending
        and pending.get("window") == target
        and os.path.isdir(pending["out_path"])
    ):
        # crash between the admitted-output write and the final marker:
        # the admitted set is already on disk and its signatures may
        # already be in the store — recomputing admission would reject
        # the batch against its own signatures. Finish the half-done
        # window instead: re-append (duplicate signature rows are
        # harmless — every store probe is a set operation) and seal.
        out_path = pending["out_path"]
        admitted = spark.read.parquet(out_path)
    else:
        if state["admitted_through"] is None:
            day_docs = W.read_table(spark, extracted_dir)
        else:
            day_docs = W.read_changes(
                spark, extracted_dir, state["admitted_through"]
            ).filter(F.col("_change_type") == "insert")
        day_docs = day_docs.select(
            F.xxhash64("url").alias("doc_id"),
            F.col("url"),
            F.col("extracted_text").alias("text"),
        ).filter(F.length("text") > 0)

        if not S.store_exists(store_dir):
            # day 0: self-dedup via the in-batch path of the store
            # probe is not defined without a store — seed with a
            # zero-row store so one code path covers every day
            empty = day_docs.filter(F.lit(False))
            S.append_to_store(empty, store_dir)
        admitted = S.incremental_dedup_against_store(spark, store_dir, day_docs)
        out_path = os.path.join(output_dir, "admitted", f"snap_{target}")
        admitted.write.mode("overwrite").parquet(out_path)
        admitted = spark.read.parquet(out_path)
        # open the window AFTER the output exists: a crash before this
        # marker recomputes from an unchanged store (deterministic,
        # same result); a crash after it takes the recovery branch
        _write_admission_state(
            store_dir,
            {
                "admitted_through": state["admitted_through"],
                "pending": {"window": target, "out_path": out_path},
            },
        )
    stats["admitted"] = S.append_to_store(admitted, store_dir)
    stats["admitted_path"] = out_path
    _write_admission_state(
        store_dir, {"admitted_through": target, "pending": None}
    )
    return stats


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__)
    ap.add_argument("--landing", required=True)
    ap.add_argument("--pages", required=True)
    ap.add_argument("--extracted", required=True)
    ap.add_argument("--store", required=True)
    ap.add_argument("--output", required=True)
    ap.add_argument("--checkpoint", required=True)
    args = ap.parse_args(argv)

    from pyspark.sql import SparkSession

    spark = SparkSession.builder.appName("paddleocr-spark-daily").getOrCreate()
    t0 = time.time()
    stats = run_daily(
        spark,
        args.landing,
        args.pages,
        args.extracted,
        args.store,
        args.output,
        args.checkpoint,
    )
    stats["wall_sec"] = round(time.time() - t0, 3)
    print(json.dumps(stats))
    spark.stop()
    return 0


if __name__ == "__main__":
    sys.exit(main())
